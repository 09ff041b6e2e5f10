"""``stream_sketch``: closed-loop backlog drains through the two sketch folds.

A seeded event stream (Zipf-skewed user ids under five event types) is
staged once as ``FILES`` parquet files. One repetition drains that backlog
twice, each time from a new checkpoint: through ``streaming_kmv_distinct``
and then through ``streaming_hll_distinct``, both to a ``noop`` sink with
``maxFilesPerTrigger`` fixed, so the micro-batching is the same on every
run. The per-message Python fold does the work; the state store holds one
row per event type.

After each drain the final per-key sketch state is read back from the
checkpoint with Spark's state data source and its estimate is compared with
a plain-Python KMV/HLL over the generated events.
"""

from __future__ import annotations

import json
import os
import sys
import time

import common
import streams

N_EVENTS = 48_000
WARM_EVENTS = 500
N_USERS = 20_000
ZIPF_S = 1.1
FILES = 3
FILES_PER_TRIGGER = 1
KMV_K = 64
HLL_B = 6
SCHEMA = "event_id BIGINT, user_id BIGINT, event_type STRING"
# nominal seconds per repetition: a run makes seconds // REP_S of them
REP_S = 12


def reference(table) -> dict[str, dict[str, float]]:
    """Per event type: the KMV and HLL estimates over the events, computed
    without Spark."""
    import gen

    users: dict[str, set] = {}
    for t, u in zip(table.column("event_type").to_pylist(), table.column("user_id").to_pylist()):
        users.setdefault(t, set()).add(u)
    w = 32 - HLL_B
    out = {}
    for t, us in users.items():
        regs: dict[int, int] = {}
        for u in us:
            h = gen.md5_word(u)
            word = h % (1 << w)
            regs[h >> w] = max(regs.get(h >> w, 0), w + 1 if word == 0 else w - word.bit_length() + 1)
        out[t] = {
            "kmv": _kmv_estimate(sorted({gen.md5_unit(u) for u in us})[:KMV_K]),
            "hll": _hll_estimate(regs),
        }
    return out


def _kmv_estimate(st: list) -> float:
    return float(len(st)) if len(st) < KMV_K else (KMV_K - 1) / st[-1]


def _hll_estimate(st: dict) -> float:
    m = 1 << HLL_B
    z = sum(2.0 ** -r for r in st.values()) + (m - len(st))
    return 0.709 * m * m / z


class Setup(common.Setup):
    def prepare(self) -> None:
        import gen

        table = gen.sketch_events(self.seed, N_EVENTS, N_USERS, ZIPF_S)
        self.src = streams.stage(table, os.path.join(self.work, "events"), FILES)
        self.expected = reference(table)
        self.warm = streams.stage(table.slice(0, WARM_EVENTS), os.path.join(self.work, "events_warm"), 1)


def _pipelines():
    from pyspark.sql import functions as F

    from fluvii_spark.streaming.sketch import streaming_hll_distinct, streaming_kmv_distinct

    md5_8 = "conv(substr(md5(cast(user_id as string)), 1, 8), 16, 10)"
    return {
        "kmv": lambda src: streaming_kmv_distinct(
            src.withColumn("h", F.expr(f"{md5_8} / 4294967296")), "event_type", "h", k=KMV_K
        ),
        "hll": lambda src: streaming_hll_distinct(
            src.withColumn("h", F.expr(f"cast({md5_8} as bigint)")), "event_type", "h"
        ),
    }


def _final_estimates(spark, ckpt: str, kind: str) -> dict[str, float]:
    rows = spark.read.format("statestore").load(ckpt).collect()
    est = _kmv_estimate if kind == "kmv" else _hll_estimate
    out = {}
    for r in rows:
        state = json.loads(r["value"]["groupState"]["state"])
        out[r["key"][0]] = est(state)
    return out


def run(seed: int, seconds: float, trace: bool, work: str, setups: int) -> dict:
    st = Setup(seed, work).repeat(setups)
    spark = st.spark
    # warm the stateful Python fold (first-batch JIT, worker imports) on a
    # small backlog, once, after set-up: the timed drains measure the folds
    streams.drain(spark, st.warm, SCHEMA, 1, _pipelines()["kmv"],
                  common.reset_dir(os.path.join(work, "ck_warm")))
    tracer = common.Tracer(trace, f"stream_sketch-{seed}")
    reps: list[dict] = []
    attempted = failed = 0
    while True:
        r = len(reps)
        traced = trace and r % 2 == 1
        rep = {"traced": traced, "drains": {}}
        tracer.enabled = traced
        for kind, make in _pipelines().items():
            ckpt = os.path.join(work, f"ck_{r}_{kind}")
            attempted += N_EVENTS
            with tracer.span(f"streaming.{kind}"):
                drain = streams.drain(spark, st.src, SCHEMA, FILES_PER_TRIGGER, make, ckpt)
            rep["drains"][kind] = drain
            if drain["error"] is not None:
                failed += N_EVENTS
                continue
            got = _final_estimates(spark, ckpt, kind)
            want = {t: v[kind] for t, v in st.expected.items()}
            if got.keys() != want.keys() or any(abs(got[t] - want[t]) > 1e-9 * want[t] for t in want):
                failed += N_EVENTS
                print(f"stream_sketch: {kind} estimates {got} != reference {want}", file=sys.stderr)
        reps.append(rep)
        if len(reps) >= max(1, int(seconds // REP_S)) * (2 if trace else 1):
            break
    return streams.summarize(st, reps, tracer, N_EVENTS * 2, attempted, failed, {
        "events": N_EVENTS, "users": N_USERS, "zipf_s": ZIPF_S, "files": FILES,
        "files_per_trigger": FILES_PER_TRIGGER, "kmv_k": KMV_K,
    })
