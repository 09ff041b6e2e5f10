"""``stream_table``: the fluvii path end to end, files standing in for topics.

Messages are Confluent-framed Avro: a string key ``acct<k>`` (Zipf-skewed
over ``N_KEYS`` accounts) and a ``Tx`` record (account, amount in whole
cents, seq, due time). The pipeline is ``decode_framed_string_key`` /
``decode_framed_json`` -> ``TableApp`` running-balance fold (state written on
every message) -> ``encode_framed`` -> ``eos_file_sink``.

Phase A drains a staged backlog of ``PHASE_A_EVENTS`` messages in ``FILES_A``
files with ``maxFilesPerTrigger`` fixed. Phase B keeps the same query
running while one generator thread writes a topic file every ``TICK_S``
holding the messages due in that tick, at the fixed rate ``RATE`` (well
below phase A's capacity). The generator sleeps to its schedule and never
waits for Spark; an event's latency runs from its due time to the commit of
the sink batch that wrote its produced record. The source lag (generated
minus consumed rows) is sampled through phase B. The run is flagged invalid
when the backlog outgrows a trigger: a trigger in the second half of phase
B that reaches ``maxFilesPerTrigger`` left files waiting, so the source is
falling behind. Phase-B files hold half a phase-A file's messages, so the
cap is 6 s of feed there, far more than a trigger that keeps up finds
waiting.

Afterwards the sink output is read back: every seq must appear exactly once
and every produced balance must equal the key's running sum at that seq.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import common
import gen
import streams

N_KEYS = 10_000
ZIPF_S = 1.2
PHASE_A_EVENTS = 9_000
WARM_EVENTS = 500
FILES_A = 36
FILES_PER_TRIGGER = 12
RATE = 250
TICK_S = 0.5
PHASE_B_S = 8.0
SCHEMA = "key BINARY, value BINARY"
TX_DDL = "account STRING, amount DOUBLE, seq BIGINT, due_us BIGINT"


def _balance_fold():
    """The user function: running balance in cents, one output per message."""

    def fold(txn) -> None:
        msg = txn.value()
        cents = (txn.read_table_entry() or 0) + round(msg["amount"] * 100)
        txn.update_table_entry(cents)
        txn.produce({"account": msg["account"], "balance": cents / 100, "seq": msg["seq"]})

    return fold


def pipeline(src):
    from pyspark.sql import functions as F

    from fluvii_spark.serde.columns import decode_framed_json, decode_framed_string_key, encode_framed
    from fluvii_spark.streaming import TableApp

    decoded = src.select(
        decode_framed_string_key("key").alias("key"),
        F.from_json(decode_framed_json("value", gen.TX_SCHEMA), TX_DDL).alias("v"),
    ).select("key", "v.*")
    app = TableApp(
        decoded, _balance_fold(), key_cols=["key"],
        output_schema="account STRING, balance DOUBLE, seq BIGINT", order_by=["seq"],
    )
    # An Arrow UDF evaluated directly on the stateful fold's output rows
    # fails on Spark 4.1 (ClassCastException: GenericInternalRow is not an
    # UnsafeRow), and the optimizer folds a plain projection into the UDF's
    # input. observe() is an operator it cannot fold through, so the JSON
    # projection below it yields UnsafeRows; it also counts produced rows.
    produced = (
        app.transformed()
        .select(F.to_json(F.struct("account", "balance", "seq")).alias("j"))
        .observe("produced", F.count(F.lit(1)).alias("rows"))
    )
    return produced.select(encode_framed("j", gen.BALANCE_SCHEMA, gen.OUT_SCHEMA_ID).alias("value"))


class Setup(common.Setup):
    def prepare(self) -> None:
        n = PHASE_A_EVENTS + int(RATE * PHASE_B_S)
        self.gen = gen.TxGenerator(self.seed, N_KEYS, ZIPF_S, n)
        self.topic = os.path.join(self.work, "topic")
        streams.stage(self.gen.table(range(PHASE_A_EVENTS), [0] * PHASE_A_EVENTS), self.topic, FILES_A)
        self.warm = streams.stage(self.gen.table(range(WARM_EVENTS), [0] * WARM_EVENTS),
                                  os.path.join(self.work, "topic_warm"), 1)
        # reference: the running balance of each seq's key after that seq
        self.expected = np.zeros(n, dtype=np.int64)
        acc: dict[int, int] = {}
        for s in range(n):
            k = int(self.gen.keys[s])
            acc[k] = acc.get(k, 0) + int(self.gen.cents[s])
            self.expected[s] = acc[k]


class Feeder(threading.Thread):
    """Open-loop generator: one topic file per tick on a fixed schedule."""

    def __init__(self, g: gen.TxGenerator, topic: str, first: int, t0: float):
        super().__init__(daemon=True)
        self.g, self.topic, self.first, self.t0 = g, topic, first, t0
        self.per_tick = int(RATE * TICK_S)
        self.ticks = int(PHASE_B_S / TICK_S)
        self.late: list[float] = []
        self.written = 0
        self.error: BaseException | None = None

    def due(self, seq: int) -> float:
        return self.t0 + (seq - self.first) / RATE

    def run(self) -> None:
        try:
            for i in range(self.ticks):
                target = self.t0 + (i + 1) * TICK_S
                time.sleep(max(0.0, target - time.time()))
                seqs = range(self.first + i * self.per_tick, self.first + (i + 1) * self.per_tick)
                table = self.g.table(seqs, [int(self.due(s) * 1e6) for s in seqs])
                # hidden while written, then renamed: the source never sees
                # a partial file
                tmp = os.path.join(self.topic, f".b{i:05d}.tmp")
                pq.write_table(table, tmp)
                os.replace(tmp, os.path.join(self.topic, f"part-b{i:05d}.parquet"))
                self.late.append(time.time() - target)
                self.written += len(seqs)
        except BaseException as e:  # noqa: BLE001 — surfaced by the main thread
            self.error = e


def _timed_writer(path: str, spent: list[float]):
    from fluvii_spark.io.sinks import idempotent_batch_writer

    write = idempotent_batch_writer(path)

    def timed(batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        write(batch_df, batch_id)
        spent.append(time.perf_counter() - t0)

    return timed


def _check(st: Setup, sink: str, n: int) -> tuple[int, list[tuple[int, int]]]:
    """(failed events, [(seq, batch id)]) from the sink output read back."""
    out = pq.read_table(sink)
    seen = np.zeros(n, dtype=np.int64)
    wrong = 0
    emitted = []
    for v, b in zip(out.column("value").to_pylist(), out.column("batch_id").to_pylist()):
        account, balance, seq = gen.read_balance(v)
        if not 0 <= seq < n:
            wrong += 1
            continue
        seen[seq] += 1
        emitted.append((seq, int(b)))
        if account != st.gen.account(seq) or round(balance * 100) != st.expected[seq]:
            wrong += 1
    missing = int((seen == 0).sum())
    dups = int(np.maximum(seen - 1, 0).sum())
    if missing or dups or wrong:
        print(f"stream_table: {missing} missing, {dups} duplicated, {wrong} wrong", file=sys.stderr)
    return missing + dups + wrong, emitted


def _run_once(st: Setup, tag: str, traced: bool, tracer, phase_b: bool = True) -> dict:
    """Phase A (and B) on a fresh topic copy, checkpoint and sink."""
    from fluvii_spark.io.sinks import eos_file_sink
    from fluvii_spark.metrics import install_metrics

    spark = st.spark
    topic = common.reset_dir(os.path.join(st.work, f"topic_{tag}"))
    for f in os.listdir(st.topic):
        os.link(os.path.join(st.topic, f), os.path.join(topic, f))
    sink, ckpt = os.path.join(st.work, f"sink_{tag}"), os.path.join(st.work, f"ck_{tag}")
    gauges = install_metrics(spark, f"perfbench-{tag}")
    writes: list[float] = []
    out = pipeline(streams.source(spark, topic, SCHEMA, FILES_PER_TRIGGER))
    if traced:
        writer = out.writeStream.foreachBatch(_timed_writer(sink, writes)).option("checkpointLocation", ckpt)
    else:
        writer = eos_file_sink(out, sink, ckpt)
    r: dict = {"error": None, "writes": writes, "sink": sink}
    t0 = time.perf_counter()
    q = writer.start()
    n_a = 0
    try:
        with tracer.span("streaming.phase_a"):
            q.processAllAvailable()
        r["wall_a"] = time.perf_counter() - t0
        n_a = len(streams.batches(q.recentProgress))
        if phase_b:
            with tracer.span("streaming.phase_b"):
                _phase_b(st, q, topic, gauges, r)
    except Exception as e:  # noqa: BLE001 — a crashed stream fails all its events
        r["error"] = f"{type(e).__name__}: {e}"
        print(f"stream_table: stream failed: {r['error']}", file=sys.stderr)
    bl = streams.batches(q.recentProgress)
    q.stop()
    r["batches_a"], r["batches_b"] = bl[:n_a], bl[n_a:]
    r["commit"] = {b["id"]: b["commit"] for b in bl}
    # the listener runs asynchronously: give its last progress events time
    deadline = time.time() + 5
    total = sum(b["rows"] for b in bl)
    while gauges.get("messages_consumed") < total and time.time() < deadline:
        time.sleep(0.1)
    r["consumed_gauge"] = gauges.get("messages_consumed")
    spark.streams.removeListener(gauges._listener)
    return r


def _phase_b(st: Setup, q, topic: str, gauges, r: dict) -> None:
    last_a = max(p["batchId"] for p in q.recentProgress)
    feeder = Feeder(st.gen, topic, PHASE_A_EVENTS, time.time() + TICK_S)
    feeder.start()
    lags, behind = [], []
    while feeder.is_alive():
        time.sleep(TICK_S / 2)
        consumed = sum(p["numInputRows"] for p in q.recentProgress if p["batchId"] > last_a)
        lags.append(feeder.written - consumed)
        behind.append(gauges.get("seconds_behind"))
    feeder.join()
    if feeder.error is not None:
        raise RuntimeError(f"generator failed: {feeder.error!r}")
    q.processAllAvailable()
    r["feeder"], r["lags"], r["behind"] = feeder, lags, behind


def run(seed: int, seconds: float, trace: bool, work: str, setups: int) -> dict:
    st = Setup(seed, work).repeat(setups)
    # warm the stream path (first-batch JIT, worker imports) on a small
    # backlog, once, after set-up: phase A measures the pipeline, not its
    # first start
    streams.drain(st.spark, st.warm, SCHEMA, 1, pipeline, common.reset_dir(os.path.join(work, "ck_warm")))
    n = PHASE_A_EVENTS + int(RATE * PHASE_B_S)
    tracer = common.Tracer(False, f"stream_table-{seed}")
    # a traced run drains phase A once untraced, to measure tracing overhead
    plain = _run_once(st, "plain", False, tracer, phase_b=not trace)
    n_plain = PHASE_A_EVENTS if trace else n
    failed, emitted = (n_plain, []) if plain["error"] else _check(st, plain["sink"], n_plain)
    attempted = n_plain
    res = plain
    if trace:
        tracer.enabled = True
        res = _run_once(st, "traced", True, tracer)
        f, emitted = (n, []) if res["error"] else _check(st, res["sink"], n)
        failed += f
        attempted += n
    if res["error"] is None:
        lat = [res["commit"][b] - res["feeder"].due(s) for s, b in emitted if s >= PHASE_A_EVENTS]
        lags = res["lags"]
        cap = FILES_PER_TRIGGER * int(RATE * TICK_S)
        capped = sum(b["rows"] >= cap for b in res["batches_b"][len(res["batches_b"]) // 2:])
    else:
        lat, lags, capped = [float("nan")], [0], -1
    # phase-A micro-batches only: phase-B batches are smaller and of varying
    # size, and a median over both falls between the two kinds
    per_batch = [b["dur"].get("triggerExecution", 0) / 1000.0 for b in plain["batches_a"]]
    tail_pct, tail_v = common.tail(per_batch)
    out = {
        "attempted": attempted,
        "failed": failed,
        "context": {
            "keys": N_KEYS, "zipf_s": ZIPF_S, "phase_a_events": PHASE_A_EVENTS,
            "files_a": FILES_A, "files_per_trigger": FILES_PER_TRIGGER, "rate": RATE,
            "tick_s": TICK_S, "phase_b_s": PHASE_B_S, "latency_samples": len(lat),
            "batch_samples": len(per_batch), "query_tail_percentile": tail_pct,
            "source_lag_rows": lags, "capped_triggers_b": capped,
            "valid": capped == 0,
        },
        "e2e": {
            "setup_s": common.median(st.walls),
            "mix_wall_s": plain["wall_a"],
            "query_p50_s": common.median(per_batch),
            "query_tail_s": tail_v,
            "rows_per_s": PHASE_A_EVENTS / plain["wall_a"],
            "latency_p50_s": common.quantile(lat, 0.5),
            "latency_p99_s": common.quantile(lat, 0.99),
            "state_bytes": res["batches_a"][-1]["state_bytes"] if res["batches_a"] else 0,
        },
        "setup": st,
        "tracer": tracer,
    }
    if trace:
        out["layers"] = _layers(st, plain, res, lags)
    return out


def _layers(st: Setup, plain: dict, res: dict, lags: list) -> dict:
    from fluvii_spark.serde.avro_codec import AvroCodec
    from fluvii_spark.serde.columns import decode_framed_json

    m = streams.phase_ms(res["batches_a"])
    b = streams.phase_ms(res["batches_b"]) if res["batches_b"] else {}
    m["streaming.batches"] = b.get("streaming.batches", 0)
    m["streaming.batch_p50_ms"] = b.get("streaming.batch_p50_ms", 0.0)
    m["streaming.state_rows"] = res["batches_a"][-1]["state_rows"] if res["batches_a"] else 0
    # serde: the package's codec called directly on the generated payloads
    tx, bal = AvroCodec(gen.TX_SCHEMA), AvroCodec(gen.BALANCE_SCHEMA)
    sample = st.gen.table(range(2000), [0] * 2000).column("value").to_pylist()
    t0 = time.perf_counter()
    recs = [tx.decode(p[5:]) for p in sample]
    t1 = time.perf_counter()
    for rec in recs:
        bal.encode({"account": rec["account"], "balance": rec["amount"], "seq": rec["seq"]})
    t2 = time.perf_counter()
    spark = st.spark
    spark.read.schema(SCHEMA).parquet(st.topic).select(
        decode_framed_json("value", gen.TX_SCHEMA)
    ).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    feeder = res["feeder"]
    m.update({
        "serde.decode_us": (t1 - t0) / len(sample) * 1e6,
        "serde.encode_us": (t2 - t1) / len(sample) * 1e6,
        "serde.column_decode_s": t3 - t2,
        "io.sink_write_ms": sum(res["writes"]) * 1000,
        "io.source_lag_rows": max(lags),
        "metrics.consumed_rows": res["consumed_gauge"],
        "metrics.seconds_behind_s": common.median(res["behind"]) if res["behind"] else 0.0,
        "bench.gen_late_p99_s": common.quantile(feeder.late, 0.99),
        "bench.trace_overhead_frac": res["wall_a"] / plain["wall_a"] - 1.0,
    })
    # single-threaded baseline: phase A once more on local[1]
    common.stop_session(spark)
    st.spark = common.start_session(st.work, cores=1)
    streams.drain(st.spark, st.warm, SCHEMA, 1, pipeline, common.reset_dir(os.path.join(st.work, "ck_warm_1")))
    one =_run_once(st, "one_core", False, common.Tracer(False, ""), phase_b=False)
    m["streaming.rows_per_s_1core"] = PHASE_A_EVENTS / one["wall_a"] if one["error"] is None else 0.0
    return m
