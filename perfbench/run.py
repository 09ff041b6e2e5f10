#!/usr/bin/env python
"""fluvii-spark benchmark: one command for every workload and metric.

Run from the repository root::

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 15 --trace 0

Workloads (see each module's docstring): ``batch_mix`` (serial registry
queries), ``stream_sketch`` (KMV/HLL sketch folds over a staged backlog) and
``stream_table`` (framed-Avro keyed running balance into the idempotent file
sink: a backlog drain, then an open-loop paced feed). ``BENCHMARK.json``
lists ``batch_mix`` and ``stream_table`` only: a full set of runs of all three
does not fit the run-time budget on a 4-core host. ``stream_sketch`` stays
runnable by name for work on the sketch folds.

Spark runs as ``local[4]``. Every run builds its inputs from ``--seed``
under ``.perfbench_work/`` in the current directory, checks the program's
outputs, and prints two JSON lines: the host and workload context, then the
result ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer metrics
and writes the spans and the context to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("batch_mix", "stream_sketch", "stream_table")
# set-ups per run; the median is setup_s (the first one also starts the JVM)
SETUPS = 2


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(os.getcwd(), "fluvii_spark")):
        print("perfbench: run from the root of a fluvii-spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    work = common.reset_dir(common.work_dir())
    common.confine(work)
    load_before = common.loadavg()
    steal_before = common.cpu_steal_s()
    module = __import__(args.workload)
    res = module.run(args.seed, args.seconds, bool(args.trace), work, SETUPS)
    setup = res["setup"]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "setups": SETUPS,
        "host": setup.host,
        "loadavg_1m_before": load_before,
        **res["context"],
    }
    common.stop_session(setup.spark)
    common.shutdown_jvm()
    context["loadavg_1m_after"] = common.loadavg()
    steal_after = common.cpu_steal_s()
    # CPU time other guests took from this host's CPUs during the run: a
    # noisy window shows here even when loadavg (this guest only) does not
    context["cpu_steal_s"] = (None if steal_before is None or steal_after is None
                              else round(steal_after - steal_before, 2))
    if args.trace:
        per_layer = _units("per_layer")
        layers = {k: 0.0 for k in per_layer}
        layers["session.start_s"] = common.median(setup.session_s)
        layers["session.warmup_s"] = common.median(setup.warmup_s)
        layers["bench.loadavg_1m"] = context["loadavg_1m_after"]
        layers.update(res["layers"])
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer.items()}
        tracer = res["tracer"]
        context["self_time_s"] = tracer.self_time()
        stem = os.path.join(common.out_dir(), f"{args.workload}-{args.seed}")
        tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".context.json", "w") as fh:
            json.dump(context, fh, indent=1)
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in _units("end_to_end").items()}
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
