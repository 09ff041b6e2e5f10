#!/usr/bin/env python
"""One-off profile that freezes the ``batch_mix`` strata.

Runs every registry query once, serially, in name order, on the generated
tables (seed 0, ``batch_mix.SF``), on a fresh ``local[4]`` session. Like the
benchmark, each query reads through its own hard-link directory, so no
per-dataset memo carries over from an earlier query. For each
query it records the construction wall and jobs (inside ``Query.fn``), the
noop-write execution wall and jobs, and whether the collected result
hash-matches its DuckDB oracle. Queries that fail, mismatch, have no oracle,
or run longer than ``MAX_WALL_S`` are left out of the population. The rest
are split into two strata by where their time goes (construction share
above or below ``CONSTRUCTION_SHARE``) and each stratum is sorted by wall.

Usage, from the repository root::

    python3 perfbench/profile_strata.py            # writes perfbench/strata.json
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import common  # noqa: E402

MAX_WALL_S = 4.0
CONSTRUCTION_SHARE = 0.5
QUERY_TIMEOUT_S = 60


def main() -> None:
    work = common.reset_dir(common.work_dir())
    common.confine(work)
    import batch_mix
    import gen

    data = os.path.join(work, "data")
    gen.write_tables(gen.batch_tables(0, batch_mix.SF), data)
    spark = common.start_session(work)
    common.warm_up(spark)
    from fluvii_spark.queries import registry

    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from contract_common import duck_views, value_hash

    con = duck_views(data)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rows = {}
    for name, q in sorted(registry().items()):
        rec: dict = {}
        qdir = batch_mix.alias_dir(data, name)
        timer = threading.Timer(
            QUERY_TIMEOUT_S, lambda n=name: [sc.cancelJobGroup(f"{n}:{p}") for p in ("build", "exec")]
        )
        timer.start()
        try:
            sc.setJobGroup(f"{name}:build", name)
            t0 = time.perf_counter()
            df = q.fn(spark, qdir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{name}:exec", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec.update(build_s=round(t1 - t0, 4), exec_s=round(t2 - t1, 4))
            rec["build_jobs"] = len(tracker.getJobIdsForGroup(f"{name}:build"))
            rec["exec_jobs"] = len(tracker.getJobIdsForGroup(f"{name}:exec"))
            sc.setJobGroup(f"{name}:check", name)
            got = value_hash(list(df.columns), [tuple(r) for r in df.collect()])
            if q.oracle is None:
                rec["status"] = "no-oracle"
            else:
                cur = con.execute(q.oracle)
                want = value_hash([d[0] for d in cur.description], cur.fetchall())
                rec["status"] = "ok" if got == want else "mismatch"
        except Exception as e:  # noqa: BLE001 — record and keep profiling
            rec["status"] = f"error: {type(e).__name__}: {str(e)[:120]}"
        finally:
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
        rows[name] = rec
        print(name, rec, flush=True)
    common.stop_session(spark)
    common.shutdown_jvm()

    def eligible(r):
        return r.get("status") == "ok" and r["build_s"] + r["exec_s"] <= MAX_WALL_S

    def wall(n):
        return rows[n]["build_s"] + rows[n]["exec_s"]

    pop = [n for n, r in rows.items() if eligible(r)]
    construction = sorted(
        (n for n in pop if rows[n]["build_s"] / wall(n) > CONSTRUCTION_SHARE), key=wall
    )
    execution = sorted(
        (n for n in pop if rows[n]["build_s"] / wall(n) <= CONSTRUCTION_SHARE), key=wall
    )
    out = {
        "profile": {
            "seed": 0, "sf": batch_mix.SF, "cores": common.CORES,
            "max_wall_s": MAX_WALL_S, "construction_share": CONSTRUCTION_SHARE,
        },
        "strata": {"construction": construction, "execution": execution},
        "queries": rows,
    }
    with open(os.path.join(HERE, "strata.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"population {len(pop)}: construction {len(construction)}, execution {len(execution)}")


if __name__ == "__main__":
    main()
