"""Stream plumbing shared by the two streaming workloads: staging files that
stand in for a topic, one timed backlog drain, and reading the engine's own
per-batch progress."""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow.parquet as pq

import common


def stage(table, path: str, files: int) -> str:
    """Write ``table`` as ``files`` parquet files in row order. The file
    source orders files by modification time, so each file gets its own
    second, in the past."""
    common.reset_dir(path)
    edges = np.linspace(0, table.num_rows, files + 1).astype(int)
    t0 = int(time.time()) - 10 * files
    for i, (a, b) in enumerate(zip(edges, edges[1:])):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(a, b - a), f)
        os.utime(f, (t0 + i, t0 + i))
    return path


def source(spark, path: str, schema: str, files_per_trigger: int):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(path)
    )


def drain(spark, path: str, schema: str, files_per_trigger: int, make, ckpt: str) -> dict:
    """Drain the staged backlog at ``path`` through ``make(source)`` into a
    ``noop`` sink: wall from ``start()`` to ``processAllAvailable()``."""
    out = make(source(spark, path, schema, files_per_trigger))
    t_start = time.time()
    t0 = time.perf_counter()
    q = out.writeStream.format("noop").option("checkpointLocation", ckpt).start()
    error = None
    try:
        q.processAllAvailable()
    except Exception as e:  # noqa: BLE001 — a crashed stream fails all its events
        error = f"{type(e).__name__}: {e}"
    wall = time.perf_counter() - t0
    progress = q.recentProgress
    q.stop()
    return {"wall_s": wall, "t_start": t_start, "batches": batches(progress), "error": error}


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def batches(progress) -> list[dict]:
    """The data-carrying micro-batches: rows, commit time (epoch seconds) and
    the engine's duration and state-store split."""
    out = []
    for p in progress:
        rows = p.get("numInputRows") or 0
        if not rows:
            continue
        dur = p.get("durationMs") or {}
        ops = p.get("stateOperators") or []
        out.append({
            "id": p["batchId"],
            "rows": rows,
            "commit": _epoch(p["timestamp"]) + dur.get("triggerExecution", 0) / 1000.0,
            "dur": dur,
            "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
            "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "state_update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
            "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        })
    return out


def phase_ms(batch_list: list[dict]) -> dict[str, float]:
    """Engine time split over ``batch_list`` (ms), and the share of trigger
    time that is micro-batch bookkeeping rather than ``addBatch``."""
    tot = {k: sum(b["dur"].get(k, 0) for b in batch_list) for k in
           ("addBatch", "queryPlanning", "walCommit", "latestOffset", "triggerExecution")}
    return {
        "streaming.add_batch_ms": tot["addBatch"],
        "streaming.planning_ms": tot["queryPlanning"],
        "streaming.wal_commit_ms": tot["walCommit"],
        "streaming.latest_offset_ms": tot["latestOffset"],
        "streaming.overhead_share": 1 - tot["addBatch"] / tot["triggerExecution"]
        if tot["triggerExecution"] else 0.0,
        "streaming.state_update_ms": sum(b["state_update_ms"] for b in batch_list),
        "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in batch_list),
        "streaming.batches": len(batch_list),
        "streaming.batch_p50_ms": common.median([b["dur"].get("triggerExecution", 0) for b in batch_list]),
    }


def drain_latencies(d: dict) -> list[float]:
    """Per event of a backlog drain: from the drain's start, when every event
    was already due, to the commit of the batch that carried it."""
    out: list[float] = []
    for b in d["batches"]:
        out += [b["commit"] - d["t_start"]] * b["rows"]
    return out


def summarize(st, reps: list[dict], tracer, rows_per_rep: int, attempted: int, failed: int,
              context: dict) -> dict:
    """End-to-end metrics over the untraced repetitions of backlog drains
    and, for a traced run, the per-layer split of the traced ones."""
    plain = [r for r in reps if not r["traced"]]
    walls = [sum(d["wall_s"] for d in r["drains"].values()) for r in plain]
    per_batch = [b["dur"].get("triggerExecution", 0) / 1000.0
                 for r in plain for d in r["drains"].values() for b in d["batches"]]
    lat = [x for r in plain for d in r["drains"].values() for x in drain_latencies(d)]
    state = [sum(d["batches"][-1]["state_bytes"] for d in r["drains"].values() if d["batches"])
             for r in plain]
    tail_pct, tail_v = common.tail(per_batch)
    out = {
        "attempted": attempted,
        "failed": failed,
        "context": {**context, "repetitions": len(reps), "batch_samples": len(per_batch),
                    "query_tail_percentile": tail_pct},
        "e2e": {
            "setup_s": common.median(st.walls),
            "mix_wall_s": common.median(walls),
            "query_p50_s": common.median(per_batch),
            "query_tail_s": tail_v,
            "rows_per_s": common.median([rows_per_rep / w for w in walls]),
            "latency_p50_s": common.quantile(lat, 0.5),
            "latency_p99_s": common.quantile(lat, 0.99),
            "state_bytes": common.median(state),
        },
        "setup": st,
        "tracer": tracer,
    }
    if any(r["traced"] for r in reps):
        traced = [r for r in reps if r["traced"]]
        layer_runs = []
        for r in traced:
            bl = [b for d in r["drains"].values() for b in d["batches"]]
            m = phase_ms(bl)
            m["streaming.state_rows"] = sum(
                d["batches"][-1]["state_rows"] for d in r["drains"].values() if d["batches"])
            layer_runs.append(m)
        layers = {k: common.median([m[k] for m in layer_runs]) for k in layer_runs[0]}
        t_walls = [sum(d["wall_s"] for d in r["drains"].values()) for r in traced]
        layers["bench.trace_overhead_frac"] = common.median(t_walls) / common.median(walls) - 1.0
        out["layers"] = layers
    return out
