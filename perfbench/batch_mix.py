"""``batch_mix``: a closed-loop, single-client, serial mix of registry queries.

The mix is a stratified sample of the frozen strata in ``strata.json``:
``PER_STRATUM`` queries from the construction-dominated stratum and as many
from the execution-dominated one. Each stratum is sorted by profiled wall
and cut into ``PER_STRATUM`` equal buckets; one query is drawn per bucket,
redrawn until the stratum's profiled cost is within ``COST_TOLERANCE`` of
its expectation. The draw uses the fixed ``MIX_SEED``: a per-seed draw of a few queries
out of ~250 very unequal ones spread the mix wall by 15% and the per-query
median by 38% across seeds, more than any regression bound. The run seed
generates the tables and fixes the run order.

A pass runs every query of the mix once, serially: ``Query.fn``
(construction) and then a ``noop`` write (execution); a query's wall is
both. Each query reads the tables through its own directory of hard links,
so the package sees a new dataset path every time: per-dataset memos never
carry from one query to the next, and a query's cost does not depend on the
run order. Two passes warm the JIT and are not timed: the first builds
each query and collects its result, which is hash-checked against the
DuckDB oracle computed during set-up; the second is a noop pass, because
the first noop pass still runs well above the steady wall. The timed passes
follow: ``--seconds // PASS_S`` of them, at least one, plus up to
``MAX_EXTRA`` more when the host's other guests took CPU time during them
(see ``STEAL_OK``); the ``--seconds // PASS_S`` passes with the least steal
time count. The per-query figures use each query's median over the passes
that count.

Traced runs alternate untraced and traced passes after the warm passes,
with no extra passes. A traced pass splits each query into construction, Catalyst optimization + planning (forced on the
DataFrame's own ``queryExecution``) and execution of that same physical plan,
counts jobs, stages and tasks through job groups and ``statusTracker``, and
reads task time, shuffle and spill from a local event log.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import common

SF = 0.02
PER_STRATUM = 3
COST_TOLERANCE = 0.02
MIX_SEED = 0
# nominal seconds per timed pass: a run makes seconds // PASS_S of them
PASS_S = 8
# A timed pass during which the host's other guests took more than STEAL_OK
# of its CPUs (steal time) is made again, at most MAX_EXTRA times per run:
# this mix's wall grows several times faster than that share, which comes
# in bursts of seconds. Extra passes start only within EXTRA_DEADLINE_S of
# the run's start, so a noisy host cannot stretch a run without bound.
STEAL_OK = 0.03
MAX_EXTRA = 2
EXTRA_DEADLINE_S = 65
STRATA = ("construction", "execution")


def mix(seed: int) -> list[str]:
    """The frozen mix in the seed's run order.

    One query per cost bucket of each stratum, redrawn (from ``MIX_SEED``)
    until each stratum's profiled cost is within ``COST_TOLERANCE`` of its
    expectation."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "strata.json")) as fh:
        frozen = json.load(fh)
    cost = {n: q["build_s"] + q["exec_s"] for n, q in frozen["queries"].items() if "build_s" in q}
    rng = random.Random(MIX_SEED)
    picked = []
    for name in STRATA:
        pop = frozen["strata"][name]
        edges = [round(i * len(pop) / PER_STRATUM) for i in range(PER_STRATUM + 1)]
        buckets = [pop[a:b] for a, b in zip(edges, edges[1:])]
        target = sum(sum(cost[n] for n in b) / len(b) for b in buckets)
        while True:
            draw = [rng.choice(b) for b in buckets]
            if abs(sum(cost[n] for n in draw) / target - 1) <= COST_TOLERANCE:
                break
        picked += draw
    random.Random(seed).shuffle(picked)
    return picked


def _oracle_hashes(data: str, queries: dict, names: list[str]) -> dict[str, str]:
    from contract_common import duck_views, value_hash

    con = duck_views(data)
    out = {}
    for n in names:
        cur = con.execute(queries[n].oracle)
        out[n] = value_hash([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


class Setup(common.Setup):
    def __init__(self, seed: int, work: str, trace: bool):
        super().__init__(seed, work)
        if trace:
            self.eventlog = os.path.join(work, "eventlog")
            os.makedirs(self.eventlog, exist_ok=True)
            self.extra_conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }

    def prepare(self) -> None:
        import gen
        from fluvii_spark.queries import registry

        self.data = common.reset_dir(os.path.join(self.work, "data"))
        self.rows = gen.write_tables(gen.batch_tables(self.seed, SF), self.data)
        self.queries = registry()
        self.names = mix(self.seed)
        self.oracle = _oracle_hashes(self.data, self.queries, self.names)


def alias_dir(data: str, tag: str) -> str:
    """A directory of hard links to the tables: the same bytes under a new
    dataset path."""
    d = os.path.join(data, tag)
    os.makedirs(d)
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            os.link(os.path.join(data, f), os.path.join(d, f))
    return d


def _storage(sc) -> dict[int, int]:
    return {i.id(): i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()}


def run(seed: int, seconds: float, trace: bool, work: str, setups: int) -> dict:
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from contract_common import value_hash

    t_run = time.perf_counter()
    st = Setup(seed, work, trace).repeat(setups)
    spark, names, queries = st.spark, st.names, st.queries
    sc = spark.sparkContext
    tracer = common.Tracer(trace, f"batch_mix-{seed}")
    passes: list[dict] = []
    attempted = failed = 0

    def one_pass(kind: str) -> None:
        nonlocal attempted, failed
        p = len(passes)
        rec = {"kind": kind, "walls": {}, "new_bytes": 0, "queries": {}}
        steal0, t_pass = common.cpu_steal_s(), time.perf_counter()
        for i, name in enumerate(names):
            q = queries[name]
            d = alias_dir(st.data, f"p{p}q{i}")
            attempted += 1
            before = _storage(sc)
            try:
                t0 = time.perf_counter()
                if kind == "check":
                    df = q.fn(spark, d)
                    got = value_hash(list(df.columns), [tuple(r) for r in df.collect()])
                    if got != st.oracle[name]:
                        failed += 1
                        print(f"batch_mix: {name} hash {got} != oracle {st.oracle[name]}", file=sys.stderr)
                elif kind == "traced":
                    rec["queries"][name] = _traced_query(spark, tracer, q, d, f"{p}:{name}")
                else:
                    q.fn(spark, d).write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 — a failed query is counted, the mix goes on
                failed += 1
                print(f"batch_mix: {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
                continue
            rec["walls"][name] = wall
            after = _storage(sc)
            rec["new_bytes"] += sum(b for rdd, b in after.items() if rdd not in before)
        steal1 = common.cpu_steal_s()
        rec["steal_frac"] = (None if steal0 is None or steal1 is None else
                             (steal1 - steal0) / ((time.perf_counter() - t_pass) * os.cpu_count()))
        passes.append(rec)

    def timed() -> list[dict]:
        return [r for r in passes if r["kind"] == "plain"]

    n = max(1, int(seconds // PASS_S))
    one_pass("check")
    one_pass("warm")
    for _ in range(n):
        one_pass("plain")
        if trace:
            one_pass("traced")
    while (not trace and len(timed()) < n + MAX_EXTRA
           and time.perf_counter() - t_run < EXTRA_DEADLINE_S
           and sum((r["steal_frac"] or 0.0) <= STEAL_OK for r in timed()) < n):
        one_pass("plain")
    # the n timed passes the host's other guests disturbed least
    plain = sorted(timed(), key=lambda r: r["steal_frac"] or 0.0)[:n]
    mix_walls = [sum(r["walls"].values()) for r in plain]
    # each query's median over the timed passes, so one slow pass of one
    # query does not set the percentiles
    per_query = [common.median([r["walls"][q] for r in plain if q in r["walls"]])
                 for q in names if any(q in r["walls"] for r in plain)]
    tail_pct, tail_v = common.tail(per_query)
    out = {
        "attempted": attempted,
        "failed": failed,
        "context": {
            "queries": names,
            "passes": len(passes),
            "timed_pass_steal_frac": [r["steal_frac"] for r in timed()],
            "used_pass_steal_frac": [r["steal_frac"] for r in plain],
            "check_pass_wall_s": sum(passes[0]["walls"].values()),
            "query_samples": len(per_query),
            "query_tail_percentile": tail_pct,
            "input_rows": st.rows,
            "sf": SF,
        },
        "e2e": {
            "setup_s": common.median(st.walls),
            "mix_wall_s": common.median(mix_walls),
            "query_p50_s": common.median(per_query),
            "query_tail_s": tail_v,
            "rows_per_s": st.rows / common.median(mix_walls),
            # a batch user's latency is the query wall; a mix this small has
            # no 99th percentile, so the tail rule above stands in for it
            "latency_p50_s": common.median(per_query),
            "latency_p99_s": tail_v,
            "state_bytes": common.median([r["new_bytes"] for r in plain]),
        },
        "setup": st,
        "tracer": tracer,
    }
    if trace:
        out["layers"] = _layers(st, passes, tracer)
    return out


def _phases_ms(spark, qe) -> float:
    jvm = spark.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return float(sum(phases.get(k).durationMs() for k in phases.keySet()))


def _traced_query(spark, tracer, q, d: str, group: str) -> dict:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    with tracer.span("query"):
        with tracer.span("queries.build"):
            sc.setJobGroup(group + ":build", group)
            df = q.fn(spark, d)
        with tracer.span("queries.plan"):
            sc.setJobGroup(group + ":plan", group)
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        with tracer.span("queries.exec"):
            sc.setJobGroup(group + ":exec", group)
            qe.toRdd().count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spans = tracer.spans
    build, exe = spans[-3], spans[-1]
    exec_jobs = tracker.getJobIdsForGroup(group + ":exec")
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in exec_jobs if tracker.getJobInfo(j))
    return {
        "build_s": build["end"] - build["start"],
        "plan_ms": _phases_ms(spark, qe),
        "exec_s": exe["end"] - exe["start"],
        "build_jobs": len(tracker.getJobIdsForGroup(group + ":build"))
        + len(tracker.getJobIdsForGroup(group + ":plan")),
        "exec_jobs": len(exec_jobs),
        "stages": stages,
    }


def _event_log_totals(eventlog: str) -> dict[str, dict]:
    """Per job group: task count, executor run seconds, shuffle and spill
    bytes, from the session's event log (read after the session stops)."""
    stage_group, out = {}, {}
    for fn in os.listdir(eventlog):
        with open(os.path.join(eventlog, fn)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if g is None or not m:
                        continue
                    acc = out.setdefault(g, dict(tasks=0, task_s=0.0, shuffle_read=0, shuffle_write=0, spill=0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["tasks"] += 1
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    acc["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def _layers(st: Setup, passes: list[dict], tracer) -> dict:
    from fluvii_spark.io.readers import TABLES, load_table

    spark = st.spark
    # io: one warm direct call per table (the second of two)
    d = alias_dir(st.data, "load")
    loads = []
    for t in TABLES:
        load_table(spark, d, t)
        t0 = time.perf_counter()
        with tracer.span("io.load_table"):
            load_table(spark, d, t)
        loads.append(time.perf_counter() - t0)
    common.stop_session(spark)  # flushes the event log
    ev = _event_log_totals(st.eventlog)
    traced = [r for r in passes if r["kind"] == "traced"]
    untraced = [r for r in passes if r["kind"] == "plain"]

    def per_pass(key):
        return common.median([sum(q[key] for q in r["queries"].values()) for r in traced])

    def ev_pass(key):
        vals = []
        for p, r in enumerate(passes):
            if r["kind"] == "traced":
                vals.append(sum(ev.get(f"{p}:{n}:exec", {}).get(key, 0) for n in r["queries"]))
        return common.median(vals)

    exec_s = per_pass("exec_s")
    task_s = ev_pass("task_s")
    mix_traced = common.median([sum(r["walls"].values()) for r in traced])
    mix_untraced = common.median([sum(r["walls"].values()) for r in untraced])
    return {
        "io.load_table_s": common.median(loads),
        "queries.build_s": per_pass("build_s"),
        "queries.build_jobs": per_pass("build_jobs"),
        "queries.plan_ms": per_pass("plan_ms"),
        "queries.exec_s": exec_s,
        "queries.exec_jobs": per_pass("exec_jobs"),
        "queries.stages": per_pass("stages"),
        "queries.tasks": ev_pass("tasks"),
        "queries.task_s": task_s,
        "queries.busy_frac": task_s / (common.CORES * exec_s),
        "queries.shuffle_read_bytes": ev_pass("shuffle_read"),
        "queries.shuffle_write_bytes": ev_pass("shuffle_write"),
        "queries.spill_bytes": ev_pass("spill"),
        "queries.wall_s": mix_traced,
        "bench.trace_overhead_frac": mix_traced / mix_untraced - 1.0,
    }
