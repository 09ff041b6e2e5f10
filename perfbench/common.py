"""Shared benchmark plumbing: the confined Spark session, warm-up, spans,
percentiles and the host context recorded beside every result."""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd  # module level: the warm-up UDF's type hints resolve here

CORES = 4
DRIVER_MEMORY = "2g"


def work_dir() -> str:
    """Scratch space inside the checkout, removed after each run."""
    return os.path.join(os.getcwd(), ".perfbench_work")


def out_dir() -> str:
    """Kept artifacts inside the checkout: spans and run context."""
    os.makedirs(os.path.join(os.getcwd(), ".perfbench_out"), exist_ok=True)
    return os.path.join(os.getcwd(), ".perfbench_out")


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def confine(work: str) -> None:
    """Point every temp directory Python, Spark and the JVM use at ``work``.
    Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, cores: int = CORES, extra: dict | None = None):
    """A fresh ``local[cores]`` session through the package's own factory."""
    from fluvii_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        **(extra or {}),
    }
    spark = get_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """JVM, codegen and the Python/Arrow worker daemons — paid once per
    session by any user, so not inside a timed span."""
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    @F.pandas_udf("long")
    def _same(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 40_000, 1, CORES).select(_same("id")).collect()


def stop_session(spark) -> None:
    spark.stop()
    # the next get_session() must create a new context, not reuse the dead one
    from pyspark.sql import SparkSession

    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def shutdown_jvm() -> None:
    """Close the py4j gateway and wait for the JVM (and with it the Python
    worker daemons it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Setup:
    """One set-up = fresh session + warm-up + the workload's ``prepare()``
    (input generation, staging, reference results). A run sets up several
    times and keeps the last session; the median wall is ``setup_s``."""

    extra_conf: dict = {}

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.spark = None
        self.host: dict = {}
        self.walls: list[float] = []
        self.session_s: list[float] = []
        self.warmup_s: list[float] = []

    def prepare(self) -> None:  # pragma: no cover - workload specific
        raise NotImplementedError

    def once(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
        t0 = time.perf_counter()
        self.spark = start_session(self.work, extra=self.extra_conf)
        t1 = time.perf_counter()
        warm_up(self.spark)
        t2 = time.perf_counter()
        self.prepare()
        self.walls.append(time.perf_counter() - t0)
        self.session_s.append(t1 - t0)
        self.warmup_s.append(t2 - t1)
        self.host = host_context(self.spark, CORES)

    def repeat(self, n: int) -> "Setup":
        for _ in range(n):
            self.once()
        return self


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    return float(np.quantile(values, q))


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest whole percentile that still has at
    least ten samples beyond it; the median when there are fewer than 20."""
    n = len(values)
    pct = max(50, math.floor(100 * (1 - 10 / n))) if n >= 20 else 50
    return pct, quantile(values, pct / 100)


def median(values: list[float]) -> float:
    return statistics.median(values)


class Tracer:
    """Spans kept in memory: (name, start, end, parent, run id). Disabled
    tracers record nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def self_time(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append({
                "name": self.name, "start": time.perf_counter(), "end": None,
                "parent": t._stack[-1] if t._stack else None, "run": t.run_id,
            })
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = time.perf_counter()
            t._stack.pop()
        return False


def host_context(spark, cores: int) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "local": f"local[{cores}]",
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def loadavg() -> float:
    return round(os.getloadavg()[0], 2)


def cpu_steal_s() -> float | None:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over all CPUs (``steal`` in ``/proc/stat``); None where not reported."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None
