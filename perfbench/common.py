"""Shared plumbing for the benchmark workloads: the run's work
directory, the engine session, percentiles and JVM readings.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``
(temp files, Spark local dirs, ledgers, traces); ``prepare_env`` points
the engine there before pyspark or ``goose_spark`` is imported.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


class Work:
    """Per-run scratch directory, removed by ``close``; ``traces`` and
    ``results`` survive the run for inspection."""

    def __init__(self, workload: str, seed: int):
        self.dir = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.traces = os.path.join(WORK_ROOT, "traces")
        os.makedirs(self.traces, exist_ok=True)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def prepare_env(work: Work) -> None:
    """Route every file the engine, Spark and the JVM write into the
    run's work dir, and make the checkout importable by the Python
    workers Spark forks. Must run before pyspark is imported."""
    tmp = work.path("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.path("spark-local")
    os.environ["GOOSE_SPARK_FLAKY_DIR"] = work.path("flaky")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = tmp


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"perfbench [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def engine_available() -> bool:
    return os.path.isfile(os.path.join(ROOT, "goose_spark", "session.py"))


def start_session():
    """The engine's own session factory, as an application would call
    it; returns (spark, seconds)."""
    from goose_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", console_progress=False)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the SparkContext and the JVM gateway process it launched,
    and wait for the JVM (and with it Spark's Python daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 — still alive: force it
            proc.kill()
            proc.wait(timeout=10)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); with fewer than 100
    values p99 is the largest one."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(q / 100.0 * len(vals)))
    return float(vals[rank - 1])


def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size()))


def jvm_code_cache_headroom_pct(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    used = cap = 0
    for i in range(beans.size()):
        b = beans.get(i)
        name = b.getName()
        if "CodeHeap" in name or "Code Cache" in name:
            u = b.getUsage()
            used += u.getUsed()
            cap += u.getMax()
    return 100.0 * (1 - used / cap) if cap > 0 else 0.0


def rows_digest(rows) -> str:
    """Order-insensitive digest of canonical row tuples."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def host_stamp() -> dict:
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": [round(v, 2) for v in os.getloadavg()],
    }
