"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same config block
is what we would ship to a 1000-executor cluster — AQE on (runtime join
strategy switching + skew-join splitting), broadcast threshold sized for
dimension tables, Arrow enabled for the Pandas-UDF paths, and shuffle
partitions kept at a multiple of parallelism (AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Tables in the driver testdata star schema (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def get_spark(app_name: str = "gosling", cpus: int | None = None,
              console_progress: bool = True) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    At 100 TB these settings translate directly: AQE handles skewed keys
    and post-shuffle coalescing, the 64 MB broadcast threshold keeps
    region/nation/part-class dims out of the shuffle, and
    ``maxPartitionBytes`` bounds scan-task memory.

    ``console_progress=False`` suppresses Spark's stderr progress bars —
    bench.py uses it so the driver's ~2 kB output-tail capture can never
    be crowded out by escape codes (BENCH_r10's tail was ~90% bars).
    """
    n = cpus or default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.ui.showConsoleProgress", str(console_progress).lower())
        # -- optimizer / runtime ------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        # local mode has ONE locality domain — any nonzero locality wait
        # is a pure stall (measured: a 16-row parallelized count pays the
        # full 3 s default). On a real cluster restore a small value via
        # SPARK_GRAFT_LOCALITY_WAIT to keep HDFS-local scan scheduling.
        .config("spark.locality.wait",
                os.environ.get("SPARK_GRAFT_LOCALITY_WAIT", "0"))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(max(32, n)))
        # NOTE on initialPartitionNum: a global 8x-cores initial shuffle
        # count fixes the uniformly-oversized-partition OOM (AQE splits
        # only SKEWED partitions) but was measured to cost the iterative
        # / cached-table family real time (q84 pagerank 7.4 → 12.5 s,
        # dd2 12.8 → 16.9 s fresh-session at sf0.1: every cached pair
        # table and per-iteration exchange inherits 256 partitions). The
        # array-heavy verify stages that need wide shuffles size them
        # EXPLICITLY instead, sized from the input's Catalyst stats
        # (operators/containment.py VERIFY_TARGET_BYTES).
        # -- scans ---------------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # -- python boundary ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- timestamps: testdata is UTC; keep session deterministic --------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # deeper thread stacks: Catalyst TreeNode transforms and the
        # JDK's backtracking regex both recurse with input length; the
        # 30-min soak overflowed a stream-execution thread at the 1 MiB
        # default (regex frames) — 4 MiB is cheap insurance local-mode.
        # ReservedCodeCacheSize: a 191-query sweep compiles hundreds of
        # WholeStageCodegen classes; at the JVM's 240 MB default the
        # code cache fills mid-sweep, the JIT stops compiling and hot
        # loops run INTERPRETED — measured on the r14 baseline sweep as
        # late-sweep queries running 5-6x their isolated time (tx15:
        # 28.4 s in-sweep vs 5.1 s isolated, identical plan). 512 MB
        # holds the whole inventory's generated code; this is the
        # setting Spark's own build ships for exactly this reason.
        .config("spark.driver.extraJavaOptions",
                "-Xss4m -XX:ReservedCodeCacheSize=512m")
    )
    return builder.getOrCreate()


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay a fresh session's one-time costs before anything is timed:
    the parquet reader, the Python worker pool (Arrow path), and the
    shuffle/exchange + broadcast machinery — the first shuffle in a new
    JVM costs seconds of codegen/AQE spin-up that otherwise lands on
    whichever query runs first (the criterium JVM warm-up of the
    reference harness, perf/goose/core.clj:39-53)."""
    from pyspark.sql import functions as F

    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()
    warm = spark.range(100_000).withColumn("k", F.col("id") % 101)
    warm.groupBy("k").count().join(
        F.broadcast(spark.range(101).withColumnRenamed("id", "k")), "k"
    ).count()


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register every testdata table as a temp view and return the dict.

    Reads are plain parquet scans — Catalyst pushes filters and prunes
    columns into them (verify with ``df.explain`` → ``PushedFilters``).
    """
    from goose_spark.queries.base import t

    dfs = {}
    for name in TESTDATA_TABLES:
        df = t(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
