"""SparkSession construction and per-query session prep.

The driver supplies its own SparkSession to ``entry()``/``queries()``;
``prep()`` applies only *runtime-settable* confs (session timezone,
adaptive execution, shuffle parallelism) so results are deterministic
regardless of who built the session. ``build_session()``, used by our
own tests, scripts and benches, alone decides how big a session is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The checkout root, from which Python workers import ``data_etl_spark``.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_memory() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM``, else half the host's
    memory within 2g..48g (a heap past the host's gets the JVM OOM-killed)."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(48 * 1024, max(2048, host_mb // 2))}m"


def build_session(app_name: str = "data-etl-spark") -> SparkSession:
    """Local session sized to the host: ``local[SPARK_GRAFT_CPUS]``, else one
    slot per CPU this process may use, and :func:`driver_memory`'s heap.
    Workers import the package from the checkout; :func:`prep` runs last."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan granularity for highly-compressed text (r13): Spark's
        # split size is min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes/minPartitionNum)). Snappy-parquet text compresses
        # ~10x, so a 50k-doc corpus is ~6 MB on disk and the DEFAULT
        # 4 MB open-cost floor caps the scan at 2 tasks — every
        # map-heavy per-doc query then runs on 2 of 32 cores (measured:
        # q_char_entropy sf1 1.78 s -> 0.64 s once sliced). 512 KB was
        # picked by a three-point sweep (scripts/, r13): 64 KB
        # over-slices SMALL single-row-group files into mostly-empty
        # byte ranges that still pay a footer read each (q_ngram_jaccard
        # sf0.1 0.89 -> 1.22 s), while 512 KB keeps sf0.1 at parity AND
        # the sf1 win (12 slices over 33 row groups). At 100 TB the
        # bytes/parallelism term dominates (split size stays 128 MB),
        # so behavior at scale is unchanged — this only removes the
        # small-corpus parallelism cliff.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # RocksDB state store for stateful streaming: state lives
        # off-heap/on-disk with incremental (changelog) checkpoints, so
        # per-key state scales past executor heap — the HDFS-backed
        # default materializes the whole store into memory per batch
        # and full-snapshots every checkpoint, which caps session/dedup
        # state at heap size on a 100 TB ingest. Also the required
        # provider for transformWithState.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prep(spark)


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime confs every query depends on for determinism.

    - UTC session timezone: parquet naive timestamps round-trip to the same
      wall-clock in Spark and DuckDB, and epoch/window bucketing agrees.
    - AQE on: runtime join-strategy + skew handling (free at 100 TB scale).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # AQE advisory partition size 64m -> 256m (guide §2.2/§9):
    # fewer, larger post-shuffle partitions — at 100 TB this cuts
    # the M x R shuffle-block count (the quadratic small-block
    # failure mode); locally it was a r13 wash under host drift but
    # r14 re-measured it behind the page-fault gate with TWO
    # independent in-process per-query passes (ADVISORY_AB_r14.json
    # / _pass2.json): medians 0.960/0.976, totals -3.3%/-3.4%,
    # consistent-win:consistent-loss 24:8. Result-safe (AQE
    # coalescing only regroups partitions; config invariance pinned
    # by scripts/config_sweep.py).
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
    # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects; read as int64 nanos and convert in sources.tables.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # A driver-provided vanilla session defaults to 200 shuffle partitions;
    # at test scale that is pure task-scheduling overhead (AQE coalescing
    # does not rescue stages whose stats arrive late), so use one per
    # core. On a real cluster this would be ~2-3x total cores.
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    return spark
