"""SparkSession factory tuned for the local[32] harness.

Scale notes (100 TB design): these configs are the local-mode analogs of a
1000-executor deployment — AQE handles runtime partition coalescing and skew
joins, shuffle partitions sized to cores locally (≈2-3× total cores on a real
cluster), Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from better_cdc_spark.io import NANOS_AS_LONG

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(app_name: str = "better_cdc_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # reliable-mode ckpt files (BCS_RELIABLE_CKPT=1) are deleted once
        # their frame is garbage collected instead of piling up unbounded
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Janino-compiled codegen classes are cached by source; Spark's
        # default 100 entries is below one query_mix pass (~208 classes),
        # so every warm pass recompiled all of them and the JIT then
        # compiled each new class again, thrashing the JVM code cache.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ckpt(df):
    """The engine's materialization point (use as ``df.transform(ckpt)``).

    Local/harness mode (default): ``localCheckpoint(eager=True)`` — blocks
    persist to executor-local storage, the cheapest way to cut lineage and
    pay for a twice-consumed subtree exactly once (guide §5). Its known
    limit: blocks die with their executor, so on a REAL cluster a lost
    executor kills every query holding one.

    Cluster mode (``BCS_RELIABLE_CKPT=1``): ``DataFrame.checkpoint`` to the
    fault-tolerant checkpoint dir (``BCS_CKPT_DIR``, default
    ``/tmp/bcs_reliable_ckpt``; point it at HDFS/object storage on a real
    deployment) — same plan-truncation semantics, recomputable-free
    recovery after executor death. The env is read per call so tests cover
    both branches in one process: the context's checkpoint dir is re-bound
    whenever it is not under the current ``BCS_CKPT_DIR``. The flag flips
    the storage contract only, never results.
    """
    if os.environ.get("BCS_RELIABLE_CKPT", "0") == "1":
        sc = df.sparkSession.sparkContext
        Path = sc._jvm.org.apache.hadoop.fs.Path
        want = Path(os.environ.get("BCS_CKPT_DIR", "/tmp/bcs_reliable_ckpt"))
        want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
        cur = sc._jsc.sc().getCheckpointDir()
        # Spark checkpoints under a fresh UUID subdirectory of the given dir
        if cur.isEmpty() or not Path(cur.get()).getParent().equals(want):
            sc.setCheckpointDir(want.toString())
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


# AQE's post-shuffle coalescing targets this many bytes per partition —
# right for byte-bound operators, far too coarse for similarity joins that
# burn CPU per row (string compares, popcounts): a 64 MB target collapses a
# CPU-hours join onto 2 cores. Queries flag themselves via tune_cpu_bound.
_ADVISORY_DEFAULT = str(64 * 1024 * 1024)
_ADVISORY_CPU_BOUND = str(1 * 1024 * 1024)
_ADVISORY_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Pin session settings that affect oracle comparability.

    Called at the top of every registered query so results are reproducible
    even under a driver-provided session: UTC timestamps (DuckDB timestamps
    are UTC-naive) and ANSI mode as shipped by Spark 4. Also resets the
    per-query tuning knobs (tune_cpu_bound) so queries don't leak config
    into each other, and pins ``nanosAsLong`` on: events.ts may be
    TIMESTAMP(NANOS), which only reads under it, and a session-wide value
    that never changes keeps io.read_parquet's schema memo (keyed on it)
    warm for every table.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(NANOS_AS_LONG, "true")
    spark.conf.set(_ADVISORY_KEY, _ADVISORY_DEFAULT)
    return spark


def tune_cpu_bound(spark: SparkSession) -> SparkSession:
    """Widen post-shuffle parallelism for CPU-per-row-heavy stages.

    Similarity self-joins shuffle few bytes but do quadratic-per-bucket CPU
    work; a small advisory size keeps AQE from coalescing them onto a
    handful of cores. Applies to the CURRENT query only — tune_for_oracle
    (run at every query entry) resets it.
    """
    spark.conf.set(_ADVISORY_KEY, _ADVISORY_CPU_BOUND)
    return spark
