"""Table loading for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf dir.

Scale notes: `spark.read.parquet` gives columnar scans with predicate
pushdown and column pruning for free; at 100 TB the same code reads a
partitioned directory tree and Catalyst prunes partitions. Nothing here
collects to the driver.

Schema memo: a parquet read without a schema makes Spark run a one-task
footer-inference job on every ``load_table`` call (~0.1 s wall on a 4-core
VM, against ~0.01 s for a read given its schema). So ``read_parquet``
infers each table file's schema once per process and reads it again with
``spark.read.schema(...)``. The memo is keyed on the
file's absolute path, ``st_size``, ``st_mtime_ns`` and the session's
``spark.sql.legacy.parquet.nanosAsLong`` value (it decides whether a
TIMESTAMP(NANOS) column reads as a long), so a file rewritten in place,
or read under the other nanos setting, is inferred afresh. Paths that are
not regular files (directories, remote URIs) are inferred on every call.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
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

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation"})

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# absolute path -> ((st_size, st_mtime_ns, nanosAsLong), inferred schema);
# one entry per path, replaced when the file or the setting changes
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a file's schema once per process."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    version = (st.st_size, st.st_mtime_ns, spark.conf.get(NANOS_AS_LONG))
    memo = _SCHEMAS.get(key)
    if memo is not None and memo[0] == version:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (version, df.schema)
    return df


def events_ts_to_timestamp(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-zone TimestampType.

    The driver's events.parquet has shipped ts as TIMESTAMP(NANOS) in some
    rounds (read as raw long under nanosAsLong, truncated to µs — lossless,
    values are generated at µs precision) and TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ) in others; branch on what the scan actually produced.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set(NANOS_AS_LONG, "true")
        return events_ts_to_timestamp(read_parquet(spark, f"{sf_dir}/{name}.parquet"))
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so SQL-form queries see the same names DuckDB does."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
