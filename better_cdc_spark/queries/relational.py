"""Relational operator surface (SURVEY.md §2.2 Q01–Q76), oracle-paired.

Every query returns a DataFrame whose column names/types match its DuckDB
oracle exactly. Conventions that make the hash-compare deterministic:

- Money arithmetic goes through DECIMAL(18,2) casts on BOTH engines so sums
  are exact and order-independent (double summation is order-dependent and
  would differ between engines at the 1e-4 level on 1e8-magnitude sums).
- Averages are computed as CAST(decimal_sum AS DOUBLE) / count so both
  engines perform the identical double division.
- Window orderings always carry a unique tiebreak key (row_number/ntile are
  otherwise nondeterministic).
- Session timezone is pinned to UTC (DuckDB timestamps are UTC-naive).

Scale notes are in each docstring: these run on sf0.01 for correctness but
are written for a 1000-executor cluster — broadcast hints on dims, no
driver-side collects, pushdown-friendly filters.
"""

from __future__ import annotations

import math

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from better_cdc_spark.io import load_table
from better_cdc_spark.llmops import array_literal, lower_words
from better_cdc_spark.queries import query
from better_cdc_spark.scratch import scratch_dir
from better_cdc_spark.session import ckpt, tune_for_oracle


def dec(c: str | F.Column) -> F.Column:
    """Exact money representation: DECIMAL(18,2) (matches oracle casts)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


def _d(c: F.Column) -> F.Column:
    return c.cast("double")


# ---------------------------------------------------------------------------
# Sources / sinks (Q01–Q05)
# ---------------------------------------------------------------------------


@query(
    "q01_parquet_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_extendedprice > 50000
    """,
    tags=("source", "pushdown"),
)
def q01_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with projection + predicate pushdown.

    Plan check: PushedFilters must include the shipdate range and price
    bound; ReadSchema must be exactly the 4 projected columns. At 100 TB
    this is the difference between reading 4 columns of a few row groups
    and reading everything.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_extendedprice") > 50000)
    )


@query(
    "q02_csv_scan",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("source", "csv"),
)
def q02_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with an explicit schema (no inference), then aggregate.

    Schema-on-read CSV is the untyped ingest path of the engine; explicit
    StructType avoids the inference scan that would double I/O at scale.
    """
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer")
    out = f"{tempfile.gettempdir()}/bcs_q02_csv"
    cust.write.mode("overwrite").option("header", "true").csv(out)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("header", "true").csv(out)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        _d(F.sum(dec("c_acctbal"))).alias("sum_acctbal"),
    )


@query(
    "q03_json_scan",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("source", "json"),
)
def q03_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest: to_json → from_json with an explicit schema.

    This is the CDC wire path (reference decodes wal2json JSON messages —
    see better_cdc_spark.cdc). from_json runs JVM-side; no Python UDF.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    as_json = orders.select(F.to_json(F.struct(*orders.columns)).alias("js"))
    parsed = as_json.select(F.from_json("js", schema).alias("o")).select("o.*")
    return parsed.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _d(F.sum(dec("o_totalprice"))).alias("sum_total"),
    )


@query(
    "q05_partitioned_sink",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("sink", "partitioned"),
)
def q05_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink, read back and verified.

    partitionBy maps to directory partition pruning on read — the physical
    layout that makes per-subject CDC consumption cheap at scale (reference
    routes by NATS subject; we route by partition directory).
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    out = f"{tempfile.gettempdir()}/bcs_q05_part"
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _d(F.sum(dec("o_totalprice"))).alias("sum_total"),
    )


@query(
    "q01b_parquet_schema_merge",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           CASE WHEN o_orderkey % 2 = 1
                THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END AS total_cents
    FROM orders
    """,
    tags=("source", "schema", "evolution"),
)
def q01b_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution on read (mergeSchema): qc08 at the storage
    layer.

    Two generations of files share one directory — even keys written
    before a total_cents column existed, odd keys after. mergeSchema
    unions the footers into one schema and back-fills NULL for files that
    predate the column; no rewrite of the old generation, same contract
    as the dynamic-image projection. (At 100 TB, prefer declaring the
    merged schema explicitly over paying the all-footers merge scan —
    mergeSchema is the discovery tool, not the steady-state read path.)
    """
    tune_for_oracle(spark)
    out = f"{tempfile.gettempdir()}/bcs_q01b_gen"
    orders = load_table(spark, sf_dir, "orders")
    old_gen = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    new_gen = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("total_cents"),
    )
    old_gen.write.mode("overwrite").parquet(out)
    new_gen.write.mode("append").parquet(out)
    return spark.read.option("mergeSchema", "true").parquet(out).select(
        "o_orderkey", "o_orderstatus", "total_cents"
    )


@query(
    "q05b_compaction",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("sink", "maintenance", "compaction"),
)
def q05b_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (maintenance.compact_parquet), content-checked.

    A deliberately fragmented copy of orders (64 splinter files) is
    compacted into range-clustered files on o_orderdate; the oracle
    proves the rewrite loses and invents nothing. File-count and
    clustering assertions live in tests/test_maintenance.py — the oracle
    here guards the invariant that matters most: compaction is a pure
    layout change.
    """
    from better_cdc_spark.maintenance import compact_parquet

    tune_for_oracle(spark)
    frag = f"{tempfile.gettempdir()}/bcs_q05b_frag"
    compacted = f"{tempfile.gettempdir()}/bcs_q05b_compact"
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    back = compact_parquet(
        spark, frag, compacted, target_file_bytes=256 * 1024 * 1024,
        order_by=("o_orderdate",),
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _d(F.sum(dec("o_totalprice"))).alias("sum_total"),
    )


@query(
    "q05c_zorder_rewrite",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("sink", "maintenance", "zorder"),
)
def q05c_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered rewrite (maintenance.zorder_rewrite), content-checked.

    Morton-interleaved (o_orderkey, o_custkey) — every output file covers
    a small min/max box in BOTH dimensions, so predicates on either key
    skip files (tests/test_maintenance.py proves the boxes shrink on both
    dims vs round-robin). The oracle guards the layout-only invariant; the
    key is codegen'd integer math, computed once, dropped before write.
    """
    from better_cdc_spark.maintenance import zorder_rewrite

    tune_for_oracle(spark)
    frag = f"{tempfile.gettempdir()}/bcs_q05c_src"
    dst = f"{tempfile.gettempdir()}/bcs_q05c_z"
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(16).write.mode("overwrite").parquet(frag)
    back = zorder_rewrite(
        spark, frag, dst, ("o_orderkey", "o_custkey"),
        target_file_bytes=64 * 1024 * 1024,
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        _d(F.sum(dec("o_totalprice"))).alias("sum_total"),
    )


@query(
    "q07_orc_roundtrip",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM supplier
    GROUP BY s_nationkey
    """,
    tags=("source", "sink", "orc"),
)
def q07_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan (the second columnar format of the engine).

    ORC carries the same pushdown/pruning contract as parquet (predicate
    pushdown into stripes, column projection); at scale it's the interchange
    format for Hive-adjacent consumers. Round-trip then aggregate so the
    oracle checks both the writer and the reader.
    """
    tune_for_oracle(spark)
    supp = load_table(spark, sf_dir, "supplier")
    # per-process dir: a path shared across processes races
    # overwrite-against-read when two harnesses run concurrently
    out = scratch_dir("q07_orc")
    supp.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        _d(F.sum(dec("s_acctbal"))).alias("sum_acctbal"),
    )


@query(
    "q07b_xml_roundtrip",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM supplier
    GROUP BY s_nationkey
    """,
    tags=("source", "sink", "xml"),
)
def q07b_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan (Spark 4's built-in XML data source, SPARK-44265).

    The interchange format for B2B/legacy feeds a CDC consumer still
    meets; Spark 4 folds the old spark-xml package into the engine with
    schema inference and rowTag semantics. Round-trip supplier rows
    through XML then aggregate, so the oracle checks writer AND reader
    (numeric fidelity through text encoding included — acctbal survives
    as DECIMAL re-cast, not a lossy double).

    Scale note: XML parse is row-wise and CPU-heavy — fine for dim-sized
    feeds, wrong for the 100 TB fact path (parquet/ORC); that contrast is
    the point of carrying both.
    """
    tune_for_oracle(spark)
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.col("s_acctbal").cast("string").alias("s_acctbal")
    )
    out = scratch_dir("q07b_xml")
    supp.write.mode("overwrite").format("xml").option("rowTag", "supplier").save(out)
    back = spark.read.format("xml").option("rowTag", "supplier").load(out)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        _d(F.sum(dec("s_acctbal"))).alias("sum_acctbal"),
    )


@query(
    "q08_text_source",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    """,
    tags=("source", "text"),
)
def q08_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line source with in-engine parsing (split + casts).

    The untyped end of the ingest spectrum: one string column per line,
    schema applied by expression (split → element_at → cast), all JVM-side
    built-ins — the same shape as consuming a delimited log/WAL dump where
    no reader exists. At scale the parse is codegen'd per partition; no
    Python touches the data.
    """
    tune_for_oracle(spark)
    nation = load_table(spark, sf_dir, "nation")
    out = f"{tempfile.gettempdir()}/bcs_q08_text"
    nation.select(
        F.concat_ws("|", "n_nationkey", "n_name", "n_regionkey").alias("value")
    ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), "\\|")
    return lines.select(
        F.element_at(parts, 1).cast("int").alias("n_nationkey"),
        F.element_at(parts, 2).alias("n_name"),
        F.element_at(parts, 3).cast("int").alias("n_regionkey"),
    )


@query(
    "q09_csv_permissive",
    oracle="""
    SELECT o_orderstatus AS status, COUNT(*) AS n
    FROM orders
    WHERE o_orderkey % 10 = 0
    GROUP BY o_orderstatus
    UNION ALL
    SELECT '__corrupt__' AS status, 3 AS n
    """,
    tags=("source", "csv", "dlq"),
)
def q09_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV decode with corrupt-record routing (reference R15).

    Malformed rows land in ``_corrupt_record`` instead of failing the job
    (the reference's decode-error policy: route to DLQ, never crash the
    pipeline). Three deliberately broken lines are injected next to the
    clean export; the query splits clean rows (aggregated) from corrupt
    ones (counted) in one pass. Mirrors qc03_dlq_routing at the file-format
    layer rather than the CDC-envelope layer.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    out = f"{tempfile.gettempdir()}/bcs_q09_csv"
    orders.select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).csv(out)
    # Inject malformed lines as an extra file in the same directory: a
    # non-numeric key, a quote-imbalanced line, and a float where the long
    # belongs — each defeats the schema, none should kill the read.
    with open(os.path.join(out, "part-corrupt.csv"), "w") as fh:
        fh.write('not_a_number,O,1.0\n"unterminated,F,2.0\n3.14,P,xyz\n')
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        # Spark refuses filters that touch only the corrupt-record column
        # on an un-materialized CSV scan; cache first (tiny: DLQ volume).
        .cache()
    )
    clean = (
        back.filter(F.col("_corrupt_record").isNull())
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("n"))
    )
    corrupt = back.filter(F.col("_corrupt_record").isNotNull()).agg(
        F.lit("__corrupt__").alias("status"), F.count("*").alias("n")
    )
    return clean.unionByName(corrupt)


# ---------------------------------------------------------------------------
# Projection / filter (Q10–Q12)
# ---------------------------------------------------------------------------


@query(
    "q10_projection",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           c_acctbal,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 11 / 10 AS DOUBLE) AS acctbal_bumped,
           c_mktsegment AS segment
    FROM customer
    """,
    tags=("projection",),
)
def q10_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection, aliasing, derived columns (narrow, no shuffle)."""
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        "c_acctbal",
        _d(dec("c_acctbal") * 11 / 10).alias("acctbal_bumped"),
        F.col("c_mktsegment").alias("segment"),
    )


@query(
    "q11_predicate_filter",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice BETWEEN 100000 AND 300000
      AND NOT (o_orderstatus = 'P')
      AND o_orderpriority LIKE '%-%'
      AND nullif(o_orderstatus, 'X') IS NOT NULL
    """,
    tags=("filter",),
)
def q11_predicate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate: AND/OR/NOT, IN, BETWEEN, LIKE, IS NULL.

    All conjuncts are Catalyst-pushable; `.explain` shows them in
    PushedFilters at the parquet scan.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(100000, 300000)
        & ~(F.col("o_orderstatus") == "P")
        & F.col("o_orderpriority").like("%-%")
        & F.expr("nullif(o_orderstatus, 'X')").isNotNull()
    )


@query(
    "q12_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 200000 THEN 'medium'
                ELSE 'large' END AS bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY 1
    """,
    tags=("projection", "conditional"),
)
def q12_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression (CASE WHEN) feeding an aggregation."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
        .alias("bucket")
    )
    return orders.groupBy(bucket).agg(
        F.count("*").alias("n_orders"),
        _d(F.sum(dec("o_totalprice"))).alias("sum_total"),
    )


# ---------------------------------------------------------------------------
# Joins (Q20–Q28)
# ---------------------------------------------------------------------------


@query(
    "q20_inner_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("join",),
)
def q20_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi join (shuffle hash / sort-merge picked by AQE).

    Scale: orders⋈customer is a key-key join; at 100 TB both sides shuffle
    on the key unless customer is small enough to broadcast (q25) or both
    are bucketed on the key.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _d(F.sum(dec("o_totalprice"))).alias("revenue"),
        )
    )


@query(
    "q21_left_outer_join",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    tags=("join", "outer"),
)
def q21_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with zero orders."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _d(F.coalesce(F.sum(dec("o_totalprice")), F.lit(0))).alias("spend"),
        )
    )


@query(
    "q21b_full_outer_join",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
           COALESCE(cn.n_cust, 0) AS n_cust,
           COALESCE(sn.n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey
    """,
    tags=("join", "outer"),
)
def q21b_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates with COALESCE null handling."""
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    cn = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(F.count("*").alias("n_cust"))
    sn = supp.groupBy(F.col("s_nationkey").alias("nationkey")).agg(F.count("*").alias("n_supp"))
    joined = cn.alias("cn").join(sn.alias("sn"), F.col("cn.nationkey") == F.col("sn.nationkey"), "full")
    return joined.select(
        F.coalesce(F.col("cn.nationkey"), F.col("sn.nationkey")).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


@query(
    "q22_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("join", "semi"),
)
def q22_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers with at least one 400k+ order."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = orders.filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q23_anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "anti"),
)
def q23_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers without orders."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q24_cross_join",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
    tags=("join", "cross"),
)
def q24_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two small dims (5 × 25 rows).

    Cross joins are only sane when at least one side is tiny; Spark
    broadcasts the smaller side (BroadcastNestedLoopJoin).
    """
    tune_for_oracle(spark)
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@query(
    "q25_broadcast_join",
    oracle="""
    SELECT r.r_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("join", "broadcast"),
)
def q25_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with explicit broadcast of the dimension tables.

    Plan check: both joins must be BroadcastHashJoin — zero shuffle of the
    customer fact side. This is the canonical 100 TB pattern: fact stays
    partitioned, dims ship to every executor.
    """
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            _d(F.sum(dec("c_acctbal"))).alias("sum_acctbal"),
        )
    )


@query(
    "q25b_bucketed_join",
    oracle="""
    SELECT o.o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_custkey
    """,
    tags=("join", "bucketed"),
)
def q25b_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables.

    Both sides are written `bucketBy(8, key)` into the warehouse once,
    then joined: output partitioning of the scans already satisfies the
    join's distribution, so the plan has NO Exchange on either side —
    at 100 TB this converts every recurring fact-fact join on the bucket
    key from a full shuffle into a local zip of pre-sorted buckets. The
    one-time bucketing cost amortizes across every downstream join/agg
    on that key. (Sort-merge join is forced here because broadcast would
    hide the bucketing; at real scale neither side broadcasts anyway.)
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sfx = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    t_orders, t_cust = f"bcs_orders_b{sfx}", f"bcs_cust_b{sfx}"
    for name, df, key in ((t_orders, orders, "o_custkey"), (t_cust, cust, "c_custkey")):
        if not spark.catalog.tableExists(name):
            # A fresh (in-memory) catalog may still find this table's
            # directory left over from a previous session — saveAsTable
            # refuses to reuse an existing managed location, so clear it.
            warehouse = spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            stale = os.path.join(warehouse, name)
            if os.path.exists(stale):
                shutil.rmtree(stale, ignore_errors=True)
            (
                df.write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(name)
            )
    o = spark.table(t_orders)
    c = spark.table(t_cust).filter(F.col("c_mktsegment") == "BUILDING")
    joined = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    return (
        joined.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            _d(F.sum(dec("o_totalprice"))).alias("sum_total"),
        )
    )


@query(
    "q26_theta_join",
    oracle="""
    SELECT s.s_nationkey AS nationkey, COUNT(*) AS n_pairs
    FROM supplier s JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
    GROUP BY s.s_nationkey
    """,
    tags=("join", "theta"),
)
def q26_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + theta (non-equi) join condition.

    The equi conjunct keeps this a hash join with a residual filter —
    NOT a nested-loop. At scale the equi key bounds the blow-up per
    partition; a pure theta join would be a BNLJ and is avoided.
    """
    tune_for_oracle(spark)
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    cond = (supp.s_nationkey == cust.c_nationkey) & (supp.s_acctbal > cust.c_acctbal)
    return (
        supp.join(cust, cond)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "q27_asof_join",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ev_value
      FROM events GROUP BY user_id, ts
    ), ord AS (
      SELECT o_custkey, o_orderdate,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT ev.user_id, ev.ts, ev.ev_value,
           ord.o_orderdate AS asof_orderdate, ord.day_total AS asof_total
    FROM ev ASOF JOIN ord
      ON ev.user_id = ord.o_custkey AND ord.o_orderdate <= ev.ts
    """,
    tags=("join", "asof"),
)
def q27_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the latest order on/before the event time.

    Implementation: equi join on the key + range predicate, then keep the
    max-date match per event via row_number. Inputs are pre-aggregated to
    unique (key, time) so the as-of winner is deterministic.

    Scale: per-key fan-out is bounded by orders-per-customer; for unbounded
    histories, bucketize time (join on key + coarse time bucket, take the
    in-bucket max, fall back to previous bucket) to bound the intermediate.
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import asof_join

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    ev = events.groupBy("user_id", "ts").agg(_d(F.sum(dec("value"))).alias("ev_value"))
    ord_ = orders.groupBy("o_custkey", "o_orderdate").agg(
        _d(F.sum(dec("o_totalprice"))).alias("day_total")
    )
    # Union-merge as-of (operators.asof_join): one shuffle on the key,
    # linear in |events|+|orders| — no per-key fan-out join.
    right = ord_.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("orderdate"),
        F.col("day_total").alias("total"),
    )
    return asof_join(ev, right, on="user_id", left_ts="ts", right_ts="orderdate").select(
        "user_id",
        "ts",
        "ev_value",
        F.col("asof_orderdate"),
        F.col("asof_total").alias("asof_total"),
    )


@query(
    "q20b_null_safe_join",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
                  ELSE c_custkey % 50 END AS k,
             c_custkey
      FROM customer
    ), o AS (
      SELECT CASE WHEN o_custkey % 100 = 0 THEN NULL
                  ELSE o_custkey % 50 END AS k,
             o_orderkey
      FROM orders
    )
    SELECT c.k AS join_key, COUNT(*) AS n_pairs
    FROM c JOIN o ON c.k IS NOT DISTINCT FROM o.k
    GROUP BY c.k
    """,
    tags=("join", "null-safe"),
)
def q20b_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each OTHER instead of vanishing — the semantics CDC key
    reconciliation needs when a nullable business key is part of the
    identity (an ordinary equi join silently drops every NULL-keyed row
    from both sides).

    Spark plans eqNullSafe as a normal hash join on a null-coalesced
    key, so the cost model is unchanged; the caveat at scale is that ALL
    null-keyed rows land in ONE hash bucket — a deliberate skew key —
    which is exactly the shape AQE skew-join splitting (or pre-filtering
    nulls into a separate union branch) exists for.
    """
    tune_for_oracle(spark)
    c = load_table(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 100 == 0, F.lit(None))
        .otherwise(F.col("c_custkey") % 50)
        .cast("long")
        .alias("ck")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 100 == 0, F.lit(None))
        .otherwise(F.col("o_custkey") % 50)
        .cast("long")
        .alias("ok")
    )
    return (
        c.join(o, F.col("ck").eqNullSafe(F.col("ok")))
        .groupBy("ck")
        .agg(F.count("*").alias("n_pairs"))
        .select(F.col("ck").alias("join_key"), "n_pairs")
    )


@query(
    "q27b_asof_forward_tolerance",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, MIN(event_id) AS signup_id
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
    ), p AS (
      SELECT user_id, ts, MIN(event_id) AS purchase_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS p_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), nxt AS (
      SELECT s.user_id, s.ts, s.signup_id, MIN(p.ts) AS asof_ts
      FROM s JOIN p ON p.user_id = s.user_id
        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
      GROUP BY 1, 2, 3
    )
    SELECT n.user_id, n.ts, n.signup_id, n.asof_ts,
           p.purchase_id AS asof_purchase_id, p.p_value AS asof_value
    FROM nxt n JOIN p ON p.user_id = n.user_id AND p.ts = n.asof_ts
    """,
    tags=("join", "asof", "forward"),
)
def q27b_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with a tolerance window (pandas merge_asof's
    other half): for each signup, the user's FIRST purchase on/after it
    within 2 hours — forward attribution, and the as-of complement of
    q88's emit-all interval join (this keeps exactly one row, the
    earliest).

    Same union-merge plan as q27 mirrored: right rows sort after left at
    equal instants (inclusive >=), first(ignorenulls) looks ahead over
    the per-key timeline, and tolerance is ONE post-filter on the carried
    right timestamp — still one key shuffle, linear in |left|+|right|,
    immune to hot-key fan-out (the oracle's join+MIN formulation is the
    quadratic-per-key plan this operator avoids).
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import asof_join

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    left = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("signup_id"))
    )
    right = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.min("event_id").alias("purchase_id"),
            _d(F.sum(dec("value"))).alias("p_value"),
        )
        .select(F.col("user_id"), F.col("ts").alias("pts"), "purchase_id", "p_value")
    )
    return asof_join(
        left,
        right,
        on="user_id",
        left_ts="ts",
        right_ts="pts",
        direction="forward",
        tolerance=F.expr("INTERVAL 2 HOURS"),
    ).select(
        "user_id",
        "ts",
        "signup_id",
        F.col("asof_pts").alias("asof_ts"),
        F.col("asof_purchase_id"),
        F.col("asof_p_value").alias("asof_value"),
    )


@query(
    "q28_interval_join",
    oracle="""
    WITH pr AS (
      SELECT o_orderpriority AS pr_key,
             MIN(o_orderdate) AS pr_start, MAX(o_orderdate) AS pr_end
      FROM orders WHERE o_totalprice > 450000 GROUP BY o_orderpriority
    ), st AS (
      SELECT o_orderstatus AS st_key,
             MIN(o_orderdate) AS st_start, MAX(o_orderdate) AS st_end
      FROM orders WHERE o_totalprice < 10000 GROUP BY o_orderstatus
    )
    SELECT pr.pr_key, st.st_key,
           CAST(date_diff('day',
                GREATEST(pr.pr_start, st.st_start),
                LEAST(pr.pr_end, st.st_end)) AS INTEGER) AS overlap_days
    FROM pr JOIN st
      ON pr.pr_start <= st.st_end AND st.st_start <= pr.pr_end
    """,
    tags=("join", "interval"),
)
def q28_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join: [a_start,a_end] ∩ [b_start,b_end] ≠ ∅.

    Scale: for large interval sets, pre-bucket intervals into fixed-width
    time cells and equi-join on cell id to avoid the quadratic BNLJ; here
    both sides are tiny aggregates.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    pr = (
        orders.filter(F.col("o_totalprice") > 450000)
        .groupBy(F.col("o_orderpriority").alias("pr_key"))
        .agg(F.min("o_orderdate").alias("pr_start"), F.max("o_orderdate").alias("pr_end"))
    )
    st = (
        orders.filter(F.col("o_totalprice") < 10000)
        .groupBy(F.col("o_orderstatus").alias("st_key"))
        .agg(F.min("o_orderdate").alias("st_start"), F.max("o_orderdate").alias("st_end"))
    )
    joined = pr.join(st, (pr.pr_start <= st.st_end) & (st.st_start <= pr.pr_end))
    return joined.select(
        "pr_key",
        "st_key",
        F.date_diff(
            F.least("pr_end", "st_end"), F.greatest("pr_start", "st_start")
        ).alias("overlap_days"),
    )


@query(
    "q28b_interval_bucket_join",
    oracle="""
    WITH pr AS (
        SELECT o_orderpriority AS pr_key,
               MIN(o_orderdate) AS pr_start, MAX(o_orderdate) AS pr_end
        FROM orders WHERE o_totalprice > 450000 GROUP BY o_orderpriority
    ),
    st AS (
        SELECT o_orderstatus AS st_key,
               MIN(o_orderdate) AS st_start, MAX(o_orderdate) AS st_end
        FROM orders WHERE o_totalprice < 10000 GROUP BY o_orderstatus
    )
    SELECT pr.pr_key, st.st_key,
           CAST(date_diff('day', GREATEST(pr.pr_start, st.st_start),
                LEAST(pr.pr_end, st.st_end)) AS INTEGER) AS overlap_days
    FROM pr JOIN st
      ON pr.pr_start <= st.st_end AND st.st_start <= pr.pr_end
    """,
    tags=("join", "interval", "bucketed"),
)
def q28b_interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q28's overlap join via operators.interval_bucket_join — same oracle.

    Proves the cell-decomposition rewrite is semantics-preserving: explode
    intervals into 30-day cells, hash equi-join on cell id, exact overlap
    filter inside the join, dedup pairs that share several cells. This is
    the plan that survives 100 TB where the naive non-equi condition
    forces a broadcast nested loop.
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import interval_bucket_join

    orders = load_table(spark, sf_dir, "orders")
    pr = (
        orders.filter(F.col("o_totalprice") > 450000)
        .groupBy(F.col("o_orderpriority").alias("pr_key"))
        .agg(F.min("o_orderdate").alias("pr_start"), F.max("o_orderdate").alias("pr_end"))
    )
    st = (
        orders.filter(F.col("o_totalprice") < 10000)
        .groupBy(F.col("o_orderstatus").alias("st_key"))
        .agg(F.min("o_orderdate").alias("st_start"), F.max("o_orderdate").alias("st_end"))
    )
    joined = interval_bucket_join(
        pr, st, "pr_start", "pr_end", "st_start", "st_end",
        dedup_keys=("pr_key", "st_key"),
    )
    return joined.select(
        "pr_key",
        "st_key",
        F.date_diff(
            F.least("pr_end", "st_end"), F.greatest("pr_start", "st_start")
        ).alias("overlap_days"),
    )


@query(
    "q29_skew_salted_join",
    oracle="""
    SELECT s.s_nationkey,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
    tags=("join", "skew"),
)
def q29_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join: result hash-identical to the plain join.

    operators.salted_join spreads each hot probe key across num_salts
    shuffle partitions (deterministic row-hash salt on the left, an
    exploded salt sequence replicating the small right side). The oracle
    is the UNsalted join — proving the rewrite is semantics-preserving,
    which is the whole point of using it when a single key exceeds what
    AQE's skew split can rebalance.
    """
    from better_cdc_spark.operators import salted_join

    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_suppkey", "s_suppkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, supp, "s_suppkey", num_salts=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_lines"),
        _d(F.sum(dec("l_extendedprice"))).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Aggregation (Q30–Q36)
# ---------------------------------------------------------------------------


@query(
    "q30_grouped_agg_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def q30_grouped_agg_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style grouped aggregation (partial + final agg).

    Catalyst plans this as partial hash-agg (map-side combine) → shuffle on
    the 6-value group key → final hash-agg: the minimum possible shuffle.
    All money math in DECIMAL so the result is bit-identical to the oracle.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = dec("l_extendedprice") * (1 - dec("l_discount"))
    charge = disc_price * (1 + dec("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _d(F.sum(dec("l_quantity"))).alias("sum_qty"),
        _d(F.sum(dec("l_extendedprice"))).alias("sum_base_price"),
        _d(F.sum(disc_price)).alias("sum_disc_price"),
        _d(F.sum(charge)).alias("sum_charge"),
        (_d(F.sum(dec("l_quantity"))) / F.count("*")).alias("avg_qty"),
        (_d(F.sum(dec("l_extendedprice"))) / F.count("*")).alias("avg_price"),
        (_d(F.sum(dec("l_discount"))) / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "q31_distinct_agg",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_custs,
           CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sum_distinct_cust,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "distinct"),
)
def q31_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.sum_distinct(F.col("o_custkey")).cast("bigint").alias("sum_distinct_cust"),
        F.count("*").alias("n_orders"),
    )


@query("q32_approx_count_distinct", tags=("agg", "approx"))
def q32_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct (rows-only check: engine-specific sketch).

    approx_count_distinct is the O(1)-memory scale path for cardinality at
    100 TB; the exact answer (q31) needs a distinct shuffle.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q32b_portable_hll",
    oracle="""
    WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
    h AS (
      SELECT CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
               AS hv
      FROM keys
    ),
    slots AS (
      SELECT hv % 128 AS j, hv // 128 AS w FROM h
    ),
    regs AS (
      SELECT j,
             CAST(MAX(CASE WHEN w = 0 THEN 54
                           ELSE 54 - length(bin(w)) END) AS BIGINT) AS m_j
      FROM slots GROUP BY j
    ),
    sk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
             CAST(SUM(1::BIGINT << (54 - m_j)) AS BIGINT) AS s_present,
             CAST(SUM((j + 1) * m_j) AS BIGINT) AS digest
      FROM regs
    ),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM keys)
    SELECT 128 AS m,
           128 - sk.n_present AS v_zero,
           sk.s_present
             + (128 - sk.n_present) * (1::BIGINT << 54) AS s_scaled,
           sk.digest AS register_digest,
           ex.n_exact,
           round(0.715270493264::DOUBLE * 16384.0::DOUBLE
                 * 18014398509481984.0::DOUBLE
                 / CAST(sk.s_present
                        + (128 - sk.n_present) * (1::BIGINT << 54)
                        AS DOUBLE), 6) AS hll_estimate,
           round((0.715270493264::DOUBLE * 16384.0::DOUBLE
                  * 18014398509481984.0::DOUBLE
                  / CAST(sk.s_present
                         + (128 - sk.n_present) * (1::BIGINT << 54)
                         AS DOUBLE) - ex.n_exact)
                 / ex.n_exact, 6) AS rel_error
    FROM sk, ex
    """,
    tags=("agg", "approx", "sketch"),
)
def q32b_portable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE HyperLogLog — the approx-distinct family's missing full
    oracle: q32/q36g ride engine-specific sketch bytes (rows-only by
    necessity), so this query builds the SKETCH ITSELF from portable
    primitives and the oracle reproduces it register-for-register.

    Flajolet's HLL with m=128 registers (p=7): a cross-engine-exact
    60-bit hash (md5 prefix via the conv/0x bridge), register j = h mod
    m, rho = leading-zero rank of the remaining 53-bit word computed
    from the MINIMAL BINARY STRING length (Spark conv(w,10,2), DuckDB
    bin(w) — both unpadded, w=0 cased to the 54 cap; no log2 call, so
    no transcendental seam). Registers are MAX-merged — a semilattice,
    so the sketch partial-aggregates map-side and merges losslessly
    across shards, the property that makes HLL THE 100 TB cardinality
    operator. The indicator sum S = sum 2^(54-M_j) is kept as a SCALED
    BIGINT (order-free integer sum, max 2^61) and divided once, and
    alpha_m*m^2*2^54 assembles from pinned literals in one expression
    order — the raw estimate is therefore bit-reproducible, and
    register_digest pins the sketch itself, not just the estimate.

    The linear-counting small-range branch (E <= 2.5m and V > 0) needs
    ln(m/V) — V has only 129 possible values, so production pins a
    129-literal table; at this query's cardinalities the branch is
    never taken (asserted by v_zero = 0 here), which is what keeps the
    raw estimate the contract. Estimated std error 1.04/sqrt(128) ~
    9.2%; rel_error is emitted for the audit.
    """
    tune_for_oracle(spark)
    keys = load_table(spark, sf_dir, "orders").select("o_orderkey").distinct()
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    slots = keys.select(
        (h % 128).alias("j"), F.floor(h / 128).cast("long").alias("w")
    )
    rho = F.when(F.col("w") == 0, F.lit(54)).otherwise(
        54 - F.length(F.conv(F.col("w"), 10, 2))
    )
    regs = slots.select("j", rho.cast("long").alias("rho")).groupBy("j").agg(
        F.max("rho").alias("m_j")
    )
    sk = regs.agg(
        F.count("*").cast("long").alias("n_present"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(54 - m_j AS INT))"))
        .cast("long")
        .alias("s_present"),
        F.sum((F.col("j") + 1) * F.col("m_j")).cast("long").alias("digest"),
    )
    ex = keys.agg(F.count("*").cast("long").alias("n_exact"))
    out = sk.crossJoin(F.broadcast(ex))
    s_scaled = (
        F.col("s_present")
        + (128 - F.col("n_present")) * F.lit(18014398509481984).cast("long")
    ).cast("long")
    est = (
        F.lit(0.715270493264) * F.lit(16384.0) * F.lit(18014398509481984.0)
        / s_scaled.cast("double")
    )
    return out.select(
        F.lit(128).cast("int").alias("m"),
        (128 - F.col("n_present")).cast("long").alias("v_zero"),
        s_scaled.alias("s_scaled"),
        F.col("digest").alias("register_digest"),
        "n_exact",
        F.round(est, 6).alias("hll_estimate"),
        F.round((est - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_error"),
    )


@query("q36g_hll_sketch_union", tags=("agg", "approx", "sketch"))
def q36g_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL build + MERGE (Spark 3.5 hll_sketch_agg /
    hll_union_agg): per-group sketches union into one global estimate —
    the property q32's scalar approx_count_distinct can't show, and the
    reason sketches work at 100 TB: shards sketch INDEPENDENTLY (no
    distinct shuffle), the few-KB sketches travel to one reducer, and
    union is lossless for HLL (estimate(union) ≡ estimate of the union'd
    set, not a sum of estimates that would double-count keys spanning
    groups).

    Rows-only (sketch internals are engine-specific); the EXACT global
    distinct is computed in-query as the audit and the relative error is
    emitted + bounded here and in tests (lgK=12 → ~1.6% std error; bound
    5%). The exact side costs a distinct shuffle — affordable as an
    audit, which is exactly why production keeps only the sketch path.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    sketches = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("estimate")
    )
    exact = li.agg(F.count_distinct("l_orderkey").alias("exact"))
    out = merged.crossJoin(exact)
    rel_err = F.abs(F.col("estimate") - F.col("exact")) / F.col("exact")
    return out.select(
        F.lit("global_union").alias("scope"),
        F.col("estimate").cast("long").alias("estimate"),
        F.col("exact").cast("long").alias("exact"),
        (rel_err <= 0.05).alias("within_bound"),
    )


@query(
    "q33_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def q33_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets with subtotal rows labeled via COALESCE."""
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), _d(F.sum(dec("l_quantity"))).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


@query(
    "q33b_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, '<all>') AS orderstatus,
           COALESCE(o_orderpriority, '<all>') AS orderpriority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def q33b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (all 4 grouping sets)."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("orderpriority"),
            "n_orders",
        )
    )


@query(
    "q33c_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, '<all>') AS orderstatus,
           COALESCE(o_orderpriority, '<all>') AS orderpriority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg", "grouping-sets"),
)
def q33c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via SQL — the third Q33 variant beside
    rollup/cube; an arbitrary set list neither of those can express."""
    tune_for_oracle(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("bcs_q33c_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '<all>') AS orderstatus,
               COALESCE(o_orderpriority, '<all>') AS orderpriority,
               COUNT(*) AS n_orders
        FROM bcs_q33c_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "q34_having",
    oracle="""
    SELECT l_partkey,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    """,
    tags=("agg", "having"),
)
def q34_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n_lines"), F.sum(dec("l_quantity")).alias("_qty_dec"))
        .filter(F.col("_qty_dec") > 150)
        .select("l_partkey", "n_lines", _d(F.col("_qty_dec")).alias("total_qty"))
    )


@query(
    "q35_collect_aggs",
    oracle="""
    SELECT o_orderstatus,
           array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
             AS priorities,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "collect"),
)
def q35_collect_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sort_array → array_join (array agg surface).

    Output is serialized to a string so the hash-compare is
    representation-independent.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias("priorities"),
        F.count("*").alias("n_orders"),
    )


@query(
    "q36_stat_aggs",
    oracle="""
    SELECT l_returnflag,
           stddev_samp(l_quantity) AS sd_qty,
           var_samp(l_quantity) AS var_qty,
           corr(l_quantity, l_extendedprice) AS corr_qty_price,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q36_stat_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr/exact percentile.

    Exact `percentile` (not percentile_approx) so the oracle's
    quantile_cont matches; fp noise in stddev/corr is orders of magnitude
    below the compare rounding for these value ranges.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.stddev_samp("l_quantity").alias("sd_qty"),
        F.var_samp("l_quantity").alias("var_qty"),
        F.corr("l_quantity", "l_extendedprice").alias("corr_qty_price"),
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "q36b_argminmax",
    oracle="""
    SELECT l_returnflag,
           arg_max(l_orderkey, CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 10000000 + l_orderkey) AS top_price_order,
           arg_min(l_orderkey, CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 10000000 + l_orderkey) AS bottom_price_order
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "argminmax"),
)
def q36b_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min aggregates (max_by/min_by): which row holds the
    extreme, not the extreme itself.

    The ordering key is integer cents scaled and tie-broken by the unique
    orderkey — max_by over ties is otherwise nondeterministic on BOTH
    engines, and doubles would rank differently at the last ulp.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    ord_key = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long") * 10000000
        + F.col("l_orderkey")
    )
    return li.groupBy("l_returnflag").agg(
        F.max_by("l_orderkey", ord_key).alias("top_price_order"),
        F.min_by("l_orderkey", ord_key).alias("bottom_price_order"),
    )


@query(
    "q77b_fuzzy_blocked_match",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name,
             string_split(p_name, ' ')[2] AS block
      FROM part
    ),
    pairs AS (
      SELECT a.block,
             levenshtein(a.p_name, b.p_name) AS dist
      FROM p a JOIN p b
        ON a.block = b.block AND a.p_partkey < b.p_partkey
    )
    SELECT block,
           COUNT(*) AS n_pairs,
           COUNT(*) FILTER (WHERE dist = 0) AS n_exact,
           COUNT(*) FILTER (WHERE dist > 0 AND dist <= 3) AS n_near,
           MAX(dist) AS max_dist
    FROM pairs
    GROUP BY block
    """,
    tags=("join", "fuzzy", "llm"),
)
def q77b_fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching with blocking: equi-join on a cheap block key, exact
    edit distance only within blocks.

    The entity-resolution primitive (and the string cousin of LSH-then-
    verify): blocking turns the quadratic all-pairs levenshtein into
    per-block quadratics on a hash equi-join, and the JVM levenshtein
    built-in scores only co-blocked pairs. At 100 TB the block key is the
    unit of skew control — cap or split hot blocks exactly like hot LSH
    buckets (llmops.minhash_candidate_pairs max_bucket).
    """
    tune_for_oracle(spark)
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey", "p_name", F.split("p_name", " ").getItem(1).alias("block")
    )
    a = p.select(F.col("block"), F.col("p_partkey").alias("ka"), F.col("p_name").alias("na"))
    b = p.select(F.col("block"), F.col("p_partkey").alias("kb"), F.col("p_name").alias("nb"))
    pairs = a.join(b, ["block"]).filter(F.col("ka") < F.col("kb")).select(
        "block", F.levenshtein("na", "nb").alias("dist")
    )
    return pairs.groupBy("block").agg(
        F.count("*").alias("n_pairs"),
        F.count_if(F.col("dist") == 0).alias("n_exact"),
        F.count_if((F.col("dist") > 0) & (F.col("dist") <= 3)).alias("n_near"),
        F.max("dist").alias("max_dist"),
    )


@query(
    "q37_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS status_f,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS status_o,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def q37_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: rows → one column per pivot value (revenue by priority × status).

    The pivot values are passed EXPLICITLY — without them Spark runs an
    extra distinct-scan job to discover them, which at 100 TB is a full
    pass over the table just to name the columns. With the list supplied
    this compiles to a single groupBy with N conditional aggregates
    (one shuffle, map-side partials, same plan as the oracle's FILTER
    clauses).
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(_d(F.sum(dec("o_totalprice"))))
    )
    return out.select(
        "o_orderpriority",
        F.col("F").alias("status_f"),
        F.col("O").alias("status_o"),
        F.col("P").alias("status_p"),
    )


@query(
    "q38_unpivot",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS value
    FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value
    FROM customer
    """,
    tags=("reshape", "unpivot"),
)
def q38_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide metric columns → (key, metric, value) long form.

    ``DataFrame.unpivot`` is a narrow generator expression — no shuffle,
    no UDF; each input row fans out to N rows inside the same stage.
    Long form is the shape feature pipelines want before a groupBy(metric)
    rollup.
    """
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer")
    wide = cust.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot(["c_custkey"], ["acctbal", "nationkey"], "metric", "value")


@query(
    "qm01_merge_into",
    oracle="""
    WITH src AS (
      SELECT o_custkey AS c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    ), merged AS (
      SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
             CASE WHEN t.c_custkey IS NULL THEN 'NEW-' || CAST(s.n_orders AS VARCHAR)
                  ELSE t.c_name END AS c_name,
             CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
                       THEN CAST(t.c_acctbal AS DOUBLE) + s.revenue / 1000
                  WHEN t.c_custkey IS NULL THEN s.revenue / 1000
                  ELSE CAST(t.c_acctbal AS DOUBLE) END AS c_acctbal,
             t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL AND s.n_orders > 30 AS drop_row
      FROM (SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 <> 0) t
      FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    )
    SELECT c_custkey, c_name, c_acctbal FROM merged WHERE NOT drop_row
    """,
    tags=("merge", "operator"),
)
def qm01_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic MERGE INTO (operators.merge_into): update + delete + insert
    clauses in one pass.

    Target = 2/3 of customers; source = per-customer order revenue (so a
    third of source keys miss the target and take the insert branch,
    heavy-order customers take the delete branch, the rest update).
    One full-outer shuffle join; clause logic is pure column expressions
    in the same codegen stage.
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import merge_into

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    target = cust.filter(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    source = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        _d(F.sum(dec("o_totalprice"))).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    return merge_into(
        target,
        source,
        on="c_custkey",
        when_matched_update={
            "c_acctbal": F.col("t.c_acctbal") + F.col("s.revenue") / 1000
        },
        when_matched_delete=F.col("s.n_orders") > 30,
        when_not_matched_insert={
            "c_name": F.concat_ws("-", F.lit("NEW"), F.col("s.n_orders")),
            "c_acctbal": F.col("s.revenue") / 1000,
        },
    )


# ---------------------------------------------------------------------------
# Window functions (Q40–Q42)
# ---------------------------------------------------------------------------


@query(
    "q40_ranking_windows",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER w2 AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w2 AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey),
           w2 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC)
    """,
    tags=("window", "ranking"),
)
def q40_ranking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions with a deterministic tiebreak.

    row_number/ntile use a total order (price, key); rank/dense_rank use
    the price alone so ties are visible. One shuffle on the partition key.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w2 = W.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc())
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w2).cast("bigint").alias("rnk"),
        F.dense_rank().over(w2).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "q40b_distribution_windows",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           PERCENT_RANK() OVER w2 AS prnk,
           CUME_DIST() OVER w2 AS cdist,
           NTH_VALUE(o_orderkey, 3) OVER w AS third_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey),
           w2 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC)
    """,
    tags=("window", "distribution"),
)
def q40b_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank, cume_dist, nth_value.

    percent_rank/cume_dist are integer-ratio doubles — identical on both
    engines with no rounding, since the rank integers match. nth_value
    runs over the total order (price, key) with the default frame, so the
    first two rows of each partition see NULL on both engines.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w2 = W.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc())
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.percent_rank().over(w2).alias("prnk"),
        F.cume_dist().over(w2).alias("cdist"),
        F.nth_value("o_orderkey", 3).over(w).alias("third_key"),
    )


@query(
    "q41_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           first_value(o_totalprice) OVER w AS first_price,
           CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS INTEGER)
             AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window", "analytic"),
)
def q41_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions: lag/lead/first_value + derived gap."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.date_diff("o_orderdate", F.lag("o_orderdate").over(w)).alias("days_since_prev"),
    )


@query(
    "q42_frame_agg",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS moving_avg3
    FROM orders
    """,
    tags=("window", "frame"),
)
def q42_frame_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window aggregates: running sum + 3-row moving average.

    DECIMAL inside the frame sum keeps the running values exact so both
    engines agree bit-for-bit at every prefix.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    moving = w.rowsBetween(-2, W.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        _d(F.sum(dec("o_totalprice")).over(running)).alias("running_spend"),
        (_d(F.sum(dec("o_totalprice")).over(moving)) / F.count("*").over(moving)).alias(
            "moving_avg3"
        ),
    )


@query(
    "q44_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM flagged
    )
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_no
    """,
    tags=("window", "sessionize"),
)
def q44_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-minute inactivity timeout).

    The batch twin of Q83's session_window: flag a session start when the
    gap to the previous event exceeds the timeout (lag), number sessions
    with a running sum, aggregate per session. Two window stages over the
    SAME (user_id → ts) partitioning — Spark reuses one sort+shuffle for
    both, so at scale this costs a single exchange of the events table.
    Gap math is in exact microseconds on both engines (unix_micros /
    epoch_us): second-truncated arithmetic would misclassify sub-second
    boundary gaps.
    """
    tune_for_oracle(spark)
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = events.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0).alias("new_sess"),
        "event_id",
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_sess")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "q45_gapfill",
    oracle="""
    WITH b AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket, COUNT(*) AS n
      FROM events WHERE user_id < 8 GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY user_id
    ), grid AS (
      SELECT s.user_id, g.bucket
      FROM spans s, LATERAL (
        SELECT unnest(generate_series(s.lo, s.hi, INTERVAL '1 hour')) AS bucket
      ) g
    )
    SELECT g.user_id, g.bucket, COALESCE(b.n, 0) AS n
    FROM grid g LEFT JOIN b USING (user_id, bucket)
    """,
    tags=("window", "timeseries", "gapfill"),
)
def q45_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (hypertable-style dense resample).

    Hourly activity per user with silent hours materialized as zero rows:
    per-key span → sequence() of bucket timestamps → explode → left join
    the sparse aggregate back. The dense grid is generated, never stored,
    and explodes AFTER the per-key span aggregate — so the expensive side
    (raw events) is touched once and the grid costs |keys| × span/width
    rows, the minimum possible. The per-user filter keeps the demo grid
    small; the plan shape is scale-free.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    b = (
        ev.groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
        ).agg(F.count("*").alias("n"))
    )
    spans = b.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    return grid.join(b, ["user_id", "bucket"], "left").select(
        "user_id", "bucket", F.coalesce("n", F.lit(0)).alias("n")
    )


# ---------------------------------------------------------------------------
# Sort / limit (Q50–Q52)
# ---------------------------------------------------------------------------


@query(
    "q50_global_sort",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderpriority ASC,
                                   o_totalprice DESC, o_orderkey ASC) AS BIGINT)
             AS global_rank
    FROM orders
    """,
    tags=("sort",),
)
def q50_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort, materialized as a rank column.

    The rank column makes sortedness visible to the order-insensitive
    hash-compare. Since r11 the rank comes from
    operators.blocked_row_number (two-level partial+offset scan), not a
    single-task row_number window: the multi-key order (priority asc,
    totalprice desc, orderkey asc) packs losslessly into one integral
    key — priority's leading digit (the TPC-H priority grammar sorts by
    it) in the high bits, descending cents as a complement in the low
    32 (cents < 2^32 by the o_totalprice domain) — so the fact-sized
    frame never funnels through one task at 100 TB.
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import blocked_row_number

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    prio = F.substring("o_orderpriority", 1, 1).cast("long")
    keyed = orders.withColumn(
        "__sk", prio * F.lit(2**32).cast("long") + (F.lit(2**32 - 1).cast("long") - cents)
    )
    return (
        blocked_row_number(keyed, "__sk", "o_orderkey", "global_rank")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.col("global_rank").cast("bigint").alias("global_rank"),
        )
    )


@query(
    "q51_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("limit",),
)
def q51_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered limit → TakeOrderedAndProject (top-k without a full sort)."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


@query(
    "q52_topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn <= 3
    """,
    tags=("sort", "topk"),
)
def q52_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: window row_number + filter (one shuffle on group)."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w = W.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        joined.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rn")
    )


# ---------------------------------------------------------------------------
# Set operations (Q60–Q62)
# ---------------------------------------------------------------------------


@query(
    "q60_union",
    oracle="""
    SELECT nationkey, kind, COUNT(*) AS n
    FROM (
      SELECT c_nationkey AS nationkey, 'cust' AS kind FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey, 'supp' AS kind FROM supplier
    )
    GROUP BY nationkey, kind
    """,
    tags=("setop", "union"),
)
def q60_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name, then aggregate (union is shuffle-free)."""
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("cust").alias("kind")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supp").alias("kind")
    )
    return cust.unionByName(supp).groupBy("nationkey", "kind").agg(F.count("*").alias("n"))


@query(
    "q61_intersect",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    INTERSECT
    SELECT o_custkey FROM orders
    """,
    tags=("setop", "intersect"),
)
def q61_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — customers that placed orders."""
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    ords = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return cust.intersect(ords)


@query(
    "q62_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    """,
    tags=("setop", "except"),
)
def q62_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics) — customers without orders."""
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    ords = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return cust.subtract(ords)


# ---------------------------------------------------------------------------
# Subqueries (Q63–Q65) — Catalyst decorrelates these into joins; the point
# of shipping them as SQL is that the engine's declared surface includes the
# SQL front-end, not just the DataFrame builder.
# ---------------------------------------------------------------------------

_EXISTS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""

_SCALAR_SQL = """
SELECT o_orderkey, o_totalprice,
       (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey) AS n_lines
FROM orders o
WHERE o_totalprice > 450000
"""

_IN_SQL = """
SELECT n_nationkey, n_name
FROM nation
WHERE n_nationkey IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 9000)
"""


def _sql_query(spark: SparkSession, sf_dir: str, sql: str, *tables: str) -> DataFrame:
    from better_cdc_spark.io import register_views

    tune_for_oracle(spark)
    register_views(spark, sf_dir, *tables)
    return spark.sql(sql)


@query("q63_exists_subquery", oracle=_EXISTS_SQL, tags=("subquery",))
def q63_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — identical SQL text runs on both engines.

    Catalyst decorrelates to a left-semi hash join on o_custkey with the
    price predicate pushed below the join; `.explain` shows no per-row
    re-execution of the inner query (the naive reading of EXISTS).
    """
    return _sql_query(spark, sf_dir, _EXISTS_SQL, "customer", "orders")


@query("q64_scalar_subquery", oracle=_SCALAR_SQL, tags=("subquery",))
def q64_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery → decorrelated to an aggregate + outer
    join (COUNT over the empty group correctly yields 0, the classic
    COUNT-bug case Catalyst handles with a null-backfill projection)."""
    return _sql_query(spark, sf_dir, _SCALAR_SQL, "orders", "lineitem")


@query("q65_in_subquery", oracle=_IN_SQL, tags=("subquery",))
def q65_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) → left-semi join against the distinct inner keys."""
    return _sql_query(spark, sf_dir, _IN_SQL, "nation", "customer")


# ---------------------------------------------------------------------------
# Scalar functions (Q70–Q76)
# ---------------------------------------------------------------------------


@query(
    "q44b_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS v,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ), weighted AS (
      SELECT user_id, v,
             epoch_us(nxt) - epoch_us(ts) AS dur_us
      FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_intervals,
           ROUND(CAST(SUM(v * dur_us) AS DOUBLE) / SUM(dur_us), 6) AS twap
    FROM weighted GROUP BY user_id
    """,
    tags=("timeseries", "window", "twap"),
)
def q44b_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) over irregular samples: each value is
    held until the user's next event, weighted by holding duration — the
    correct mean for unevenly-sampled series where a plain AVG
    overweights bursts (the financial TWAP / TimescaleDB time_weight
    shape, built from lead() + one grouped agg).

    Determinism: durations are integer MICROSECONDS and values
    DECIMAL(18,2), so the weighted sums are exact in both engines and
    only the final division is floating point — one IEEE op, then shared
    6dp rounding. One key shuffle; window and agg share the partitioning.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.lead("ts").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    weighted = seq.select(
        "user_id",
        "v",
        (F.unix_micros("nxt") - F.unix_micros("ts")).alias("dur_us"),
    )
    return weighted.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.round(
            F.sum(F.col("v") * F.col("dur_us")).cast("double") / F.sum("dur_us"), 6
        ).alias("twap"),
    )


@query(
    "q70b_collation",
    oracle="""
    WITH mut AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS seg
      FROM customer
    )
    SELECT lower(seg) AS segment,
           COUNT(*) AS n,
           MIN(c_custkey) AS min_key
    FROM mut GROUP BY lower(seg)
    """,
    tags=("functions", "collation", "string"),
)
def q70b_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collated strings (Spark 4, SPARK-46830): group case-mutated segment
    names under UTF8_LCASE so 'BUILDING' and 'building' are ONE group —
    collation-aware comparison in the engine instead of lower() scattered
    through every predicate (and, unlike lower(), collation survives into
    joins, ORDER BY, and GROUP BY with correct locale semantics).

    The group label is emitted as lower(first(seg)): members of a
    case-insensitive group differ only by case, so the lowercased
    representative is deterministic even though first() isn't. The oracle
    groups by lower(seg) — identical partitioning for ASCII data, which
    is exactly the claim.
    """
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer")
    mut = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment"))
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg"),
    )
    return (
        mut.groupBy(F.collate("seg", "UTF8_LCASE").alias("seg_ci"))
        .agg(
            F.lower(F.first("seg")).alias("segment"),
            F.count("*").alias("n"),
            F.min("c_custkey").alias("min_key"),
        )
        .select("segment", "n", "min_key")
    )


@query(
    "q70_string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS up_name,
           lower(c_mktsegment) AS lo_seg,
           substring(c_name, 1, 8) AS name_prefix,
           trim(concat(' ', c_name, ' ')) AS trimmed,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
           concat_ws(':', c_name, c_mktsegment) AS joined,
           (c_name LIKE '%1%') AS has_one,
           CAST(length(c_name) AS INTEGER) AS name_len
    FROM customer
    """,
    tags=("scalar", "string"),
)
def q70_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface (covers the reference's ID/subject building —
    concat_ws + sanitization regex, transformer.go:85-106 / config.go:188-234).
    """
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("up_name"),
        F.lower("c_mktsegment").alias("lo_seg"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked"),
        F.concat_ws(":", "c_name", "c_mktsegment").alias("joined"),
        F.col("c_name").like("%1%").alias("has_one"),
        F.length("c_name").alias("name_len"),
    )


@query(
    "q71_datetime_functions",
    oracle="""
    SELECT o_orderkey,
           date_trunc('month', o_orderdate) AS order_month,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER)
             AS days_to_2002,
           o_orderdate + INTERVAL 7 DAY AS plus_week,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
    tags=("scalar", "datetime"),
)
def q71_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface (covers reference's multi-format timestamp parse
    needs — wal2json.go:182-221 — via to_timestamp/date arithmetic)."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_diff(F.lit("2002-01-01").cast("timestamp"), F.col("o_orderdate")).alias(
            "days_to_2002"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAY")).alias("plus_week"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "q72_math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25) AS dist25,
           pow(l_discount, 2) AS disc_sq,
           sqrt(l_quantity) AS qty_sqrt,
           ln(l_extendedprice) AS log_price,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k,
           CAST(ceil(l_quantity / 10.0) AS BIGINT) AS qty_decile,
           l_orderkey % 7 AS key_mod
    FROM lineitem
    """,
    tags=("scalar", "math"),
)
def q72_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function surface: abs/pow/sqrt/ln/floor/ceil/mod."""
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("dist25"),
        F.pow("l_discount", F.lit(2)).alias("disc_sq"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.log(F.col("l_extendedprice")).alias("log_price"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k"),
        F.ceil(F.col("l_quantity") / 10.0).alias("qty_decile"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


@query(
    "q78_try_functions",
    oracle="""
    SELECT o_orderkey,
           TRY_CAST(o_orderstatus AS INTEGER) AS status_as_int,
           TRY_CAST(CAST(o_orderkey AS VARCHAR) AS INTEGER) AS key_roundtrip,
           CAST(o_totalprice AS DOUBLE) / CAST(o_orderkey % 3 AS DOUBLE) AS div_maybe_null,
           string_split(o_orderpriority, '-')[3] AS third_part
    FROM orders
    """,
    tags=("function", "error-handling"),
)
def q78_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant expressions: try_cast / try_divide / try_element_at.

    The engine runs ANSI mode (Spark 4 default) so bad casts and division
    by zero FAIL jobs by design — the try_* family is the per-expression
    opt-out, the R15 decode-error policy at expression granularity: bad
    values become NULL instead of poisoning a 100 TB job at task 9999 of
    10000. Both engines agree: non-numeric casts, /0, and out-of-bounds
    element access all yield NULL.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.expr("TRY_CAST(o_orderstatus AS INT)").alias("status_as_int"),
        F.expr("TRY_CAST(CAST(o_orderkey AS STRING) AS INT)").alias("key_roundtrip"),
        F.try_divide(
            F.col("o_totalprice").cast("double"),
            (F.col("o_orderkey") % 3).cast("double"),
        ).alias("div_maybe_null"),
        F.try_element_at(F.split("o_orderpriority", "-"), F.lit(3)).alias("third_part"),
    )


@query(
    "q73b_higher_order_predicates",
    oracle="""
    SELECT p_partkey,
           len(list_filter(string_split(p_name, ' '), x -> x = 'widget')) > 0 AS has_widget,
           len(list_filter(string_split(p_name, ' '),
                           x -> NOT (length(x) > 2))) = 0 AS all_gt2,
           array_to_string(list_sort(string_split(p_name, ' ')), ',') AS sorted_toks,
           CAST(len(list_distinct(string_split(p_name, ' '))) AS INTEGER) AS n_distinct
    FROM part
    """,
    tags=("function", "array", "higher-order"),
)
def q73b_higher_order_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array predicates: exists/forall + distinct/sort.

    All four run inside whole-stage codegen as SQL lambda expressions —
    the set-membership and validation idioms of schema-free ingest, with
    zero Python involvement.
    """
    tune_for_oracle(spark)
    part = load_table(spark, sf_dir, "part")
    toks = F.split("p_name", " ")
    return part.select(
        "p_partkey",
        F.exists(toks, lambda x: x == F.lit("widget")).alias("has_widget"),
        F.forall(toks, lambda x: F.length(x) > 2).alias("all_gt2"),
        F.array_join(F.sort_array(toks), ",").alias("sorted_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )


@query(
    "q73_array_functions",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sum_sq,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos
    FROM embeddings
    """,
    tags=("scalar", "array", "higher-order"),
)
def q73_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + higher-order functions (transform/filter/aggregate).

    The fold runs left-to-right in both engines after casting each element
    to double, so the fp result is identical. This is the JVM-side vector
    math used by the similarity operators (no Python in the loop).
    """
    tune_for_oracle(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    sum_sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        sum_sq.alias("sum_sq"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
    )


@query(
    "q74_map_functions",
    oracle="""
    SELECT o_orderkey, 'priority' AS key, o_orderpriority AS value FROM orders
    UNION ALL
    SELECT o_orderkey, 'status' AS key, o_orderstatus AS value FROM orders
    """,
    tags=("scalar", "map"),
)
def q74_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + explode (the dynamic before/after image model).

    The CDC envelope carries row images as MAP<STRING,STRING>
    (events.go:32-33 analog); this query builds such a map and explodes it
    to entries — the typed↔dynamic edge conversion.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    m = F.map_from_entries(
        F.array(
            F.struct(F.lit("status").alias("key"), F.col("o_orderstatus").alias("value")),
            F.struct(F.lit("priority").alias("key"), F.col("o_orderpriority").alias("value")),
        )
    )
    return orders.select("o_orderkey", F.explode(m).alias("key", "value"))


@query(
    "q75_json_functions",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 AS k2
    FROM events
    """,
    tags=("scalar", "json"),
)
def q75_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (get_json_object) — the wal2json decode primitive."""
    tune_for_oracle(spark)
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.select("event_id", k.alias("k"), (k * 2).alias("k2"))


@query(
    "q76_hash_functions",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS md5_name,
           sha256(c_name) AS sha_name
    FROM customer
    """,
    tags=("scalar", "hash"),
)
def q76_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic hash surface (deterministic IDs, dedup keys)."""
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.md5("c_name").alias("md5_name"),
        F.sha2("c_name", 256).alias("sha_name"),
    )


@query(
    "q42b_time_range_frame",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS vol_1h,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
             AS n_1h
    FROM events
    """,
    tags=("window", "frame", "time"),
)
def q42b_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-user trailing-1-hour volume and count at
    every event (the hypertable 'sliding aggregate at each row' — finer
    than q82's fixed slide grid).

    RANGE frames order by epoch seconds so Spark's numeric rangeBetween
    and the SQL interval frame agree exactly; DECIMAL inside the frame sum
    keeps every prefix exact. One shuffle on user_id serves both window
    functions; frame evaluation is a per-partition two-pointer sweep, so
    cost is O(rows), not O(rows x frame width) — the property that keeps
    this viable on 100 TB of events.
    """
    tune_for_oracle(spark)
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts").cast("bigint"))
        .rangeBetween(-3600, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        _d(F.sum(F.col("value").cast("decimal(18,6)")).over(w)).alias("vol_1h"),
        F.count("*").over(w).alias("n_1h"),
    )


@query(
    "q51b_offset_pagination",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50 OFFSET 100
    """,
    tags=("sort", "limit", "offset"),
)
def q51b_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-free pagination: rows 100-149 of a total order.

    DataFrame.offset + limit compose into a single bounded-sort plan (the
    driver merges per-partition heaps of offset+limit rows). The docstring
    caveat IS the scale note: OFFSET is O(offset) — page-100 works, but a
    100 TB pager should keyset on (o_totalprice, o_orderkey) > (last seen)
    instead, which is an indexed/pushdown-able filter (q11's shape).
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(100)
        .limit(50)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "q36c_exact_median",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def q36c_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) per group — the exact
    counterpart of q36's percentile_approx.

    Both engines linearly interpolate over the sorted group, and
    l_quantity is integer-valued, so interpolated midpoints are exact
    binary fractions — the cross-engine hash matches bit-for-bit. Exact
    percentiles buffer each group (the reason percentile_approx exists for
    the 100 TB path); grouping on a 3-value key keeps that honest here.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.count("*").alias("n"),
    )


@query(
    "q75b_variant_semistructured",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
             AS max_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 10
    GROUP BY event_type
    """,
    tags=("json", "variant"),
)
def q75b_variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4): parse
    once into the binary variant encoding, then path-extract with
    variant_get — the open-schema analog of the reference's
    map[string]interface{} row images (internal/model/events.go:32-33).

    VARIANT beats per-access get_json_object at scale: the parse happens
    once per row (not once per path), the encoding is binary (no re-
    tokenizing), and shredded variant columns admit pushdown in newer
    table formats. The filter + aggregate stay whole-stage-codegen.
    """
    tune_for_oracle(spark)
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        events.withColumn("k", k)
        .filter(F.col("k") >= 10)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


@query(
    "q21c_right_outer_join",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name
    FROM orders RIGHT OUTER JOIN customer ON o_custkey = c_custkey
      AND o_totalprice > 400000
    """,
    tags=("join", "outer"),
)
def q21c_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER with an ON-clause residual: every customer survives;
    orders attach only above the price bound (the predicate must NOT
    become a post-join WHERE, which would drop null-extended rows).
    Catalyst plans right outer as a flipped left-outer hash join — the
    preserved side streams, the other side builds.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(
        cust,
        (orders.o_custkey == cust.c_custkey) & (orders.o_totalprice > 400000),
        "right_outer",
    ).select("o_orderkey", "o_custkey", "c_name")


@query(
    "q61b_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop", "intersect", "multiset"),
)
def q61b_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics): each custkey survives
    min(count_left, count_right) times — the bag-algebra variant q61's
    distinct form erases. Same single-shuffle two-sided count-agg plan
    family as distinct intersect, plus the min-replication."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    left = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    right = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.intersectAll(right)


@query(
    "q62b_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus <> 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop", "except", "multiset"),
)
def q62b_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset semantics): each custkey survives
    max(0, count_left − count_right) times — bag difference, the
    reconciliation primitive for 'what's in feed A beyond feed B
    INCLUDING multiplicity' that distinct EXCEPT (q62) collapses.
    Same two-sided count-agg plan family as q61b."""
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    left = orders.filter(F.col("o_orderstatus") != "O").select(
        F.col("o_custkey").alias("custkey")
    )
    right = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.exceptAll(right)


@query(
    "q34b_filtered_aggregates",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
           COUNT(*) FILTER (WHERE l_discount = 0) AS n_undiscounted,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                FILTER (WHERE l_shipdate >= DATE '1997-01-01') AS DOUBLE) AS recent_revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "filter-clause"),
)
def q34b_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates (SQL:2003): several differently-filtered
    aggregates in ONE grouped pass — the idiomatic replacement for N
    self-joins or CASE-WHEN pyramids. The SAME SQL text runs on both
    engines; one map-side-combined shuffle computes all four measures.
    """
    tune_for_oracle(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("""
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
               COUNT(*) FILTER (WHERE l_discount = 0) AS n_undiscounted,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    FILTER (WHERE l_shipdate >= DATE '1997-01-01') AS DOUBLE) AS recent_revenue
        FROM lineitem
        GROUP BY l_returnflag
    """)


@query(
    "q05d_jsonl_sink",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("sink", "json"),
)
def q05d_jsonl_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink roundtrip — the reference's actual output encoding
    (json.Marshal(CDCEvent) per event, internal/engine/engine.go:340-351):
    write orders as partition-parallel JSONL, read back with an explicit
    schema, verify the aggregate survives the text roundtrip.

    Timestamps roundtrip via an explicit schema read (never inference at
    scale — a schema-inference pass over 100 TB of JSON is a full extra
    scan); decimal money survives because the check re-casts post-read.
    """

    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    # per-process dir: concurrent harness runs (check at one sf while
    # bench runs another) must not race overwrite-against-read
    out = scratch_dir("q05d_jsonl")
    orders.write.mode("overwrite").json(out)
    back = spark.read.schema(orders.schema).json(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _d(F.sum(dec("o_totalprice"))).alias("sum_total"),
    )


@query(
    "q45b_locf_interpolate",
    oracle="""
    WITH b AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events WHERE user_id < 8 GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY user_id
    ), grid AS (
      SELECT s.user_id, g.bucket
      FROM spans s, LATERAL (
        SELECT unnest(generate_series(s.lo, s.hi, INTERVAL '1 hour')) AS bucket
      ) g
    ), joined AS (
      SELECT g.user_id, g.bucket, b.v,
             CASE WHEN b.v IS NOT NULL THEN 1 ELSE 0 END AS observed
      FROM grid g LEFT JOIN b USING (user_id, bucket)
    )
    SELECT user_id, bucket,
           CAST(last_value(v IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS v_locf,
           observed
    FROM joined
    """,
    tags=("window", "timeseries", "gapfill", "locf"),
)
def q45b_locf_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling with last-observation-carried-forward (the
    TimescaleDB locf() companion to q45's zero-fill).

    Silent hours inherit the most recent observed hourly total via
    last(ignorenulls) over the dense grid; `observed` marks real vs
    carried rows. The LOCF window reuses the exact partitioning the grid
    join already established (one shuffle on user_id serves join +
    window); grid rows are generated, never stored. First grid row is
    always observed (the span starts at a real bucket), so LOCF is
    total.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    b = ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v")
    )
    spans = b.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
    )
    joined = grid.join(b, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        "v",
        F.when(F.col("v").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "bucket",
        _d(F.last("v", ignorenulls=True).over(w)).alias("v_locf"),
        "observed",
    )


@query(
    "q46_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INTEGER)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM act a JOIN firsts f USING (user_id)
    GROUP BY f.cohort_week, week_offset
    """,
    tags=("agg", "cohort", "analytics"),
)
def q46_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted in
    each subsequent active week — the standard product-analytics triangle.

    Two aggregates share the user_id shuffle (first-week per user, then
    distinct active weeks per user); the final rollup groups on the tiny
    (cohort, offset) domain. Both engines truncate weeks to ISO Monday,
    and offsets are exact day-diffs of week-aligned timestamps divided by
    7 — integer arithmetic end to end.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("week")).distinct()
    return (
        act.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "q47_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS st FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS ct
        FROM events e JOIN s ON e.user_id = s.user_id AND e.ts >= s.st
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS pt
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.ct
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase
    """,
    tags=("agg", "funnel", "analytics"),
)
def q47_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: signup → later click → later purchase,
    counting users who reach each stage (first-touch timestamps).

    Each stage is a per-user MIN over events gated by the previous
    stage's timestamp — three aggregates that all reuse ONE user_id
    partitioning (the joins and groupBys share the key, so AQE plans a
    single shuffle family, no re-partitioning between stages). Funnels
    over 100 TB of events stay viable precisely because stage k's input
    is the stage-(k-1) survivors, monotonically shrinking.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("st")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("st"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
    )


@query(
    "q45c_linear_interpolate",
    oracle="""
    WITH b AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events WHERE user_id < 8 GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY user_id
    ), grid AS (
      SELECT s.user_id, g.bucket
      FROM spans s, LATERAL (
        SELECT unnest(generate_series(s.lo, s.hi, INTERVAL '1 hour')) AS bucket
      ) g
    ), joined AS (
      SELECT g.user_id, g.bucket,
             CAST(FLOOR(epoch(g.bucket)) AS BIGINT) / 3600 AS pos,
             CAST(b.v AS DOUBLE) AS v
      FROM grid g LEFT JOIN b USING (user_id, bucket)
    ), ctx AS (
      SELECT user_id, bucket, pos, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
             first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
      FROM joined
    )
    SELECT user_id, bucket,
           ROUND(CASE WHEN v IS NOT NULL THEN v
                      ELSE pv + (nv - pv) * (pos - pp) / (np - pp) END, 6)
             AS v_interp,
           CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed
    FROM ctx
    """,
    tags=("window", "timeseries", "gapfill", "interpolate"),
)
def q45c_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across gaps (the TimescaleDB interpolate()
    companion to q45's zero-fill and q45b's locf): silent hours get the
    line between the surrounding observed hourly totals.

    Two window passes over the same user_id partitioning (backward
    last-observed, forward next-observed — both value and position);
    the lerp is pure arithmetic on hour indices, identical IEEE ops on
    both engines. Span endpoints are always observed, so prev/next are
    total inside the grid and the CASE never divides by a null gap.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    b = ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("vd")
    )
    spans = b.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
    )
    joined = grid.join(b, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        (F.unix_timestamp("bucket").cast("bigint") / 3600).alias("pos"),
        F.col("vd").cast("double").alias("v"),
    )
    back = (
        W.partitionBy("user_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_pos = F.when(F.col("v").isNotNull(), F.col("pos"))
    ctx = joined.select(
        "user_id",
        "bucket",
        "pos",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_pos, ignorenulls=True).over(back).alias("pp"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_pos, ignorenulls=True).over(fwd).alias("np"),
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * (F.col("pos") - F.col("pp")) / (
        F.col("np") - F.col("pp")
    )
    return ctx.select(
        "user_id",
        "bucket",
        F.round(F.when(F.col("v").isNotNull(), F.col("v")).otherwise(lerp), 6).alias(
            "v_interp"
        ),
        F.when(F.col("v").isNotNull(), 1).otherwise(0).alias("observed"),
    )


_NOT_IN_NULL_SQL = """
SELECT
  (SELECT COUNT(*) FROM part
   WHERE p_size NOT IN (SELECT NULLIF(p_size, 3) FROM part WHERE p_size <= 5))
    AS n_with_null_inner,
  (SELECT COUNT(*) FROM part
   WHERE p_size NOT IN (SELECT p_size FROM part WHERE p_size <= 5 AND p_size <> 3))
    AS n_without_null_inner
"""


@query("q65b_not_in_null_semantics", oracle=_NOT_IN_NULL_SQL, tags=("subquery", "anti", "null"))
def q65b_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN under three-valued logic — identical SQL on both engines.

    The classic trap: one NULL in the inner set makes `x NOT IN (...)`
    UNKNOWN for every x, so the first count is 0 while the NULL-free
    variant counts normally. Spark plans this as a null-aware anti join
    (NAAJ — broadcast-only by design: the null check needs the whole
    build side visible); shipping it as a checked query pins the
    semantics AND the physical strategy.
    """
    return _sql_query(spark, sf_dir, _NOT_IN_NULL_SQL, "part")


@query(
    "q33d_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "rollup", "grouping"),
)
def q33d_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicators — the only way a consumer can
    distinguish 'subtotal row' NULLs from genuine NULL group values
    (q33's rollup without them is ambiguous the moment a grouping column
    is nullable).

    grouping()/grouping_id() are computed from the Expand node's bitmask,
    free at runtime; the plan is the same single expand + two-phase agg
    as plain rollup.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        F.count("*").alias("n"),
    )


@query(
    "q36e_bitwise_bool_aggs",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_bit_and,
           CAST(bit_or(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_bit_or,
           CAST(bit_xor(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_bit_xor,
           bool_and(l_discount <= 0.1) AS all_disc_capped,
           bool_or(l_quantity >= 49) AS any_large_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "bitwise", "boolean"),
)
def q36e_bitwise_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and boolean aggregates: bit_and/or/xor over integer lanes
    and every/any over predicates — order-independent reductions (XOR
    folds commute), so partial aggregation distributes with zero
    semantics risk; the mainstay of bitmap/flag-column rollups.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(q).alias("qty_bit_and"),
        F.bit_or(q).alias("qty_bit_or"),
        F.bit_xor(q).alias("qty_bit_xor"),
        F.every(F.col("l_discount") <= 0.1).alias("all_disc_capped"),
        F.some(F.col("l_quantity") >= 49).alias("any_large_qty"),
    )


@query("q36f_approx_quantiles", tags=("agg", "sketch"))
def q36f_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantile sketch with an in-query exact audit (Q36 family).

    percentile_approx (Greenwald-Khanna style mergeable sketch — the
    bounded-memory path for quantiles over 100 TB, one pass, map-side
    mergeable) next to the exact interpolated percentile on the same
    groups. Engine-specific sketch internals make a cross-engine oracle
    meaningless (same reasoning as q32's HLL), so the check is
    self-contained: the relative error of every group's p50/p95/p99 is
    computed in-query and bounded; tests assert `within_bound` is
    all-true, and the driver's rows-only check pins the shape.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem")
    qs = "array(0.5D, 0.95D, 0.99D)"
    agg = li.groupBy("l_returnflag").agg(
        F.expr(f"percentile_approx(l_extendedprice, {qs}, 10000)").alias("approx"),
        F.expr(f"percentile(l_extendedprice, {qs})").alias("exact"),
    )
    rel_err = F.expr(
        "aggregate(zip_with(approx, exact, (a, e) -> abs(a - e) / e), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, x))"
    )
    return agg.select(
        "l_returnflag",
        F.round(F.element_at("approx", 1), 2).alias("approx_p50"),
        F.round(F.element_at("exact", 1), 2).alias("exact_p50"),
        F.round(rel_err, 6).alias("max_rel_err"),
        (rel_err < 0.01).alias("within_bound"),
    )


_RECURSIVE_TREE_SQL = """
WITH RECURSIVE tree(doc_id, depth) AS (
  SELECT doc_id, 0 AS depth FROM documents WHERE doc_id = 0
  UNION ALL
  SELECT d.doc_id, t.depth + 1
  FROM documents d JOIN tree t
    ON t.doc_id = CAST(FLOOR(d.doc_id / 2.0) AS BIGINT) AND d.doc_id > 0
)
SELECT depth, COUNT(*) AS n_nodes, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM tree GROUP BY depth
"""


@query("q67_recursive_cte", oracle=_RECURSIVE_TREE_SQL, tags=("subquery", "recursive"))
def q67_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4's recursive CTE, SPARK-24497): walk the
    implicit binary tree parent(n)=⌊n/2⌋ over doc ids from the root and
    report per-depth node counts — hierarchy traversal without a driver
    loop, the capability the q94/q94e iterative queries had to hand-roll
    with lineage-truncated Python loops before Spark 4.

    The SAME SQL text runs on both engines (FLOOR-division parent keeps
    the arithmetic engine-portable). Each recursion step is one join of
    the frontier against the node table — at scale the frontier stays
    small relative to the corpus and the join is an ordinary keyed
    shuffle; depth is bounded by log2(n).
    """
    tune_for_oracle(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_RECURSIVE_TREE_SQL)


# Shared by q44c (batch) and q81c (streaming): the "streaming equals
# batch" contract is only meaningful if both check against the SAME SQL.
OHLC_ORACLE_SQL = """
    WITH ranked AS (
      SELECT user_id,
             date_trunc('hour', ts) AS bar_ts,
             CAST(value AS DECIMAL(18,2)) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id, bar_ts,
           ROUND(CAST(MAX(CASE WHEN rn_a = 1 THEN v END) AS DOUBLE), 2) AS open,
           ROUND(CAST(MAX(v) AS DOUBLE), 2) AS high,
           ROUND(CAST(MIN(v) AS DOUBLE), 2) AS low,
           ROUND(CAST(MAX(CASE WHEN rn_d = 1 THEN v END) AS DOUBLE), 2) AS close,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(v) AS DOUBLE), 2) AS volume
    FROM ranked GROUP BY user_id, bar_ts
    """


@query(
    "q44c_ohlc_downsample",
    oracle=OHLC_ORACLE_SQL,
    tags=("timeseries", "downsample", "ohlc"),
)
def q44c_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling — the canonical hypertable rollup (open /
    high / low / close / volume per key per hour; TimescaleDB
    time_bucket + first/last, kdb's xbar aggregation).

    Open/close are min_by/max_by over a (ts, event_id) ordering struct —
    ONE grouped aggregate with map-side partial combine, no window pass
    at all (the oracle's double ROW_NUMBER formulation is the plan this
    avoids: two full window sorts per bar). At 100 TB this is a single
    shuffle on (user_id, bar) whose partial states are 5 scalars per
    group; tie-breaking on event_id makes open/close deterministic under
    any partitioning. Values are DECIMAL(18,2) (2dp doubles are exact in
    decimal), so high/low/volume are bit-identical across engines; the
    only doubles are the final display casts.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("hour", "ts").alias("bar_ts"),
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.struct("ts", "event_id").alias("ord"),
    )
    return ev.groupBy("user_id", "bar_ts").agg(
        F.round(F.min_by("v", "ord").cast("double"), 2).alias("open"),
        F.round(F.max("v").cast("double"), 2).alias("high"),
        F.round(F.min("v").cast("double"), 2).alias("low"),
        F.round(F.max_by("v", "ord").cast("double"), 2).alias("close"),
        F.count("*").alias("n_events"),
        F.round(F.sum("v").cast("double"), 2).alias("volume"),
    )


@query(
    "q42c_rolling_median",
    oracle="""
    SELECT user_id, event_id,
           ROUND(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
    FROM events
    """,
    tags=("timeseries", "window", "median"),
)
def q42c_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median over a 7-row trailing frame per key — the
    robust-smoothing counterpart of q42's moving average (median filters
    shrug off the outlier spikes that drag a mean).

    percentile() runs as a true window aggregate: Spark evaluates the
    ImperativeAggregate over each frame, and because the frame is ROWS
    BETWEEN k PRECEDING, state is a bounded k-row buffer per partition —
    O(k) memory regardless of key cardinality, one user_id shuffle shared
    with any other window on the same ordering. Both engines interpolate
    over the SAME IEEE doubles (the column's native type — DuckDB's
    quantile_cont on DECIMAL would round the midpoint to the input
    scale), so (x+y)/2 is bit-identical and the 4dp display round maps
    equal doubles to equal values.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    med = F.expr(
        "percentile(value, 0.5) OVER ("
        "PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
    )
    return ev.select("user_id", "event_id", F.round(med, 4).alias("med7"))


_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
"""


@query("q68_lateral_topk", oracle=_LATERAL_TOPK_SQL, tags=("subquery", "lateral"))
def q68_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT
    (SPARK-34382): each customer's top-2 orders by price — the SQL
    front-end's way of writing q52's top-k-per-group, running the SAME
    text on both engines.

    Catalyst decorrelates the lateral into a ranked window over one
    o_custkey partitioning (no per-outer-row re-scan — the plan a naive
    nested-loop LATERAL would imply and the one thing this query must
    not do at 100 TB); the segment filter prunes the outer side before
    the join.
    """
    return _sql_query(spark, sf_dir, _LATERAL_TOPK_SQL, "customer", "orders")


@query(
    "q36i_mode_agg",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ), ranked AS (
      SELECT user_id, event_type, c,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY c DESC, event_type) AS rk
      FROM cnt
    )
    SELECT user_id, event_type AS mode_type, c AS mode_count
    FROM ranked WHERE rk = 1
    """,
    tags=("agg", "mode"),
)
def q36i_mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: each user's most frequent event type.

    Spark's mode() (and DuckDB's) picks an ARBITRARY value on ties —
    useless under a hash gate and a replay hazard in production. The
    engine's form pins the tie: min_by over a (-count, value) ordering
    struct — one grouped agg per level, both map-side combined, no window
    pass (the oracle's ROW_NUMBER formulation is the avoided plan).
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    return cnt.groupBy("user_id").agg(
        F.min_by(
            "event_type", F.struct((-F.col("c")).alias("nc"), "event_type")
        ).alias("mode_type"),
        F.max("c").alias("mode_count"),
    )


@query(
    "q46b_rolling_active_users",
    oracle="""
    WITH days AS (
      SELECT user_id, date_trunc('day', ts) AS d FROM events
    ), contrib AS (
      SELECT DISTINCT user_id, d + to_days(CAST(t.k AS INTEGER)) AS win_end
      FROM days CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) t
    ), bounds AS (
      SELECT MIN(date_trunc('day', ts)) AS lo, MAX(date_trunc('day', ts)) AS hi
      FROM events
    )
    SELECT win_end, COUNT(*) AS active_users_7d
    FROM contrib, bounds
    WHERE win_end BETWEEN lo AND hi
    GROUP BY win_end
    """,
    tags=("timeseries", "window", "distinct"),
)
def q46b_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (WAU) — the product
    metric a naive window can't produce: COUNT(DISTINCT) over a sliding
    frame isn't a mergeable window aggregate, and per-day distinct counts
    don't sum. The scalable rewrite: each (user, day) observation
    CONTRIBUTES to the 7 window-ends it falls inside (a bounded 7x
    explode of the already-day-deduped pairs), then one exact
    distinct + count per window end — turning an unmergeable sliding
    distinct into two ordinary keyed aggregates.

    Shuffle volume is 7 x |distinct user-days| (not 7 x |events| — the
    day dedup happens first), and at 100 TB the same shape carries HLL
    sketches instead of exact pairs when approximate WAU suffices
    (q36g's mergeable-union path). Window ends clamp to the observed day
    span so every reported day has a full data domain behind it.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    contrib = days.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("k"),
        "d",
    ).select(
        "user_id", (F.col("d") + F.make_dt_interval(days=F.col("k"))).alias("win_end")
    ).distinct()
    bounds = ev.agg(
        F.min(F.date_trunc("day", "ts")).alias("lo"),
        F.max(F.date_trunc("day", "ts")).alias("hi"),
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("win_end").between(F.col("lo"), F.col("hi")))
        .groupBy("win_end")
        .agg(F.count("*").alias("active_users_7d"))
    )


@query(
    "q42d_ewma",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, value AS v,
             LAG(value, 1) OVER w AS v1, LAG(value, 2) OVER w AS v2,
             LAG(value, 3) OVER w AS v3, LAG(value, 4) OVER w AS v4,
             LAG(value, 5) OVER w AS v5, LAG(value, 6) OVER w AS v6,
             LAG(value, 7) OVER w AS v7
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           ROUND((v + COALESCE(v1,0)*0.75 + COALESCE(v2,0)*0.5625
                    + COALESCE(v3,0)*0.421875 + COALESCE(v4,0)*0.31640625
                    + COALESCE(v5,0)*0.2373046875 + COALESCE(v6,0)*0.177978515625
                    + COALESCE(v7,0)*0.13348388671875)
                 / (1.0 + CASE WHEN v1 IS NULL THEN 0 ELSE 0.75 END
                        + CASE WHEN v2 IS NULL THEN 0 ELSE 0.5625 END
                        + CASE WHEN v3 IS NULL THEN 0 ELSE 0.421875 END
                        + CASE WHEN v4 IS NULL THEN 0 ELSE 0.31640625 END
                        + CASE WHEN v5 IS NULL THEN 0 ELSE 0.2373046875 END
                        + CASE WHEN v6 IS NULL THEN 0 ELSE 0.177978515625 END
                        + CASE WHEN v7 IS NULL THEN 0 ELSE 0.13348388671875 END),
                 6) AS ewma8
    FROM seq
    """,
    tags=("timeseries", "window", "ewma"),
)
def q42d_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average (alpha=0.25,
    8-tap) per key — the smoothing filter between q42's flat moving
    average and q42c's robust median: recent samples dominate but noise
    still cancels. True EWMA is a recursion no frame aggregate can
    express; the 8-tap truncation (weights 0.75^j, residual mass
    0.75^8 = 10%) makes it a bounded-window LINEAR filter — 8 LAGs over
    ONE (user_id, ts) window partitioning, normalized over the weights
    actually present so series heads aren't biased toward zero.

    Weights 0.75^j are exact dyadic doubles (3^j/4^j, j<=7), the taps
    are 2dp values, and both engines evaluate the identical left-to-right
    sum — bit-identical before the shared 6dp round. At 100 TB this is
    the same single window shuffle as any lag feature; 8 taps cost one
    buffered pass, not 8.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    weights = [0.75 ** j for j in range(8)]
    seq = ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("v"),
        *[F.lag("value", j).over(w).alias(f"v{j}") for j in range(1, 8)],
    )
    num = F.col("v")
    den = F.lit(1.0)
    for j in range(1, 8):
        num = num + F.coalesce(F.col(f"v{j}"), F.lit(0)) * weights[j]
        den = den + F.when(F.col(f"v{j}").isNull(), 0.0).otherwise(weights[j])
    return seq.select(
        "user_id", "event_id", F.round(num / den, 6).alias("ewma8")
    )


@query("q46c_rolling_wau_hll", tags=("timeseries", "window", "sketch"))
def q46c_rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q46b's documented 100 TB path made real: rolling 7-day active
    users from MERGED per-day HLL sketches instead of exact user-day
    pairs. Each day aggregates ONE sketch (hll_sketch_agg, bytes not
    user sets); each window-end unions its 7 daily sketches
    (hll_union_agg) — the mergeability q46b's exact explode can't have,
    shrinking shuffle volume from |user-days| rows to |days| sketches.

    Rows-only (HLL++ estimates are engine-specific, the q32 pattern),
    but the audit is IN the output: the exact WAU is computed alongside
    (q46b's contribution explode) and every window asserts relative
    error within 5% (HLL++ default precision is ~1.6% rse) — a false
    estimate fails the in-query bound, not just a test.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("d")
    daily_sk = ev.select("user_id", day).groupBy("d").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    k = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k")
    contrib_sk = daily_sk.select("d", "sk", k).select(
        (F.col("d") + F.make_dt_interval(days=F.col("k"))).alias("win_end"), "sk"
    )
    approx = contrib_sk.groupBy("win_end").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_7d")
    )
    exact = (
        ev.select("user_id", day)
        .distinct()
        .select("user_id", k, "d")
        .select(
            "user_id", (F.col("d") + F.make_dt_interval(days=F.col("k"))).alias("win_end")
        )
        .distinct()
        .groupBy("win_end")
        .agg(F.count("*").alias("exact_7d"))
    )
    bounds = ev.agg(
        F.min(F.date_trunc("day", "ts")).alias("lo"),
        F.max(F.date_trunc("day", "ts")).alias("hi"),
    )
    rel_err = F.abs(F.col("approx_7d") - F.col("exact_7d")) / F.col("exact_7d")
    return (
        approx.join(exact, "win_end")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("win_end").between(F.col("lo"), F.col("hi")))
        .select(
            "win_end",
            "exact_7d",
            "approx_7d",
            F.round(rel_err, 4).alias("rel_err"),
            (rel_err < 0.05).alias("within_bound"),
        )
    )


@query(
    "q36j_welch_t_test",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS s,
             SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS ss
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type
    ), m AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / n AS mean,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
               / (n - 1) AS var
      FROM g
    ), ab AS (
      SELECT a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
             b.n AS n_b, b.mean AS mean_b, b.var AS var_b
      FROM m a, m b
      WHERE a.event_type = 'click' AND b.event_type = 'view'
    )
    SELECT n_a, n_b,
           ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
           ROUND((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat,
           ROUND((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
                 / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                    + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 6) AS dof
    FROM ab
    """,
    tags=("agg", "statistics", "ttest"),
)
def q36j_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event populations
    (click vs view values) — the A/B-evaluation aggregate: means,
    Welch t statistic, and Welch–Satterthwaite degrees of freedom, all
    from ONE grouped pass of mergeable moments (n, Σx, Σx²) per arm.

    The moment sums are exact DECIMALS (2dp inputs), so the only
    doubles are the final closed-form arithmetic — the same expression
    tree on both engines, then 6dp rounding. At 100 TB this is the
    canonical map-side-combined two-arm reduction: per-partition
    moments merge associatively; nothing resembles a sort or a second
    pass. (p-values need the t CDF — an incomplete-beta numeric, shipped
    at deploy as a 1-row UDF over these exact inputs.)
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    v = F.col("value").cast("decimal(18,2)")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("ss"),
    )
    m = g.select(
        "event_type",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        (
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var"),
    )
    a = m.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("var_a")
    )
    b = m.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("var_b")
    )
    ab = a.crossJoin(F.broadcast(b))
    se2_a = F.col("var_a") / F.col("n_a")
    se2_b = F.col("var_b") / F.col("n_b")
    t_stat = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2_a + se2_b)
    dof = ((se2_a + se2_b) * (se2_a + se2_b)) / (
        se2_a * se2_a / (F.col("n_a") - 1) + se2_b * se2_b / (F.col("n_b") - 1)
    )
    return ab.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(dof, 6).alias("dof"),
    )


@query(
    "q53_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS nation_rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           ROUND(CAST(nation_rev AS DOUBLE), 2) AS nation_rev,
           ROUND(CAST(nation_rev AS DOUBLE)
                 / CAST(SUM(nation_rev) OVER (PARTITION BY region) AS DOUBLE), 6)
             AS region_share,
           RANK() OVER (PARTITION BY region ORDER BY nation_rev DESC, nation)
             AS rank_in_region
    FROM rev
    """,
    tags=("window", "ratio", "bi"),
)
def q53_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report — the BI staple (Oracle's RATIO_TO_REPORT,
    share-of-total dashboards): each nation's revenue share of its
    region, plus in-region rank, in one pass. The share window and the
    rank window BOTH partition on region, so one exchange serves the
    aggregate and both windows; the denominator sums exact decimals
    (order-independent) and only the final share divides in doubles.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("nation_rev"))
    )
    share = F.col("nation_rev").cast("double") / F.sum("nation_rev").over(
        W.partitionBy("region")
    ).cast("double")
    rk = F.rank().over(
        W.partitionBy("region").orderBy(F.col("nation_rev").desc(), "nation")
    )
    return rev.select(
        "region",
        "nation",
        F.round(F.col("nation_rev").cast("double"), 2).alias("nation_rev"),
        F.round(share, 6).alias("region_share"),
        rk.alias("rank_in_region"),
    )


_GROUP_BY_ALL_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders
WHERE o_orderdate >= DATE '1995-01-01'
GROUP BY ALL
"""


@query("q33e_group_by_all", oracle=_GROUP_BY_ALL_SQL, tags=("agg", "sql"))
def q33e_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (SPARK-41631; DuckDB's original sugar): group by
    every non-aggregate select item — the SAME SQL text runs on both
    engines, pinning that the engine's resolver infers the grouping set
    identically. Plans as an ordinary partial+final hash aggregate.
    """
    return _sql_query(spark, sf_dir, _GROUP_BY_ALL_SQL, "orders")


@query(
    "q27c_asof_nearest",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, MIN(event_id) AS signup_id
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
    ), p AS (
      SELECT user_id, ts, MIN(event_id) AS purchase_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS p_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), cand AS (
      SELECT s.user_id, s.ts, s.signup_id,
             p.ts AS asof_ts, p.purchase_id, p.p_value,
             ROW_NUMBER() OVER (
               PARTITION BY s.user_id, s.ts, s.signup_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(s.ts)), p.ts) AS rk
      FROM s JOIN p ON p.user_id = s.user_id
    )
    SELECT user_id, ts, signup_id, asof_ts,
           purchase_id AS asof_purchase_id, p_value AS asof_value
    FROM cand WHERE rk = 1
    """,
    tags=("join", "asof", "nearest"),
)
def q27c_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — the third pandas merge_asof direction: each
    signup attaches the purchase closest in time on EITHER side,
    distance ties preferring the earlier row. Completes the
    backward/forward/nearest trio on operators.asof_join.

    Plan: the nearest variant still costs ONE key shuffle and ONE
    per-key sort — both candidate windows (running last for the
    backward side, leading first for the forward side) share the same
    ordering, and the choice is a per-row CASE on the two carried
    structs. The oracle's join + ROW_NUMBER over every (signup,
    purchase) pair is the per-key-quadratic plan the operator avoids.
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import asof_join

    events = load_table(spark, sf_dir, "events")
    left = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("signup_id"))
    )
    right = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.min("event_id").alias("purchase_id"),
            _d(F.sum(dec("value"))).alias("p_value"),
        )
        .select(F.col("user_id"), F.col("ts").alias("pts"), "purchase_id", "p_value")
    )
    out = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="pts",
        direction="nearest",
    )
    return out.select(
        "user_id",
        "ts",
        "signup_id",
        F.col("asof_pts").alias("asof_ts"),
        "asof_purchase_id",
        F.col("asof_p_value").alias("asof_value"),
    )


_RECURSIVE_SQL = """
WITH RECURSIVE walk(ckey, cur, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 256
  UNION ALL
  SELECT ckey, CAST(floor(cur / 2.0) AS BIGINT), depth + 1 FROM walk WHERE cur > 1
)
SELECT ckey, MAX(depth) AS depth_to_root, COUNT(*) AS n_nodes
FROM walk GROUP BY ckey
"""


@query("q79_recursive_cte", oracle=_RECURSIVE_SQL, tags=("sql", "recursive"))
def q79_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (SPARK-24497, new in Spark 4.x) — iterative
    hierarchy walk as a first-class SQL construct: each customer key
    ascends its binary ancestor chain (parent = floor(k/2)) to the
    root, producing depth and visited-node counts. The SAME SQL text
    runs on both engines, pinning UNION ALL recursion semantics,
    per-iteration column typing (the floor/CAST keeps the division
    integral and engine-agnostic), and termination via the recursive
    branch's predicate.

    Scale shape: Spark executes recursion as iterated unions with the
    anchor distributed — each step is an ordinary narrow map over the
    frontier (no joins here), state bounded by the frontier size; depth
    is logarithmic in the key domain. The reference has no recursion
    anywhere — this is north-star SQL surface.
    """
    return _sql_query(spark, sf_dir, _RECURSIVE_SQL, "customer")


_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.total_cents
FROM customer c,
LATERAL (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents
  FROM orders WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_custkey < 200
"""


@query("q26c_lateral_topk", oracle=_LATERAL_SQL, tags=("join", "lateral", "sql"))
def q26c_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with ORDER BY + LIMIT (SPARK-34382)
    — per-row top-k as a join-shaped SQL construct, the declarative twin
    of q52's window-rank formulation. Identical SQL text on both
    engines pins Catalyst's decorrelation of a LIMIT-bearing lateral
    (rewritten to a ranked window under the hood) against DuckDB's
    native lateral execution; the deterministic (price, key) tie-break
    makes the hash compare exact.
    """
    return _sql_query(spark, sf_dir, _LATERAL_SQL, "customer", "orders")


@query(
    "q35b_listagg",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           string_agg(o_orderstatus, '' ORDER BY o_orderkey) AS status_seq,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_totalprice DESC, o_orderkey) AS keys_by_price
    FROM orders
    WHERE o_custkey < 200
    GROUP BY o_custkey
    """,
    tags=("agg", "string", "sql"),
)
def q35b_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — LISTAGG ... WITHIN GROUP (SPARK-
    42746, new in Spark 4.x) against DuckDB's string_agg(… ORDER BY …):
    the deterministic-concatenation contract (explicit intra-group
    order, multi-key with tie-break) that makes a string agg
    hash-comparable at all. Plans as an ordinary sort-based aggregate;
    the per-group sort is bounded by group size, no global sort.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    return orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.expr(
            "listagg(o_orderstatus, '') WITHIN GROUP (ORDER BY o_orderkey)"
        ).alias("status_seq"),
        F.expr(
            "listagg(CAST(o_orderkey AS STRING), ',')"
            " WITHIN GROUP (ORDER BY o_totalprice DESC, o_orderkey)"
        ).alias("keys_by_price"),
    )


# ---------------------------------------------------------------------------
# Round-7 tail: histogram, bitmap overlap, weighted sampling
# ---------------------------------------------------------------------------


@query(
    "q36k_histogram",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ), stats AS (
      SELECT MIN(c) AS lo, ((MAX(c) - MIN(c)) // 20) + 1 AS w FROM cents
    )
    SELECT (c - lo) // w AS bin,
           MIN(lo + ((c - lo) // w) * w) AS lo_cents,
           MIN(lo + ((c - lo) // w + 1) * w - 1) AS hi_cents,
           COUNT(*) AS n,
           CAST(SUM(c) AS BIGINT) AS sum_cents
    FROM cents, stats
    GROUP BY 1
    """,
    tags=("agg", "histogram"),
)
def q36k_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram with exact integer binning (profiling / data-
    quality primitive; reference analog: the stat-agg family around
    internal/transform — binning itself has no reference twin, it is the
    OLAP-standard formulation).

    All arithmetic is integer: prices become cents (round() fixes the
    double representation error identically on both engines), the bin
    width is the integer ``(max-min)//nbins + 1`` so the max value lands
    in bin <= nbins-1, and bin edges come back as MIN() of closed-form
    expressions — no doubles anywhere, so the cross-engine hash is exact.

    Scale: one scalar min/max agg (map-side partial, 1-row exchange)
    broadcast into a single groupBy — two narrow passes over the fact
    table, shuffle bounded by nbins rows. The 1-row stats join is the
    declared bounded-BNLJ pattern (see test_plans.py); at 100 TB the
    scan dominates and both passes are column-pruned to one column.
    """
    tune_for_oracle(spark)
    cents = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    stats = cents.agg(
        F.min("c").alias("lo"),
        (((F.max("c") - F.min("c")) / F.lit(20)).cast("long") + 1).alias("w"),
    )
    binned = cents.crossJoin(F.broadcast(stats)).withColumn(
        "bin", F.expr("(c - lo) div w")
    )
    return binned.groupBy("bin").agg(
        F.min(F.expr("lo + bin * w")).alias("lo_cents"),
        F.min(F.expr("lo + (bin + 1) * w - 1")).alias("hi_cents"),
        F.count("*").alias("n"),
        F.sum("c").alias("sum_cents"),
    )


@query(
    "q48_bitmap_overlap",
    oracle="""
    WITH members AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), bm AS (
      SELECT event_type, user_id // 63 AS chunk,
             bit_or(1::BIGINT << CAST(user_id % 63 AS INTEGER)) AS mask
      FROM members GROUP BY 1, 2
    ), sizes AS (
      SELECT event_type, CAST(SUM(bit_count(mask)) AS BIGINT) AS sz
      FROM bm GROUP BY 1
    ), ov AS (
      SELECT a.event_type AS seg_a, b.event_type AS seg_b,
             CAST(SUM(bit_count(a.mask & b.mask)) AS BIGINT) AS n_common
      FROM bm a JOIN bm b
        ON a.chunk = b.chunk AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT seg_a, seg_b, n_common,
           sa.sz AS size_a, sb.sz AS size_b,
           sa.sz + sb.sz - n_common AS n_union
    FROM ov
    JOIN sizes sa ON sa.event_type = seg_a
    JOIN sizes sb ON sb.event_type = seg_b
    """,
    tags=("agg", "bitmap", "join"),
)
def q48_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix via chunked bitmap aggregates (roaring-
    bitmap-style segment intersection, the OLAP formulation of
    COUNT(DISTINCT) over every segment pair at once).

    Member ids are packed 63 per BIGINT word (bit 62 is the highest used
    — DuckDB raises on a 63-position shift, Spark wraps; 63-bit words
    keep both engines in defined territory with identical two's-
    complement results). Per (segment, chunk) a single bit_or aggregate
    builds the word; pairwise intersection is then an equi-join on chunk
    + popcount — never a row-level self-join of the membership table.

    Scale: the membership table (|segments| x |users| rows) collapses to
    |segments| x |users|/63 words before any pairwise work, a 63x
    shuffle reduction; the pair join is chunk-co-partitioned and emits
    |segments|^2 x chunks/63 rows max. This is how production systems
    compute S^2 overlap matrices without S^2 scans — and why bitmap
    indexes beat HLL when exactness is required.
    """
    tune_for_oracle(spark)
    members = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    bm = members.select(
        "event_type",
        F.expr("user_id div 63").alias("chunk"),
        F.expr("shiftleft(1L, cast(user_id % 63 as int))").alias("bit"),
    ).groupBy("event_type", "chunk").agg(F.expr("bit_or(bit)").alias("mask"))
    sizes = bm.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).alias("sz")
    )
    a = bm.alias("a")
    b = bm.alias("b")
    ov = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .select(
            F.col("a.event_type").alias("seg_a"),
            F.col("b.event_type").alias("seg_b"),
            F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask"))).alias("pc"),
        )
        .groupBy("seg_a", "seg_b")
        .agg(F.sum("pc").alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("seg_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("event_type").alias("seg_b"), F.col("sz").alias("size_b"))
    return (
        ov.join(F.broadcast(sa), "seg_a")
        .join(F.broadcast(sb), "seg_b")
        .select(
            "seg_a", "seg_b", "n_common", "size_a", "size_b",
            (F.col("size_a") + F.col("size_b") - F.col("n_common")).alias("n_union"),
        )
    )


@query(
    "q52b_weighted_sample",
    oracle="""
    WITH scored AS (
      SELECT c.c_mktsegment, o.o_orderkey,
             round(
               ln(((o.o_orderkey * 48271) % 2147483647 + 0.5) / 2147483647.0)
                 / o.o_totalprice,
               12) AS score
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), ranked AS (
      SELECT c_mktsegment, o_orderkey, score,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY score DESC, o_orderkey) AS rk
      FROM scored
    )
    SELECT c_mktsegment, CAST(rk AS BIGINT) AS rk, o_orderkey, score
    FROM ranked WHERE rk <= 10
    """,
    tags=("sample", "window"),
)
def q52b_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k per stratum (Efraimidis-
    Spiliotis A-ES: draw u~U(0,1) per row, keep the top-k by u^(1/w)).
    The curation analog of q95_stratified_sample with per-row weights
    (sample orders proportional to price within each market segment).

    Determinism: u comes from a MINSTD Lehmer step on the row key
    ((key*48271) mod 2^31-1, +0.5 to stay strictly inside (0,1)) — pure
    BIGINT arithmetic that cannot overflow below key ~1.9e14, identical
    on both engines; rank on ln(u)/w (a monotone transform of u^(1/w))
    ROUNDED to 12 decimals with the key as tie-break, the established
    cross-engine double discipline (PLANS.md oracle notes).

    Scale: one hash join orders-customer (both sides shuffle on custkey;
    at TPC-H ratios customer is 1/10 of orders — broadcast only if the
    dim genuinely fits), then a single window shuffle on the stratum
    key. A-ES is THE distributed weighted-sample algorithm precisely
    because it needs no global state: top-k per partition would bound
    the exchange further via partial aggregation if k*strata blew up.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    scored = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round(
                F.log(
                    ((F.col("o_orderkey") * 48271) % 2147483647 + 0.5)
                    / 2147483647.0
                )
                / F.col("o_totalprice"),
                12,
            ).alias("score"),
        )
    )
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("score").desc(), F.col("o_orderkey")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("c_mktsegment", "rk", "o_orderkey", "score")
    )


@query(
    "q49_kmv_sketch_overlap",
    oracle="""
    WITH members AS (
      SELECT DISTINCT event_type, user_id,
             (user_id * 48271) % 2147483647 AS h
      FROM events
    ), kmv AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, user_id)
               AS rk
      FROM members
    ), sk AS (SELECT event_type, h FROM kmv WHERE rk <= 64),
    kth AS (
      -- theta-sketch convention: a non-full sketch (k < 64) is EXACT,
      -- so its theta is the whole hash space, not its largest value
      SELECT event_type,
             CASE WHEN COUNT(*) < 64 THEN 2147483647 ELSE MAX(h) END AS theta_1
      FROM sk GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS seg_a, b.event_type AS seg_b,
             CASE WHEN a.theta_1 < b.theta_1 THEN a.theta_1 ELSE b.theta_1 END
               AS theta
      FROM kth a JOIN kth b ON a.event_type < b.event_type
    ),
    inter AS (
      SELECT p.seg_a, p.seg_b, p.theta,
             COUNT(sb.h) AS n_inter
      FROM pairs p
      LEFT JOIN sk sa ON sa.event_type = p.seg_a AND sa.h < p.theta
      LEFT JOIN sk sb ON sb.event_type = p.seg_b AND sb.h = sa.h
      GROUP BY 1, 2, 3
    )
    SELECT seg_a, seg_b, CAST(n_inter AS BIGINT) AS n_sample_inter,
           round(n_inter * (2147483647.0 / theta), 2) AS est_common
    FROM inter
    """,
    tags=("agg", "sketch", "approx"),
)
def q49_kmv_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-sketch segment-intersection estimate — the mergeable-
    sketch sibling of q48_bitmap_overlap: where the bitmap is exact and
    O(|universe|/63) words, the k-minimum-values sketch is O(k) per
    segment and supports the set operation HLL cannot express —
    INTERSECTION (Dasgupta et al., "Theta Sketch Framework", 2016).

    Each segment keeps its k=64 smallest member hashes; a pair's common-
    member estimate is |{h in A_sk ∩ B_sk : h < θ}| * M/θ with θ the min
    of the per-sketch thetas (kth-min when full; the WHOLE hash space M
    when a sketch holds its entire set, where it degrades gracefully to
    the exact count). Hashes come from the same overflow-safe MINSTD step as
    q52b, so the sketch content — and therefore the ESTIMATE itself —
    is bit-identical cross-engine and the oracle hashes exactly: this
    is a full-oracle entry for an approximate operator, because the
    approximation is deterministic given the hash.

    Scale: per-segment top-k is a partial-aggregable window (map-side
    top-64 per partition, then a k-row-per-segment exchange — at 100 TB
    the shuffle is |segments| x 64 rows regardless of member count);
    the pair join touches only sketches. Skew-free by construction.
    """
    tune_for_oracle(spark)
    members = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .withColumn("h", (F.col("user_id") * 48271) % 2147483647)
    )
    wk = W.partitionBy("event_type").orderBy("h", "user_id")
    sk = (
        members.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 64)
        .select("event_type", "h")
    )
    kth = sk.groupBy("event_type").agg(
        F.when(F.count("*") < 64, F.lit(2147483647))
        .otherwise(F.max("h"))
        .alias("theta_1")
    )
    a = kth.alias("a")
    b = kth.alias("b")
    pairs = a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("seg_a"),
        F.col("b.event_type").alias("seg_b"),
        F.least("a.theta_1", "b.theta_1").alias("theta"),
    )
    sa = sk.select(F.col("event_type").alias("seg_a"), F.col("h").alias("ha"))
    sb = sk.select(F.col("event_type").alias("sb_seg"), F.col("h").alias("hb"))
    inter = (
        pairs.join(F.broadcast(sa), "seg_a")
        .filter(F.col("ha") < F.col("theta"))
        .join(
            F.broadcast(sb),
            (F.col("sb_seg") == F.col("seg_b")) & (F.col("hb") == F.col("ha")),
            "left",
        )
        .groupBy("seg_a", "seg_b", "theta")
        .agg(F.count("hb").alias("n_inter"))
    )
    return inter.select(
        "seg_a", "seg_b",
        F.col("n_inter").cast("long").alias("n_sample_inter"),
        F.round(F.col("n_inter") * (2147483647.0 / F.col("theta")), 2).alias(
            "est_common"
        ),
    )


@query(
    "q01d_row_provenance",
    oracle="""
    SELECT 'orders.parquet' AS file_name, o_orderstatus AS status,
           COUNT(*) AS n, CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("source", "provenance"),
)
def q01d_row_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level file provenance via the hidden `_metadata` column
    (SPARK-37273) — the lineage primitive a curation pipeline uses to
    trace any emitted document back to its source shard for takedown,
    re-crawl, or contamination forensics, without materializing a path
    column in storage.

    `_metadata.file_name` resolves at scan time from the file split —
    zero storage and zero extra IO (no column read; it's split
    metadata). The report aggregates per (file, status) with key ranges
    — the per-shard accounting a 100 TB ingest writes alongside its
    manifest. The test corpus is one file per table, so the oracle pins
    the basename as a literal and the driver-varied sf_dir never leaks
    into the hash; at scale the same plan yields one row per shard
    automatically. DuckDB's filename=true is the cross-engine twin but
    cannot be expressed over the driver's pre-registered views, hence
    the literal (the COUNT/range checks are the real content).
    """
    tune_for_oracle(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("_metadata.file_name").alias("file_name"),
        F.col("o_orderstatus").alias("status"),
        "o_orderkey",
    )
    return orders.groupBy("file_name", "status").agg(
        F.count("*").alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "q42f_cusum_changepoints",
    oracle="""
    WITH v AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 1000, 0) AS BIGINT) AS vm
      FROM events
    ), pre AS (
      SELECT event_type, ts, event_id,
             SUM(vm) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS s_i,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS i
      FROM v
    ), tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(vm) AS BIGINT) AS s_n
      FROM v GROUP BY event_type
    ), stat AS (
      SELECT p.event_type, p.ts, p.i, t.n,
             abs(t.n * p.s_i - p.i * t.s_n) AS d
      FROM pre p JOIN tot t USING (event_type)
    ), best AS (
      SELECT event_type, ts, i, n, d,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY d DESC, i) AS rk
      FROM stat
    )
    SELECT event_type, n, CAST(i AS BIGINT) AS cp_index, ts AS cp_ts,
           CAST(d AS BIGINT) AS max_stat
    FROM best WHERE rk = 1
    """,
    tags=("window", "timeseries", "changepoint"),
)
def q42f_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series — the binary-segmentation
    statistic: with prefix sums S_i over the time-ordered values, the
    split point is argmax_i |n*S_i - i*S_n| (the scaled deviation of
    the cumulative sum from the straight line between 0 and S_n), the
    classic test for a mean shift in a metric stream.

    Exactness: values are scaled to integer milli-units so prefix sums
    and the cross-term n*S_i - i*S_n stay in BIGINT (|n*S| < 2^63 up
    to ~sf10 at this value range; the production form keeps the
    statistic in DOUBLE and loses only oracle bit-exactness). Ordering
    ties break on the unique event_id, argmax ties on the earliest
    index — deterministic in both engines.

    Scale: one hash shuffle on the series key, then a single window
    pass (prefix sum + row_number share one sort), a |series|-bounded
    total agg broadcast back, and an argmax window over the same
    partitioning — Catalyst reuses the exchange, so it's one sort +
    one broadcast regardless of rows per series.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 1000, 0).cast("long").alias("vm"),
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    pre = ev.select(
        "event_type", "ts",
        F.sum("vm").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("s_i"),
        F.row_number().over(w).alias("i"),
    )
    tot = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("vm").alias("s_n")
    )
    stat = pre.join(F.broadcast(tot), "event_type").select(
        "event_type", "ts", "i", "n",
        F.abs(F.col("n") * F.col("s_i") - F.col("i") * F.col("s_n")).alias("d"),
    )
    wb = W.partitionBy("event_type").orderBy(F.col("d").desc(), F.col("i"))
    return (
        stat.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(
            "event_type", "n",
            F.col("i").cast("long").alias("cp_index"),
            F.col("ts").alias("cp_ts"),
            F.col("d").alias("max_stat"),
        )
    )


@query(
    "q36l_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 1000, 0) AS BIGINT) AS vm
      FROM events
    ), med AS (
      SELECT event_type, quantile_cont(vm, 0.5) AS med_milli
      FROM v GROUP BY event_type
    ), dev AS (
      SELECT v.event_type, v.vm, abs(v.vm - m.med_milli) AS d
      FROM v JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS mad_milli
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(m2.med_milli) AS med_milli,
           MAX(m2.mad_milli) AS mad_milli,
           CAST(SUM(CASE WHEN d.d > 3 * m2.mad_milli THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           MAX(d.d) AS max_dev_milli
    FROM dev d
    JOIN (SELECT med.event_type, med.med_milli, mad.mad_milli
          FROM med JOIN mad USING (event_type)) m2
      ON d.event_type = m2.event_type
    GROUP BY d.event_type
    """,
    tags=("agg", "robust", "outlier"),
)
def q36l_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report via median absolute deviation — the
    outlier test that survives the outliers themselves (mean/stddev
    z-scores are dragged by the very points they should flag; the
    median/MAD breakdown point is 50%).

    Two exact-median passes (value median, then deviation median) over
    integer milli-units: integer inputs interpolate to exact binary
    fractions (q36c's argument), deviations are exact 0.5-multiples,
    the second interpolation exact 0.25-multiples — bit-identical
    DOUBLEs in both engines, so `d > 3*mad` cuts identically.

    Scale: each pass is one shuffle on the series key with the
    |series|-bounded median dim broadcast back — never a sort of the
    full table. Exact per-group medians buffer each group (the q36c
    caveat); the 100 TB path swaps percentile() for percentile_approx
    with everything else unchanged.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 1000, 0).cast("long").alias("vm")
    )
    med = v.groupBy("event_type").agg(F.percentile("vm", 0.5).alias("med_milli"))
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type", "med_milli", F.abs(F.col("vm") - F.col("med_milli")).alias("d")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("d", 0.5).alias("mad_milli"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.max("med_milli").alias("med_milli"),
            F.max("mad_milli").alias("mad_milli"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_milli"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.max("d").alias("max_dev_milli"),
        )
    )


@query(
    "q36m_scalable_median",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 1000, 0) AS BIGINT) AS vm
      FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(vm, 0.5) AS median_milli
    FROM v GROUP BY event_type
    """,
    tags=("agg", "percentile", "scale"),
)
def q36m_scalable_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated median WITHOUT per-group buffering — the
    two-pass histogram-refinement algorithm that replaces q36c's
    percentile() when groups no longer fit an executor: pass 1 bins
    values (4096-wide buckets) and locates, per group, the bucket(s)
    holding order statistics floor(p) and ceil(p) at p=(n-1)/2; pass 2
    re-scans ONLY rows in those buckets (a pushdown-able predicate on
    a narrow candidate dim), ranks them with the pre-bucket cumulative
    count as offset, and interpolates the two order statistics.

    The result is BIT-IDENTICAL to the buffering form (oracle =
    quantile_cont): integer inputs make the midpoint an exact binary
    fraction. Each pass is one hash agg / one bounded window; memory
    per task is O(distinct buckets per group), never O(rows per
    group). This is the production shape for exact per-key medians
    over 100 TB — the refinement can recurse for pathological buckets
    (one level suffices at any realistic value range: bucket
    population shrinks by the bucket count each level).
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 1000, 0).cast("long").alias("vm")
    )
    # pass 1: per-(group, bucket) counts + per-group totals
    hist = v.groupBy("event_type", F.expr("vm div 4096").alias("bkt")).agg(
        F.count("*").alias("c")
    )
    wcum = W.partitionBy("event_type").orderBy("bkt")
    cum = hist.select(
        "event_type", "bkt", "c",
        (F.sum("c").over(wcum.rowsBetween(W.unboundedPreceding, W.currentRow)) - F.col("c")).alias("before"),
    )
    tot = hist.groupBy("event_type").agg(F.sum("c").alias("n"))
    # target 1-based ranks of the two order statistics at p = (n-1)/2
    ranks = tot.select(
        "event_type", "n",
        (F.expr("(n - 1) div 2") + 1).alias("r_lo"),
        (F.expr("n div 2") + 1).alias("r_hi"),
    )
    # buckets containing either order statistic — the candidate dim
    cand = (
        cum.join(F.broadcast(ranks), "event_type")
        .filter(
            ((F.col("before") < F.col("r_lo")) & (F.col("before") + F.col("c") >= F.col("r_lo")))
            | ((F.col("before") < F.col("r_hi")) & (F.col("before") + F.col("c") >= F.col("r_hi")))
        )
        .select(
            F.col("event_type").alias("et"),
            F.col("bkt").alias("cbkt"),
            "before",
        )
    )
    # pass 2: rank only the rows inside candidate buckets
    sub = v.join(
        F.broadcast(cand),
        (F.col("event_type") == F.col("et")) & (F.expr("vm div 4096") == F.col("cbkt")),
    ).select("event_type", "vm", "before")
    wr = W.partitionBy("event_type", F.expr("vm div 4096")).orderBy("vm")
    ranked = sub.withColumn("r", F.row_number().over(wr) + F.col("before"))
    stats = (
        ranked.join(F.broadcast(ranks), "event_type")
        .filter((F.col("r") == F.col("r_lo")) | (F.col("r") == F.col("r_hi")))
        .groupBy("event_type", "n")
        .agg(F.min("vm").alias("lo"), F.max("vm").alias("hi"))
    )
    return stats.select(
        "event_type", "n",
        ((F.col("lo") + F.col("hi")) / 2.0).alias("median_milli"),
    )


@query(
    "q36n_winsorize",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 1000, 0) AS BIGINT) AS vm
      FROM events
    ), ranked AS (
      SELECT event_type, vm,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vm) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), cuts AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             CAST(MAX(CASE WHEN r = greatest(1, CAST(ceil(n * 0.01) AS BIGINT))
                           THEN vm END) AS BIGINT) AS p01,
             CAST(MAX(CASE WHEN r = CAST(ceil(n * 0.99) AS BIGINT)
                           THEN vm END) AS BIGINT) AS p99
      FROM ranked GROUP BY event_type
    ), clipped AS (
      SELECT v.event_type, v.vm,
             least(greatest(v.vm, c.p01), c.p99) AS wm, c.n, c.p01, c.p99
      FROM v JOIN cuts c USING (event_type)
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN wm <> vm THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped,
           MAX(p01) AS p01, MAX(p99) AS p99,
           CAST(SUM(vm) AS BIGINT) / CAST(MAX(n) AS DOUBLE) AS mean_raw,
           CAST(SUM(wm) AS BIGINT) / CAST(MAX(n) AS DOUBLE) AS mean_winsorized
    FROM clipped GROUP BY event_type
    """,
    tags=("agg", "robust", "feature-eng"),
)
def q36n_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization report — the tail-clipping normalization a feature
    pipeline applies before training on heavy-tailed metrics: clip each
    series at its own p01/p99 and report how many rows were clipped
    plus the mean before/after (the robustness delta).

    The cuts are DISCRETE order statistics (value at rank ceil(q*n)) —
    not interpolated quantiles, whose 0.01 lerp weight is not a binary
    fraction and therefore not bit-stable across engines (the lesson
    this query's first draft learned); rank ties share the same value,
    so any tie-break picks the identical cut. Everything downstream is
    pure BIGINT: clip in integers, one exact sum, one division.

    Scale: the rank pass is one window per series (q36m's histogram
    refinement replaces it when groups outgrow a sort); the clip pass
    re-joins the |series|-row cut dim broadcast.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 1000, 0).cast("long").alias("vm")
    )
    wr = W.partitionBy("event_type").orderBy("vm")
    ranked = v.select(
        "event_type", "vm",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max(
            F.when(
                F.col("r") == F.greatest(F.lit(1), F.ceil(F.col("n") * 0.01)),
                F.col("vm"),
            )
        ).cast("long").alias("p01"),
        F.max(
            F.when(F.col("r") == F.ceil(F.col("n") * 0.99), F.col("vm"))
        ).cast("long").alias("p99"),
    )
    clipped = v.join(F.broadcast(cuts), "event_type").select(
        "event_type", "vm", "n", "p01", "p99",
        F.least(F.greatest(F.col("vm"), F.col("p01")), F.col("p99")).alias("wm"),
    )
    return clipped.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.when(F.col("wm") != F.col("vm"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped"),
        F.max("p01").alias("p01"),
        F.max("p99").alias("p99"),
        (F.sum("vm").cast("long") / F.max("n").cast("double")).alias("mean_raw"),
        (F.sum("wm").cast("long") / F.max("n").cast("double")).alias(
            "mean_winsorized"
        ),
    )


@query(
    "q47b_path_mining",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), paths AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE e3 IS NOT NULL
      GROUP BY 1
    ), ranked AS (
      SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rank
      FROM paths
    )
    SELECT CAST(rank AS BIGINT) AS rank, path, n
    FROM ranked WHERE rank <= 20
    """,
    tags=("window", "clickstream", "path"),
)
def q47b_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining — the top event-type TRIGRAMS across all
    user journeys (the table behind a Sankey/flow diagram, and the
    exploratory sibling of q47's fixed-order funnel: the funnel asks
    'how many took THE path', this asks 'which paths exist').

    One per-user window sort produces both LEADs, the path count is a
    hash agg on the trigram string, and only the top-20 selection is a
    global (single-partition) window over the |distinct paths|-bounded
    aggregate — never over events. Ordering ties break on the unique
    event_id in both engines.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    paths = (
        seq.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n"))
    )
    wr = W.orderBy(F.col("n").desc(), F.col("path"))
    return (
        paths.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 20)
        .select(F.col("rank").cast("long").alias("rank"), "path", "n")
    )


@query(
    "q47c_last_touch_attribution",
    oracle="""
    WITH touched AS (
      SELECT user_id, ts, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER w AS touch_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN ts END IGNORE NULLS)
               OVER w AS touch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT COALESCE(CASE WHEN touch_ts >= ts - INTERVAL 7 DAY
                         THEN touch_type END, 'organic') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("window", "attribution", "clickstream"),
)
def q47c_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution — every purchase is credited to
    the user's most recent preceding NON-purchase event within a 7-day
    lookback, falling back to 'organic' (no touch, or the touch aged
    out). The marketing-analytics query every event pipeline grows, and
    a second consumer of q27's as-of machinery expressed as a running
    IGNORE-NULLS last over the per-user stream — one window sort, no
    join at all.

    The aligned CASE columns (type and ts null out together) make the
    two last_value picks come from the same touch row without shipping
    a struct; the 7-day check then applies the lookback AFTER the
    carry, which is what makes 'touch exists but expired' distinct
    from 'no touch ever'. Revenue sums as DECIMAL (order-independent)
    and casts once — the cross-engine sum convention.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    touched = ev.select(
        "ts", "event_type", "value",
        F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(not_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(
                    F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY"),
                    F.col("touch_type"),
                ),
                F.lit("organic"),
            ).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_conversions"),
            F.sum(dec(F.col("value"))).cast("double").alias("revenue"),
        )
    )


#: Benford first-digit expectations log10(1 + 1/d), d = 1..9 — plan
#: literals (NOT computed per engine: ln/log10 are the one function
#: family whose last-ulp behavior differs across engines, so the
#: constants are pinned to 12dp once and shared by query and oracle).
_BENFORD = [
    0.301029995664, 0.176091259056, 0.124938736608, 0.096910013008,
    0.079181246048, 0.066946789631, 0.057991946978, 0.051152522447,
    0.045757490561,
]


@query(
    "q36o_benford_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                         AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders
      WHERE o_totalprice > 0
    ), counts AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS observed FROM digits GROUP BY d
    ), tot AS (
      SELECT CAST(SUM(observed) AS BIGINT) AS n FROM counts
    ), expect AS (
      SELECT t.d, e.p FROM (VALUES {", ".join(f"({i+1}, {p})" for i, p in enumerate(_BENFORD))}) AS e(i, p)
      JOIN (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS t(d) ON e.i = t.d
    )
    SELECT e.d, COALESCE(c.observed, 0) AS observed,
           tot.n * e.p AS expected,
           (COALESCE(c.observed, 0) - tot.n * e.p)
             * (COALESCE(c.observed, 0) - tot.n * e.p) / (tot.n * e.p)
             AS chi2_term
    FROM expect e
    LEFT JOIN counts c ON c.d = e.d
    CROSS JOIN tot
    """,
    tags=("agg", "quality", "audit"),
)
def q36o_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance audit on monetary amounts — the
    data-quality screen for fabricated or truncated numeric columns:
    naturally-occurring multi-magnitude amounts follow
    P(d) = log10(1+1/d); a synthetic generator, unit mixup, or
    systematic rounding shows up as fat chi-square terms long before
    anyone eyeballs a histogram. Emits the per-digit observed count,
    Benford expectation, and chi² term (sum them for the statistic;
    per-digit terms localize WHICH digit drifted).

    The nine expectations are 12dp plan literals shared verbatim by
    query and oracle — log10 is the one function family whose last
    ulp differs across engines, so it is evaluated zero times. One
    narrow first-digit map + a 9-row agg; the digit extraction is a
    string head on the integer cents, exact at any magnitude.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count("*").alias("observed"))
    expect = spark.createDataFrame(
        [(i + 1, p) for i, p in enumerate(_BENFORD)], "d long, p double"
    )
    tot = counts.agg(F.sum("observed").cast("long").alias("n"))
    joined = (
        expect.join(counts, "d", "left")
        .withColumn("observed", F.coalesce(F.col("observed"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    diff = F.col("observed") - F.col("n") * F.col("p")
    return joined.select(
        "d", "observed",
        (F.col("n") * F.col("p")).alias("expected"),
        (diff * diff / (F.col("n") * F.col("p"))).alias("chi2_term"),
    )


@query(
    "q47d_sequence_pattern_match",
    oracle="""
    WITH j AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS journey
      FROM events GROUP BY user_id
    ), hits AS (
      SELECT p.pattern, j.user_id,
             len(regexp_extract_all(j.journey, p.pattern)) AS n
      FROM j CROSS JOIN (VALUES ('v+cp'), ('sv*p'), ('e{2,}')) AS p(pattern)
    )
    SELECT pattern,
           CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_occurrences
    FROM hits GROUP BY pattern
    """,
    tags=("window", "pattern", "clickstream"),
)
def q47d_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex pattern detection over per-user event
    SEQUENCES — funnels with quantifiers ('one or more views, then a
    click, then a purchase'), which q47's fixed-order funnel can't
    express. Each user's journey folds to a string of event initials
    (one ordered string-agg — the same machinery as q35b), and the
    pattern library is then ordinary non-overlapping regex counting:
    'v+cp' (browse-to-buy), 'sv*p' (signup-to-first-purchase), 'e{2,}'
    (error storms).

    Both engines scan greedy non-overlapping matches identically on
    these quantifier-only patterns (no backrefs, no lookaround — the
    dialect-safe subset). Scale: one shuffle on user_id for the fold;
    journey strings are events-per-user long, the pattern pass is a
    narrow map over |users| rows, and the result agg is
    |patterns|-bounded. The relational MATCH_RECOGNIZE alternative is
    a windowed state machine — this form trades per-row state for a
    per-key string, the right trade while journeys fit a page.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    j = ev.groupBy("user_id").agg(
        F.expr(
            "listagg(substring(event_type, 1, 1), '')"
            " within group (order by ts, event_id)"
        ).alias("journey")
    )
    patterns = spark.createDataFrame(
        [("v+cp",), ("sv*p",), ("e{2,}",)], "pattern string"
    )
    hits = j.crossJoin(F.broadcast(patterns)).select(
        "pattern",
        F.size(F.expr("regexp_extract_all(journey, pattern, 0)")).alias("n"),
    )
    return hits.groupBy("pattern").agg(
        F.sum(F.when(F.col("n") > 0, 1).otherwise(0)).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_occurrences"),
    )


@query(
    "q42g_gorilla_timeseries",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             epoch_ms(ts) AS ts_ms,
             CAST(round(value * 1000, 0) AS BIGINT) AS vm,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) - 1 AS i
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM((ts_ms % 1000000007) * (i % 97 + 1)) AS BIGINT)
             AS ts_checksum,
           CAST(SUM(vm * (i % 97 + 1)) AS BIGINT) AS val_checksum
    FROM pts GROUP BY event_type
    """,
    tags=("timeseries", "codec", "compression"),
)
def q42g_gorilla_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla time-series block compression IN-PLAN (Pelkonen et al.,
    VLDB'15 — the public paper behind every modern TSDB block format):
    each series' (timestamp, value) stream is packed with
    delta-of-delta prefix codes and XOR leading/trailing-zero windows
    (codecs.encode_gorilla), decoded back, and checksummed — ~21x on
    regular telemetry (measured, tests/test_codecs.py), which is the
    difference between 100 TB of raw events and 5 TB of blocks on the
    wire and at rest. Measured honestly on THIS table's synthetic
    random-walk values: 1.47x (probe in PLANS.md) — XOR coding needs
    value locality, and noise has none; the dial that matters is the
    signal's, not the codec's.

    The kernel is an Arrow-batched grouped map (per-series sequential
    state — exactly the class that belongs in applyInPandas); the
    encode→decode round trip runs on every series and the emitted
    checksums come from the DECODED points, so a single mis-coded
    delta, window-reuse bug, or sign error hash-mismatches the oracle's
    relational reconstruction. Timestamp checksums fold through a
    prime modulus so the weighted sum stays in BIGINT at any SF.
    """
    import pandas as pd

    from better_cdc_spark.codecs import decode_gorilla, encode_gorilla

    tune_for_oracle(spark)
    pts = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("vm"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        series = list(zip(pdf["ts_ms"].astype(int), pdf["vm"].astype(int)))
        block = encode_gorilla(series)
        decoded = decode_gorilla(block)
        assert decoded == series, "gorilla round trip diverged"
        ts_sum = sum(
            (t % 1000000007) * (i % 97 + 1) for i, (t, _) in enumerate(decoded)
        )
        v_sum = sum(v * (i % 97 + 1) for i, (_, v) in enumerate(decoded))
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_points": [len(decoded)],
                "ts_checksum": [ts_sum],
                "val_checksum": [v_sum],
            }
        )

    return pts.groupBy("event_type").applyInPandas(
        kernel,
        "event_type string, n_points bigint, ts_checksum bigint, val_checksum bigint",
    )


@query(
    "q44e_max_concurrency",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no,
             ts
      FROM flagged
    ), intervals AS (
      SELECT user_id, session_no, MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY user_id, session_no
    ), deltas AS (
      SELECT CAST(date_trunc('day', s) AS DATE) AS day, s AS t, 1 AS d
      FROM intervals
      UNION ALL
      SELECT CAST(date_trunc('day', s) AS DATE), e, -1 FROM intervals
    ), swept AS (
      SELECT day, t, d,
             SUM(d) OVER (PARTITION BY day ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS conc
      FROM deltas
    ), peak AS (
      SELECT day, t, conc,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY conc DESC, t, d) AS rk
      FROM swept
    )
    SELECT day, CAST(conc AS BIGINT) AS peak_concurrency, t AS peak_time
    FROM peak WHERE rk = 1
    """,
    tags=("window", "interval", "sweep"),
)
def q44e_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the interval-overlap SWEEP: each
    session becomes a +1 at its start and a −1 at its end, a running sum
    over the ordered deltas is the live concurrency, and its argmax is
    the capacity-planning number ('how many simultaneous users must we
    hold'). The op relational engines struggle to express at scale —
    here it is two window families: q44's sessionization (one user_id
    sort, reused by lag + running sum) and a per-DAY sweep, so the
    global ordered scan the naive form needs never exists; each day's
    sweep is an independent partition.

    Tie conventions pinned identically in both engines: at equal
    timestamps ends sort before starts (d ascending — a session ending
    exactly when another starts never double-counts), and the peak
    reports its earliest attaining instant. Sessions are assigned to
    the day they START (the boundary convention documented rather than
    split — splitting at midnight is one extra explode if required).
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.select(
        "user_id", "ts",
        F.sum("new_sess")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_no"),
    )
    intervals = sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    day = F.to_date(F.date_trunc("day", F.col("s")))
    deltas = intervals.select(
        day.alias("day"), F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        intervals.select(day.alias("day"), F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    ws = W.partitionBy("day").orderBy("t", "d")
    swept = deltas.withColumn(
        "conc", F.sum("d").over(ws.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    wp = W.partitionBy("day").orderBy(F.col("conc").desc(), F.col("t"), F.col("d"))
    return (
        swept.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select(
            "day",
            F.col("conc").cast("long").alias("peak_concurrency"),
            F.col("t").alias("peak_time"),
        )
    )


@query(
    "q29b_skew_advisor",
    oracle="""
    WITH keyed AS (
      SELECT o_custkey AS k, COUNT(*) AS c
      FROM orders GROUP BY o_custkey
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(MAX(c) AS BIGINT) AS max_key_rows
      FROM keyed
    ), top AS (
      SELECT k, CAST(c AS BIGINT) AS c,
             ROW_NUMBER() OVER (ORDER BY c DESC, k) AS rk
      FROM keyed
    )
    SELECT t.rk AS rank, t.k AS hot_key, t.c AS key_rows,
           s.n_keys, s.n_rows,
           t.c * CAST(s.n_keys AS DOUBLE) / s.n_rows AS skew_factor,
           CAST(ceil(t.c * CAST(s.n_keys AS DOUBLE) / s.n_rows) AS BIGINT)
             AS suggested_salt
    FROM top t CROSS JOIN stats s
    WHERE t.rk <= 10
    """,
    tags=("join", "skew", "advisor", "ops"),
)
def q29b_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-SKEW ADVISOR — the measurement behind q29's salted join:
    per join key, its row count against the mean; the skew factor
    (key rows ÷ mean rows/key) IS the salt fan-out that equalizes the
    hot key's partitions, so the top-10 report's `suggested_salt`
    column feeds q29 directly. Run this before any big keyed join —
    a skew factor near 1 means AQE alone is enough; 50 means one task
    runs 50x longer than the median until salted.

    One hash agg on the key, a 1-row stats scalar cross-joined back
    (broadcast), and a top-10 window over the |keys|-bounded aggregate
    — the advisory never touches row-level data twice. All ratios are
    single divisions of exact BIGINTs.
    """
    tune_for_oracle(spark)
    keyed = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("c"))
    )
    stats = keyed.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("max_key_rows"),
    )
    # Distributed top-k (TakeOrderedAndProject, per-partition pruned) —
    # never a global row_number window over the key-dimension frame; the
    # rank window then runs over exactly 10 rows.
    top = (
        keyed.orderBy(F.col("c").desc(), F.col("k"))
        .limit(10)
        .withColumn(
            "rk", F.row_number().over(W.orderBy(F.col("c").desc(), F.col("k")))
        )
    )
    skew = F.col("c") * F.col("n_keys").cast("double") / F.col("n_rows")
    return top.crossJoin(F.broadcast(stats)).select(
        F.col("rk").cast("long").alias("rank"),
        F.col("k").alias("hot_key"),
        F.col("c").cast("long").alias("key_rows"),
        "n_keys", "n_rows",
        skew.alias("skew_factor"),
        F.ceil(skew).cast("long").alias("suggested_salt"),
    )


@query(
    "q36p_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type AS et, user_id % 7 AS cohort,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ), margins AS (
      SELECT c.et, c.cohort, c.o,
             SUM(c.o) OVER (PARTITION BY c.et) AS row_tot,
             SUM(c.o) OVER (PARTITION BY c.cohort) AS col_tot,
             SUM(c.o) OVER () AS n
      FROM cells c
    )
    SELECT et, CAST(cohort AS BIGINT) AS cohort, o,
           CAST(row_tot AS BIGINT) * col_tot / CAST(n AS DOUBLE) AS expected,
           (o - CAST(row_tot AS BIGINT) * col_tot / CAST(n AS DOUBLE))
             * (o - CAST(row_tot AS BIGINT) * col_tot / CAST(n AS DOUBLE))
             / (CAST(row_tot AS BIGINT) * col_tot / CAST(n AS DOUBLE))
             AS chi2_term
    FROM margins
    """,
    tags=("agg", "stats", "independence"),
)
def q36p_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between two categoricals (event
    type × user cohort) — the per-cell contingency table with expected
    counts under independence and the chi² contribution of each cell
    (sum for the statistic; the per-cell terms localize WHICH
    combination drives the dependence — q36o's per-digit discipline
    applied to two-way contingency). The completion of the inferential
    family next to Welch's t (q36j).

    One hash agg builds the contingency; margins are windows over the
    |cells|-bounded aggregate (never over events); expected counts are
    products of exact BIGINT margins with a single double division —
    bit-identical cross-engine. At 100 TB the only corpus-scale work
    is the first agg, bounded by |types| × |cohorts| output cells.
    """
    tune_for_oracle(spark)
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("et"),
            (F.col("user_id") % 7).alias("cohort"),
        )
        .agg(F.count("*").alias("o"))
    )
    margins = cells.select(
        "et", "cohort", "o",
        F.sum("o").over(W.partitionBy("et")).alias("row_tot"),
        F.sum("o").over(W.partitionBy("cohort")).alias("col_tot"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    expected = (
        F.col("row_tot").cast("long") * F.col("col_tot") / F.col("n").cast("double")
    )
    return margins.select(
        "et",
        F.col("cohort").cast("long").alias("cohort"),
        "o",
        expected.alias("expected"),
        ((F.col("o") - expected) * (F.col("o") - expected) / expected).alias(
            "chi2_term"
        ),
    )


@query(
    "q44f_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_et,
             LEAD(event_type) OVER w AS to_et,
             epoch_ms(LEAD(ts) OVER w) - epoch_ms(ts) AS gap_ms
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), trans AS (
      SELECT from_et, to_et, gap_ms FROM seq WHERE to_et IS NOT NULL
    ), counted AS (
      SELECT from_et, to_et,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(gap_ms) AS BIGINT) AS sum_gap_ms
      FROM trans GROUP BY from_et, to_et
    )
    SELECT from_et, to_et, n,
           n / CAST(SUM(n) OVER (PARTITION BY from_et) AS DOUBLE) AS p,
           sum_gap_ms / CAST(n AS DOUBLE) AS mean_gap_ms
    FROM counted
    """,
    tags=("window", "markov", "clickstream"),
)
def q44f_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys — for
    every (from, to) event pair: the transition count, its probability
    conditioned on the source state, and the mean dwell time between
    the two events. The model behind next-action prediction baselines
    and the dwell-time table capacity planning reads; q47b mines the
    popular PATHS, this gives the full conditional structure.

    One per-user window sort yields both the successor and the gap;
    the normalization is a window over the |types|²-bounded count
    table, never over events. Probabilities and means are single
    divisions of exact BIGINTs — bit-identical cross-engine.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_et"),
        F.lead("event_type").over(w).alias("to_et"),
        (F.unix_millis(F.lead("ts").over(w)) - F.unix_millis("ts")).alias("gap_ms"),
    ).filter(F.col("to_et").isNotNull())
    counted = seq.groupBy("from_et", "to_et").agg(
        F.count("*").alias("n"), F.sum("gap_ms").cast("long").alias("sum_gap_ms")
    )
    return counted.select(
        "from_et", "to_et", "n",
        (F.col("n") / F.sum("n").over(W.partitionBy("from_et")).cast("double")).alias("p"),
        (F.col("sum_gap_ms") / F.col("n").cast("double")).alias("mean_gap_ms"),
    )


@query(
    "q53c_pareto_report",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey, cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rk,
             SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
             SUM(cents) OVER () AS total,
             COUNT(*) OVER () AS n_cust
    FROM per_cust
    ), marked AS (
      SELECT rk, n_cust, cum_cents, total,
             CASE WHEN cum_cents * 100 >= total * 80
                   AND (cum_cents - cents) * 100 < total * 80
                  THEN 1 ELSE 0 END AS crosses_80
      FROM ranked
    )
    SELECT CAST(MAX(CASE WHEN crosses_80 = 1 THEN rk END) AS BIGINT)
             AS customers_to_80pct,
           CAST(MAX(n_cust) AS BIGINT) AS n_customers,
           MAX(CASE WHEN crosses_80 = 1 THEN rk END)
             / CAST(MAX(n_cust) AS DOUBLE) AS share_of_customers,
           CAST(MAX(total) AS BIGINT) AS total_cents
    FROM marked
    """,
    tags=("window", "pareto", "report"),
)
def q53c_pareto_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration (the 80/20 report): how many top customers
    carry 80% of revenue — the crossing rank on the descending
    cumulative-share curve, found with integer cross-multiplication
    (cum*100 >= total*80, its predecessor strictly below) so no
    floating threshold can straddle engines differently. q53's
    ratio-to-report gives each member's share; this gives the
    concentration summary leadership actually asks for.

    The ranking runs over the per-customer AGGREGATE (|keys| rows,
    customer-dimension sized — grows with the corpus), so since r11
    both the rank and the running total come from the blocked two-level
    ops (operators.blocked_row_number / blocked_ordered_cumsum) and the
    frame totals from a 1-row broadcast agg — no single-task window at
    any scale.
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import (
        blocked_ordered_cumsum,
        blocked_row_number,
    )

    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    totals = per_cust.agg(
        F.sum("cents").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_cust"),
    )
    ranked = blocked_ordered_cumsum(
        blocked_row_number(per_cust, "cents", "o_custkey", "rk", descending=True),
        "cents", "o_custkey", "cents", "cum_cents",
        descending=True, inclusive=True,
    ).crossJoin(F.broadcast(totals))
    marked = ranked.select(
        "rk", "n_cust", "total",
        F.when(
            (F.col("cum_cents") * 100 >= F.col("total") * 80)
            & ((F.col("cum_cents") - F.col("cents")) * 100 < F.col("total") * 80),
            1,
        ).otherwise(0).alias("crosses_80"),
    )
    return marked.agg(
        F.max(F.when(F.col("crosses_80") == 1, F.col("rk")))
        .cast("long")
        .alias("customers_to_80pct"),
        F.max("n_cust").cast("long").alias("n_customers"),
        (
            F.max(F.when(F.col("crosses_80") == 1, F.col("rk")))
            / F.max("n_cust").cast("double")
        ).alias("share_of_customers"),
        F.max("total").cast("long").alias("total_cents"),
    )


@query(
    "q76b_consistent_hash_ring",
    oracle="""
    WITH vnodes AS (
      SELECT n.node, v.vn,
             ((n.node * 16 + v.vn + 1) * 2654435761) % 2147483647 AS pos
      FROM (SELECT UNNEST(range(0, 8)) AS node) n,
           (SELECT UNNEST(range(0, 16)) AS vn) v
    ), keys AS (
      SELECT user_id, (user_id * 2654435761 + 40503) % 2147483647 AS kpos
      FROM (SELECT DISTINCT user_id FROM events)
    ), best AS (
      SELECT k.user_id, v.node,
             ROW_NUMBER() OVER (
               PARTITION BY k.user_id
               ORDER BY (v.pos - k.kpos + 2147483647) % 2147483647, v.node
             ) AS rk
      FROM keys k CROSS JOIN vnodes v
    ), best7 AS (
      SELECT k.user_id, v.node,
             ROW_NUMBER() OVER (
               PARTITION BY k.user_id
               ORDER BY (v.pos - k.kpos + 2147483647) % 2147483647, v.node
             ) AS rk
      FROM keys k CROSS JOIN vnodes v
      WHERE v.node <> 7
    )
    SELECT a.node,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN b.node <> a.node THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved_if_7_leaves
    FROM (SELECT user_id, node FROM best WHERE rk = 1) a
    JOIN (SELECT user_id, node FROM best7 WHERE rk = 1) b USING (user_id)
    GROUP BY a.node
    """,
    tags=("hash", "sharding", "systems"),
)
def q76b_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring assignment — the shard-placement primitive
    under every distributed cache/stream partitioner: 8 nodes × 16
    virtual nodes on a 2^31-1 ring, each key owned by the first vnode
    clockwise from its hash. The report pairs each node's load with
    the MOVEMENT if node 7 leaves — the consistent-hashing guarantee
    made measurable: only keys owned by the departing node move
    (every n_moved row for surviving nodes must be 0, and is), versus
    mod-N hashing where nearly everything reshuffles.

    Ring positions and key hashes are MULTIPLICATIVE integer mixes
    (id * 2654435761 mod 2^31-1 — a plain id*small-step progression
    clusters the ring and one node owns nearly every key; this query's
    first draft demonstrated exactly that failure), inline in both
    engines (the q97s discipline — no engine-specific hash); clockwise
    distance is a modular subtraction, ties break on node id. The
    key × vnode scan is |keys| × 128 narrow rows with a per-key top-1
    window — at real scale the 128-row vnode table broadcasts and the
    argmin folds in-row (F.aggregate over a literal array), shuffle-
    free; the windowed form here keeps the oracle one-to-one.
    """
    tune_for_oracle(spark)
    nodes = spark.range(8).select(F.col("id").alias("node"))
    vns = spark.range(16).select(F.col("id").alias("vn"))
    vnodes = nodes.crossJoin(vns).select(
        "node", "vn",
        (((F.col("node") * 16 + F.col("vn") + 1) * 2654435761) % 2147483647).alias("pos"),
    )
    keys = (
        load_table(spark, sf_dir, "events")
        .select("user_id").distinct()
        .select(
            "user_id",
            ((F.col("user_id") * 2654435761 + 40503) % 2147483647).alias("kpos"),
        )
    )

    def owner(vn_df, name):
        dist = (F.col("pos") - F.col("kpos") + 2147483647) % 2147483647
        w = W.partitionBy("user_id").orderBy(dist, F.col("node"))
        return (
            keys.crossJoin(F.broadcast(vn_df))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", F.col("node").alias(name))
        )

    full = owner(vnodes, "node")
    without7 = owner(vnodes.filter(F.col("node") != 7), "node7")
    return (
        full.join(without7, "user_id")
        .groupBy("node")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum(F.when(F.col("node7") != F.col("node"), 1).otherwise(0))
            .cast("long")
            .alias("n_moved_if_7_leaves"),
        )
    )


def _lttb_oracle_sql(n_out: int = 20) -> str:
    """DuckDB oracle for LTTB: the per-series selection recurrence is
    sequential (each bucket's pick depends on the previous pick), but
    n_out is a CONSTANT — so the recursion UNROLLS into n_out-2 chained
    CTEs, one per interior bucket, each a plain argmax join against the
    previous stage. Pure integer arithmetic start to finish: HUGEINT
    cross products (the Python kernel uses unbounded ints), and an
    explicit floor-division form for the possibly-negative y-centroid
    because DuckDB's ``//`` truncates toward zero while Python floors.
    Ties break on earliest rn, matching the kernel's strict-> scan."""
    nb = n_out - 2  # interior buckets
    steps = []
    for b in range(nb):
        prev = f"s{b}"
        steps.append(f"""
    s{b + 1} AS (
      SELECT event_type, rn, x, y FROM (
        SELECT c.event_type, c.rn, c.x, c.y,
               row_number() OVER (
                 PARTITION BY c.event_type
                 ORDER BY abs(CAST(2 * p.x - c.cx2 AS HUGEINT) * (c.y - p.y)
                            - CAST(p.x - c.x AS HUGEINT) * (c.cy2 - 2 * p.y)) DESC,
                          c.rn ASC) AS rk
        FROM cand c JOIN {prev} p USING (event_type)
        WHERE c.b = {b}
      ) WHERE rk = 1
    )""")
    winners = "\n      UNION ALL ".join(f"SELECT * FROM s{b + 1}" for b in range(nb))
    return f"""
    WITH base AS (
      SELECT event_type, epoch_ms(ts) AS x,
             CAST(round(value * 1000, 0) AS BIGINT) AS y, event_id
      FROM events
    ),
    numbered AS (
      SELECT event_type, x, y,
             row_number() OVER (PARTITION BY event_type ORDER BY x, event_id) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM base
    ),
    series AS (SELECT DISTINCT event_type, n FROM numbered WHERE n > {n_out}),
    edges AS (
      SELECT event_type, n, t.i, 1 + (t.i * (n - 2)) // {nb} AS e
      FROM series, UNNEST(range(0, {nb + 1})) AS t(i)
    ),
    buckets AS (
      SELECT l.event_type, l.i AS b, l.e AS lo, h.e AS hi,
             CASE WHEN l.i < {nb - 1} THEN h.e ELSE l.n - 1 END AS nlo,
             CASE WHEN l.i < {nb - 1} THEN nx.e ELSE l.n END AS nhi
      FROM edges l
      JOIN edges h ON h.event_type = l.event_type AND h.i = l.i + 1
      LEFT JOIN edges nx ON nx.event_type = l.event_type AND nx.i = l.i + 2
      WHERE l.i <= {nb - 1}
    ),
    cent AS (
      -- 2x centroid, floored: x sums are positive (epoch ms) so // is
      -- already a floor; y sums may be negative -> explicit floor form
      SELECT bk.event_type, bk.b,
             (2 * SUM(p.x)) // (bk.nhi - bk.nlo) AS cx2,
             (2 * SUM(p.y)
              - (((2 * SUM(p.y)) % (bk.nhi - bk.nlo) + (bk.nhi - bk.nlo))
                 % (bk.nhi - bk.nlo))) // (bk.nhi - bk.nlo) AS cy2
      FROM buckets bk JOIN numbered p
        ON p.event_type = bk.event_type AND p.rn >= bk.nlo AND p.rn < bk.nhi
      GROUP BY bk.event_type, bk.b, bk.nhi, bk.nlo
    ),
    cand AS (
      SELECT bk.event_type, bk.b, p.rn, p.x, p.y, c.cx2, c.cy2
      FROM buckets bk
      JOIN numbered p
        ON p.event_type = bk.event_type AND p.rn >= bk.lo AND p.rn < bk.hi
      JOIN cent c ON c.event_type = bk.event_type AND c.b = bk.b
    ),
    s0 AS (
      SELECT event_type, rn, x, y FROM numbered WHERE rn = 0 AND n > {n_out}
    ),{",".join(steps)},
    finals AS (
      SELECT event_type, rn, x, y FROM numbered
      WHERE rn = n - 1 AND n > {n_out}
    ),
    bigout AS (
      -- winners come from strictly increasing bucket ranges, so rn order
      -- IS selection order
      SELECT event_type, x, y,
             row_number() OVER (PARTITION BY event_type ORDER BY rn) - 1 AS pos
      FROM (SELECT * FROM s0
            UNION ALL {winners}
            UNION ALL SELECT * FROM finals)
    )
    SELECT event_type, CAST(pos AS INTEGER) AS pos, x, y FROM bigout
    UNION ALL
    SELECT event_type, CAST(rn AS INTEGER) AS pos, x, y
    FROM numbered WHERE n <= {n_out}
    """


@query(
    "q45d_lttb_downsample",
    oracle=_lttb_oracle_sql(),
    tags=("timeseries", "downsample", "viz"),
)
def q45d_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013 —
    the de-facto time-series VISUALIZATION reduction in every TSDB
    dashboard): per series, keep the endpoints plus, per bucket, the
    point forming the largest triangle with the PREVIOUSLY SELECTED
    point and the next bucket's centroid — preserving spikes and shape
    where naive striding flattens them.

    The selection is inherently sequential per series (each choice
    depends on the previous), so it runs as an Arrow-batched grouped
    map in exact integer arithmetic (cross-product areas over ms ×
    milli-value coordinates; ties break on earliest timestamp).
    Full value-hash oracle (was rows-only through r7): n_out is a
    constant, so the sequential recurrence UNROLLS into n_out-2
    chained SQL CTEs (_lttb_oracle_sql) — deterministic both sides,
    exact integer arithmetic both sides. VERIFICATION is additionally
    post-hoc and kernel-independent: tests/test_operators.py
    re-checks, for every emitted point, that no other point in its
    bucket forms a larger triangle with the ACTUAL selected neighbors
    — the optimality invariant itself, not a re-implementation that
    could mirror a bug.

    Scale: one shuffle on the series key; per-series work is linear;
    the output is |series| × n_out rows regardless of input size —
    the reduction that lets a dashboard read a year of 100 TB metrics.
    """
    import numpy as np
    import pandas as pd

    tune_for_oracle(spark)
    n_out = 20
    pts = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis("ts").alias("x"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("y"),
        "event_id",
    )

    def lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["x", "event_id"], kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        xs = pdf["x"].to_numpy()
        ys = pdf["y"].to_numpy()
        if n <= n_out:
            sel = list(range(n))
        else:
            # bucket boundaries over the interior points (endpoints fixed)
            edges = [1 + (i * (n - 2)) // (n_out - 2) for i in range(n_out - 1)]
            sel = [0]
            prev = 0
            for b in range(n_out - 2):
                lo, hi = edges[b], edges[b + 1]
                nlo, nhi = (edges[b + 1], edges[b + 2]) if b < n_out - 3 else (n - 1, n)
                cx2 = int(xs[nlo:nhi].sum()) * 2 // (nhi - nlo)  # 2x centroid, floor
                cy2 = int(ys[nlo:nhi].sum()) * 2 // (nhi - nlo)
                best, best_area = lo, -1
                for i in range(lo, hi):
                    # |(x_prev-cx)(y_i-y_prev) - (x_prev-x_i)(cy-y_prev)| in 2x units
                    area = abs(
                        (int(xs[prev]) * 2 - cx2) * (int(ys[i]) - int(ys[prev]))
                        - (int(xs[prev]) - int(xs[i])) * (cy2 - int(ys[prev]) * 2)
                    )
                    if area > best_area:
                        best, best_area = i, area
                sel.append(best)
                prev = best
            sel.append(n - 1)
        out = pdf.iloc[sel]
        return pd.DataFrame(
            {
                "event_type": out["event_type"].to_numpy(),
                "pos": range(len(sel)),
                "x": out["x"].to_numpy(),
                "y": out["y"].to_numpy(),
            }
        )

    return pts.groupBy("event_type").applyInPandas(
        lttb, "event_type string, pos int, x bigint, y bigint"
    )


@query(
    "q36q_ks_two_sample",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS grp,
             CAST(round(value * 1000, 0) AS BIGINT) AS vm,
             event_id
      FROM events WHERE event_type IN ('purchase', 'view')
    ), sizes AS (
      SELECT CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM v
    ), walk AS (
      SELECT vm, grp,
             SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END)
               OVER (ORDER BY vm, event_id ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END)
               OVER (ORDER BY vm, event_id ROWS UNBOUNDED PRECEDING) AS cb
      FROM v
    ), steps AS (
      -- evaluate the ECDF gap only at the LAST row of each tied value,
      -- where both step functions have fully stepped
      SELECT vm, ca, cb,
             ROW_NUMBER() OVER (PARTITION BY vm ORDER BY ca + cb DESC) AS rk
      FROM walk
    )
    SELECT s.na, s.nb,
           CAST(MAX(abs(t.ca * s.nb - t.cb * s.na)) AS BIGINT) AS d_scaled,
           MAX(abs(t.ca * s.nb - t.cb * s.na))
             / CAST(s.na * s.nb AS DOUBLE) AS ks_d
    FROM steps t CROSS JOIN sizes s
    WHERE t.rk = 1
    GROUP BY s.na, s.nb
    """,
    tags=("agg", "stats", "distribution"),
)
def q36q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic — THE distribution-shift
    test for continuous metrics (chi² q36p needs bins; KS doesn't):
    D = sup |F_a(x) − F_b(x)| over the merged sample walk. Completes
    the inferential trio (Welch t for means, chi² for categoricals,
    KS for whole distributions) — the drift alarm between a metric's
    'purchase' and 'view' populations.

    Exactness: the supremum is computed in INTEGER cross-multiplied
    form |ca·nb − cb·na| (never a float ECDF), evaluated only at the
    last row of each tied value where both step functions have fully
    stepped — the tie convention that makes D well-defined and
    engine-independent; one division at the end. Since r11 the walk is
    per-DISTINCT-value: ca/cb at a value's last tied row are exactly
    the inclusive cumulative group counts over the distinct-value
    frame, so the fact-sized single-task window becomes one hash agg
    plus two operators.blocked_cumsum two-level scans (the oracle's
    row-walk computes the identical maxima).
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import blocked_cumsum

    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            F.when(F.col("event_type") == "purchase", "a").otherwise("b").alias("grp"),
            F.round(F.col("value") * 1000, 0).cast("long").alias("vm"),
            "event_id",
        )
    )
    sizes = v.agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).cast("long").alias("nb"),
    )
    per_vm = v.groupBy("vm").agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).cast("long").alias("av"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).cast("long").alias("bv"),
    )
    steps = blocked_cumsum(
        blocked_cumsum(per_vm, "vm", "av", "ca", inclusive=True),
        "vm", "bv", "cb", inclusive=True,
    )
    gap = F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
    return (
        steps.crossJoin(F.broadcast(sizes))
        .groupBy("na", "nb")
        .agg(
            F.max(gap).cast("long").alias("d_scaled"),
            (F.max(gap) / (F.col("na") * F.col("nb")).cast("double")).alias("ks_d"),
        )
    )


@query(
    "q53d_gini_coefficient",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
             COUNT(*) OVER () AS n,
             SUM(cents) OVER () AS total
      FROM per_cust
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(MAX(total) AS BIGINT) AS total_cents,
           CAST(SUM(i * cents) AS BIGINT) AS weighted_sum,
           2.0 * CAST(SUM(i * cents) AS BIGINT)
             / (CAST(MAX(n) AS BIGINT) * CAST(MAX(total) AS BIGINT))
             - (CAST(MAX(n) AS BIGINT) + 1.0) / MAX(n) AS gini
    FROM ranked
    """,
    tags=("window", "inequality", "report"),
)
def q53d_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the concentration INDEX
    next to q53c's crossing rank: G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    ascending-ranked values, the closed rank form that needs no Lorenz
    integration. 0 = perfectly even, →1 = one customer is the revenue.
    The same statistic audits token-share across corpus sources (swap
    the table) — how concentrated a mixture actually is.

    The rank weighting Σ(i·xᵢ) is an exact BIGINT (i ≤ |customers|,
    cents sums bounded), so the two divisions produce bit-identical
    doubles; ties rank deterministically by key. Since r11 the rank
    comes from operators.blocked_row_number and the frame totals from a
    1-row broadcast agg — the per-key aggregate is customer-dimension
    sized (grows with the corpus), so no single-task window anywhere.
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import blocked_row_number

    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    totals = per_cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
    )
    ranked = blocked_row_number(
        per_cust, "cents", "o_custkey", "i"
    ).crossJoin(F.broadcast(totals))
    n = F.max("n").cast("long")
    total = F.max("total").cast("long")
    wsum = F.sum(F.col("i") * F.col("cents")).cast("long")
    return ranked.agg(
        n.alias("n_customers"),
        total.alias("total_cents"),
        wsum.alias("weighted_sum"),
        (2.0 * wsum / (n * total) - (n + 1.0) / F.max("n")).alias("gini"),
    )


@query(
    "q46e_stickiness",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ), dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM days GROUP BY d
    ), contrib AS (
      SELECT DISTINCT user_id, d + to_days(CAST(t.k AS INTEGER)) AS win_end
      FROM days CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) t
    ), bounds AS (
      SELECT MIN(date_trunc('day', ts)) AS lo, MAX(date_trunc('day', ts)) AS hi
      FROM events
    ), wau AS (
      SELECT win_end AS d, CAST(COUNT(*) AS BIGINT) AS wau
      FROM contrib, bounds
      WHERE win_end BETWEEN lo AND hi
      GROUP BY win_end
    )
    SELECT dau.d AS day, dau.dau, wau.wau,
           dau.dau / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
    tags=("timeseries", "engagement", "distinct"),
)
def q46e_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness — THE engagement ratio every product dashboard
    leads with: of the users active in the trailing week, what fraction
    showed up today (1/7 ≈ 0.14 means weekly visitors; 1.0 means daily
    habit). Exact distinct counts on both sides via q46b's
    contribution-expansion trick (each user-day contributes to the 7
    window ends it falls in, so the rolling DISTINCT becomes a plain
    hash agg — no windowed count-distinct, which Spark cannot do
    exactly), then one exact-int division per day.

    Scale: the user-day dedup is one hash agg; the 7× expansion is a
    narrow generator bounded by the window length; both counts and the
    join are day-keyed. HLL sketches (q46c) replace the exact counts
    when the audience outgrows exactness — the ratio machinery is
    unchanged.
    """
    tune_for_oracle(spark)
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
        .distinct()
    )
    dau = days.groupBy("d").agg(F.count("*").alias("dau"))
    contrib = (
        days.select(
            "user_id",
            F.explode(
                F.expr("transform(sequence(0, 6), k -> d + make_interval(0,0,0,k))")
            ).alias("win_end"),
        )
        .distinct()
    )
    bounds = days.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    wau = (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("win_end").between(F.col("lo"), F.col("hi")))
        .groupBy(F.col("win_end").alias("d"))
        .agg(F.count("*").alias("wau"))
    )
    return dau.join(wau, "d").select(
        F.col("d").alias("day"), "dau", "wau",
        (F.col("dau") / F.col("wau").cast("double")).alias("stickiness"),
    )


@query(
    "q42h_seasonality_strength",
    oracle="""
    WITH v AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS h,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events
    ), per_hour AS (
      SELECT event_type, h,
             CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(vc) AS BIGINT) AS sh
      FROM v GROUP BY event_type, h
    ), tot AS (
      SELECT event_type,
             CAST(SUM(nh) AS BIGINT) AS n,
             CAST(SUM(sh) AS BIGINT) AS s,
             CAST((SELECT SUM(vc * vc) FROM v v2
                   WHERE v2.event_type = per_hour.event_type) AS BIGINT) AS ss,
             SUM(CAST(sh AS DOUBLE) * sh / nh) AS between_raw
      FROM per_hour GROUP BY event_type
    )
    SELECT event_type, n,
           (between_raw - CAST(s AS DOUBLE) * s / n)
             / (ss - CAST(s AS DOUBLE) * s / n) AS seasonality_strength
    FROM tot
    """,
    tags=("timeseries", "seasonality", "variance"),
)
def q42h_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength by hour-of-day — the one-number answer to
    'does this metric have a daily cycle': the fraction of total
    variance explained by hour-of-day groups (the ANOVA between/total
    ratio, which is also the eta² of hour as a factor). Near 0 = no
    daily pattern (don't bother with seasonal models or hourly
    autoscaling); near 1 = the hour IS the signal.

    Exactness: centi-unit integers keep every sum (Σx, Σx², per-hour
    Σ) an exact BIGINT through sf1 at this value range (the docstring
    bound convention of q42f); the two SS terms are then identical
    double expressions of exact ints with one division each — the
    computational ANOVA form, no mean subtraction per row. One hash
    agg on (series, hour), one on the series; the hour table is
    24-bounded.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("h"),
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    per_hour = v.groupBy("event_type", "h").agg(
        F.count("*").alias("nh"),
        F.sum("vc").cast("long").alias("sh"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("ssh"),
    )
    tot = per_hour.groupBy("event_type").agg(
        F.sum("nh").cast("long").alias("n"),
        F.sum("sh").cast("long").alias("s"),
        F.sum("ssh").cast("long").alias("ss"),
        F.sum(F.col("sh").cast("double") * F.col("sh") / F.col("nh")).alias(
            "between_raw"
        ),
    )
    correction = F.col("s").cast("double") * F.col("s") / F.col("n")
    return tot.select(
        "event_type", "n",
        ((F.col("between_raw") - correction) / (F.col("ss") - correction)).alias(
            "seasonality_strength"
        ),
    )


@query(
    "q36r_lag1_autocorrelation",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS x,
             LEAD(CAST(round(value * 100, 0) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS y
      FROM events
    ), pairs AS (
      SELECT event_type, x, y FROM v WHERE y IS NOT NULL
    ), sums AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY event_type
    )
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             AS lag1_autocorr
    FROM sums
    """,
    tags=("timeseries", "stats", "autocorrelation"),
)
def q36r_lag1_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per series — q42h's companion diagnostic:
    eta² asks 'is there a daily CYCLE', this asks 'does the last value
    PREDICT the next' (near 0 = white noise, forecast nothing; near 1 =
    random walk, naive-last-value is the baseline to beat). Together
    they are the two numbers looked at before fitting any time-series
    model.

    Pearson r over (x_t, x_{t+1}) pairs in the computational form: one
    per-series window for the lead, then SIX exact BIGINT sums and one
    closed expression — IEEE sqrt is correctly rounded, so identical
    double inputs give identical outputs cross-engine. Centi-unit
    bounds hold through ~sf0.1 at this value range (nΣxy ~ 1.3e18; the
    q42f overflow-note convention — nano/micro scaling trades headroom
    for precision as needed).
    """
    tune_for_oracle(spark)
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    x = F.round(F.col("value") * 100, 0).cast("long")
    v = load_table(spark, sf_dir, "events").select(
        "event_type", x.alias("x"), F.lead(x).over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    sums = v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    return sums.select(
        "event_type", "n",
        (
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
            )
        ).alias("lag1_autocorr"),
    )


@query(
    "q36s_poisson_bootstrap_ci",
    oracle="""
    WITH ev AS (
      SELECT event_type, event_id,
             CAST(round(CAST(value AS DOUBLE) * 1000, 0) AS BIGINT) AS v_milli
      FROM events
    ), weighted AS (
      SELECT event_type, b.b, v_milli,
             CAST(((event_id * 64 + b.b) * 48271) % 2147483647 AS DOUBLE)
               / 2147483647 AS u
      FROM ev, generate_series(1, 64) AS b(b)
    ), w AS (
      SELECT event_type, b, v_milli,
             CASE WHEN u < 0.367879441 THEN 0
                  WHEN u < 0.735758882 THEN 1
                  WHEN u < 0.919698603 THEN 2
                  WHEN u < 0.981011843 THEN 3
                  WHEN u < 0.996340153 THEN 4
                  ELSE 5 END AS wt
      FROM weighted
    ), reps AS (
      SELECT event_type, b,
             CAST(SUM(wt * v_milli) AS BIGINT) AS s_wv,
             CAST(SUM(wt) AS BIGINT) AS s_w
      FROM w GROUP BY event_type, b
    ), means AS (
      SELECT event_type, b,
             round(CAST(s_wv AS DOUBLE) / s_w / 1000, 6) AS rep_mean
      FROM reps
    ), ranked AS (
      SELECT event_type, rep_mean,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY rep_mean, b)
               AS rk
      FROM means
    )
    SELECT e.event_type,
           round(CAST(SUM(e.v_milli) AS DOUBLE) / COUNT(*) / 1000, 6)
             AS mean_value,
           MAX(CASE WHEN r.rk = 2 THEN r.rep_mean END) AS ci_lo,
           MAX(CASE WHEN r.rk = 63 THEN r.rep_mean END) AS ci_hi
    FROM ev e JOIN ranked r USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("agg", "statistics", "bootstrap", "resampling"),
)
def q36s_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON-BOOTSTRAP confidence interval for per-group means — the
    resampling form that actually runs at 100 TB: classic bootstrap
    draws n-with-replacement per replicate (B full passes, or a B×
    explode); the Poisson approximation gives every row an independent
    Poisson(1) weight PER REPLICATE, so all B=64 replicates compute in
    ONE corpus pass with |groups|×B aggregation state. The Spark plan
    realizes exactly that: per-row in-row weight ladder (deterministic
    MINSTD uniform → inverse-CDF over the Poisson(1) thresholds,
    pinned as shared 9dp literals — the q36o discipline), then 2×B
    conditional SUM aggregates per group, then discrete rank order
    statistics (ranks 2 and 63 of 64, the q36n convention) for the
    2.5/97.5 band. NO row explosion anywhere on the Spark side; the
    DuckDB oracle is free to unnest because oracle cost is not plan
    cost.

    Determinism: weights derive from ((event_id·64+b)·48271) mod
    2^31−1 — exact BIGINT cross-engine; replicate means divide two
    BIGINTs in one double op, tie-broken by b. At 100 TB the weighted
    partials map-side combine and the per-group state is 128 longs —
    the same footprint as q36's moment sums.
    """
    tune_for_oracle(spark)
    B = 64
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value").cast("double") * 1000, 0)
        .cast("long").alias("v_milli"),
    )
    thresholds = (0.367879441, 0.735758882, 0.919698603, 0.981011843, 0.996340153)

    def wt(b: int) -> F.Column:
        u = (
            ((F.col("event_id") * B + F.lit(b)) * 48271) % 2147483647
        ).cast("double") / F.lit(2147483647)
        w = F.lit(5)
        for k in range(len(thresholds) - 1, -1, -1):
            w = F.when(u < thresholds[k], k).otherwise(w)
        return w.cast("long")

    # 2*B conditional aggregates: per-replicate weighted sum + weight sum
    aggs = []
    for b in range(1, B + 1):
        w = wt(b)
        aggs.append(F.sum(w * F.col("v_milli")).cast("long").alias(f"s_wv_{b}"))
        aggs.append(F.sum(w).cast("long").alias(f"s_w_{b}"))
    reps = ev.groupBy("event_type").agg(
        F.sum("v_milli").cast("long").alias("s_v"),
        F.count("*").cast("long").alias("n"),
        *aggs,
    )
    rep_means = F.array_sort(
        F.array(
            *[
                F.round(
                    F.col(f"s_wv_{b}").cast("double") / F.col(f"s_w_{b}") / 1000, 6
                )
                for b in range(1, B + 1)
            ]
        )
    )
    return reps.select(
        "event_type",
        F.round(F.col("s_v").cast("double") / F.col("n") / 1000, 6)
        .alias("mean_value"),
        rep_means.getItem(1).alias("ci_lo"),
        rep_means.getItem(62).alias("ci_hi"),
    )


@query(
    "q44g_kaplan_meier",
    oracle="""
    WITH subj AS (
      SELECT user_id,
             CAST(floor(date_diff('second', MIN(ts), MAX(ts)) / 60.0)
                  AS BIGINT) AS t_min,
             -- deterministic censoring: users whose LAST event is a
             -- 'view' leave the study without churning
             CASE WHEN (array_agg(event_type ORDER BY ts, event_id))
                       [COUNT(*)::INTEGER] = 'view'
                  THEN 0 ELSE 1 END AS churned
      FROM events GROUP BY user_id
    ),
    times AS (
      SELECT t_min AS t,
             CAST(SUM(churned) AS BIGINT) AS d
      FROM subj GROUP BY t_min
      HAVING SUM(churned) > 0
    ),
    risk AS (
      SELECT t.t, t.d,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM subj s
              WHERE s.t_min >= t.t) AS n
      FROM times t
    ),
    curve AS (
      SELECT arr, generate_series(1, len(arr)) AS ks
      FROM (SELECT list(struct_pack(t := t, d := d, n := n) ORDER BY t) AS arr FROM risk)
    ),
    surv AS (
      SELECT unnest(ks) AS k, arr FROM curve
    )
    SELECT arr[k].t AS t_min, arr[k].n AS n_risk, arr[k].d AS n_events,
           list_reduce(
             list_prepend(1000000::BIGINT,
               list_transform(list_slice(arr, 1, k),
                 e -> 1000000::BIGINT * (e.n - e.d) // e.n)),
             (acc, f) -> acc * f // 1000000) AS survival_micro
    FROM surv ORDER BY t_min
    """,
    tags=("timeseries", "statistics", "survival"),
)
def q44g_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve with right-censoring — the retention
    analysis behind every churn dashboard done correctly: users whose
    observation ends WITHOUT the event (deterministic rule: last event
    is a 'view') are CENSORED — they leave the at-risk set but never
    count as churn, which is exactly what naive retention curves get
    wrong. S(t) = prod_{t_j<=t} (1 − d_j/n_j) over death times.

    Exactness: per-step-truncated integer product in micro-units (the
    q96h fold — factor = 10^6·(n−d)//n, then acc·f//10^6 in event-time
    order), so both engines run the identical recurrence and the curve
    carries a full value-hash oracle — no float cumprod, no exp/sum/
    log. The curve is computed in-row over the |death-times|-bounded
    array (sort_array pins the fold order); per-time prefix folds are
    O(|times|^2) multiplies on a few hundred rows — nothing at any
    scale.

    Scale shape: one groupBy(user) pass builds subjects (the only
    corpus-sized agg, map-side combinable); death times and at-risk
    counts are |times|-bounded (risk counts via one sorted cumulative
    window, not a correlated subquery); the curve itself is one row's
    fold. At 100 TB add a cohort dimension to the subject agg and the
    curve stays per-cohort-bounded.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    w_last = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    subj = (
        ev.withColumn("rn", F.row_number().over(w_last))
        .groupBy("user_id")
        .agg(
            F.floor(
                (
                    F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
                ) / 60.0
            ).cast("long").alias("t_min"),
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("last_type"),
        )
        .select(
            "t_min",
            F.when(F.col("last_type") == "view", 0).otherwise(1).alias("churned"),
        )
    )
    times = (
        subj.groupBy("t_min")
        .agg(F.sum("churned").cast("long").alias("d"),
             F.count("*").cast("long").alias("ending"))
    )
    # at-risk n(t) = subjects with T >= t: suffix sum over the
    # |times|-bounded table (a window, never a correlated subquery)
    w_suffix = W.partitionBy().orderBy(F.col("t_min").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    risk = (
        times.withColumn("n", F.sum("ending").over(w_suffix).cast("long"))
        .filter(F.col("d") > 0)
        .select("t_min", "d", "n")
    )
    one_row = risk.agg(
        F.sort_array(F.collect_list(F.struct("t_min", "d", "n"))).alias("arr")
    )
    M = F.lit(1000000).cast("long")

    def truncmul(acc: F.Column, f: F.Column) -> F.Column:
        prod = acc * f
        return ((prod - prod % M) / M).cast("long")

    curve = one_row.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("arr")),
                lambda k: F.struct(
                    F.element_at("arr", k)["t_min"].alias("t_min"),
                    F.element_at("arr", k)["n"].alias("n_risk"),
                    F.element_at("arr", k)["d"].alias("n_events"),
                    F.aggregate(
                        F.slice("arr", F.lit(1), k),
                        M,
                        lambda acc, e: truncmul(
                            acc,
                            ((M * (e["n"] - e["d"]) - (M * (e["n"] - e["d"])) % e["n"]) / e["n"]).cast("long"),
                        ),
                    ).alias("survival_micro"),
                ),
            )
        ).alias("s")
    )
    return curve.select("s.t_min", "s.n_risk", "s.n_events", "s.survival_micro")


@query(
    "q76c_rendezvous_hashing",
    oracle="""
    WITH keys AS (SELECT c_custkey AS k FROM customer),
    w AS (
      SELECT k,
             list_transform([0,1,2,3,4,5,6,7],
               n -> (((k * 31 + n) * 48271) % 2147483647) * (((k * 31 + n) * 48271) % 2147483647) % 2147483647) AS wa,
             list_transform([0,1,2,4,5,6,7],
               n -> (((k * 31 + n) * 48271) % 2147483647) * (((k * 31 + n) * 48271) % 2147483647) % 2147483647) AS wb
      FROM keys
    ),
    assigned AS (
      SELECT k,
             [0,1,2,3,4,5,6,7][list_position(wa, list_max(wa))] AS node,
             [0,1,2,4,5,6,7][list_position(wb, list_max(wb))] AS node_after
      FROM w
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN node_after <> node THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved_away,
           CAST((SELECT COUNT(*) FROM assigned a2
                 WHERE a2.node_after = assigned.node AND a2.node = 3)
                AS BIGINT) AS n_inherited
    FROM assigned GROUP BY node
    """,
    tags=("partitioning", "hashing", "rendezvous"),
)
def q76c_rendezvous_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENDEZVOUS (highest-random-weight) hashing — the ring-free
    sibling of q76b's consistent-hash ring and the assignment rule
    inside Ceph/caches: each key goes to the node with the highest
    per-(key,node) hash weight. The minimal-movement guarantee is
    MEASURED, not asserted: recompute assignments with node 3 removed
    — n_moved_away must be nonzero ONLY on node 3's row (every other
    key keeps its argmax when a non-winning candidate disappears; the
    hash check would catch a single stray move), and n_inherited shows
    how node 3's keys redistribute ~evenly with no ring segments or
    vnode tables at all.

    Weights are the SQUARED MINSTD mix s^2 mod p, s = (k·31+n)·48271
    mod p — exact BIGINT cross-engine (s^2 < 2^62); the square is
    essential: a bare multiply chain is affine in the node id and
    collapses every argmax onto the same node (measured before the
    fix: 2 of 8 nodes used). Ties for one key require s_a = ±s_b mod
    p; none occur on this keyspace and the hash gate would catch one. The
    per-key work is two in-row argmaxes over 8-element arrays — one
    narrow map, |nodes|-bounded agg; at 100 TB this IS the shuffle-free
    router: assignment never consults any state but the node list.
    """
    tune_for_oracle(spark)
    keys = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )

    def weights(nodes: list[int]) -> F.Column:
        # squared MINSTD step: a single multiply chain is AFFINE in the
        # node id (weights across nodes differ by a constant, collapsing
        # every argmax onto one or two nodes); squaring the intermediate
        # is the cheapest exact-BIGINT nonlinearity (s^2 < 2^62)
        def w(n: int) -> F.Column:
            s = ((F.col("k") * 31 + F.lit(n)) * 48271) % 2147483647
            return (s * s) % 2147483647

        return F.array(*[w(n) for n in nodes])

    all_nodes, after_nodes = [0, 1, 2, 3, 4, 5, 6, 7], [0, 1, 2, 4, 5, 6, 7]

    def argnode(arr_col: str, nodes: list[int]) -> F.Column:
        node_arr = F.array(*[F.lit(n) for n in nodes])
        return F.element_at(
            node_arr, F.array_position(F.col(arr_col), F.array_max(F.col(arr_col))).cast("int")
        )

    assigned = (
        keys.withColumn("wa", weights(all_nodes))
        .withColumn("wb", weights(after_nodes))
        .select(
            "k",
            argnode("wa", all_nodes).alias("node"),
            argnode("wb", after_nodes).alias("node_after"),
        )
    )
    inherited = (
        assigned.filter(F.col("node") == 3)
        .groupBy(F.col("node_after").alias("node"))
        .agg(F.count("*").cast("long").alias("n_inherited"))
    )
    return (
        assigned.groupBy("node")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum(F.when(F.col("node_after") != F.col("node"), 1).otherwise(0))
            .cast("long").alias("n_moved_away"),
        )
        .join(inherited, "node", "left")
        .select(
            F.col("node").cast("long").alias("node"),
            "n_keys",
            "n_moved_away",
            F.coalesce(F.col("n_inherited"), F.lit(0).cast("long"))
            .alias("n_inherited"),
        )
    )


@query(
    "q42i_ewma_control_chart",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 1000, 0) AS BIGINT))
                  // COUNT(*) AS BIGINT) AS m_milli
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(SUM(m_milli) // COUNT(*) AS BIGINT) AS target,
             COUNT(*) AS n_days
      FROM daily GROUP BY event_type
    ),
    vars AS (
      SELECT d.event_type,
             CAST(SUM((d.m_milli - s.target) * (d.m_milli - s.target))
                  // s.n_days AS BIGINT) AS var_milli2
      FROM daily d JOIN stats s USING (event_type)
      GROUP BY d.event_type, s.n_days
    ),
    series AS (
      SELECT d.event_type, s.target, v.var_milli2,
             list(struct_pack(day := d.day, m := d.m_milli)
                  ORDER BY d.day) AS arr
      FROM daily d
      JOIN stats s USING (event_type)
      JOIN vars v ON v.event_type = d.event_type
      GROUP BY d.event_type, s.target, v.var_milli2
    ),
    idx AS (
      SELECT event_type, target, var_milli2, arr,
             unnest(generate_series(1, len(arr))) AS k
      FROM series
    )
    SELECT event_type, arr[k].day AS day, arr[k].m AS day_mean_milli,
           list_reduce(
             list_prepend(target,
               list_transform(list_slice(arr, 1, k), e -> e.m)),
             (z, x) -> (200000 * x + 800000 * z) // 1000000) AS ewma_milli,
           (list_reduce(
              list_prepend(target,
                list_transform(list_slice(arr, 1, k), e -> e.m)),
              (z, x) -> (200000 * x + 800000 * z) // 1000000) - target)
           * (list_reduce(
                list_prepend(target,
                  list_transform(list_slice(arr, 1, k), e -> e.m)),
                (z, x) -> (200000 * x + 800000 * z) // 1000000) - target)
             > var_milli2 AS out_of_control
    FROM idx ORDER BY event_type, day
    """,
    tags=("timeseries", "monitoring", "ewma", "control"),
)
def q42i_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA CONTROL CHART — the drift-sensitive monitoring chart next
    to q42f's CUSUM (CUSUM localizes a single mean shift; EWMA flags
    sustained small drifts online): z_t = λ·x_t + (1−λ)·z_{t−1} over
    per-(event_type, day) means, flagged when z escapes the 3σ_z band.
    λ = 0.2 is chosen to make the chart TRANSCENDENTAL-FREE: the EWMA
    asymptotic variance is σ²·λ/(2−λ) = σ²/9 exactly, so the 3σ_z
    limit is ±σ and the flag is the pure integer comparison
    (z − target)² > σ² — no sqrt ever (the q36o rule).

    The recurrence is the q44g prefix-fold: per-series ordered day
    arrays (|days|-bounded), z in milli-units with shared truncated
    integer steps (200000·x + 800000·z)//10^6, re-derived per point —
    O(|days|²) integer ops on bounded rows. One corpus pass builds the
    daily means (map-side combinable); targets/variances are
    |series|-bounded joins.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr(
                "CAST(div(sum(CAST(round(CAST(value AS DOUBLE) * 1000, 0)"
                " AS BIGINT)), count(*)) AS BIGINT)"
            ).alias("m_milli")
        )
    )
    stats = daily.groupBy("event_type").agg(
        F.expr("CAST(div(sum(m_milli), count(*)) AS BIGINT)").alias("target"),
        F.count("*").alias("n_days"),
    )
    vars_ = (
        daily.join(stats, "event_type")
        .groupBy("event_type", "n_days")
        .agg(
            F.expr(
                "CAST(div(sum((m_milli - target) * (m_milli - target)),"
                " n_days) AS BIGINT)"
            ).alias("var_milli2")
        )
        .drop("n_days")
    )
    series = (
        daily.join(stats.select("event_type", "target"), "event_type")
        .join(vars_, "event_type")
        .groupBy("event_type", "target", "var_milli2")
        .agg(F.sort_array(F.collect_list(F.struct("day", "m_milli"))).alias("arr"))
    )

    def ewma_at(k: F.Column) -> F.Column:
        return F.aggregate(
            F.slice("arr", F.lit(1), k),
            F.col("target"),
            lambda z, e: (
                (
                    (200000 * e["m_milli"] + 800000 * z)
                    - (200000 * e["m_milli"] + 800000 * z) % F.lit(1000000)
                )
                / 1000000
            ).cast("long"),
        )

    curve = series.select(
        "event_type",
        "target",
        "var_milli2",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("arr")),
                lambda k: F.struct(
                    F.element_at("arr", k)["day"].alias("day"),
                    F.element_at("arr", k)["m_milli"].alias("day_mean_milli"),
                    ewma_at(k).alias("ewma_milli"),
                ),
            )
        ).alias("s"),
    )
    return curve.select(
        "event_type",
        "s.day",
        "s.day_mean_milli",
        "s.ewma_milli",
        (
            (F.col("s.ewma_milli") - F.col("target"))
            * (F.col("s.ewma_milli") - F.col("target"))
            > F.col("var_milli2")
        ).alias("out_of_control"),
    )


@query(
    "q46g_cohort_ltv",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ),
    firstm AS (
      SELECT o_custkey, CAST(MIN(mi) AS BIGINT) AS cohort
      FROM o GROUP BY o_custkey
    ),
    sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM firstm GROUP BY cohort
    ),
    rev AS (
      SELECT f.cohort, o.mi - f.cohort AS offset_mi,
             CAST(SUM(o.cents) AS BIGINT) AS rev_cents
      FROM o JOIN firstm f USING (o_custkey)
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, offset_mi,
             CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY offset_mi
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      FROM rev
    )
    SELECT c.cohort, c.offset_mi, s.n_customers,
           round(CAST(c.cum_cents AS DOUBLE) / s.n_customers / 100.0, 6)
             AS ltv_per_customer
    FROM cum c JOIN sizes s USING (cohort)
    ORDER BY c.cohort, c.offset_mi
    """,
    tags=("analytics", "cohort", "timeseries"),
)
def q46g_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LIFETIME-VALUE CURVES — cumulative revenue per customer by
    acquisition cohort and age: the payback-period table q46's retention
    triangle prices out (retention says WHO came back, LTV says what
    coming back was WORTH; the two reports share the same first-touch
    derivation).

    One fact pass keys every order to its customer's first-order month
    (groupBy-MIN + co-partitioned join back on o_custkey), folds to
    exact integer cents per (cohort, age) cell, then the cumulative
    curve is a window over the COHORT x AGE frame (<= 80 x 80 rows,
    calendar-bounded — the q53f bounded-frame class, partitioned by
    cohort so it never single-tasks). LTV divides two exact integers
    once per output row; round(.,6) cross-engine safe.

    100 TB: both fact-sized stages (first-order MIN, cell fold) are
    map-side-combinable and share the customer-key shuffle; everything
    after lives on the calendar grid.
    """
    tune_for_oracle(spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
        ).cast("long").alias("mi"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    firstm = o.groupBy("o_custkey").agg(F.min("mi").cast("long").alias("cohort"))
    sizes = firstm.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_customers")
    )
    rev = (
        o.join(firstm, "o_custkey")
        .groupBy("cohort", (F.col("mi") - F.col("cohort")).alias("offset_mi"))
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    w = W.partitionBy("cohort").orderBy("offset_mi").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = rev.select(
        "cohort",
        "offset_mi",
        F.sum("rev_cents").over(w).cast("long").alias("cum_cents"),
    )
    return (
        cum.join(sizes, "cohort")
        .select(
            "cohort",
            "offset_mi",
            "n_customers",
            F.round(
                F.col("cum_cents").cast("double") / F.col("n_customers") / 100.0,
                6,
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort", "offset_mi")
    )


@query(
    "q46f_rfm_segmentation",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate),
                       (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT monetary_cents,
             NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
      FROM cust
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(monetary_cents) AS DOUBLE) / COUNT(*) / 100, 6)
             AS avg_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    """,
    tags=("analytics", "segmentation", "window"),
)
def q46f_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION — the classic recency/frequency/monetary customer
    scoring (quintile rank each axis, report the 125-cell segment grid).
    Complements the cohort/stickiness family (q46*): those measure
    engagement over time, RFM ranks the CURRENT customer base for
    activation targeting.

    Determinism: monetary folds to integer CENTS before summing
    (order-independent BIGINT), and every NTILE carries the
    o_custkey tiebreak (the module-header window rule) — both engines
    fill remainder buckets front-first, so quintile edges agree
    exactly. Global-max recency anchor is a 1-row broadcast, never a
    driver collect.

    Scale shape: the windows run over the CUSTOMER AGGREGATE, not the
    order fact — at 100 TB the fact table folds map-side to one row
    per customer first, and the three partition-free NTILEs sort the
    dim (1500 rows at sf0.01; ~10M at production — a single-stage
    sort on a dim, not a fact shuffle). If even the dim outgrows one
    stage, the rank-based bucketing swaps for approx-quantile edges;
    the exact-NTILE form here is the oracle-checkable contract.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum("cents").cast("long").alias("monetary_cents"),
    )
    gmax = orders.agg(F.max("o_orderdate").alias("gmax"))
    cust = cust.join(F.broadcast(gmax)).withColumn(
        "recency_days", F.datediff("gmax", "last_order")
    )
    # Quintiles via operators.blocked_ntile — closed-form tile from a
    # blocked global rank, so no axis ever funnels the dim through a
    # single-task NTILE sort (the r9 verdict's "two-level swap", now
    # real code; ordering/tiebreak semantics identical to the NTILE
    # windows this replaces).
    from better_cdc_spark.operators import blocked_ntile

    scored = blocked_ntile(cust, "recency_days", "o_custkey", 5, "r_score")
    scored = blocked_ntile(
        scored, "frequency", "o_custkey", 5, "f_score", descending=True
    )
    scored = blocked_ntile(
        scored, "monetary_cents", "o_custkey", 5, "m_score", descending=True
    ).select("monetary_cents", "r_score", "f_score", "m_score")
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(
            F.sum("monetary_cents").cast("double") / F.count("*") / 100, 6
        ).alias("avg_monetary"),
    ).select(
        F.col("r_score").cast("long"),
        F.col("f_score").cast("long"),
        F.col("m_score").cast("long"),
        "n_customers",
        "avg_monetary",
    )


@query(
    "q47e_market_basket",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM baskets),
    brand_cnt AS (SELECT brand, COUNT(*) AS cnt FROM baskets GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS co_cnt
      FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, CAST(co_cnt AS BIGINT) AS co_cnt,
           round(CAST(co_cnt AS DOUBLE) / n.n_orders, 6) AS support,
           round(CAST(co_cnt AS DOUBLE) / ca.cnt, 6) AS confidence_a_to_b,
           round(CAST(co_cnt AS DOUBLE) * n.n_orders
                 / (CAST(ca.cnt AS DOUBLE) * cb.cnt), 6) AS lift
    FROM pairs
    JOIN brand_cnt ca ON ca.brand = brand_a
    JOIN brand_cnt cb ON cb.brand = brand_b, n
    WHERE co_cnt >= 5
    ORDER BY lift DESC, brand_a, brand_b LIMIT 20
    """,
    tags=("analytics", "association", "join"),
)
def q47e_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET ASSOCIATION RULES — support / confidence / lift over
    brand co-occurrence within an order (Apriori's scoring layer at the
    pair level). The path/funnel family (q47*) mines event SEQUENCES;
    this mines unordered co-purchase structure.

    Determinism: every ratio divides BIGINT-derived doubles in a fixed
    order (CAST each factor before multiplying — the DuckDB
    FLOAT*FLOAT trap), ranking is on the rounded lift with the
    (brand_a, brand_b) lexical tiebreak, so the top-20 cut is
    identical cross-engine.

    Scale shape: pair generation is a SELF-JOIN ON THE ORDER KEY —
    both sides shuffle-partition by okey, so co-candidates meet
    co-located and the fanout per order is bounded by basket size
    (choose-2 of ~4 brands/order), never all-brand-pairs x orders.
    The brand dim (25 rows) and the n_orders scalar broadcast. At
    100 TB this is one fact shuffle + two broadcast joins; a min-
    support pre-filter on brand_cnt would prune the candidate space
    further (Apriori's monotonicity), noted but unnecessary at 25
    brands.
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = baskets.select(F.countDistinct("okey").alias("n_orders"))
    brand_cnt = baskets.groupBy("brand").agg(F.count("*").alias("cnt"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count("*").alias("co_cnt"))
        .filter(F.col("co_cnt") >= 5)
    )
    ca = brand_cnt.select(F.col("brand").alias("brand_a"), F.col("cnt").alias("cnt_a"))
    cb = brand_cnt.select(F.col("brand").alias("brand_b"), F.col("cnt").alias("cnt_b"))
    scored = (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .join(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            F.col("co_cnt").cast("long").alias("co_cnt"),
            F.round(F.col("co_cnt").cast("double") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("co_cnt").cast("double") / F.col("cnt_a"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("co_cnt").cast("double")
                * F.col("n_orders")
                / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "brand_a", "brand_b").limit(20)


@query(
    "q36t_mann_whitney_u",
    oracle="""
    WITH ev AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a,
             CAST(round(CAST(value AS DOUBLE) * 1000, 0) AS BIGINT) AS v
      FROM events WHERE event_type IN ('purchase', 'view')
    ), pv AS (
      SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca,
             CAST(SUM(1 - is_a) AS BIGINT) AS cb
      FROM ev GROUP BY v
    ), cum AS (
      SELECT ca, cb,
             CAST(COALESCE(SUM(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cb_below
      FROM pv
    ), s AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n1, CAST(SUM(cb) AS BIGINT) AS n2,
             CAST(SUM(ca * (2 * cb_below + cb)) AS BIGINT) AS u2,
             CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS BIGINT)
               AS tsum
      FROM cum
    )
    SELECT n1 AS n_a, n2 AS n_b,
           CAST(u2 AS DOUBLE) / 2 AS u_stat,
           CAST(n1 * n2 AS DOUBLE) / 2 AS mu,
           round(sqrt(CAST(n1 * n2 AS DOUBLE)
                 * (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(tsum AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))) / 12), 6)
             AS sigma,
           round((CAST(u2 AS DOUBLE) / 2 - CAST(n1 * n2 AS DOUBLE) / 2)
                 / sqrt(CAST(n1 * n2 AS DOUBLE)
                   * (CAST(n1 + n2 + 1 AS DOUBLE)
                      - CAST(tsum AS DOUBLE)
                        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))) / 12), 6)
             AS z_score
    FROM s
    """,
    tags=("agg", "statistics", "hypothesis-test"),
)
def q36t_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U rank-sum test (purchase vs view event values) — the
    nonparametric complement to q36j's Welch t-test: no normality
    assumption, tie-corrected normal approximation.

    The textbook form ranks ALL N rows — a total sort. This plan uses
    the value-aggregated identity instead: U_A counts pairs (a, b)
    with a > b plus half the ties, so after grouping to per-distinct-
    value counts (ca, cb), U_A = sum(ca * (cb_below + cb_at/2)) — kept
    in HALF-UNITS (u2 = 2U) so every term is exact BIGINT. The tie
    correction sum((t^3 - t)) falls out of the same aggregate. The
    only windows run over the DISTINCT-VALUE frame (3.3k rows here;
    bounded by value cardinality, not corpus size at 100 TB) through
    blocked_cumsum's two-level partial+offset scan — no single-task
    whole-frame window even at extreme value cardinality — then one
    global fold. Variance assembles from BIGINT pieces in one pinned
    double expression (products cast-before-multiply to dodge both
    engines' 64-bit overflow); sqrt is IEEE-exact, z rounded at 6dp.
    """
    tune_for_oracle(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_a"),
            F.round(F.col("value").cast("double") * 1000, 0).cast("long").alias("v"),
        )
    )
    pv = ev.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("ca"),
        F.sum(1 - F.col("is_a")).cast("long").alias("cb"),
    )
    # cb_below via the two-level partial+offset scan (operators.
    # blocked_cumsum): the classic global cumsum window here is a
    # single-task scan of the whole distinct-value frame; blocked, the
    # wide windows carry the range-block id and only the <= n_blocks
    # per-block totals ever see one task.
    from better_cdc_spark.operators import blocked_cumsum

    cum = blocked_cumsum(pv, order_col="v", value_col="cb", out_col="cb_below").select(
        "ca", "cb", "cb_below"
    )
    t = F.col("ca") + F.col("cb")
    s = cum.agg(
        F.sum("ca").cast("long").alias("n1"),
        F.sum("cb").cast("long").alias("n2"),
        F.sum(F.col("ca") * (2 * F.col("cb_below") + F.col("cb")))
        .cast("long")
        .alias("u2"),
        F.sum(t * t * t - t).cast("long").alias("tsum"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    var = (
        (F.col("n1") * F.col("n2")).cast("double")
        * (
            (F.col("n1") + F.col("n2") + 1).cast("double")
            - F.col("tsum").cast("double") / (nd * (F.col("n1") + F.col("n2") - 1))
        )
        / 12
    )
    u = F.col("u2").cast("double") / 2
    mu = (F.col("n1") * F.col("n2")).cast("double") / 2
    return s.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        u.alias("u_stat"),
        mu.alias("mu"),
        F.round(F.sqrt(var), 6).alias("sigma"),
        F.round((u - mu) / F.sqrt(var), 6).alias("z_score"),
    )


@query(
    "q36u_spearman_rho",
    oracle="""
    WITH li AS (
      SELECT l_returnflag AS rf,
             CAST(round(l_quantity * 100, 0) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
      FROM lineitem
    ), xr AS (
      SELECT rf, x, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COALESCE(SUM(COUNT(*)) OVER (PARTITION BY rf ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS below
      FROM li GROUP BY rf, x
    ), yr AS (
      SELECT rf, y, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COALESCE(SUM(COUNT(*)) OVER (PARTITION BY rf ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS below
      FROM li GROUP BY rf, y
    ), ranked AS (
      SELECT li.rf,
             2 * xr.below + xr.c + 1 AS rx2,
             2 * yr.below + yr.c + 1 AS ry2
      FROM li
      JOIN xr ON xr.rf = li.rf AND xr.x = li.x
      JOIN yr ON yr.rf = li.rf AND yr.y = li.y
    ), m AS (
      SELECT rf, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rx2) AS BIGINT) AS sx, CAST(SUM(ry2) AS BIGINT) AS sy,
             CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy,
             CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
             CAST(SUM(ry2 * ry2) AS BIGINT) AS syy
      FROM ranked GROUP BY rf
    )
    SELECT rf AS returnflag, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS spearman_rho
    FROM m ORDER BY returnflag
    """,
    tags=("agg", "statistics", "correlation"),
)
def q36u_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION per return flag (quantity vs extended
    price) — the rank-based robust counterpart to Pearson, computed as
    Pearson on tie-averaged ranks.

    Ranks never sort the fact table: a row's tie-averaged rank depends
    only on its VALUE, so ranks compute on the per-(group, value)
    aggregate (cumsum window over the distinct-value frame) and JOIN
    BACK to rows — the q36t move, applied twice. Ranks are carried in
    DOUBLED units (2*avg_rank = 2*cnt_below + cnt_at + 1) so every
    moment (sum, sum of squares, cross product) is exact BIGINT — a
    per-row product tops out at 4n^2 ~ 1.6e11 at sf0.1, far inside
    64-bit. The rho assembly casts each factor to DOUBLE before
    multiplying (n*sxy overflows BIGINT at sf0.1) in one pinned
    expression order, so both engines round identically; Pearson-on-
    ranks is invariant under the x -> 2x rank transform.

    100 TB: the value-frame cumsums run through operators.blocked_cumsum
    — the two-level partial+offset scan: within-block windows carry the
    range-block id in their partition spec (parallel across groups x
    blocks), and the only group-wide window scans the per-block TOTALS
    frame (<= n_blocks rows per group, never value-frame-sized). The
    join-back shuffles on (group, value), co-partitioned with the
    aggregate that produced the frame.
    """
    from better_cdc_spark.operators import blocked_cumsum

    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )

    def rank_frame(col: str):
        pv = li.groupBy("rf", col).agg(F.count("*").cast("long").alias("c"))
        cum = blocked_cumsum(
            pv, order_col=col, value_col="c", out_col="below", part_cols=("rf",)
        )
        return cum.select(
            "rf", col, (2 * F.col("below") + F.col("c") + 1).alias(f"r{col}2")
        )

    ranked = li.join(rank_frame("x"), ["rf", "x"]).join(rank_frame("y"), ["rf", "y"])
    m = ranked.groupBy("rf").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("ry2").cast("long").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    return m.select(
        F.col("rf").alias("returnflag"), "n", F.round(num / den, 6).alias("spearman_rho")
    ).orderBy("returnflag")


@query(
    "q36w_kendall_tau",
    oracle="""
    WITH li AS (
      SELECT l_returnflag AS rf,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_discount * 100, 0) AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT rf, x, y, CAST(COUNT(*) AS BIGINT) AS c
      FROM li GROUP BY rf, x, y
    ),
    conc AS (
      SELECT a.rf,
             CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                           THEN a.c * b.c ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                           THEN a.c * b.c ELSE 0 END) AS BIGINT) AS nd
      FROM cells a JOIN cells b USING (rf)
      GROUP BY a.rf
    ),
    xm AS (
      SELECT rf, CAST(SUM(cx * (cx - 1) / 2) AS BIGINT) AS n1
      FROM (SELECT rf, x, CAST(SUM(c) AS BIGINT) AS cx
            FROM cells GROUP BY rf, x)
      GROUP BY rf
    ),
    ym AS (
      SELECT rf, CAST(SUM(cy * (cy - 1) / 2) AS BIGINT) AS n2
      FROM (SELECT rf, y, CAST(SUM(c) AS BIGINT) AS cy
            FROM cells GROUP BY rf, y)
      GROUP BY rf
    ),
    tot AS (
      SELECT rf, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY rf
    )
    SELECT tot.rf AS returnflag, tot.n,
           conc.nc AS n_concordant, conc.nd AS n_discordant,
           round((CAST(conc.nc AS DOUBLE) - CAST(conc.nd AS DOUBLE))
                 / sqrt((CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2
                         - CAST(xm.n1 AS DOUBLE))
                        * (CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2
                           - CAST(ym.n2 AS DOUBLE))), 6) AS kendall_tau_b
    FROM tot
    JOIN conc USING (rf) JOIN xm USING (rf) JOIN ym USING (rf)
    ORDER BY returnflag
    """,
    tags=("agg", "statistics", "correlation"),
)
def q36w_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S TAU-B per return flag (quantity vs discount) — the
    third rank-correlation next to Pearson (q36) and Spearman (q36u):
    a pure concordance probability, the most robust of the three and
    the one with a direct probabilistic reading (P(concordant) -
    P(discordant)).

    The textbook form enumerates n(n-1)/2 row pairs — quadratic in the
    FACT table. Concordance only depends on VALUES, so the algebra
    lifts to the joint distribution: aggregate to per-(group, x, y)
    cells, then count concordant/discordant pairs on a cells x cells
    equi-join keyed on the group with the (>,>)/(>,<) residual — cost
    |cells|^2 per group, where |cells| <= 50 quantities x 11 discount
    ticks = 550 here, BOUNDED BY THE VALUE GRID, never the corpus (the
    q36t/q36u value-frame discipline applied to a 2-D statistic). The
    tie terms n1/n2 fall out of the cell margins; every count is exact
    BIGINT and tau_b assembles in one pinned double expression
    (factors cast before multiply), so round(.,6) is cross-engine
    safe.

    100 TB: one map-side-combinable fact aggregate (rf, x, y), then
    all joins run on frames bounded by the value grid. A high-
    cardinality axis first quantizes into ticks (documented dial, same
    move as q36k's histogram bins).
    """
    tune_for_oracle(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("y"),
    )
    cells = li.groupBy("rf", "x", "y").agg(F.count("*").cast("long").alias("c"))
    a = cells.select("rf", F.col("x").alias("xa"), F.col("y").alias("ya"),
                     F.col("c").alias("ca"))
    b = cells.select("rf", F.col("x").alias("xb"), F.col("y").alias("yb"),
                     F.col("c").alias("cb"))
    conc = (
        a.join(b, "rf")
        .groupBy("rf")
        .agg(
            F.sum(
                F.when((F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")),
                       F.col("ca") * F.col("cb")).otherwise(F.lit(0))
            ).cast("long").alias("nc"),
            F.sum(
                F.when((F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")),
                       F.col("ca") * F.col("cb")).otherwise(F.lit(0))
            ).cast("long").alias("nd"),
        )
    )
    xm = (
        cells.groupBy("rf", "x").agg(F.sum("c").cast("long").alias("cx"))
        .groupBy("rf")
        .agg(F.sum(F.col("cx") * (F.col("cx") - 1) / 2).cast("long").alias("n1"))
    )
    ym = (
        cells.groupBy("rf", "y").agg(F.sum("c").cast("long").alias("cy"))
        .groupBy("rf")
        .agg(F.sum(F.col("cy") * (F.col("cy") - 1) / 2).cast("long").alias("n2"))
    )
    tot = cells.groupBy("rf").agg(F.sum("c").cast("long").alias("n"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n0 = d("n") * (F.col("n") - 1).cast("double") / 2
    tau = (d("nc") - d("nd")) / F.sqrt((n0 - d("n1")) * (n0 - d("n2")))
    return (
        tot.join(conc, "rf").join(xm, "rf").join(ym, "rf")
        .select(
            F.col("rf").alias("returnflag"),
            "n",
            F.col("nc").alias("n_concordant"),
            F.col("nd").alias("n_discordant"),
            F.round(tau, 6).alias("kendall_tau_b"),
        )
        .orderBy("returnflag")
    )


@query(
    "q53e_theil_sen_slope",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ), p AS (
      SELECT a.mi AS i, b.mi AS j,
             (CAST(b.rev AS DOUBLE) - a.rev) / (b.mi - a.mi) AS slope
      FROM m a JOIN m b ON b.mi > a.mi
    ), r AS (
      SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, i, j) AS rk,
             COUNT(*) OVER () AS cnt
      FROM p
    ), ols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(mi) AS BIGINT) AS sm,
             CAST(SUM(rev) AS BIGINT) AS sr,
             CAST(SUM(mi * rev) AS BIGINT) AS smr,
             CAST(SUM(mi * mi) AS BIGINT) AS smm
      FROM m
    )
    SELECT ols.n AS n_months,
           CAST(MAX(r.cnt) AS BIGINT) AS n_pairs,
           round((MAX(CASE WHEN rk = (cnt + 1) // 2 THEN slope END)
                  + MAX(CASE WHEN rk = (cnt + 2) // 2 THEN slope END)) / 2, 6)
             AS theil_sen_slope,
           round((CAST(ols.n AS DOUBLE) * ols.smr
                  - CAST(ols.sm AS DOUBLE) * ols.sr)
                 / (CAST(ols.n AS DOUBLE) * ols.smm
                    - CAST(ols.sm AS DOUBLE) * ols.sm), 6) AS ols_slope
    FROM r, ols GROUP BY ols.n, ols.sm, ols.sr, ols.smr, ols.smm
    """,
    tags=("agg", "statistics", "robust", "timeseries"),
)
def q53e_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN ROBUST SLOPE of the monthly revenue trend — median of all
    pairwise slopes (breakdown point 29%), reported next to the OLS
    slope so the gap reads as outlier pressure.

    The O(n^2) pair join runs on the MONTH AGGREGATE (80 points ->
    3160 pairs), never the order fact: at 100 TB the fact folds
    map-side to one BIGINT cents row per month first, and the pair
    frame stays tiny for any calendar-bounded series. Slopes divide
    exact BIGINTs (deterministic doubles); the median is explicit
    discrete order statistics (ranks (n+1)//2 and (n+2)//2, slope +
    (i, j) tiebreak — the q36n convention, never interpolated
    quantiles). OLS assembles from exact BIGINT moments in one pinned
    double expression.
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).alias("mi"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    a = m.alias("a")
    b = m.alias("b")
    p = a.join(F.broadcast(b), F.col("b.mi") > F.col("a.mi")).select(
        F.col("a.mi").alias("i"),
        F.col("b.mi").alias("j"),
        (
            (F.col("b.rev").cast("double") - F.col("a.rev"))
            / (F.col("b.mi") - F.col("a.mi"))
        ).alias("slope"),
    )
    r = p.select(
        "slope",
        F.row_number().over(W.orderBy("slope", "i", "j")).alias("rk"),
        F.count("*").over(W.partitionBy()).alias("cnt"),
    )
    ols = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("mi").cast("long").alias("sm"),
        F.sum("rev").cast("long").alias("sr"),
        F.sum(F.col("mi") * F.col("rev")).cast("long").alias("smr"),
        F.sum(F.col("mi") * F.col("mi")).cast("long").alias("smm"),
    )
    lo = F.expr("(cnt + 1) div 2")
    hi = F.expr("(cnt + 2) div 2")
    med = r.agg(
        F.max(F.col("cnt")).cast("long").alias("n_pairs"),
        F.round(
            (
                F.max(F.when(F.col("rk") == lo, F.col("slope")))
                + F.max(F.when(F.col("rk") == hi, F.col("slope")))
            )
            / 2,
            6,
        ).alias("theil_sen_slope"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return med.join(F.broadcast(ols)).select(
        F.col("n").alias("n_months"),
        "n_pairs",
        "theil_sen_slope",
        F.round(
            (d("n") * F.col("smr") - d("sm") * F.col("sr"))
            / (d("n") * F.col("smm") - d("sm") * F.col("sm")),
            6,
        ).alias("ols_slope"),
    )


@query(
    "q42j_holt_linear_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 1000, 0) AS BIGINT))
                  AS DOUBLE) / COUNT(*) / 1000 AS y
      FROM events GROUP BY 1, 2
    ), series AS (
      SELECT event_type, array_agg(y ORDER BY day) AS ys,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    ), folded AS (
      SELECT event_type, n_days,
             list_reduce(
               list_concat([[ys[1], ys[2] - ys[1]]],
                           list_transform(list_slice(ys, 2, length(ys)),
                                          t -> [t, 0.0])),
               (acc, x) -> [(x[1] + acc[1] + acc[2]) / 2,
                            ((x[1] + acc[1] + acc[2]) / 2 - acc[1]
                             + 3 * acc[2]) / 4]) AS st
      FROM series
    )
    SELECT event_type, n_days,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round(st[1] + st[2], 6) AS forecast_next
    FROM folded ORDER BY event_type
    """,
    tags=("timeseries", "smoothing", "fold"),
)
def q42j_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR-TREND double exponential smoothing per event type
    (alpha=1/2, beta=1/4) over the daily mean-value series — the trend-
    aware upgrade of q42d's EWMA; forecast_next = level + trend is the
    one-step-ahead prediction a capacity planner reads.

    The recurrence is inherently sequential PER KEY, so it runs as an
    in-row fold over the collected per-key day series (F.aggregate /
    seeded list_reduce — the q96h/q42g integer-recurrence discipline,
    here on doubles): both engines execute the IDENTICAL left-fold op
    sequence on identical inputs (daily means divide a BIGINT milli
    sum by a count), so every IEEE intermediate matches bit-for-bit —
    alpha/beta are dyadic so each step is two exact halvings plus one
    quartering. Seed (l, b) = (y_1, y_2 - y_1) rides as the fold's
    first element (DuckDB's list_reduce has no init parameter).

    100 TB: state is 2 doubles per key and the series collects AFTER
    a (key, day) pre-aggregation — array length is calendar-bounded
    (365/yr), not row-bounded; keys distribute freely. The streaming
    twin would carry (l, b) in applyInPandasWithState; this batch form
    is the oracle-checkable contract.
    """
    tune_for_oracle(spark)
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            (
                F.sum(
                    F.round(F.col("value").cast("double") * 1000, 0).cast("long")
                ).cast("double")
                / F.count("*")
                / 1000
            ).alias("y")
        )
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
        ).alias("ys"),
        F.count("*").cast("long").alias("n_days"),
    )
    init = F.struct(
        F.element_at("ys", 1).alias("l"),
        (F.element_at("ys", 2) - F.element_at("ys", 1)).alias("b"),
    )
    folded = series.select(
        "event_type",
        "n_days",
        F.aggregate(
            F.slice(F.col("ys"), 2, F.size("ys") - 1),
            init,
            lambda acc, x: F.struct(
                ((x + acc["l"] + acc["b"]) / 2).alias("l"),
                (((x + acc["l"] + acc["b"]) / 2 - acc["l"] + 3 * acc["b"]) / 4).alias(
                    "b"
                ),
            ),
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.col("st.l") + F.col("st.b"), 6).alias("forecast_next"),
    ).orderBy("event_type")


@query(
    "q42k_classical_decompose",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT mi, x,
             CAST(SUM(x) OVER (ORDER BY mi
               ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS BIGINT) AS w1,
             CAST(SUM(x) OVER (ORDER BY mi
               ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS BIGINT) AS w2,
             COUNT(*) OVER (ORDER BY mi
               ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS c13,
             CAST(MAX(mi) OVER () + 1 AS BIGINT) AS n
      FROM m
    ),
    det AS (
      SELECT mi, x, n, (n - 12) // 12 AS k,
             w1 + w2 AS num24,
             24 * x - (w1 + w2) AS det24,
             mi % 12 AS moy
      FROM w
      WHERE c13 = 13 AND mi >= 6 AND mi < 6 + 12 * ((n - 12) // 12)
    ),
    seas AS (
      SELECT moy, CAST(SUM(det24) AS BIGINT) AS s_m FROM det GROUP BY moy
    ),
    tot AS (SELECT CAST(SUM(det24) AS BIGINT) AS t FROM det)
    SELECT det.mi,
           det.x AS revenue_cents,
           round(CAST(det.num24 AS DOUBLE) / 2400.0, 6) AS trend,
           round(CAST(12 * seas.s_m - tot.t AS DOUBLE)
                 / (CAST(12 * det.k AS DOUBLE) * 2400.0), 6) AS seasonal,
           round(CAST(12 * det.k * det.det24 - (12 * seas.s_m - tot.t)
                      AS DOUBLE)
                 / (CAST(12 * det.k AS DOUBLE) * 2400.0), 6) AS remainder
    FROM det JOIN seas USING (moy) CROSS JOIN tot
    ORDER BY det.mi
    """,
    tags=("window", "timeseries", "decomposition"),
)
def q42k_classical_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL SEASONAL DECOMPOSITION of monthly revenue (the additive
    trend + seasonal + remainder split behind every STL dashboard) —
    completes the time-series family: q42j fits the trend recurrence,
    q42h scores seasonality strength, THIS query separates the
    components.

    Exact-integer construction end to end: the centered 12-month moving
    average for an even period is (x[t-6] + 2*sum(x[t-5..t+5]) +
    x[t+6])/24, whose numerator is the SUM OF TWO 12-ROW SLIDING SUMS
    (frames [-6,+5] and [-5,+6]) — exact BIGINT cents, one division at
    the edge. Detrended values stay in 24ths-of-a-cent integers; the
    window trims to FULL seasonal years (K = (n-12)//12 of them), so
    every month-of-year has exactly K detrended points and the centered
    seasonal component is the exact rational (12*s_m - T)/(12K) in the
    same integer units — remainder likewise, so every output is ONE
    pinned double division of exact BIGINTs and round(.,6) is
    cross-engine safe. No transcendental, no float accumulation.

    Scale shape: the only fact-sized op is the per-month cents fold
    (map-side combinable); every window runs over the MONTH frame
    (n~80 rows here, bounded by calendar span at any corpus size — the
    q53f bounded-frame class), and the seasonal join keys on the
    12-value month-of-year."""
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("mi"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(F.sum("cents").cast("long").alias("x"))
    )
    w1 = W.orderBy("mi").rowsBetween(-6, 5)
    w2 = W.orderBy("mi").rowsBetween(-5, 6)
    w13 = W.orderBy("mi").rowsBetween(-6, 6)
    wn = W.orderBy("mi").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    wd = m.select(
        "mi",
        "x",
        F.sum("x").over(w1).cast("long").alias("w1"),
        F.sum("x").over(w2).cast("long").alias("w2"),
        F.count("*").over(w13).alias("c13"),
        (F.max("mi").over(wn) + 1).cast("long").alias("n"),
    )
    det = (
        wd.filter(
            (F.col("c13") == 13)
            & (F.col("mi") >= 6)
            & (F.col("mi") < 6 + 12 * F.floor((F.col("n") - 12) / 12))
        )
        .select(
            "mi",
            "x",
            F.floor((F.col("n") - 12) / 12).cast("long").alias("k"),
            (F.col("w1") + F.col("w2")).alias("num24"),
            (24 * F.col("x") - (F.col("w1") + F.col("w2"))).alias("det24"),
            (F.col("mi") % 12).alias("moy"),
        )
    )
    seas = det.groupBy("moy").agg(F.sum("det24").cast("long").alias("s_m"))
    tot = det.agg(F.sum("det24").cast("long").alias("t"))
    out = det.join(seas, "moy").crossJoin(F.broadcast(tot))
    denom = (12 * F.col("k")).cast("double") * F.lit(2400.0)
    snum = (12 * F.col("s_m") - F.col("t")).cast("long")
    return out.select(
        "mi",
        F.col("x").alias("revenue_cents"),
        F.round(F.col("num24").cast("double") / 2400.0, 6).alias("trend"),
        F.round(snum.cast("double") / denom, 6).alias("seasonal"),
        F.round(
            (12 * F.col("k") * F.col("det24") - snum).cast("double") / denom, 6
        ).alias("remainder"),
    ).orderBy("mi")


@query(
    "q44h_nelson_aalen",
    oracle="""
    WITH subj AS (
      SELECT CAST(floor(date_diff('second', MIN(ts), MAX(ts)) / 60.0)
                  AS BIGINT) AS t_min,
             CASE WHEN (array_agg(event_type ORDER BY ts, event_id))
                       [COUNT(*)::INTEGER] = 'view'
                  THEN 0 ELSE 1 END AS churned
      FROM events GROUP BY user_id
    ),
    times AS (
      SELECT t_min AS t, CAST(SUM(churned) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS ending
      FROM subj GROUP BY t_min
    ),
    risk AS (
      SELECT t, d,
             CAST(SUM(ending) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n
      FROM times
    )
    SELECT t AS t_min, n AS n_risk, d AS n_events,
           CAST(SUM(1000000 * d // n) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS hazard_micro
    FROM risk WHERE d > 0 ORDER BY t_min
    """,
    tags=("timeseries", "statistics", "survival"),
)
def q44h_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative hazard — the additive companion to
    q44g's Kaplan-Meier product curve, on the SAME right-censored
    cohort (identical subject/censoring derivation): H(t) =
    sum_{t_j <= t} d_j / n_j. Where KM answers "what fraction
    survives", the hazard slope answers "is churn risk accelerating",
    and because it is a SUM, no fold is needed at all.

    Exactness: each increment is the truncated integer 10^6*d // n;
    the curve is one ordered cumsum window over the |death-times|-
    bounded risk frame — additivity makes this strictly simpler than
    KM's per-step-truncated product. At-risk counts come from the
    suffix-sum window (never a correlated subquery). Same 100 TB
    shape as q44g: one map-side-combinable groupBy(user), then
    everything is |times|-bounded.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    w_last = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    subj = (
        ev.withColumn("rn", F.row_number().over(w_last))
        .groupBy("user_id")
        .agg(
            F.floor(
                (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
                / 60.0
            ).cast("long").alias("t_min"),
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("last_type"),
        )
        .select(
            "t_min",
            F.when(F.col("last_type") == "view", 0).otherwise(1).alias("churned"),
        )
    )
    times = subj.groupBy("t_min").agg(
        F.sum("churned").cast("long").alias("d"),
        F.count("*").cast("long").alias("ending"),
    )
    w_suffix = W.partitionBy().orderBy(F.col("t_min").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_cum = W.partitionBy().orderBy("t_min").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    term = F.expr("1000000 * d div n")
    return (
        times.withColumn("n", F.sum("ending").over(w_suffix).cast("long"))
        .filter(F.col("d") > 0)
        .select(
            F.col("t_min"),
            F.col("n").alias("n_risk"),
            F.col("d").alias("n_events"),
            F.sum(term).over(w_cum).cast("long").alias("hazard_micro"),
        )
        .orderBy("t_min")
    )


@query(
    "q53f_lorenz_curve",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT cents, NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM cust
    ), dec AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS dc
      FROM scored GROUP BY decile
    ), tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM cust)
    SELECT CAST(decile AS BIGINT) AS decile, n_customers,
           round(CAST(dc AS DOUBLE) / t, 6) AS decile_share,
           round(CAST(SUM(dc) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / t, 6) AS cum_share
    FROM dec, tot ORDER BY decile
    """,
    tags=("analytics", "inequality", "window"),
)
def q53f_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE by customer revenue decile — the distribution
    behind q53d's Gini scalar: cumulative revenue share of the
    poorest k/10 of customers. The pair reads together (Gini = 1 -
    2*area under this curve); reporting the 10 curve points is what
    lets a revenue team SEE the concentration, not just score it.

    Determinism: integer-cents sums, custkey-tiebroken NTILE (the
    q46f discipline), each share one pinned double division of exact
    BIGINTs. Scale: the only fact-sized op is the per-customer cents
    fold (map-side combinable); the NTILE sorts the customer DIM and
    the curve is a 10-row window.
    """
    tune_for_oracle(spark)
    cust = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    from better_cdc_spark.operators import blocked_ntile

    # decile via blocked_ntile (closed-form tile over a blocked global
    # rank) — same order/tiebreak as the NTILE window it replaces, no
    # single-task dim sort (q46f discipline, r10 two-level swap)
    scored = blocked_ntile(cust, "cents", "o_custkey", 10, "decile").select(
        "cents", "decile"
    )
    dec = scored.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("dc"),
    )
    tot = cust.agg(F.sum("cents").cast("long").alias("t"))
    w_cum = W.partitionBy().orderBy("decile").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        dec.join(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            F.round(F.col("dc").cast("double") / F.col("t"), 6).alias(
                "decile_share"
            ),
            F.round(
                F.sum("dc").over(w_cum).cast("double") / F.col("t"), 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


@query(
    "q53g_acf_correlogram",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               // 100000 AS x
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT b.mi - a.mi AS lag, a.x AS x, b.x AS y
      FROM m a JOIN m b ON b.mi > a.mi AND b.mi - a.mi <= 12
    ),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n_pairs,
           round((CAST(n_pairs AS DOUBLE) * sxy
                  - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n_pairs AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n_pairs AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6) AS acf
    FROM s ORDER BY lag
    """,
    tags=("agg", "statistics", "timeseries"),
)
def q53g_acf_correlogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION CORRELOGRAM of monthly revenue at lags 1..12 —
    the model-identification plot q36r's single lag-1 number is a slice
    of: a slow-decaying ACF says trend (difference first), a spike at
    lag 12 says annual seasonality (q42k's decomposition applies), all
    lags inside the noise band says don't fit anything.

    Per-lag Pearson in the six-exact-sums computational form (the q36r
    convention): the month series folds to exact KILOdollar integers
    (cents summed exactly first, one integer division — deterministic
    floor both engines), lagged pairs come from ONE self-equi-join of
    the 80-row month frame against its +lag probe (explode of a 12-long
    sequence, equi-join on the probed index, never a range-scan
    product), and each lag's sums stay far inside BIGINT (x ~ 5e5 kilo-
    dollars at sf0.1 -> sxx ~ 2e13). One pinned double assembly per
    lag; IEEE sqrt is correctly rounded, so round(.,6) is cross-engine
    safe.

    Scale shape: the only fact-sized op is the per-month cents fold
    (map-side combinable). Everything after runs on the months x lags
    frame — bounded by calendar span, never corpus size.
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("mi"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) div 100000").alias("x"))
    )
    a = m.select(
        "mi",
        F.col("x"),
        F.explode(F.sequence(F.lit(1), F.lit(12))).alias("lag"),
    ).select("lag", "x", (F.col("mi") + F.col("lag")).alias("probe"))
    b = m.select(F.col("mi").alias("probe"), F.col("x").alias("y"))
    s = (
        a.join(b, "probe")
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nd = d("n_pairs")
    acf = (nd * F.col("sxy") - d("sx") * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - d("sx") * F.col("sx"))
        * (nd * F.col("syy") - d("sy") * F.col("sy"))
    )
    return s.select("lag", "n_pairs", F.round(acf, 6).alias("acf")).orderBy("lag")


@query(
    "q36y_hodges_lehmann",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    walsh AS (
      SELECT a.mi AS i, b.mi AS j, a.x + b.x AS s2
      FROM m a JOIN m b ON b.mi >= a.mi
    ),
    r AS (
      SELECT s2, ROW_NUMBER() OVER (ORDER BY s2, i, j) AS rk,
             COUNT(*) OVER () AS cnt
      FROM walsh
    ),
    hl AS (
      SELECT CAST(MAX(cnt) AS BIGINT) AS n_pairs,
             CAST(MAX(CASE WHEN rk = (cnt + 1) // 2 THEN s2 END) AS BIGINT)
               AS lo2,
             CAST(MAX(CASE WHEN rk = (cnt + 2) // 2 THEN s2 END) AS BIGINT)
               AS hi2
      FROM r
    ),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
                  CAST(SUM(x) AS BIGINT) AS sx FROM m)
    SELECT mm.n_months, hl.n_pairs,
           round((CAST(hl.lo2 AS DOUBLE) + hl.hi2) / 400.0, 6)
             AS hl_estimator,
           round(CAST(mm.sx AS DOUBLE) / mm.n_months / 100.0, 6) AS mean
    FROM hl, mm
    """,
    tags=("agg", "statistics", "robust"),
)
def q36y_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HODGES-LEHMANN pseudo-median of monthly revenue — the location
    estimator dual to q53e's Theil-Sen slope (median of pairwise Walsh
    AVERAGES instead of pairwise slopes): 29% breakdown point, ~0.96
    efficiency under normality, the number a robust dashboard quotes
    instead of the mean when months can be broken.

    Walsh sums (x_i + x_j, i <= j) stay exact BIGINT cents (the /2
    deferred to the single output division); the median of the 3240
    sums is a DISCRETE two-rank selection (row_number with (s, i, j)
    tiebreak — interpolation-free, so cross-engine bit-safe), averaged
    via (lo + hi)/400.0 into dollars in one pinned division. The mean
    rides along as the fragility contrast.

    Scale shape: the only fact-sized op is the per-month cents fold;
    the O(n^2) Walsh frame lives on the CALENDAR aggregate (80 rows ->
    3240 pairs) — the q53e discipline verbatim.
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("mi"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(F.sum("cents").cast("long").alias("x"))
    )
    a = m.select(F.col("mi").alias("i"), F.col("x").alias("xa"))
    b = m.select(F.col("mi").alias("j"), F.col("x").alias("xb"))
    walsh = a.join(b, F.col("j") >= F.col("i")).select(
        "i", "j", (F.col("xa") + F.col("xb")).alias("s2")
    )
    w = W.orderBy("s2", "i", "j")
    r = walsh.select(
        "s2",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("cnt"),
    )
    hl = r.agg(
        F.max("cnt").cast("long").alias("n_pairs"),
        F.max(
            F.when(F.col("rk") == F.floor((F.col("cnt") + 1) / 2), F.col("s2"))
        ).cast("long").alias("lo2"),
        F.max(
            F.when(F.col("rk") == F.floor((F.col("cnt") + 2) / 2), F.col("s2"))
        ).cast("long").alias("hi2"),
    )
    mm = m.agg(
        F.count("*").cast("long").alias("n_months"),
        F.sum("x").cast("long").alias("sx"),
    )
    return hl.crossJoin(F.broadcast(mm)).select(
        "n_months",
        "n_pairs",
        F.round((F.col("lo2").cast("double") + F.col("hi2")) / 400.0, 6).alias(
            "hl_estimator"
        ),
        F.round(
            F.col("sx").cast("double") / F.col("n_months") / 100.0, 6
        ).alias("mean"),
    )


@query(
    "q53h_mann_kendall_trend",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.mi % 12 AS moy,
             CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
      FROM m a JOIN m b ON b.mi % 12 = a.mi % 12 AND b.mi > a.mi
    ),
    s AS (SELECT CAST(SUM(sg) AS BIGINT) AS s_stat FROM pairs),
    seas AS (
      SELECT mi % 12 AS moy, CAST(COUNT(*) AS BIGINT) AS nm
      FROM m GROUP BY 1
    ),
    v AS (
      SELECT CAST(SUM(nm * (nm - 1) * (2 * nm + 5)) AS BIGINT) AS v18
      FROM seas
    ),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM m)
    SELECT mm.n_months, s.s_stat,
           round(CAST(v.v18 AS DOUBLE) / 18.0, 6) AS var_s,
           round((CAST(s.s_stat AS DOUBLE)
                  - CASE WHEN s.s_stat > 0 THEN 1
                         WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt(CAST(v.v18 AS DOUBLE) / 18.0), 6) AS z_score
    FROM s, v, mm
    """,
    tags=("agg", "statistics", "timeseries", "robust"),
)
def q53h_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL MANN-KENDALL trend test on monthly revenue — the
    nonparametric significance test that PAIRS with q53e's Theil-Sen
    slope in practice (MK says WHETHER a monotone trend exists, the
    Theil-Sen median says HOW STEEP): sign-based, so outlier months
    cannot manufacture or hide a trend, and the seasonal form compares
    only like months (Jan vs Jan), so annual cycles don't masquerade
    as trend.

    S = sum of sign(x_j - x_i) over same-season pairs — exact integer
    from an equi-join of the month frame ON THE SEASON KEY (moy) with
    the mi > mi residual; per-season counts give the no-ties variance
    18*Var = sum n(n-1)(2n+5) as one BIGINT (revenue cents never tie
    at these scales; the tie-corrected subtraction is the documented
    extension). The continuity-corrected Z assembles in one pinned
    expression; IEEE sqrt keeps round(.,6) cross-engine safe.

    Scale shape: one map-side-combinable fact fold, then a
    calendar-bounded season join (~250 pairs) — the q53e/q36y
    discipline; seasons never touch the corpus again.
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("mi"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(F.sum("cents").cast("long").alias("x"))
        .withColumn("moy", F.col("mi") % 12)
    )
    a = m.select("moy", F.col("mi").alias("ia"), F.col("x").alias("xa"))
    b = m.select("moy", F.col("mi").alias("ib"), F.col("x").alias("xb"))
    sg = (
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, "moy")
        .filter(F.col("ib") > F.col("ia"))
        .agg(F.sum(sg).cast("long").alias("s_stat"))
    )
    v = (
        m.groupBy("moy")
        .agg(F.count("*").cast("long").alias("nm"))
        .agg(
            F.sum(F.col("nm") * (F.col("nm") - 1) * (2 * F.col("nm") + 5))
            .cast("long")
            .alias("v18")
        )
    )
    mm = m.agg(F.count("*").cast("long").alias("n_months"))
    out = s.crossJoin(F.broadcast(v)).crossJoin(F.broadcast(mm))
    sd = F.col("s_stat").cast("double")
    corr = (
        F.when(F.col("s_stat") > 0, 1.0)
        .when(F.col("s_stat") < 0, -1.0)
        .otherwise(0.0)
    )
    var_s = F.col("v18").cast("double") / 18.0
    return out.select(
        "n_months",
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round((sd - corr) / F.sqrt(var_s), 6).alias("z_score"),
    )


@query(
    "q36z_anova_f",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS x
      FROM events
    ),
    pg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss,
             CAST(SUM(x) * SUM(x) // COUNT(*) AS BIGINT) AS term
      FROM v GROUP BY g
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS s,
             CAST(SUM(ss) AS BIGINT) AS ss,
             CAST(SUM(term) AS BIGINT) AS sumterm
      FROM pg
    )
    SELECT k AS n_groups, n AS n_rows,
           sumterm - s * s // n AS ssb_int,
           ss - sumterm AS ssw_int,
           round((CAST(sumterm - s * s // n AS DOUBLE) / (k - 1))
                 / (CAST(ss - sumterm AS DOUBLE) / (n - k)), 6) AS f_stat
    FROM tot
    """,
    tags=("agg", "statistics",),
)
def q36z_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA F across event types (does mean event value differ
    by type?) — the k-group generalization completing the comparison
    ladder: q36j Welch t (2 groups, unequal variance), q36t
    Mann-Whitney (2 groups, rank-based), THIS (k groups, classical F).

    Exactness by the q36v truncated-integer identity: values floor to
    whole units, per-group s^2/n terms and the grand S^2/N truncate via
    integer division — so SSB and SSW are DEFINED BIGINTs (truncation
    is part of the statistic's contract, not fp drift; a naive double
    term-sum over the group frame is not hashable because SSB is a
    catastrophic cancellation of group-order-dependent ulps). One
    pinned double expression finishes F; round(.,6) cross-engine safe.
    Integer headroom: s^2 <= ~2e16 at sf0.1 (documented through ~sf1 at
    this value range — the q42f overflow-note convention).

    Scale: one map-side-combinable pass builds every moment; the group
    frame (k rows) is the only post-agg state.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value")).cast("long").alias("x"),
    )
    pg = v.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
        F.expr("CAST(sum(x) * sum(x) div count(*) AS BIGINT)").alias("term"),
    )
    tot = pg.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.sum("ss").cast("long").alias("ss"),
        F.sum("term").cast("long").alias("sumterm"),
    )
    ssb = F.col("sumterm") - F.expr("s * s div n")
    ssw = F.col("ss") - F.col("sumterm")
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        ssb.cast("long").alias("ssb_int"),
        ssw.cast("long").alias("ssw_int"),
        F.round(
            (ssb.cast("double") / (F.col("k") - 1))
            / (ssw.cast("double") / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


@query(
    "q44i_logrank_test",
    oracle="""
    WITH subj AS (
      SELECT user_id % 2 AS arm,
             CAST(floor(date_diff('second', MIN(ts), MAX(ts)) / 60.0)
                  AS BIGINT) AS t_min,
             CASE WHEN (array_agg(event_type ORDER BY ts, event_id))
                       [COUNT(*)::INTEGER] = 'view'
                  THEN 0 ELSE 1 END AS churned
      FROM events GROUP BY user_id
    ),
    deaths AS (
      SELECT t_min AS t, arm, CAST(SUM(churned) AS BIGINT) AS d
      FROM subj GROUP BY t_min, arm
      HAVING SUM(churned) > 0
    ),
    grid AS (SELECT DISTINCT t FROM deaths),
    ends AS (
      SELECT arm, t_min AS t, CAST(COUNT(*) AS BIGINT) AS e
      FROM subj GROUP BY arm, t_min
    ),
    padded AS (
      SELECT arm, t, CAST(SUM(e) AS BIGINT) AS e FROM (
        SELECT arm, t, e FROM ends
        UNION ALL
        SELECT a.arm, g.t, 0 FROM grid g
        CROSS JOIN (SELECT DISTINCT arm FROM subj) a
      ) GROUP BY arm, t
    ),
    risk AS (
      SELECT arm, t,
             CAST(SUM(e) OVER (PARTITION BY arm ORDER BY t DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
      FROM padded
    ),
    tbl AS (
      SELECT g.t,
             MAX(CASE WHEN r.arm = 0 THEN r.n END) AS n1,
             MAX(CASE WHEN r.arm = 1 THEN r.n END) AS n2,
             CAST(COALESCE(MAX(CASE WHEN d.arm = 0 THEN d.d END), 0)
                  AS BIGINT) AS d1,
             CAST(COALESCE(MAX(CASE WHEN d.arm = 1 THEN d.d END), 0)
                  AS BIGINT) AS d2
      FROM grid g
      JOIN risk r ON r.t = g.t
      LEFT JOIN deaths d ON d.t = g.t
      GROUP BY g.t
    ),
    terms AS (
      SELECT d1, d1 + d2 AS dt, n1, n2, n1 + n2 AS nt,
             1000000 * (d1 + d2) * n1 // (n1 + n2) AS e1,
             CASE WHEN n1 + n2 > 1 THEN
               ((1000000 * (d1 + d2) * n1 // (n1 + n2)) * n2 // (n1 + n2))
               * (n1 + n2 - d1 - d2) // (n1 + n2 - 1)
             ELSE 0 END AS vterm
      FROM tbl
    ),
    agg AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(dt - d1) AS BIGINT) AS o2,
             CAST(SUM(e1) AS BIGINT) AS e1_micro,
             CAST(SUM(vterm) AS BIGINT) AS v_micro
      FROM terms
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM subj
    )
    SELECT arms.na AS n_arm_a, arms.nb AS n_arm_b,
           agg.o1 AS observed_a, agg.o2 AS observed_b,
           agg.e1_micro, agg.v_micro,
           round((CAST(1000000 * agg.o1 - agg.e1_micro AS DOUBLE)
                  * CAST(1000000 * agg.o1 - agg.e1_micro AS DOUBLE))
                 / (1000000.0 * agg.v_micro), 6) AS chi2
    FROM agg, arms
    """,
    tags=("timeseries", "statistics", "survival"),
)
def q44i_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST between two user arms — the significance test that
    completes the survival toolkit (q44g KM curve shows the difference,
    q44h NA shows the hazard, THIS says whether the difference is
    real): at each death time, observed arm-A deaths vs the
    hypergeometric expectation d_t*n1_t/n_t given the at-risk split,
    chi-square on the summed deviations.

    Same censoring contract as q44g (last event 'view' = censored).
    E and V accumulate as STEPWISE-TRUNCATED micro-unit integers —
    each division truncates before the next multiply, so every
    intermediate stays far inside BIGINT (the largest is
    ~1e12 * n_t) and both engines run the identical integer
    recurrence; the chi-square is one pinned double expression over
    three exact BIGINTs. At-risk counts per arm come from suffix sums
    over the death-time grid PADDED with zero rows (so both arms have
    a row at every grid time), never a correlated subquery.

    Scale shape: one groupBy(user) subject pass (map-side combinable);
    everything after is |death-times|-bounded. The arm split is
    deterministic (user_id parity) so the test is a pure function of
    the corpus.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    w_last = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    subj = (
        ev.withColumn("rn", F.row_number().over(w_last))
        .groupBy("user_id")
        .agg(
            F.floor(
                (
                    F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
                ) / 60.0
            ).cast("long").alias("t_min"),
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("lt"),
        )
        .select(
            (F.col("user_id") % 2).cast("long").alias("arm"),
            "t_min",
            F.when(F.col("lt") == "view", 0).otherwise(1).alias("churned"),
        )
    )
    subj = subj.transform(ckpt)  # three consumers below
    deaths = (
        subj.groupBy(F.col("t_min").alias("t"), "arm")
        .agg(F.sum("churned").cast("long").alias("d"))
        .filter(F.col("d") > 0)
    )
    grid = deaths.select("t").distinct()
    ends = subj.groupBy("arm", F.col("t_min").alias("t")).agg(
        F.count("*").cast("long").alias("e")
    )
    arms_dim = subj.select("arm").distinct()
    padded = (
        ends.unionByName(
            grid.crossJoin(arms_dim).select("arm", "t", F.lit(0).cast("long").alias("e"))
        )
        .groupBy("arm", "t")
        .agg(F.sum("e").cast("long").alias("e"))
    )
    w_suffix = W.partitionBy("arm").orderBy(F.col("t").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    risk = padded.select(
        "arm", "t", F.sum("e").over(w_suffix).cast("long").alias("n")
    )
    tbl = (
        grid.join(risk, "t")
        .join(deaths, ["t", "arm"], "left")
        .groupBy("t")
        .agg(
            F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n2"),
            F.coalesce(
                F.max(F.when(F.col("arm") == 0, F.col("d"))), F.lit(0)
            ).cast("long").alias("d1"),
            F.coalesce(
                F.max(F.when(F.col("arm") == 1, F.col("d"))), F.lit(0)
            ).cast("long").alias("d2"),
        )
    )
    dt = F.col("d1") + F.col("d2")
    nt = F.col("n1") + F.col("n2")
    e1 = F.expr("1000000 * (d1 + d2) * n1 div (n1 + n2)")
    vterm = F.when(
        nt > 1,
        F.expr(
            "((1000000 * (d1 + d2) * n1 div (n1 + n2)) * n2 div (n1 + n2)) "
            "* (n1 + n2 - d1 - d2) div (n1 + n2 - 1)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    agg = tbl.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(dt - F.col("d1")).cast("long").alias("o2"),
        F.sum(e1).cast("long").alias("e1_micro"),
        F.sum(vterm).cast("long").alias("v_micro"),
    )
    arms = subj.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("nb"),
    )
    dev = (1000000 * F.col("o1") - F.col("e1_micro")).cast("double")
    return agg.crossJoin(F.broadcast(arms)).select(
        F.col("na").alias("n_arm_a"),
        F.col("nb").alias("n_arm_b"),
        F.col("o1").alias("observed_a"),
        F.col("o2").alias("observed_b"),
        "e1_micro",
        "v_micro",
        F.round(dev * dev / (1000000.0 * F.col("v_micro")), 6).alias("chi2"),
    )


# The event-transition chain: per-user lead() pairs counted per
# (src, dst), states indexed 0..k-1 in name order, and the row-stochastic
# micro-unit matrix flattened as probs_f(f = i*k + j, p = 10^6*c // row
# total); the oracle also collects it in f order as mat(m).
_ORACLE_TRANSITIONS = """
    WITH pairs AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), cnt AS (
      SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), types AS (
      SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY t) - 1 AS BIGINT) AS idx
      FROM (SELECT DISTINCT event_type AS t FROM events)
    ), kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
    rt AS (SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY src),
    probs_f AS (
      SELECT si.idx * kk.k + di.idx AS f, 1000000 * c // rt.tot AS p
      FROM cnt
      JOIN types si ON si.t = cnt.src
      JOIN types di ON di.t = cnt.dst
      JOIN rt ON rt.src = cnt.src, kk
    ), grid AS (
      SELECT unnest(range((SELECT k * k FROM kk))) AS f
    ), mat AS (
      SELECT array_agg(COALESCE(pf.p, 0)::BIGINT ORDER BY grid.f) AS m
      FROM grid LEFT JOIN probs_f pf ON pf.f = grid.f
    ),"""


def _transition_chain(ev: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(types, kk, probs_f) of the event-transition chain over ``ev``:
    types(t, idx), kk(k) and probs_f(f, p) as in _ORACLE_TRANSITIONS."""
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "event_type", F.lead("event_type").over(w_user).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    cnt = pairs.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count("*").cast("long").alias("c"))
    types = (
        ev.select(F.col("event_type").alias("t"))
        .distinct()
        .select(
            "t", (F.row_number().over(W.orderBy("t")) - 1).cast("long").alias("idx")
        )
    )
    kk = types.agg(F.count("*").cast("long").alias("k"))
    rt = cnt.groupBy("src").agg(F.sum("c").cast("long").alias("tot"))
    si = types.select(F.col("t").alias("src"), F.col("idx").alias("i"))
    di = types.select(F.col("t").alias("dst"), F.col("idx").alias("j"))
    probs_f = (
        cnt.join(F.broadcast(si), "src")
        .join(F.broadcast(di), "dst")
        .join(F.broadcast(rt), "src")
        .join(F.broadcast(kk))
        .select(
            (F.col("i") * F.col("k") + F.col("j")).alias("f"),
            F.expr("1000000 * c div tot").alias("p"),
        )
    )
    return types, kk, probs_f


@query(
    "q47f_markov_stationary",
    oracle=_ORACLE_TRANSITIONS
    + """
    folded AS (
      SELECT kk.k,
             list_reduce(
               list_concat(
                 [list_transform(range(kk.k), x -> 1000000 // kk.k)],
                 list_transform(range(30),
                                x -> list_transform(range(kk.k),
                                                    y -> 0::BIGINT))),
               (acc, x) -> list_transform(range(kk.k), j ->
                 list_reduce(
                   list_transform(range(kk.k),
                                  i -> acc[(i + 1)::INTEGER]
                                       * m[(i * kk.k + j + 1)::INTEGER]
                                       // 1000000),
                   (a, b) -> a + b))) AS v
      FROM mat, kk
    )
    SELECT types.t AS event_type, folded.k AS n_states,
           v[(types.idx + 1)::INTEGER] AS stationary_micro
    FROM folded, types ORDER BY event_type
    """,
    tags=("analytics", "markov", "iterative", "fold"),
)
def q47f_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV STATIONARY DISTRIBUTION of the event-transition chain —
    the long-run fraction of time a user's journey spends in each
    state, i.e. where q44f's transition matrix CONVERGES. Computed by
    30 power-iteration steps v <- vP executed ENTIRELY IN-PLAN as a
    nested higher-order fold over the collected micro-unit matrix —
    an iterative algorithm with zero driver-side looping and zero
    Python: the |states|^2 matrix is one row, each iteration is K^2
    truncated integer multiplies inside F.aggregate (seeded
    list_reduce in DuckDB, state = LIST(BIGINT) riding as the fold's
    first element).

    Exactness: row-stochastic probabilities are truncated micro-units
    (10^6*c // rowtotal); each step's terms are (v_i * P_ij -
    mod)/10^6 in fixed i-order — the q44g truncmul discipline — so
    both engines run the identical integer recurrence and the result
    carries a full value-hash oracle. Truncation bleeds ~K ulps of
    mass per step (sum < 10^6, monotone), which is the defined
    contract, not drift.

    Scale: the only fact-sized stages are the per-user lead() window
    (partitioned by user — distributes freely) and the (src, dst)
    count; everything after is |states|^2-bounded. State spaces in
    the thousands would move the fold to a GraphX-style distributed
    multiply; at event-taxonomy scale (5-500 states) in-row is
    optimal — no shuffle per iteration, 30 iterations in one stage.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    types, kk, probs_f = _transition_chain(ev)
    mat = probs_f.join(F.broadcast(kk)).agg(
        F.map_from_entries(F.collect_list(F.struct("f", "p"))).alias("mp"),
        F.max("k").alias("k"),
    )
    M = F.lit(1000000).cast("long")
    kcol = F.col("k").cast("int")

    def trunc_div(prod: F.Column) -> F.Column:
        return ((prod - prod % M) / M).cast("long")

    m = F.transform(
        F.sequence(F.lit(0), (kcol * kcol - 1)),
        lambda f: F.coalesce(
            F.element_at(F.col("mp"), f.cast("long")), F.lit(0).cast("long")
        ),
    )
    v0 = F.transform(
        F.sequence(F.lit(0), kcol - 1),
        lambda _: F.expr("1000000 div k"),
    )
    folded = mat.select(
        F.col("k").alias("n_states"),
        F.aggregate(
            F.sequence(F.lit(1), F.lit(30)),
            v0,
            lambda acc, _: F.transform(
                F.sequence(F.lit(0), kcol - 1),
                lambda j: F.aggregate(
                    F.sequence(F.lit(0), kcol - 1),
                    F.lit(0).cast("long"),
                    lambda s, i: s
                    + trunc_div(
                        F.element_at(acc, i + 1)
                        * F.element_at(m, (i * kcol + j + 1))
                    ),
                ),
            ),
        ).alias("v"),
    )
    return (
        folded.join(F.broadcast(types))
        .select(
            F.col("t").alias("event_type"),
            "n_states",
            F.element_at("v", F.col("idx").cast("int") + 1).alias(
                "stationary_micro"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q47i_absorbing_hit_probability",
    oracle=_ORACLE_TRANSITIONS
    + """
    tg AS (SELECT idx AS g FROM types WHERE t = 'purchase'),
    folded AS (
      SELECT kk.k,
             list_reduce(
               list_concat(
                 [list_transform(range(kk.k), x -> 0::BIGINT)],
                 list_transform(range(30),
                                x -> list_transform(range(kk.k),
                                                    y -> 0::BIGINT))),
               (acc, x) -> list_transform(range(kk.k), i ->
                 m[(i * kk.k + tg.g + 1)::INTEGER]
                 + list_reduce(
                     list_transform(range(kk.k), j ->
                       CASE WHEN j = tg.g THEN 0::BIGINT
                            ELSE acc[(j + 1)::INTEGER]
                                 * m[(i * kk.k + j + 1)::INTEGER]
                                 // 1000000 END),
                     (a, b) -> a + b))) AS v
      FROM mat, kk, tg
    )
    SELECT types.t AS event_type, folded.k AS n_states,
           v[(types.idx + 1)::INTEGER] AS hit30_micro
    FROM folded, types ORDER BY event_type
    """,
    tags=("analytics", "markov", "iterative", "fold", "attribution"),
)
def q47i_absorbing_hit_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABSORBING-MARKOV CONVERSION PROBABILITY — P(reach 'purchase'
    within 30 transitions | current state), the forward-looking number
    q47c's last-touch attribution and q47_funnel's stage gates cannot
    give: make the conversion state absorbing and run the finite-
    horizon absorption recurrence h <- P[:, tgt] + P[:, -tgt] h. The
    horizon form needs NO matrix inverse (the textbook fundamental-
    matrix (I-Q)^-1 does), converges monotonically from below, and at
    H=30 is the practical "this journey will convert" score.

    Same machinery as q47f verbatim: row-stochastic micro-unit matrix
    collected to ONE row, 30 iterations as a nested truncated-integer
    fold (K^2 multiplies per step, fixed j-order, truncation bleeds
    monotonically downward — the defined contract), zero driver loops,
    zero shuffles per iteration, full value-hash oracle.

    Scale: fact-sized stages are the per-user lead() window and the
    (src, dst) count; the fold is |states|^2-bounded in-row. The pair
    (q47f stationary, q47i absorption) shows the in-plan iteration
    pattern carries BOTH eigenvector-style and linear-system-style
    chain analytics.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    types, kk, probs_f = _transition_chain(ev)
    tg = types.filter(F.col("t") == "purchase").select(F.col("idx").alias("g"))
    mat = (
        probs_f.join(F.broadcast(kk))
        .join(F.broadcast(tg))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("f", "p"))).alias("mp"),
            F.max("k").alias("k"),
            F.max("g").alias("g"),
        )
    )
    M = F.lit(1000000).cast("long")
    kcol = F.col("k").cast("int")
    gcol = F.col("g").cast("int")

    def trunc_div(prod: F.Column) -> F.Column:
        return ((prod - prod % M) / M).cast("long")

    m = F.transform(
        F.sequence(F.lit(0), (kcol * kcol - 1)),
        lambda f: F.coalesce(
            F.element_at(F.col("mp"), f.cast("long")), F.lit(0).cast("long")
        ),
    )
    h0 = F.transform(
        F.sequence(F.lit(0), kcol - 1), lambda _: F.lit(0).cast("long")
    )
    folded = mat.select(
        F.col("k").alias("n_states"),
        F.aggregate(
            F.sequence(F.lit(1), F.lit(30)),
            h0,
            lambda acc, _: F.transform(
                F.sequence(F.lit(0), kcol - 1),
                lambda i: F.element_at(m, (i * kcol + gcol + 1))
                + F.aggregate(
                    F.sequence(F.lit(0), kcol - 1),
                    F.lit(0).cast("long"),
                    lambda s, j: s
                    + F.when(j == gcol, F.lit(0).cast("long")).otherwise(
                        trunc_div(
                            F.element_at(acc, j + 1)
                            * F.element_at(m, (i * kcol + j + 1))
                        )
                    ),
                ),
            ),
        ).alias("v"),
    )
    return (
        folded.join(F.broadcast(types))
        .select(
            F.col("t").alias("event_type"),
            "n_states",
            F.element_at("v", F.col("idx").cast("int") + 1).alias("hit30_micro"),
        )
        .orderBy("event_type")
    )


@query(
    "q47j_removal_effect_attribution",
    oracle=_ORACLE_TRANSITIONS
    + """
    tg AS (SELECT idx AS g FROM types WHERE t = 'purchase'),
    firstev AS (
      SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events)
      WHERE rn = 1 GROUP BY event_type
    ), pi0 AS (
      SELECT types.idx, COALESCE(1000000 * f.c
               // (SELECT SUM(c) FROM firstev), 0)::BIGINT AS p0
      FROM types LEFT JOIN firstev f ON f.t = types.t
    ), pv AS (
      SELECT array_agg(p0::BIGINT ORDER BY idx) AS pi FROM pi0
    ), folds AS (
      SELECT rem.idx AS rem, kk.k, tg.g,
             list_reduce(
               list_concat(
                 [list_transform(range(kk.k), x -> 0::BIGINT)],
                 list_transform(range(30),
                                x -> list_transform(range(kk.k),
                                                    y -> 0::BIGINT))),
               (acc, x) -> list_transform(range(kk.k), i ->
                 m[(i * kk.k + tg.g + 1)::INTEGER]
                 + list_reduce(
                     list_transform(range(kk.k), j ->
                       CASE WHEN j = tg.g OR j = rem.idx THEN 0::BIGINT
                            ELSE acc[(j + 1)::INTEGER]
                                 * m[(i * kk.k + j + 1)::INTEGER]
                                 // 1000000 END),
                     (a, b) -> a + b))) AS h
      FROM mat, kk, tg, types rem
    ), conv AS (
      SELECT rem, g,
             CAST(list_reduce(
               list_concat([0::BIGINT],
                 list_transform(range(k), s ->
                   CASE WHEN s = rem OR s = g THEN 0::BIGINT
                        ELSE pi[(s + 1)::INTEGER] * h[(s + 1)::INTEGER]
                             // 1000000 END)),
               (a, b) -> a + b) AS BIGINT) AS cv
      FROM folds, pv
    ), base AS (SELECT cv AS cv0 FROM conv WHERE rem = g),
    eff AS (
      SELECT conv.rem, GREATEST(base.cv0 - conv.cv, 0) AS effect
      FROM conv, base WHERE conv.rem <> conv.g
    ), tot_eff AS (SELECT CAST(SUM(effect) AS BIGINT) AS te FROM eff)
    SELECT types.t AS event_type,
           base.cv0 AS conv_base_micro,
           eff.effect AS removal_effect_micro,
           CASE WHEN tot_eff.te = 0 THEN 0.0
                ELSE round(CAST(eff.effect AS DOUBLE) / tot_eff.te, 6)
           END AS credit
    FROM eff
    JOIN types ON types.idx = eff.rem, base, tot_eff
    ORDER BY event_type
    """,
    tags=("analytics", "markov", "iterative", "fold", "attribution"),
)
def q47j_removal_effect_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV REMOVAL-EFFECT ATTRIBUTION — the data-driven multi-touch
    model (Anderl et al.'s Markov attribution): each channel's credit is
    how much total conversion probability DISAPPEARS when journeys can
    no longer pass through it, computed by re-running q47i's finite-
    horizon absorption fold once per removed channel. Last-touch (q47c)
    rewards whoever happened to be last; removal effect rewards causal
    load-bearing — the canonical contrast.

    One matrix collection serves ALL K folds: removed channels explode
    over the one-row micro-unit matrix (the rem == target row zeroes
    nothing extra and IS the baseline — the absorbing recurrence already
    skips the target, so base and removals share one code path), the
    initial-state distribution comes from per-user first events in the
    same micro-units, and conversion = pi . h in one more truncated
    fold. Effects are exact BIGINTs (GREATEST-0 clamped against
    truncation bleed); credit is one division, round(.,6).

    Scale: fact-sized stages are the per-user lead()/first-event
    windows (user-partitioned); folds are (K+1) x K^2 x 30 in-row
    integer multiplies — attribution for a 500-state taxonomy costs
    ~4M multiplies in ONE task, zero shuffles per iteration.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    types, kk, probs_f = _transition_chain(ev)
    tg = types.filter(F.col("t") == "purchase").select(F.col("idx").alias("g"))
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    firstev = (
        ev.select(
            "event_type", F.row_number().over(w_user).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pi0 = (
        types.join(
            firstev.select(F.col("event_type").alias("t"), "c"), "t", "left"
        )
        .join(F.broadcast(firstev.agg(F.sum("c").cast("long").alias("tu"))))
        .select(
            "idx",
            F.coalesce(F.expr("1000000 * c div tu"), F.lit(0))
            .cast("long")
            .alias("p0"),
        )
    )
    pv = pi0.agg(
        F.map_from_entries(F.collect_list(F.struct("idx", "p0"))).alias("pim")
    )
    mat = (
        probs_f.join(F.broadcast(kk))
        .join(F.broadcast(tg))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("f", "p"))).alias("mp"),
            F.max("k").alias("k"),
            F.max("g").alias("g"),
        )
        .crossJoin(F.broadcast(pv))
    )
    M = F.lit(1000000).cast("long")
    kcol = F.col("k").cast("int")
    gcol = F.col("g").cast("int")
    remc = F.col("rem").cast("int")

    def trunc_div(prod: F.Column) -> F.Column:
        return ((prod - prod % M) / M).cast("long")

    m = F.transform(
        F.sequence(F.lit(0), (kcol * kcol - 1)),
        lambda f: F.coalesce(
            F.element_at(F.col("mp"), f.cast("long")), F.lit(0).cast("long")
        ),
    )
    pi = F.transform(
        F.sequence(F.lit(0), kcol - 1),
        lambda s: F.coalesce(
            F.element_at(F.col("pim"), s.cast("long")), F.lit(0).cast("long")
        ),
    )
    h0 = F.transform(
        F.sequence(F.lit(0), kcol - 1), lambda _: F.lit(0).cast("long")
    )
    per_rem = mat.select(
        "mp", "k", "g", "pim",
        F.explode(F.sequence(F.lit(0), kcol - 1)).alias("rem"),
    )
    folded = per_rem.select(
        "k",
        "g",
        "rem",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(30)),
            h0,
            lambda acc, _: F.transform(
                F.sequence(F.lit(0), kcol - 1),
                lambda i: F.element_at(m, (i * kcol + gcol + 1))
                + F.aggregate(
                    F.sequence(F.lit(0), kcol - 1),
                    F.lit(0).cast("long"),
                    lambda s, j: s
                    + F.when(
                        (j == gcol) | (j == remc), F.lit(0).cast("long")
                    ).otherwise(
                        trunc_div(
                            F.element_at(acc, j + 1)
                            * F.element_at(m, (i * kcol + j + 1))
                        )
                    ),
                ),
            ),
        ).alias("h"),
        pi.alias("pi"),
    )
    conv = folded.select(
        "k",
        "g",
        "rem",
        F.aggregate(
            F.sequence(F.lit(0), kcol - 1),
            F.lit(0).cast("long"),
            lambda s, i: s
            + F.when((i == remc) | (i == gcol), F.lit(0).cast("long")).otherwise(
                trunc_div(F.element_at("pi", i + 1) * F.element_at("h", i + 1))
            ),
        ).alias("cv"),
    )
    base = conv.filter(F.col("rem") == F.col("g")).select(
        F.col("cv").alias("cv0")
    )
    eff = (
        conv.filter(F.col("rem") != F.col("g"))
        .crossJoin(F.broadcast(base))
        .select(
            "rem",
            "cv0",
            F.greatest(F.col("cv0") - F.col("cv"), F.lit(0).cast("long")).alias(
                "effect"
            ),
        )
    )
    tot_eff = eff.agg(F.sum("effect").cast("long").alias("te"))
    return (
        eff.crossJoin(F.broadcast(tot_eff))
        .join(F.broadcast(types.select(F.col("idx").alias("rem"), "t")), "rem")
        .select(
            F.col("t").alias("event_type"),
            F.col("cv0").alias("conv_base_micro"),
            F.col("effect").alias("removal_effect_micro"),
            F.when(F.col("te") == 0, F.lit(0.0))
            .otherwise(F.round(F.col("effect").cast("double") / F.col("te"), 6))
            .alias("credit"),
        )
        .orderBy("event_type")
    )


@query(
    "q36v_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT event_type AS et, user_id % 7 AS cohort,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ), marg_r AS (
      SELECT et, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY et
    ), marg_c AS (
      SELECT cohort, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY cohort
    ), tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT et) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT cohort) AS BIGINT) AS nc
      FROM cells
    ), s AS (
      SELECT CAST(SUM(o * o * 1000000 // (r * c)) AS BIGINT) AS s_micro
      FROM cells JOIN marg_r USING (et) JOIN marg_c USING (cohort)
    )
    SELECT n, nr AS n_rows, nc AS n_cols,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           round(CAST(n * (s_micro - 1000000) AS DOUBLE) / 1000000, 6)
             AS chi2,
           round(sqrt(CAST(n * (s_micro - 1000000) AS DOUBLE) / 1000000
                      / (CAST(n AS DOUBLE) * (least(nr, nc) - 1))), 6)
             AS cramers_v
    FROM tot, s
    """,
    tags=("agg", "statistics", "effect-size"),
)
def q36v_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMER'S V — the bounded [0,1] effect size that q36p's chi-square
    cells feed: chi2 localizes WHERE dependence lives, V answers "how
    strong is it" in a sample-size-free unit (the number an experiment
    review actually compares across tests).

    The naive chi2 sum adds 35 per-cell doubles — ORDER-DEPENDENT and
    therefore not hashable cross-engine. This uses the algebraic
    identity chi2 = n * (sum over cells of o^2/(r*c)) - n with each
    term a TRUNCATED INTEGER in micro-units ((o*o*10^6) // (r*c) —
    every factor BIGINT-exact), so the sum is order-independent BIGINT
    and both engines compute the identical statistic by construction;
    the defined truncation contract costs < |cells| micro-units. V =
    sqrt(chi2 / (n * (min(R,C) - 1))) assembles in one pinned double
    expression.

    Scale: one corpus hash agg bounded by |types| x |cohorts| output
    cells; margins are |cells|-bounded re-aggregates (broadcast back);
    o*o*10^6 needs o <= 3e6 per cell — past that, drop to kilo-units
    or pre-scale, noted here as the overflow ceiling.
    """
    tune_for_oracle(spark)
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("et"),
            (F.col("user_id") % 7).alias("cohort"),
        )
        .agg(F.count("*").cast("long").alias("o"))
    )
    marg_r = cells.groupBy("et").agg(F.sum("o").cast("long").alias("r"))
    marg_c = cells.groupBy("cohort").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("et").cast("long").alias("nr"),
        F.countDistinct("cohort").cast("long").alias("nc"),
    )
    s = (
        cells.join(F.broadcast(marg_r), "et")
        .join(F.broadcast(marg_c), "cohort")
        .agg(
            F.sum(F.expr("o * o * 1000000 div (r * c)"))
            .cast("long")
            .alias("s_micro")
        )
    )
    chi2 = (F.col("n") * (F.col("s_micro") - 1000000)).cast("double") / 1000000
    return tot.join(F.broadcast(s)).select(
        "n",
        F.col("nr").alias("n_rows"),
        F.col("nc").alias("n_cols"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2 / (F.col("n").cast("double") * (F.least("nr", "nc") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "q36aa_kruskal_wallis",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    cv AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY x
    ),
    cv2 AS (
      SELECT x, cnt,
             CAST(SUM(cnt) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
               AS BIGINT) AS cumb
      FROM cv
    ),
    gv AS (
      SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY g, x
    ),
    rg AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * (2 * cumb + cnt + 1)) AS BIGINT) AS r2
      FROM gv JOIN cv2 USING (x) GROUP BY g
    ),
    rg2 AS (
      SELECT g, n, r2,
             CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / (4.0 * n) AS term
      FROM rg
    ),
    ties AS (
      SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3 FROM cv
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
             list_reduce(array_agg(term ORDER BY g), (a, b) -> a + b) AS s
      FROM rg2
    )
    SELECT agg.k AS n_groups, agg.n AS n_rows, ties.tie3 AS tie3,
           round(12.0 / (CAST(agg.n AS DOUBLE) * (agg.n + 1)) * agg.s
                 - 3.0 * (agg.n + 1), 6) AS h_stat,
           round((12.0 / (CAST(agg.n AS DOUBLE) * (agg.n + 1)) * agg.s
                  - 3.0 * (agg.n + 1))
                 / (1.0 - CAST(ties.tie3 AS DOUBLE)
                    / (CAST(agg.n AS DOUBLE) * agg.n * agg.n - agg.n)),
                 6) AS h_corrected
    FROM agg, ties
    """,
    tags=("agg", "statistics"),
)
def q36aa_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H across event types — the rank-based k-group
    test completing the comparison ladder begun by q36t Mann-Whitney
    (2 groups, ranks) and q36z ANOVA F (k groups, means): k groups,
    ranks, no normality assumption.

    Exactness: values floor to a BOUNDED integer grid (~400 distinct,
    value-domain-bounded — never fact-sized), so tied ranks come from
    the grid histogram: the doubled average rank at value v is
    2*cumb_v + cnt_v + 1 (an exact BIGINT — the q36t doubled-rank
    convention), making each group's doubled rank-sum R2_g an exact
    BIGINT. R2_g^2 overflows BIGINT at sf0.1, so the per-group term
    R2^2/(4n) is ONE pinned double op sequence per group row and the
    k terms sum via an ORDERED fold over the g-sorted group array
    (both engines left-fold identical doubles in identical order —
    the q42j fold discipline; a bare SUM() over doubles would be
    partition-order-dependent). Tie correction sum(t^3 - t) stays
    BIGINT (headroom: ~4e9 at sf0.1, ~4e12 at sf10).

    Scale: two map-side-combinable histogram passes (value grid,
    (group, value) grid); the only window runs over the ~400-row
    value grid; the fold frame is k=|event_type| rows.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value")).cast("long").alias("x"),
    )
    cv = v.groupBy("x").agg(F.count("*").cast("long").alias("cnt"))
    cv2 = cv.select(
        "x",
        "cnt",
        (
            F.sum("cnt").over(
                W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
            )
            - F.col("cnt")
        )
        .cast("long")
        .alias("cumb"),
    )
    gv = v.groupBy("g", "x").agg(F.count("*").cast("long").alias("c"))
    rg = (
        gv.join(F.broadcast(cv2), "x")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(
                F.col("c") * (2 * F.col("cumb") + F.col("cnt") + 1)
            )
            .cast("long")
            .alias("r2"),
        )
        .select(
            "g",
            "n",
            "r2",
            (
                F.col("r2").cast("double")
                * F.col("r2").cast("double")
                / (4.0 * F.col("n"))
            ).alias("term"),
        )
    )
    ties = cv.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie3")
    )
    agg = rg.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("g", "term"))),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("s"),
    )
    h = 12.0 / (F.col("n").cast("double") * (F.col("n") + 1)) * F.col(
        "s"
    ) - 3.0 * (F.col("n") + 1)
    corr = 1.0 - F.col("tie3").cast("double") / (
        F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
    )
    return agg.join(F.broadcast(ties)).select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        "tie3",
        F.round(h, 6).alias("h_stat"),
        F.round(h / corr, 6).alias("h_corrected"),
    )


@query(
    "q36ab_wilcoxon_signed_rank",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'view'
                           THEN CAST(floor(value) AS BIGINT) END) AS BIGINT)
               AS sv,
             CAST(SUM(CASE WHEN event_type = 'click'
                           THEN CAST(floor(value) AS BIGINT) END) AS BIGINT)
               AS sc
      FROM events
      WHERE event_type IN ('view', 'click')
      GROUP BY user_id
      HAVING SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
    ),
    d AS (
      SELECT sv - sc AS diff, abs(sv - sc) AS ad FROM pu WHERE sv <> sc
    ),
    grid AS (
      SELECT ad, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS cpos
      FROM d GROUP BY ad
    ),
    grid2 AS (
      SELECT ad, cnt, cpos,
             CAST(SUM(cnt) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
               AS BIGINT) AS cumb
      FROM grid
    ),
    agg AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cpos * (2 * cumb + cnt + 1)) AS BIGINT) AS w2,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
      FROM grid2
    )
    SELECT n AS n_pairs, w2 AS w2_plus, tie3,
           round((CAST(w2 AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2)
                 / (2.0 * sqrt((CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1)
                                - CAST(tie3 AS DOUBLE) / 2) / 24)),
                 6) AS z_score
    FROM agg
    """,
    tags=("agg", "statistics"),
)
def q36ab_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILCOXON SIGNED-RANK on paired per-user view-vs-click value
    totals — the paired counterpart of q36t's Mann-Whitney (unpaired):
    does the within-user difference distribution center at zero?

    Pairing: per user, the floored-value totals of 'view' and 'click'
    events (users lacking either type drop — standard complete-pairs
    rule); zero differences drop per the classical procedure. Tied
    |diff| ranks use the q36aa doubled-rank histogram identity on the
    |diff| grid, so the doubled positive-rank sum W2+ and the tie term
    are exact BIGINTs; the normal-approximation z (with tie-corrected
    variance) is ONE pinned double expression over three BIGINTs.

    Scale: one groupBy(user) pass (map-side combinable) then a
    |diff|-grid histogram; the grid window is user-bounded (<= one row
    per distinct |diff|, ~1.5k at sf0.1) — if the pair population
    grew fact-sized the cumb would migrate to operators.blocked_
    ordered_cumsum (the q50 pattern). n^3 headroom: ~3e9 at sf0.1.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    pu = (
        ev.where(F.col("event_type").isin("view", "click"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    F.floor(F.col("value")).cast("long"),
                )
            )
            .cast("long")
            .alias("sv"),
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.floor(F.col("value")).cast("long"),
                )
            )
            .cast("long")
            .alias("sc"),
        )
        .where(F.col("sv").isNotNull() & F.col("sc").isNotNull())
    )
    d = pu.where(F.col("sv") != F.col("sc")).select(
        (F.col("sv") - F.col("sc")).alias("diff"),
        F.abs(F.col("sv") - F.col("sc")).alias("ad"),
    )
    grid = d.groupBy("ad").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("long")
        .alias("cpos"),
    )
    grid2 = grid.select(
        "ad",
        "cnt",
        "cpos",
        (
            F.sum("cnt").over(
                W.orderBy("ad").rowsBetween(W.unboundedPreceding, 0)
            )
            - F.col("cnt")
        )
        .cast("long")
        .alias("cumb"),
    )
    agg = grid2.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cpos") * (2 * F.col("cumb") + F.col("cnt") + 1))
        .cast("long")
        .alias("w2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie3"),
    )
    nd = F.col("n").cast("double")
    z = (F.col("w2").cast("double") - nd * (F.col("n") + 1) / 2) / (
        2.0
        * F.sqrt(
            (
                nd * (F.col("n") + 1) * (2 * F.col("n") + 1)
                - F.col("tie3").cast("double") / 2
            )
            / 24
        )
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        F.col("w2").alias("w2_plus"),
        "tie3",
        F.round(z, 6).alias("z_score"),
    )


@query(
    "q36ac_brown_forsythe",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    gv AS (
      SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY g, x
    ),
    gv2 AS (
      SELECT g, x, c,
             CAST(SUM(c) OVER (PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM gv
    ),
    gn AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM gv GROUP BY g
    ),
    med AS (
      SELECT gv2.g,
             CAST(MAX(CASE WHEN cum - c < (n + 1) // 2
                            AND (n + 1) // 2 <= cum THEN x END)
                  + MAX(CASE WHEN cum - c < (n + 2) // 2
                              AND (n + 2) // 2 <= cum THEN x END)
                  AS BIGINT) AS m2
      FROM gv2 JOIN gn ON gv2.g = gn.g
      GROUP BY gv2.g
    ),
    z AS (
      SELECT v.g, abs(2 * v.x - med.m2) AS z
      FROM v JOIN med ON v.g = med.g
    ),
    pg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(z) AS BIGINT) AS s,
             CAST(SUM(z * z) AS BIGINT) AS ss,
             CAST(SUM(z) * SUM(z) // COUNT(*) AS BIGINT) AS term
      FROM z GROUP BY g
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS s, CAST(SUM(ss) AS BIGINT) AS ss,
             CAST(SUM(term) AS BIGINT) AS sumterm
      FROM pg
    )
    SELECT k AS n_groups, n AS n_rows,
           sumterm - s * s // n AS ssb_int,
           ss - sumterm AS ssw_int,
           round((CAST(sumterm - s * s // n AS DOUBLE) / (k - 1))
                 / (CAST(ss - sumterm AS DOUBLE) / (n - k)), 6) AS bf_stat
    FROM tot
    """,
    tags=("agg", "statistics"),
)
def q36ac_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE variance-homogeneity test (Levene's test with
    median centers) across event types — the precondition check for
    q36z's classical ANOVA: are the k group spreads equal?

    Per-group medians come from the (group, value)-grid histogram
    (value domain bounded ~400 — the q36aa grid), as DOUBLED order
    statistics m2 = x_lo + x_hi (ranks (n+1)//2, (n+2)//2 located by
    cumulative-count bracketing — the q36n discrete-order-stat
    convention, never interpolated), so each deviation z = |2x - m2|
    is an exact BIGINT in half-units. The F statistic on z reuses
    q36z's truncated-integer identity verbatim: per-group s^2/n terms
    truncate via integer division, SSB/SSW are DEFINED BIGINTs, one
    pinned double finishes F. Headroom: z <= ~1960 half-units, so
    ss <= ~4e11 at sf0.1 (~4e14 at sf100).

    Scale: histogram passes are map-side combinable; the median
    window partitions BY GROUP over the bounded value grid; the z
    pass re-joins the k-row median dim broadcast.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value")).cast("long").alias("x"),
    )
    gv = v.groupBy("g", "x").agg(F.count("*").cast("long").alias("c"))
    gv2 = gv.select(
        "g",
        "x",
        "c",
        F.sum("c")
        .over(
            W.partitionBy("g")
            .orderBy("x")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cum"),
    )
    gn = gv.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("(n + 2) div 2")
    med = (
        gv2.join(F.broadcast(gn), "g")
        .groupBy("g")
        .agg(
            (
                F.max(
                    F.when(
                        (F.col("cum") - F.col("c") < lo)
                        & (lo <= F.col("cum")),
                        F.col("x"),
                    )
                )
                + F.max(
                    F.when(
                        (F.col("cum") - F.col("c") < hi)
                        & (hi <= F.col("cum")),
                        F.col("x"),
                    )
                )
            )
            .cast("long")
            .alias("m2")
        )
    )
    z = v.join(F.broadcast(med), "g").select(
        "g", F.abs(2 * F.col("x") - F.col("m2")).alias("z")
    )
    pg = z.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("z").cast("long").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("ss"),
        F.expr("CAST(sum(z) * sum(z) div count(*) AS BIGINT)").alias("term"),
    )
    tot = pg.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.sum("ss").cast("long").alias("ss"),
        F.sum("term").cast("long").alias("sumterm"),
    )
    ssb = F.col("sumterm") - F.expr("s * s div n")
    ssw = F.col("ss") - F.col("sumterm")
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        ssb.cast("long").alias("ssb_int"),
        ssw.cast("long").alias("ssw_int"),
        F.round(
            (ssb.cast("double") / (F.col("k") - 1))
            / (ssw.cast("double") / (F.col("n") - F.col("k"))),
            6,
        ).alias("bf_stat"),
    )


@query(
    "q36ad_jarque_bera",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2,
             CAST(SUM(x * x * x) AS BIGINT) AS s3,
             CAST(SUM(x * x * x * x) AS BIGINT) AS s4
      FROM v
    ),
    m AS (
      SELECT n, s1, s2,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
             CAST(s3 AS DOUBLE) / n
               - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
               + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   * (CAST(s1 AS DOUBLE) / n) AS m3,
             CAST(s4 AS DOUBLE) / n
               - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
               + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   * (CAST(s2 AS DOUBLE) / n)
               - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               AS m4
      FROM s
    )
    SELECT n AS n_rows, s1, s2,
           round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS ex_kurtosis,
           round(CAST(n AS DOUBLE) / 6
                 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                    + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4),
                 6) AS jb_stat
    FROM m
    """,
    tags=("agg", "statistics"),
)
def q36ad_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARQUE-BERA normality test on floored event values — the
    moment-based normality screen (skewness and excess kurtosis jointly
    zero?) that q36j/q36z implicitly assume; JB = n/6 (g1^2 + g2^4/4).

    Raw power sums S1..S4 are exact BIGINTs (x <= 490 so x^4 <= 5.8e10;
    sum <= 5.8e15 at sf0.1, <= 5.8e17 at sf10 — documented headroom,
    the q42f overflow-note convention). Central moments m2..m4 then
    assemble in ONE pinned double expression per moment from those
    exact integers — a naive SUM((x-mean)^k) over doubles would be
    partition-order-dependent and cancellation-prone; the raw-sum
    route has a single deterministic op sequence both engines share.

    Scale: one map-side-combinable pass; a single scalar row after.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value")).cast("long").alias("x")
    )
    s = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x"))
        .cast("long")
        .alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
        .cast("long")
        .alias("s4"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mu * mu
    m3 = (
        F.col("s3").cast("double") / F.col("n")
        - 3 * mu * (F.col("s2").cast("double") / F.col("n"))
        + 2 * mu * mu * mu
    )
    m4 = (
        F.col("s4").cast("double") / F.col("n")
        - 4 * mu * (F.col("s3").cast("double") / F.col("n"))
        + 6 * mu * mu * (F.col("s2").cast("double") / F.col("n"))
        - 3 * mu * mu * mu * mu
    )
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - 3
    return s.select(
        F.col("n").alias("n_rows"),
        "s1",
        "s2",
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("ex_kurtosis"),
        F.round(
            F.col("n").cast("double") / 6 * (g1 * g1 + g2 * g2 / 4), 6
        ).alias("jb_stat"),
    )


@query(
    "q36ae_durbin_watson",
    oracle="""
    WITH m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS sm,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(t * y) AS BIGINT) AS smy,
             CAST(SUM(t * t) AS BIGINT) AS smm
      FROM m
    ),
    co AS (
      SELECT n, sm, sy, smy, smm,
             n * smm - sm * sm AS dd,
             n * smy - sm * sy AS bb,
             sy * (n * smm - sm * sm) - (n * smy - sm * sy) * sm AS cc
      FROM mom
    ),
    resid AS (
      SELECT m.t,
             (m.y * co.n * co.dd - co.cc - co.n * co.bb * m.t
              + 1000000000000000) // 1000000 - 1000000000 AS f
      FROM m, co
    ),
    lagged AS (
      SELECT t, f,
             lag(f) OVER (ORDER BY t) AS fp
      FROM resid
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
             CAST(SUM(CASE WHEN fp IS NOT NULL
                           THEN (f - fp) * (f - fp) END) AS BIGINT) AS dsq,
             CAST(SUM(f * f) AS BIGINT) AS e2
      FROM lagged
    )
    SELECT n_months, dsq AS dsq_sum, e2 AS e2_sum,
           round(CAST(dsq AS DOUBLE) / e2, 6) AS dw_stat
    FROM agg
    """,
    tags=("agg", "statistics", "timeseries"),
)
def q36ae_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURBIN-WATSON autocorrelation test on the residuals of an OLS
    linear fit to monthly order counts — the q53e trend fit's
    diagnostic: are the fit's errors serially independent (DW ~ 2) or
    momentum-laden (DW << 2)?

    Exactness: the OLS fit is a RATIONAL function of integer moments,
    so the residual numerator E_t = n*D*y_t - C - n*B*t (with
    D = n*smm - sm^2, B = n*smy - sm*sy, C = sy*D - B*sm) is an exact
    BIGINT per month (|E| <= ~1e12 at sf0.1). E^2 would overflow, so
    the statistic is DEFINED on micro-truncated units
    F_t = (E_t + 10^15) div 10^6 - 10^9 — the offset keeps the operand
    positive so Spark's div and DuckDB's // agree on truncation
    direction for negative residuals (both truncate toward zero;
    offsetting sidesteps the sign edge entirely). Sum of squared
    F-diffs and of F^2 stay BIGINT (<= ~1e13); DW is one pinned double
    ratio.

    Scale: month-grid frame (~80 rows, calendar-bounded — the q42k
    documented-bounded window class) after one map-side-combinable
    count pass.
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("y"))
    )
    mom = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("sm"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("smy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("smm"),
    )
    co = mom.select(
        "n",
        "sm",
        "sy",
        "smy",
        "smm",
        (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")).alias("dd"),
        (F.col("n") * F.col("smy") - F.col("sm") * F.col("sy")).alias("bb"),
        (
            F.col("sy")
            * (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm"))
            - (F.col("n") * F.col("smy") - F.col("sm") * F.col("sy"))
            * F.col("sm")
        ).alias("cc"),
    )
    resid = m.join(F.broadcast(co)).select(
        "t",
        F.expr(
            "(y * n * dd - cc - n * bb * t + 1000000000000000)"
            " div 1000000 - 1000000000"
        ).alias("f"),
    )
    lagged = resid.select(
        "t", "f", F.lag("f").over(W.orderBy("t")).alias("fp")
    )
    agg = lagged.agg(
        F.count("*").cast("long").alias("n_months"),
        F.sum(
            F.when(
                F.col("fp").isNotNull(),
                (F.col("f") - F.col("fp")) * (F.col("f") - F.col("fp")),
            )
        )
        .cast("long")
        .alias("dsq"),
        F.sum(F.col("f") * F.col("f")).cast("long").alias("e2"),
    )
    return agg.select(
        "n_months",
        F.col("dsq").alias("dsq_sum"),
        F.col("e2").alias("e2_sum"),
        F.round(F.col("dsq").cast("double") / F.col("e2"), 6).alias(
            "dw_stat"
        ),
    )


HW_ORACLE = """
    WITH m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS t,
             CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT array_agg(CAST(cents AS DOUBLE) ORDER BY t) AS ys,
             CAST(COUNT(*) AS BIGINT) AS n FROM m
    ),
    seed AS (
      SELECT ys, n,
             list_reduce(list_slice(ys, 1, 12), (a, b) -> a + b) / 12 AS l0,
             (list_reduce(list_slice(ys, 13, 24), (a, b) -> a + b)
              - list_reduce(list_slice(ys, 1, 12), (a, b) -> a + b))
             / 144 AS b0
      FROM series
    ),
    acc0 AS (
      SELECT ys, n,
             list_concat([l0, b0],
                         list_transform(list_slice(ys, 1, 12),
                                        y -> y - l0)) AS a0
      FROM seed
    ),
    folded AS (
      SELECT n,
             list_reduce(
               list_concat([a0],
                 list_transform(range(13, CAST(n AS INT) + 1),
                                t -> [ys[t],
                                      CAST((t - 1) % 12 AS DOUBLE)])),
               (acc, x) -> list_concat(
                 list_concat(
                   [(x[1] - acc[CAST(x[2] AS INT) + 3]) / 2
                      + (acc[1] + acc[2]) / 2,
                    ((x[1] - acc[CAST(x[2] AS INT) + 3]) / 2
                       + (acc[1] + acc[2]) / 2 - acc[1]) / 4
                      + 3 * acc[2] / 4],
                   list_slice(acc, 3, CAST(x[2] AS INT) + 2)),
                 list_concat(
                   [(x[1] - ((x[1] - acc[CAST(x[2] AS INT) + 3]) / 2
                             + (acc[1] + acc[2]) / 2)) / 2
                      + acc[CAST(x[2] AS INT) + 3] / 2],
                   list_slice(acc, CAST(x[2] AS INT) + 4, 14)))) AS st
      FROM acc0
    )
    SELECT CAST(u.i - 1 AS BIGINT) AS slot,
           round(st[CAST(u.i AS INT) + 2], 6) AS seas,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round(st[1] + st[2] + st[CAST(n % 12 AS INT) + 3], 6)
             AS forecast_next,
           n AS n_months
    FROM folded, (SELECT unnest(range(1, 13)) AS i) u
    ORDER BY slot
    """


@query(
    "q42l_holt_winters",
    oracle=HW_ORACLE,
    tags=("timeseries", "smoothing", "fold"),
)
def q42l_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive triple exponential smoothing (alpha=1/2,
    beta=1/4, gamma=1/2, season m=12) over the monthly revenue series —
    the seasonal completion of the smoothing ladder (q42d EWMA: level;
    q42j Holt: level+trend; THIS: level+trend+12 seasonal states).

    The recurrence is sequential with a 14-double state vector
    [l, b, s_0..s_11], so it runs as ONE in-row fold over the
    calendar-bounded month series (the q42j discipline: both engines
    left-fold the identical IEEE op sequence on identical inputs —
    monthly cent sums are exact BIGINTs cast once — so every
    intermediate matches bit-for-bit; alpha/beta/gamma are dyadic).
    The updated seasonal slot splices back via computed-index
    slice/concat (both engines 1-based here). Seeds: l0 = first-year
    mean, b0 = year-over-year mean step / 12, s_i = y_i - l0.

    100 TB: the fact folds map-side to one cents row per month before
    anything sequential happens; state is 14 doubles. Keyed variants
    would distribute the fold per key (the qm19 streaming twin carries
    the same state through applyInPandasWithState).
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("t"),
            F.round(F.col("o_totalprice").cast("double") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("t")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    series = m.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("t", F.col("cents").cast("double").alias("y"))
                )
            ),
            lambda s: s["y"],
        ).alias("ys"),
        F.count("*").cast("long").alias("n"),
    )
    first12 = F.aggregate(
        F.slice("ys", 1, 12), F.lit(0.0), lambda a, b: a + b
    )
    second12 = F.aggregate(
        F.slice("ys", 13, 12), F.lit(0.0), lambda a, b: a + b
    )
    seed = series.select(
        "ys",
        "n",
        (first12 / 12).alias("l0"),
        ((second12 - first12) / 144).alias("b0"),
    )
    acc0 = seed.select(
        "ys",
        "n",
        F.concat(
            F.array(F.col("l0"), F.col("b0")),
            F.transform(F.slice("ys", 1, 12), lambda y: y - F.col("l0")),
        ).alias("a0"),
    )

    from better_cdc_spark.operators import hw_additive_step as step

    folded = acc0.select(
        "n",
        F.aggregate(
            F.transform(
                F.sequence(F.lit(13), F.col("n").cast("int")),
                lambda t: F.array(
                    F.element_at("ys", t),
                    ((t - 1) % 12).cast("double"),
                ),
            ),
            F.col("a0"),
            step,
        ).alias("st"),
    )
    out = folded.select(
        "n",
        "st",
        F.posexplode(F.slice("st", 3, 12)).alias("i0", "seas"),
    )
    return out.select(
        F.col("i0").cast("long").alias("slot"),
        F.round("seas", 6).alias("seas"),
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("trend"),
        F.round(
            F.element_at("st", 1)
            + F.element_at("st", 2)
            + F.element_at("st", (F.col("n") % 12).cast("int") + 3),
            6,
        ).alias("forecast_next"),
        F.col("n").alias("n_months"),
    ).orderBy("slot")


@query(
    "q42m_forecast_backtest",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS pri,
             CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS t,
             CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    e AS (
      SELECT c.pri,
             abs(c.cents - s.cents) AS e_s,
             abs(c.cents - n.cents) AS e_n,
             2000000 * abs(c.cents - s.cents) // (c.cents + s.cents)
               AS smape_s_micro
      FROM m c
      JOIN m s ON s.pri = c.pri AND s.t = c.t - 12
      JOIN m n ON n.pri = c.pri AND n.t = c.t - 1
    )
    SELECT pri AS priority, CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(e_s) AS BIGINT) AS sae_snaive,
           CAST(SUM(e_n) AS BIGINT) AS sae_naive,
           CAST(SUM(smape_s_micro) AS BIGINT) AS smape_snaive_micro,
           round(CAST(SUM(e_s) AS DOUBLE) / SUM(e_n), 6) AS rel_mae
    FROM e GROUP BY pri ORDER BY pri
    """,
    tags=("timeseries", "forecast"),
)
def q42m_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST: seasonal-naive (y[t-12]) vs naive (y[t-1])
    one-step forecasts of per-priority monthly revenue — the accuracy
    yardstick that tells a planner whether the q42l seasonal machinery
    earns its state (rel_mae < 1 means seasonality carries signal).

    Forecast joins are EXACT month-offset self-joins (t-12, t-1), not
    row-lags — the per-priority month grid has holes at small sf and a
    row-lag would silently compare non-adjacent months. The eval set
    is months where BOTH references exist (complete-case, same rows
    both engines). Absolute errors are exact BIGINT cent sums; sMAPE
    accumulates per-term micro-unit truncated integers (the q44i
    stepwise-truncation contract — a double per-term sum would be
    partition-order-dependent); rel_mae is one pinned double ratio.

    Scale: the fact folds map-side to the (priority, month) frame
    (calendar x taxonomy bounded); both self-joins are broadcast-sized.
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("pri"),
            (
                (F.year("o_orderdate") - 1995) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("t"),
            F.round(F.col("o_totalprice").cast("double") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("pri", "t")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    c = m.alias("c")
    s = m.alias("s")
    n = m.alias("n")
    e = (
        c.join(
            F.broadcast(s),
            (F.col("s.pri") == F.col("c.pri"))
            & (F.col("s.t") == F.col("c.t") - 12),
        )
        .join(
            F.broadcast(n),
            (F.col("n.pri") == F.col("c.pri"))
            & (F.col("n.t") == F.col("c.t") - 1),
        )
        .select(
            F.col("c.pri").alias("pri"),
            F.abs(F.col("c.cents") - F.col("s.cents")).alias("e_s"),
            F.abs(F.col("c.cents") - F.col("n.cents")).alias("e_n"),
            F.expr(
                "2000000 * abs(c.cents - s.cents) div (c.cents + s.cents)"
            ).alias("smape_s_micro"),
        )
    )
    return (
        e.groupBy("pri")
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.sum("e_s").cast("long").alias("sae_snaive"),
            F.sum("e_n").cast("long").alias("sae_naive"),
            F.sum("smape_s_micro").cast("long").alias("smape_snaive_micro"),
            F.round(
                F.sum("e_s").cast("double") / F.sum("e_n"), 6
            ).alias("rel_mae"),
        )
        .select(
            F.col("pri").alias("priority"),
            "n_eval",
            "sae_snaive",
            "sae_naive",
            "smape_snaive_micro",
            "rel_mae",
        )
        .orderBy("priority")
    )


@query(
    "q47k_shapley_attribution",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv,
             CAST(COALESCE(SUM(DISTINCT
               CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                               WHEN 'signup' THEN 4 WHEN 'view' THEN 8
               END), 0) AS BIGINT) AS mask
      FROM events GROUP BY user_id
    ),
    cm AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM u WHERE conv = 1 GROUP BY mask
    ),
    coal AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS s),
    v AS (
      SELECT coal.s,
             CAST(COALESCE(SUM(CASE WHEN (cm.mask & coal.s) = cm.mask
                                    THEN cm.cnt END), 0) AS BIGINT) AS v
      FROM coal LEFT JOIN cm ON TRUE GROUP BY coal.s
    ),
    ch AS (
      SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
                            ('error', CAST(2 AS BIGINT)),
                            ('signup', CAST(4 AS BIGINT)),
                            ('view', CAST(8 AS BIGINT))) t(channel, bit)
    ),
    terms AS (
      SELECT ch.channel,
             (CASE bit_count(lo.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                                   WHEN 2 THEN 2 ELSE 6 END)
             * (hi.v - lo.v) AS t24
      FROM ch
      JOIN v lo ON (lo.s & ch.bit) = 0
      JOIN v hi ON hi.s = lo.s | ch.bit
    )
    SELECT channel, CAST(SUM(t24) AS BIGINT) AS phi24,
           round(CAST(SUM(t24) AS DOUBLE) / 24, 6) AS phi
    FROM terms GROUP BY channel ORDER BY channel
    """,
    tags=("attribution", "funnel"),
)
def q47k_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE channel attribution — the game-theoretic upgrade
    of q47c last-touch and q47j removal-effect: each channel's credit
    is its average marginal contribution over all orderings of the
    4-channel coalition, with v(S) = number of converting users whose
    touched-channel set fits inside S.

    The coalition lattice is 2^|channels| = 16 nodes (taxonomy-
    bounded, the q47b class), so after ONE groupBy(user) pass that
    bitmasks each converting user's channel set, everything is
    16x16-bounded: v(S) sums user-mask counts under subset containment
    (mask & S = mask — the ~-free form both engines share), and each
    phi is a sum of weighted marginals with |S|!(c-|S|-1)! weights
    {6,2,2,6} — EXACT in 1/24 units, so phi24 is a hash-stable BIGINT
    and phi divides once at the end.

    Scale: the fact collapses map-side to <=2^c mask-count rows; the
    lattice join is constant-size regardless of corpus. Growing the
    taxonomy to c channels costs 2^c lattice rows (c<=20 practical) —
    never a second fact pass.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
    )
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("conv"),
        F.coalesce(F.sum_distinct(bit), F.lit(0)).cast("long").alias("mask"),
    )
    cm = (
        u.where(F.col("conv") == 1)
        .groupBy("mask")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    coal = spark.range(0, 16).select(F.col("id").cast("long").alias("s"))
    v = (
        coal.join(F.broadcast(cm))
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("mask").bitwiseAND(F.col("s"))
                        == F.col("mask"),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("v")
        )
    )
    ch = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit long",
    )
    lo = v.alias("lo")
    hi = v.alias("hi")
    w = (
        F.when(F.bit_count(F.col("lo.s")) == 0, 6)
        .when(F.bit_count(F.col("lo.s")) == 1, 2)
        .when(F.bit_count(F.col("lo.s")) == 2, 2)
        .otherwise(6)
    )
    terms = (
        ch.join(
            F.broadcast(lo), F.col("lo.s").bitwiseAND(F.col("bit")) == 0
        )
        .join(
            F.broadcast(hi),
            F.col("hi.s") == F.col("lo.s").bitwiseOR(F.col("bit")),
        )
        .select(
            "channel", (w * (F.col("hi.v") - F.col("lo.v"))).alias("t24")
        )
    )
    return (
        terms.groupBy("channel")
        .agg(
            F.sum("t24").cast("long").alias("phi24"),
            F.round(F.sum("t24").cast("double") / 24, 6).alias("phi"),
        )
        .orderBy("channel")
    )


@query(
    "q46h_bradley_terry",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sv
      FROM events GROUP BY 1, 2
    ),
    ty AS (
      SELECT event_type,
             CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT)
               AS ti
      FROM (SELECT DISTINCT event_type FROM events)
    ),
    pairs AS (
      SELECT ta.ti AS ia, tb.ti AS ib, a.sv AS va, b.sv AS vb
      FROM s a JOIN s b ON a.user_id = b.user_id
                        AND a.event_type < b.event_type
      JOIN ty ta ON ta.event_type = a.event_type
      JOIN ty tb ON tb.event_type = b.event_type
      WHERE a.sv <> b.sv
    ),
    w AS (
      SELECT CASE WHEN va > vb THEN ia ELSE ib END AS wi,
             CASE WHEN va > vb THEN ib ELSE ia END AS li,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM pairs GROUP BY 1, 2
    ),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM ty),
    grid AS (
      SELECT i.ti AS i, j.ti AS j, CAST(COALESCE(w.w, 0) AS DOUBLE) AS wij
      FROM ty i CROSS JOIN ty j LEFT JOIN w ON w.wi = i.ti AND w.li = j.ti
    ),
    flat AS (SELECT array_agg(wij ORDER BY i, j) AS wf FROM grid),
    wins AS (
      SELECT array_agg(tw ORDER BY i) AS wtot FROM (
        SELECT i, CAST(SUM(wij) AS DOUBLE) AS tw FROM grid GROUP BY i) z
    ),
    folded AS (
      SELECT list_reduce(
        list_concat(
          [list_transform(range(1, CAST(kk.k AS INT) + 1), z -> 1.0)],
          list_transform(range(30), z -> [CAST(0 AS DOUBLE)])),
        (pv, x) -> list_transform(
          [list_transform(range(0, CAST(kk.k AS INT)), i ->
             list_reduce(
               list_transform(range(0, CAST(kk.k AS INT)), j ->
                 CASE WHEN j = i
                        OR wf[CAST(i * kk.k + j AS INT) + 1]
                           + wf[CAST(j * kk.k + i AS INT) + 1] = 0
                      THEN CAST(0 AS DOUBLE)
                      ELSE (wf[CAST(i * kk.k + j AS INT) + 1]
                            + wf[CAST(j * kk.k + i AS INT) + 1])
                           / (pv[CAST(i AS INT) + 1]
                              + pv[CAST(j AS INT) + 1])
                 END),
               (a, b) -> a + b))],
          d -> list_transform(range(0, CAST(kk.k AS INT)), i ->
            CASE WHEN d[CAST(i AS INT) + 1] = 0 THEN CAST(0 AS DOUBLE)
                 ELSE wtot[CAST(i AS INT) + 1] / d[CAST(i AS INT) + 1]
            END))[1]) AS pf
      FROM flat, wins, kk
    ),
    tot AS (
      SELECT pf, list_reduce(pf, (a, b) -> a + b) AS s FROM folded
    )
    SELECT ty.event_type,
           CAST(wins_i.tw AS BIGINT) AS wins,
           round(tot.pf[CAST(ty.ti AS INT) + 1] / tot.s, 6) AS bt_score
    FROM tot, ty
    JOIN (SELECT i, CAST(SUM(wij) AS BIGINT) AS tw FROM grid GROUP BY i)
      wins_i ON wins_i.i = ty.ti
    ORDER BY ty.event_type
    """,
    tags=("statistics", "ranking", "fold"),
)
def q46h_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY preference-strength fit over event types — the
    model behind preference-pair training data (q95ac builds pairs;
    THIS recovers latent quality scores from pairwise outcomes): each
    user's higher-valued type beats the lower in that user's matchup,
    and 30 minorize-maximize iterations p_i <- W_i / sum_j
    n_ij/(p_i+p_j) recover the maximum-likelihood strengths.

    The win matrix is taxonomy-bounded (k^2 <= 25 cells) after one
    groupBy(user, type) pass and a per-user k^2-bounded self-join, so
    the MM iteration runs as an in-row fold over a 30-element dummy
    sequence with a k-double state (the q47f power-iteration
    discipline). The update is HOMOGENEOUS degree-1, so normalization
    happens ONCE after the fold (identifiability only) — inside the
    fold both engines execute one identical op sequence; a
    singleton-list transform acts as the let-binding for the k
    denominators. Degenerate zero-denominator rows pin to 0.0 rather
    than propagate NaN (hash-stable guard).

    Scale: fact -> (user, type) map-side; the per-user pair join keys
    on user_id (distributes freely, <= k^2/2 output rows per user);
    everything after the 25-cell grid is constant-size.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.floor(F.col("value")).cast("long"))
        .cast("long")
        .alias("sv")
    )
    ty = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            (F.row_number().over(W.orderBy("event_type")) - 1)
            .cast("long")
            .alias("ti"),
        )
    )
    a = s.alias("a")
    b = s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .join(
            F.broadcast(ty.alias("ta")),
            F.col("ta.event_type") == F.col("a.event_type"),
        )
        .join(
            F.broadcast(ty.alias("tb")),
            F.col("tb.event_type") == F.col("b.event_type"),
        )
        .where(F.col("a.sv") != F.col("b.sv"))
        .select(
            F.col("ta.ti").alias("ia"),
            F.col("tb.ti").alias("ib"),
            F.col("a.sv").alias("va"),
            F.col("b.sv").alias("vb"),
        )
    )
    w = (
        pairs.select(
            F.when(F.col("va") > F.col("vb"), F.col("ia"))
            .otherwise(F.col("ib"))
            .alias("wi"),
            F.when(F.col("va") > F.col("vb"), F.col("ib"))
            .otherwise(F.col("ia"))
            .alias("li"),
        )
        .groupBy("wi", "li")
        .agg(F.count("*").cast("long").alias("w"))
    )
    grid = (
        ty.alias("i")
        .crossJoin(F.broadcast(ty.alias("j")))
        .join(
            F.broadcast(w),
            (F.col("wi") == F.col("i.ti")) & (F.col("li") == F.col("j.ti")),
            "left",
        )
        .select(
            F.col("i.ti").alias("i"),
            F.col("j.ti").alias("j"),
            F.coalesce(F.col("w"), F.lit(0)).cast("double").alias("wij"),
        )
    )
    kk = ty.agg(F.count("*").cast("long").alias("k"))
    flat = grid.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "j", "wij"))),
            lambda st: st["wij"],
        ).alias("wf")
    )
    wins = (
        grid.groupBy("i")
        .agg(F.sum("wij").alias("tw"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tw"))),
                lambda st: st["tw"],
            ).alias("wtot")
        )
    )
    one = flat.crossJoin(F.broadcast(wins)).crossJoin(F.broadcast(kk))

    ki = F.col("k").cast("int")

    def nij(i, j):
        return F.element_at(
            "wf", (i * F.col("k") + j).cast("int") + 1
        ) + F.element_at("wf", (j * F.col("k") + i).cast("int") + 1)

    def denoms(pv):
        return F.transform(
            F.sequence(F.lit(0), ki - 1),
            lambda i: F.aggregate(
                F.transform(
                    F.sequence(F.lit(0), ki - 1),
                    lambda j: F.when(
                        (j == i) | (nij(i, j) == 0), F.lit(0.0)
                    ).otherwise(
                        nij(i, j)
                        / (
                            F.element_at(pv, i.cast("int") + 1)
                            + F.element_at(pv, j.cast("int") + 1)
                        )
                    ),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
        )

    def step(pv, x):
        return F.element_at(
            F.transform(
                F.array(denoms(pv)),
                lambda d: F.transform(
                    F.sequence(F.lit(0), ki - 1),
                    lambda i: F.when(
                        F.element_at(d, i.cast("int") + 1) == 0, F.lit(0.0)
                    ).otherwise(
                        F.element_at("wtot", i.cast("int") + 1)
                        / F.element_at(d, i.cast("int") + 1)
                    ),
                ),
            ),
            1,
        )

    folded = one.select(
        "k",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(30)),
            F.transform(F.sequence(F.lit(1), ki), lambda z: F.lit(1.0)),
            step,
        ).alias("pf"),
    ).select(
        "pf",
        F.aggregate("pf", F.lit(0.0), lambda a, t: a + t).alias("s"),
    )
    wins_i = grid.groupBy("i").agg(F.sum("wij").cast("long").alias("tw"))
    return (
        ty.join(F.broadcast(wins_i), F.col("i") == F.col("ti"))
        .crossJoin(F.broadcast(folded))
        .select(
            "event_type",
            F.col("tw").alias("wins"),
            F.round(
                F.element_at("pf", F.col("ti").cast("int") + 1)
                / F.col("s"),
                6,
            ).alias("bt_score"),
        )
        .orderBy("event_type")
    )


@query(
    "q36af_cochran_armitage",
    oracle="""
    WITH g AS (
      SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr,
             CAST(SUM(s * r) AS BIGINT) AS sr,
             CAST(SUM(s * n) AS BIGINT) AS sn,
             CAST(SUM(s * s * n) AS BIGINT) AS ssn
      FROM g
    )
    SELECT nn AS n_events, rr AS n_purchases,
           nn * sr - rr * sn AS num_int,
           round(CAST(nn * sr - rr * sn AS DOUBLE)
                 / sqrt(CAST(rr AS DOUBLE) * (nn - rr) / nn
                        * (CAST(nn AS DOUBLE) * ssn
                           - CAST(sn AS DOUBLE) * sn)),
                 6) AS z_trend
    FROM tot
    """,
    tags=("agg", "statistics"),
)
def q36af_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-ARMITAGE trend test: does the purchase share of daily
    traffic TREND across the month? — the ordered-categories
    counterpart of q36p's chi-square independence (which ignores
    category order) on the 2 x |days| outcome table, scores = day
    indexes.

    All five moments (N, R, sum s*r, sum s*n, sum s^2*n) are exact
    BIGINTs from one map-side-combinable day histogram (s <= 31, so
    ssn <= ~1e8 at sf0.1, ~1e11 at sf100); the trend numerator
    N*sum(sr) - R*sum(sn) is an exact BIGINT and z is ONE pinned
    double expression (every factor cast to DOUBLE before multiplying
    — the q36u overflow convention).

    Scale: fact -> day frame map-side; everything after is
    |days|-bounded.
    """
    tune_for_oracle(spark)
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.dayofmonth("ts").cast("long").alias("s"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("r"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("s") * F.col("r")).cast("long").alias("sr"),
        F.sum(F.col("s") * F.col("n")).cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n"))
        .cast("long")
        .alias("ssn"),
    )
    num = F.col("nn") * F.col("sr") - F.col("rr") * F.col("sn")
    return tot.select(
        F.col("nn").alias("n_events"),
        F.col("rr").alias("n_purchases"),
        num.alias("num_int"),
        F.round(
            num.cast("double")
            / F.sqrt(
                F.col("rr").cast("double")
                * (F.col("nn") - F.col("rr"))
                / F.col("nn")
                * (
                    F.col("nn").cast("double") * F.col("ssn")
                    - F.col("sn").cast("double") * F.col("sn")
                )
            ),
            6,
        ).alias("z_trend"),
    )


@query(
    "q36ag_cohens_d",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS x
      FROM events WHERE event_type IN ('view', 'click')
    ),
    pg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss
      FROM v GROUP BY g
    ),
    wide AS (
      SELECT MAX(CASE WHEN g = 'view' THEN n END) AS n1,
             MAX(CASE WHEN g = 'view' THEN s END) AS s1,
             MAX(CASE WHEN g = 'view' THEN ss END) AS ss1,
             MAX(CASE WHEN g = 'click' THEN n END) AS n2,
             MAX(CASE WHEN g = 'click' THEN s END) AS s2,
             MAX(CASE WHEN g = 'click' THEN ss END) AS ss2
      FROM pg
    )
    SELECT n1, n2,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(((CAST(ss1 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * s1 / n1)
                         + (CAST(ss2 AS DOUBLE)
                            - CAST(s2 AS DOUBLE) * s2 / n2))
                        / (n1 + n2 - 2)),
                 6) AS cohens_d,
           round(((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                  / sqrt(((CAST(ss1 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * s1 / n1)
                          + (CAST(ss2 AS DOUBLE)
                             - CAST(s2 AS DOUBLE) * s2 / n2))
                         / (n1 + n2 - 2)))
                 * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g
    FROM wide
    """,
    tags=("agg", "statistics"),
)
def q36ag_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S D / HEDGES' G effect size between view and click values
    — the magnitude companion to q36j's Welch t significance (a
    p-value says real; d says HOW BIG, which is what a data-mixing
    decision actually needs).

    Pooled-SD d assembles from exact BIGINT moments (n, sum, sumsq per
    group) in one pinned double expression; Hedges' small-sample
    correction 1 - 3/(4N-9) is exact rational arithmetic in doubles.
    The two-group pivot is a 2-row MAX-CASE fold, never a join.

    Scale: one map-side-combinable pass; 2-row frame after.
    """
    tune_for_oracle(spark)
    v = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click"))
        .select(
            F.col("event_type").alias("g"),
            F.floor(F.col("value")).cast("long").alias("x"),
        )
    )
    pg = v.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    wide = pg.agg(
        F.max(F.when(F.col("g") == "view", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == "view", F.col("s"))).alias("s1"),
        F.max(F.when(F.col("g") == "view", F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("g") == "click", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g") == "click", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("g") == "click", F.col("ss"))).alias("ss2"),
    )
    mean_diff = F.col("s1").cast("double") / F.col("n1") - F.col(
        "s2"
    ).cast("double") / F.col("n2")
    pooled = F.sqrt(
        (
            (
                F.col("ss1").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
            )
            + (
                F.col("ss2").cast("double")
                - F.col("s2").cast("double") * F.col("s2") / F.col("n2")
            )
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = mean_diff / pooled
    return wide.select(
        "n1",
        "n2",
        F.round(d, 6).alias("cohens_d"),
        F.round(
            d * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9)), 6
        ).alias("hedges_g"),
    )


KALMAN_ORACLE = """
    WITH m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS t,
             CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT array_agg(CAST(cents AS DOUBLE) / 100000000.0 ORDER BY t)
               AS ys,
             CAST(COUNT(*) AS BIGINT) AS n FROM m
    ),
    folded AS (
      SELECT n, list_reduce(
        list_concat(
          [[ys[1], ys[2] - ys[1], 100.0, 0.0, 25.0]],
          list_transform(list_slice(ys, 3, CAST(n AS INT)), y -> [y])),
        (acc, x) -> list_transform(
          [[acc[1] + acc[2], acc[2],
            acc[3] + 2 * acc[4] + acc[5] + 0.0625,
            acc[4] + acc[5],
            acc[5] + 0.0625]],
          a -> list_transform(
            [[a[3] / (a[3] + 4), a[4] / (a[3] + 4)]],
            k -> [a[1] + k[1] * (x[1] - a[1]),
                  a[2] + k[2] * (x[1] - a[1]),
                  (1 - k[1]) * a[3],
                  (1 - k[1]) * a[4],
                  a[5] - k[2] * a[4]])[1])[1]) AS st
      FROM series
    )
    SELECT n AS n_months,
           round(st[1], 6) AS level,
           round(st[2], 6) AS velocity,
           round(st[3], 6) AS p_level,
           round((st[3] + 2 * st[4] + st[5] + 0.0625)
                 / (st[3] + 2 * st[4] + st[5] + 0.0625 + 4), 6)
             AS gain_next,
           round(st[1] + st[2], 6) AS forecast_next
    FROM folded
    """


@query(
    "q42n_kalman_filter",
    oracle=KALMAN_ORACLE,
    tags=("timeseries", "smoothing", "fold"),
)
def q42n_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D KALMAN FILTER (constant-velocity model) over monthly revenue
    — the probabilistic completion of the smoothing ladder: unlike
    q42d/q42j/q42l's fixed smoothing weights, the gain ADAPTS to the
    state covariance, and the posterior variance (p_level) quantifies
    forecast confidence.

    Model: state [level, velocity], F=[[1,1],[0,1]], process noise
    Q=diag(1/16,1/16), observation H=[1,0], R=4 — all constants dyadic.
    Each month folds predict (x1=l+v; P'=FPF'+Q, expanded to the three
    symmetric entries) then update (K=P'H'/S with S=p11'+R; state +=
    K*innovation; Joseph-free covariance update). The recurrence is
    ONE in-row fold over the calendar-bounded month series with a
    5-double state (the q42j discipline: identical IEEE op sequence on
    identical inputs — the division by S is deterministic per step);
    nested singleton-list transforms are the let-bindings for the
    predicted covariance and the gain pair. Revenue scales to 1e6-cent
    units so doubles stay O(100).

    Scale: the fact folds map-side to one cents row per month;
    state is 5 doubles regardless of history length. The streaming
    twin would carry the same 5 doubles per key (qm19/qm21 class).
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("t"),
            F.round(F.col("o_totalprice").cast("double") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("t")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    series = m.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "t",
                        (F.col("cents").cast("double") / 100000000.0).alias(
                            "y"
                        ),
                    )
                )
            ),
            lambda s: s["y"],
        ).alias("ys"),
        F.count("*").cast("long").alias("n"),
    )
    acc0 = F.array(
        F.element_at("ys", 1),
        F.element_at("ys", 2) - F.element_at("ys", 1),
        F.lit(100.0),
        F.lit(0.0),
        F.lit(25.0),
    )

    from better_cdc_spark.operators import kalman_cv_step as step

    folded = series.select(
        "n",
        F.aggregate(
            F.slice("ys", 3, F.col("n").cast("int") - 2),
            acc0,
            step,
        ).alias("st"),
    )
    p_pred = (
        F.element_at("st", 3)
        + 2 * F.element_at("st", 4)
        + F.element_at("st", 5)
        + 0.0625
    )
    return folded.select(
        F.col("n").alias("n_months"),
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("velocity"),
        F.round(F.element_at("st", 3), 6).alias("p_level"),
        F.round(p_pred / (p_pred + 4), 6).alias("gain_next"),
        F.round(
            F.element_at("st", 1) + F.element_at("st", 2), 6
        ).alias("forecast_next"),
    )


@query(
    "q36ah_runs_test",
    oracle="""
    WITH m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    med AS (
      SELECT CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN y END)
                  + MAX(CASE WHEN rn = (n + 2) // 2 THEN y END)
                  AS BIGINT) AS m2
      FROM (SELECT y, row_number() OVER (ORDER BY y, t) AS rn,
                   COUNT(*) OVER () AS n
            FROM m) z
    ),
    s AS (
      SELECT t, CASE WHEN 2 * y > m2 THEN 1 ELSE 0 END AS above
      FROM m, med WHERE 2 * y <> m2
    ),
    runs AS (
      SELECT above,
             CASE WHEN lag(above) OVER (ORDER BY t) IS NULL
                    OR lag(above) OVER (ORDER BY t) <> above
                  THEN 1 ELSE 0 END AS starts
      FROM s
    ),
    agg AS (
      SELECT CAST(SUM(starts) AS BIGINT) AS r,
             CAST(SUM(above) AS BIGINT) AS n1,
             CAST(SUM(1 - above) AS BIGINT) AS n2
      FROM runs
    )
    SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
           round((CAST(r AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((CAST(n1 + n2 AS DOUBLE))
                           * (n1 + n2) * (n1 + n2 - 1))),
                 6) AS z_score
    FROM agg
    """,
    tags=("agg", "statistics", "timeseries"),
)
def q36ah_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST on monthly order counts around their
    median — the randomness screen that complements q36ae's
    Durbin-Watson (DW measures lag-1 correlation of fit residuals;
    runs counts sign-clustering of the raw series, catching
    non-linear momentum DW misses).

    The median is a DOUBLED discrete order statistic (q36n convention)
    so above/below is an exact integer comparison 2y <> m2 (exact-
    median months drop, the classical rule). Runs count as
    start-of-run indicators via lag over the calendar-bounded month
    grid; r, n1, n2 are exact BIGINTs and the normal-approximation z
    is ONE pinned double expression.

    Scale: the fact folds map-side to the month frame; every window
    is month-grid-bounded (q42k documented-bounded class).
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("y"))
    )
    ranked = m.select(
        "t",
        "y",
        F.row_number().over(W.orderBy("y", "t")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("(n + 2) div 2")
    med = ranked.agg(
        (
            F.max(F.when(F.col("rn") == lo, F.col("y")))
            + F.max(F.when(F.col("rn") == hi, F.col("y")))
        )
        .cast("long")
        .alias("m2")
    )
    s = (
        m.crossJoin(F.broadcast(med))
        .where(2 * F.col("y") != F.col("m2"))
        .select(
            "t",
            F.when(2 * F.col("y") > F.col("m2"), 1).otherwise(0).alias(
                "above"
            ),
        )
    )
    runs = s.select(
        "above",
        F.when(
            F.lag("above").over(W.orderBy("t")).isNull()
            | (F.lag("above").over(W.orderBy("t")) != F.col("above")),
            1,
        )
        .otherwise(0)
        .alias("starts"),
    )
    agg = runs.agg(
        F.sum("starts").cast("long").alias("r"),
        F.sum("above").cast("long").alias("n1"),
        F.sum(1 - F.col("above")).cast("long").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    z = (
        F.col("r").cast("double")
        - (2.0 * n1 * n2 / (n1 + n2) + 1)
    ) / F.sqrt(
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / (
            (n1 + n2).cast("double")
            * (n1 + n2)
            * (n1 + n2 - 1)
        )
    )
    return agg.select(
        F.col("r").alias("n_runs"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        F.round(z, 6).alias("z_score"),
    )


@query(
    "q53i_herfindahl_index",
    oracle="""
    WITH s AS (
      SELECT n_name,
             CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY n_name
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM s),
    sh AS (
      SELECT n_name, cents,
             1000000 * cents // total AS share_micro
      FROM s, tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(share_micro * share_micro) AS BIGINT) AS hhi_pico,
           round(CAST(SUM(share_micro * share_micro) AS DOUBLE) / 1e12,
                 6) AS hhi,
           round(1.0 / (CAST(SUM(share_micro * share_micro) AS DOUBLE)
                        / 1e12), 6) AS effective_n
    FROM sh
    """,
    tags=("agg", "statistics", "inequality"),
)
def q53i_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN concentration index of revenue across
    nations — the concentration summary completing the inequality
    family (q53d Gini: dispersion; q53c Pareto: top-k mass; THIS:
    sum-of-squared-shares and its reciprocal, the 'effective number
    of markets' a mixing pipeline reads as effective source count).

    Shares are DEFINED micro-unit integers (1e6*cents // total — the
    q44i stepwise-truncation contract), so HHI in pico-units is an
    exact BIGINT sum (<= 1e12) and both doubles divide once at the
    end. The share frame is |nations|-bounded.

    Scale: fact folds map-side through two broadcast dim joins to 25
    nation rows; the total is a 1-row broadcast back.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    s = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice").cast("double") * 100, 0).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("cents")
        )
    )
    tot = s.agg(F.sum("cents").cast("long").alias("total"))
    sh = s.crossJoin(F.broadcast(tot)).select(
        "n_name",
        F.expr("1000000 * cents div total").alias("share_micro"),
    )
    hhi_pico = F.sum(F.col("share_micro") * F.col("share_micro")).cast(
        "long"
    )
    return sh.agg(
        F.count("*").cast("long").alias("n_nations"),
        hhi_pico.alias("hhi_pico"),
        F.round(hhi_pico.cast("double") / 1e12, 6).alias("hhi"),
        F.round(1.0 / (hhi_pico.cast("double") / 1e12), 6).alias(
            "effective_n"
        ),
    )


@query(
    "q47l_time_decay_attribution",
    oracle="""
    WITH conv AS (
      SELECT user_id, MIN(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touch AS (
      SELECT e.user_id, e.event_type,
             CAST(1000000 AS BIGINT)
               >> CAST(date_diff('day', CAST(e.ts AS DATE),
                                 CAST(c.conv_ts AS DATE)) // 7 AS INT)
               AS w_micro
      FROM events e
      JOIN conv c ON c.user_id = e.user_id
      WHERE e.event_type <> 'purchase' AND e.ts < c.conv_ts
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(w_micro) AS BIGINT) AS credit_micro,
           round(CAST(SUM(w_micro) AS DOUBLE)
                 / (SELECT SUM(w_micro) FROM touch), 6) AS credit_share
    FROM touch GROUP BY event_type ORDER BY event_type
    """,
    tags=("attribution", "funnel"),
)
def q47l_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY ATTRIBUTION with a one-week half-life — the recency-
    weighted member of the attribution family (q47c last-touch: all
    credit to the final touch; q47k Shapley: order-free marginal
    credit; THIS: exponentially more credit the closer a touch sits to
    conversion).

    The half-life decay is a POWER-OF-TWO shift, not a transcendental:
    weight = 1e6 >> (days_before_conversion // 7), so every weight is
    an exact BIGINT and credit sums are hash-stable — the engine-
    portable way to express exponential decay (exp()/pow() would be
    engine-rounding-dependent; the dyadic ladder is the statistic's
    contract). Day distance uses DATE-granularity diffs (identical
    integer on both engines); touches after conversion drop.

    Scale: conversion times are one map-side-combinable pass; the
    touch join keys on user_id (co-partitions with the conversion
    frame); credit aggregation is taxonomy-bounded. The share divides
    by a 1-row broadcast total.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touch = (
        ev.alias("e")
        .join(conv.alias("c"), "user_id")
        .where(
            (F.col("e.event_type") != "purchase")
            & (F.col("e.ts") < F.col("c.conv_ts"))
        )
        .select(
            F.col("e.event_type").alias("channel"),
            F.expr(
                "CAST(1000000 AS BIGINT) >> CAST("
                "datediff(CAST(c.conv_ts AS DATE), CAST(e.ts AS DATE))"
                " div 7 AS INT)"
            ).alias("w_micro"),
        )
    )
    tot = touch.agg(F.sum("w_micro").cast("long").alias("total"))
    return (
        touch.groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("w_micro").cast("long").alias("credit_micro"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_touches",
            "credit_micro",
            F.round(
                F.col("credit_micro").cast("double") / F.col("total"), 6
            ).alias("credit_share"),
        )
        .orderBy("channel")
    )


@query(
    "q36ai_mcnemar",
    oracle="""
    WITH u AS (
      SELECT user_id, EXTRACT(day FROM ts) AS d,
             CAST(MAX(CASE WHEN event_type = 'purchase'
                            AND EXTRACT(hour FROM ts) < 12
                           THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(MAX(CASE WHEN event_type = 'purchase'
                            AND EXTRACT(hour FROM ts) >= 12
                           THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM events GROUP BY user_id, EXTRACT(day FROM ts)
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN f1 = 1 AND f2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN f1 = 0 AND f2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM u
    )
    SELECT n AS n_pairs, b AS n_lost, c AS n_gained,
           round(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 6)
             AS chi2,
           round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                 / (b + c), 6) AS chi2_cc
    FROM agg
    """,
    tags=("agg", "statistics"),
)
def q36ai_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST on paired binary conversion flags per
    (user, day) — purchased in the MORNING vs the EVENING of the same
    day — the paired-nominal member of the test battery: q36ab handles
    paired CONTINUOUS differences, THIS handles paired BINARY
    outcomes, asking whether the discordant flows balance. (The pair
    unit is (user, day), not user: per-user flags saturate to all-ones
    at every sf — the q36af degeneracy lesson.)

    b and c (the discordant cells) are exact BIGINT counts from one
    groupBy(user, day) pass; chi-square and its continuity-corrected
    form are single pinned double expressions over (b - c)^2 integers.

    Scale: one map-side-combinable pass; a scalar frame after.
    """
    tune_for_oracle(spark)
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.dayofmonth("ts").alias("d"))
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.hour("ts") < 12),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("f1"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.hour("ts") >= 12),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("f2"),
        )
    )
    agg = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when((F.col("f1") == 1) & (F.col("f2") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when((F.col("f1") == 0) & (F.col("f2") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
    )
    d = F.col("b") - F.col("c")
    return agg.select(
        F.col("n").alias("n_pairs"),
        F.col("b").alias("n_lost"),
        F.col("c").alias("n_gained"),
        F.round(
            (d * d).cast("double") / (F.col("b") + F.col("c")), 6
        ).alias("chi2"),
        F.round(
            ((F.abs(d) - 1) * (F.abs(d) - 1)).cast("double")
            / (F.col("b") + F.col("c")),
            6,
        ).alias("chi2_cc"),
    )


@query(
    "q36aj_cronbach_alpha",
    oracle="""
    WITH sc AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
               THEN CAST(floor(value) AS BIGINT) END), 0) AS BIGINT) AS i1,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'error'
               THEN CAST(floor(value) AS BIGINT) END), 0) AS BIGINT) AS i2,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(floor(value) AS BIGINT) END), 0) AS BIGINT) AS i3,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'signup'
               THEN CAST(floor(value) AS BIGINT) END), 0) AS BIGINT) AS i4,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
               THEN CAST(floor(value) AS BIGINT) END), 0) AS BIGINT) AS i5
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(i1) AS BIGINT) AS s1, CAST(SUM(i1*i1) AS BIGINT) AS q1,
             CAST(SUM(i2) AS BIGINT) AS s2, CAST(SUM(i2*i2) AS BIGINT) AS q2,
             CAST(SUM(i3) AS BIGINT) AS s3, CAST(SUM(i3*i3) AS BIGINT) AS q3,
             CAST(SUM(i4) AS BIGINT) AS s4, CAST(SUM(i4*i4) AS BIGINT) AS q4,
             CAST(SUM(i5) AS BIGINT) AS s5, CAST(SUM(i5*i5) AS BIGINT) AS q5,
             CAST(SUM(i1+i2+i3+i4+i5) AS BIGINT) AS st,
             CAST(SUM((i1+i2+i3+i4+i5)*(i1+i2+i3+i4+i5)) AS BIGINT) AS qt
      FROM sc
    ),
    vv AS (
      SELECT n,
             (n*q1 - s1*s1) + (n*q2 - s2*s2) + (n*q3 - s3*s3)
               + (n*q4 - s4*s4) + (n*q5 - s5*s5) AS vi,
             n*qt - st*st AS vt
      FROM mom
    )
    SELECT n AS n_users, CAST(5 AS BIGINT) AS k_items,
           vi AS item_varnum, vt AS total_varnum,
           round(5.0 / 4 * (1 - CAST(vi AS DOUBLE) / vt), 6) AS alpha
    FROM vv
    """,
    tags=("agg", "statistics"),
)
def q36aj_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRONBACH'S ALPHA internal-consistency coefficient treating the
    five event types as items and users as cases (zero-filled scores —
    the complete-matrix convention) — the reliability readout a
    quality-gate ensemble (q98y's kappa measures 2-rater agreement;
    alpha measures k-item coherence) reads before trusting a composite
    score.

    Variance NUMERATORS n*sumsq - sum^2 are exact BIGINTs and the
    n(n-1) denominators cancel between the item sum and the total, so
    alpha = k/(k-1) * (1 - sum(Vi)/Vt) touches doubles exactly once.
    Headroom: s^2 <= ~1e16 at sf0.1 (sf1 documented borderline — the
    q42f overflow-note convention; scale scores to 1/10 units there).

    Scale: ONE map-side-combinable groupBy(user) pass with in-row
    conditional sums (no pivot join); a scalar frame after.
    """
    tune_for_oracle(spark)

    def item(t):
        return (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == t,
                        F.floor(F.col("value")).cast("long"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
        )

    sc = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        item("click").alias("i1"),
        item("error").alias("i2"),
        item("purchase").alias("i3"),
        item("signup").alias("i4"),
        item("view").alias("i5"),
    )
    tot_expr = (
        F.col("i1") + F.col("i2") + F.col("i3") + F.col("i4") + F.col("i5")
    )
    mom = sc.agg(
        F.count("*").cast("long").alias("n"),
        *[
            c
            for i in range(1, 6)
            for c in (
                F.sum(F.col(f"i{i}")).cast("long").alias(f"s{i}"),
                F.sum(F.col(f"i{i}") * F.col(f"i{i}"))
                .cast("long")
                .alias(f"q{i}"),
            )
        ],
        F.sum(tot_expr).cast("long").alias("st"),
        F.sum(tot_expr * tot_expr).cast("long").alias("qt"),
    )
    vi = sum(
        (
            F.col("n") * F.col(f"q{i}") - F.col(f"s{i}") * F.col(f"s{i}")
            for i in range(2, 6)
        ),
        F.col("n") * F.col("q1") - F.col("s1") * F.col("s1"),
    )
    vt = F.col("n") * F.col("qt") - F.col("st") * F.col("st")
    return mom.select(
        F.col("n").alias("n_users"),
        F.lit(5).cast("long").alias("k_items"),
        vi.cast("long").alias("item_varnum"),
        vt.cast("long").alias("total_varnum"),
        F.round(
            F.lit(5.0) / 4 * (1 - vi.cast("double") / vt), 6
        ).alias("alpha"),
    )


@query(
    "q36ak_goodman_kruskal_gamma",
    oracle="""
    WITH cells AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS dx,
             CAST(floor(value / 50) AS BIGINT) AS vy,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN b.vy > a.vy THEN a.o * b.o ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN b.vy < a.vy THEN a.o * b.o ELSE 0 END)
                  AS BIGINT) AS d,
             CAST(SUM(CASE WHEN b.vy = a.vy THEN a.o * b.o ELSE 0 END)
                  AS BIGINT) AS ty
      FROM cells a JOIN cells b ON b.dx > a.dx
    ),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
    SELECT tot.n AS n_events, pairs.c AS n_concordant, pairs.d AS n_discordant,
           pairs.ty AS n_tied_y_only,
           round(CAST(pairs.c - pairs.d AS DOUBLE) / (pairs.c + pairs.d), 6)
             AS gamma,
           round(CAST(pairs.c - pairs.d AS DOUBLE)
                 / (pairs.c + pairs.d + pairs.ty), 6) AS somers_d_yx
    FROM pairs, tot
    """,
    tags=("agg", "statistics"),
)
def q36ak_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOODMAN-KRUSKAL GAMMA (and Somers' d_yx) between day-of-week and
    the value's 50-unit band — the ordinal-association pair completing
    the ladder q36w tau-b sits on: gamma ignores ties entirely (the
    optimist's tau), Somers' D penalizes ties on the DEPENDENT axis
    only, the asymmetric form a dashboard quotes when Y is the outcome.

    Exactness: both axes are BOUNDED grids (7 weekdays x ~12 value
    bands), so concordant/discordant/tied-Y pair counts come from ONE
    strict-x self-join of the <=84-row contingency frame — products of
    cell counts, exact BIGINT end to end (C <= n^2/2 ~ 5e13 at sf10;
    the fact is never pair-joined). Two pinned double divisions at the
    end; no ordered fold needed because every pre-double term is
    integer.

    Scale: one map-side-combinable histogram pass over the fact; the
    self-join runs on the broadcast-sized grid. The q36w/q36t grid
    discipline verbatim.
    """
    tune_for_oracle(spark)
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.dayofweek("ts").cast("long").alias("dx"),
            F.floor(F.col("value") / 50).cast("long").alias("vy"),
        )
        .agg(F.count("*").cast("long").alias("o"))
    )
    a = cells.select(
        F.col("dx").alias("dxa"), F.col("vy").alias("vya"), F.col("o").alias("oa")
    )
    b = cells.select(
        F.col("dx").alias("dxb"), F.col("vy").alias("vyb"), F.col("o").alias("ob")
    )
    pairs = a.join(F.broadcast(b), F.col("dxb") > F.col("dxa")).agg(
        F.sum(
            F.when(F.col("vyb") > F.col("vya"), F.col("oa") * F.col("ob")).otherwise(0)
        ).cast("long").alias("c"),
        F.sum(
            F.when(F.col("vyb") < F.col("vya"), F.col("oa") * F.col("ob")).otherwise(0)
        ).cast("long").alias("d"),
        F.sum(
            F.when(F.col("vyb") == F.col("vya"), F.col("oa") * F.col("ob")).otherwise(0)
        ).cast("long").alias("ty"),
    )
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    cd = F.col("c") - F.col("d")
    return pairs.join(F.broadcast(tot)).select(
        F.col("n").alias("n_events"),
        F.col("c").alias("n_concordant"),
        F.col("d").alias("n_discordant"),
        F.col("ty").alias("n_tied_y_only"),
        F.round(cd.cast("double") / (F.col("c") + F.col("d")), 6).alias("gamma"),
        F.round(
            cd.cast("double") / (F.col("c") + F.col("d") + F.col("ty")), 6
        ).alias("somers_d_yx"),
    )


@query(
    "q36al_cliffs_delta",
    oracle="""
    WITH h1 AS (
      SELECT CAST(floor(value) AS BIGINT) AS x, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    h2 AS (
      SELECT CAST(floor(value) AS BIGINT) AS x, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    dom AS (
      SELECT CAST(SUM(CASE WHEN a.x > b.x THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS gt,
             CAST(SUM(CASE WHEN a.x < b.x THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS lt
      FROM h1 a JOIN h2 b ON TRUE
    ),
    ns AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM h1) AS n1,
             (SELECT CAST(SUM(c) AS BIGINT) FROM h2) AS n2
    )
    SELECT ns.n1, ns.n2, dom.gt AS n_gt, dom.lt AS n_lt,
           round(CAST(dom.gt - dom.lt AS DOUBLE) / (ns.n1 * ns.n2), 6)
             AS cliffs_delta,
           CASE WHEN 1000 * abs(dom.gt - dom.lt) < 147 * ns.n1 * ns.n2
                  THEN 'negligible'
                WHEN 1000 * abs(dom.gt - dom.lt) < 330 * ns.n1 * ns.n2
                  THEN 'small'
                WHEN 1000 * abs(dom.gt - dom.lt) < 474 * ns.n1 * ns.n2
                  THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM dom, ns
    """,
    tags=("agg", "statistics"),
)
def q36al_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIFF'S DELTA between click and view values — the ordinal effect
    size that pairs with q36t's Mann-Whitney the way q36ag's Cohen's d
    pairs with q36j's Welch t: U says "different", delta says "by how
    much", assumption-free (delta = P(X>Y) - P(X<Y)).

    Exactness: dominance counts come from the cross-join of the two
    value-grid HISTOGRAMS (~400 x ~400 bounded cells, broadcast-sized
    — the fact is never pair-joined), products of counts summed as
    exact BIGINTs. The magnitude call (Romano thresholds .147/.33/.474)
    is made on INTEGERS — 1000*|gt-lt| vs threshold*n1*n2 — so the
    label can never flip on a last-ulp double divergence between
    engines; the double delta is display-only, pinned once.

    Scale: two map-side-combinable histogram passes; the dominance join
    runs on broadcast grids. Grid-histogram discipline (q36t/q36aa).
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")

    def hist(t):
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy(F.floor("value").cast("long").alias("x"))
            .agg(F.count("*").cast("long").alias("c"))
        )

    h1 = hist("click").select(F.col("x").alias("x1"), F.col("c").alias("c1"))
    h2 = hist("view").select(F.col("x").alias("x2"), F.col("c").alias("c2"))
    dom = h1.join(F.broadcast(h2)).agg(
        F.sum(
            F.when(F.col("x1") > F.col("x2"), F.col("c1") * F.col("c2")).otherwise(0)
        ).cast("long").alias("gt"),
        F.sum(
            F.when(F.col("x1") < F.col("x2"), F.col("c1") * F.col("c2")).otherwise(0)
        ).cast("long").alias("lt"),
    )
    ns = h1.agg(F.sum("c1").cast("long").alias("n1")).join(
        h2.agg(F.sum("c2").cast("long").alias("n2"))
    )
    ad = F.abs(F.col("gt") - F.col("lt")) * 1000
    nn = F.col("n1") * F.col("n2")
    return dom.join(F.broadcast(ns)).select(
        "n1",
        "n2",
        F.col("gt").alias("n_gt"),
        F.col("lt").alias("n_lt"),
        F.round(
            (F.col("gt") - F.col("lt")).cast("double") / nn, 6
        ).alias("cliffs_delta"),
        F.when(ad < 147 * nn, "negligible")
        .when(ad < 330 * nn, "small")
        .when(ad < 474 * nn, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


@query(
    "q36am_point_biserial",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b,
             CAST(floor(value) AS BIGINT) AS x
      FROM events
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(b) AS BIGINT) AS n1,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(b * x) AS BIGINT) AS sbx
      FROM v
    )
    SELECT n, n1, n - n1 AS n0,
           round((CAST(n AS DOUBLE) * sbx - CAST(n1 AS DOUBLE) * sx)
                 / sqrt(CAST(n1 AS DOUBLE) * (n - n1)
                        * (CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx)), 6) AS r_pb
    FROM mom
    """,
    tags=("agg", "statistics"),
)
def q36am_point_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-BISERIAL CORRELATION between the purchase indicator and
    the event value — Pearson r specialized to a binary axis, the
    discrimination coefficient an item-analysis pass computes per gate
    (q98y's kappa asks "do raters agree"; r_pb asks "does this flag
    track the score").

    Exactness: with b in {0,1}, b^2 = b collapses the b-moments to n1,
    so the whole statistic is five exact BIGINT sums in one pass:
    r = (n*Sbx - n1*Sx) / sqrt(n1*n0*(n*Sxx - Sx^2)). One pinned
    double assembly; IEEE sqrt is correctly rounded. Headroom:
    n*Sxx ~ 3e15 at sf0.1, overflow past ~sf3 — scale x to decades
    there (the q36ad raw-power-sum convention).

    Scale: ONE map-side-combinable aggregate over the fact; a scalar
    frame after. No join, no window, no shuffle beyond the final
    1-row combine.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("b"),
        F.floor("value").cast("long").alias("x"),
    )
    mom = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("b").cast("long").alias("n1"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("b") * F.col("x")).cast("long").alias("sbx"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sbx") - F.col("n1").cast("double") * F.col("sx")
    den = F.sqrt(
        F.col("n1").cast("double")
        * (F.col("n") - F.col("n1"))
        * (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
    )
    return mom.select(
        "n",
        "n1",
        (F.col("n") - F.col("n1")).cast("long").alias("n0"),
        F.round(num / den, 6).alias("r_pb"),
    )


@query(
    "q36an_ljung_box",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               // 100000 AS x
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM m
    ),
    pairs AS (
      SELECT b.mi - a.mi AS lag, CAST(COUNT(*) AS BIGINT) AS p,
             CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
             CAST(SUM(a.x) AS BIGINT) AS ux, CAST(SUM(b.x) AS BIGINT) AS vy
      FROM m a JOIN m b ON b.mi > a.mi AND b.mi - a.mi <= 12
      GROUP BY 1
    ),
    rk AS (
      SELECT lag,
             CAST(tot.n * tot.n * pairs.sxy
                  - tot.n * tot.s * (pairs.ux + pairs.vy)
                  + pairs.p * tot.s * tot.s AS DOUBLE)
             / (CAST(tot.n AS DOUBLE) * tot.n * tot.sxx
                - CAST(tot.n AS DOUBLE) * tot.s * tot.s) AS r,
             pairs.p AS p
      FROM pairs, tot
    ),
    terms AS (
      SELECT list_reduce(
               array_agg(r * r / p ORDER BY lag), (a, b) -> a + b) AS s
      FROM rk
    )
    SELECT tot.n AS n_months, CAST(12 AS BIGINT) AS h_lags,
           round(CAST(tot.n AS DOUBLE) * (tot.n + 2) * terms.s, 6) AS q_stat
    FROM tot, terms
    """,
    tags=("agg", "statistics", "timeseries"),
)
def q36an_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU Q over the monthly-revenue ACF at lags
    1..12 — the single-number whiteness test that reads q53g's whole
    correlogram at once: a large Q says the residual series still has
    structure (fit q42j/q42l before trusting forecasts), a small Q
    says q36ae's DW verdict generalizes past lag 1.

    Exactness: the n^2-scaled centered cross-moment at calendar lag k,
    A_k = n^2*Sxy_k - n*S*(U_k+V_k) + p_k*S^2, is an exact BIGINT
    (kilodollar month units, ~1.3e17 peak at sf0.1 — headroom to ~sf1;
    re-unit beyond), as is the scaled denominator n^2*Sxx - n*S^2, so
    each r_k touches doubles exactly once. Pair counts p_k (not n-k)
    weight the terms, which equals the textbook statistic on the
    complete month grid and degrades gracefully if a month were empty.
    The 12 r_k^2/p_k terms sum via an ORDERED lag-sorted fold (the
    q36aa/q42j fold discipline — a bare double SUM would be
    partition-order-dependent).

    Scale shape: one fact-sized map-side-combinable cents fold;
    the lag self-join and fold run on the ~80-row calendar frame.
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("mi"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) div 100000").alias("x"))
    )
    tot = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    a = m.select(
        "x",
        F.explode(F.sequence(F.lit(1), F.lit(12))).alias("lag"),
        F.col("mi"),
    ).select("lag", "x", (F.col("mi") + F.col("lag")).alias("probe"))
    b = m.select(F.col("mi").alias("probe"), F.col("x").alias("y"))
    pairs = (
        a.join(b, "probe")
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("p"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum("x").cast("long").alias("ux"),
            F.sum("y").cast("long").alias("vy"),
        )
    )
    rk = pairs.join(F.broadcast(tot)).select(
        "lag",
        "p",
        (
            (
                F.col("n") * F.col("n") * F.col("sxy")
                - F.col("n") * F.col("s") * (F.col("ux") + F.col("vy"))
                + F.col("p") * F.col("s") * F.col("s")
            ).cast("double")
            / (
                F.col("n").cast("double") * F.col("n") * F.col("sxx")
                - F.col("n").cast("double") * F.col("s") * F.col("s")
            )
        ).alias("r"),
    )
    terms = rk.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("lag", (F.col("r") * F.col("r") / F.col("p")).alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("tsum")
    )
    return tot.join(F.broadcast(terms)).select(
        F.col("n").alias("n_months"),
        F.lit(12).cast("long").alias("h_lags"),
        F.round(
            F.col("n").cast("double") * (F.col("n") + 2) * F.col("tsum"), 6
        ).alias("q_stat"),
    )


PAGE_HINKLEY_ORACLE = """
    WITH m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS t,
             CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT array_agg(CAST(cents AS DOUBLE) / 100000000.0 ORDER BY t)
               AS ys,
             CAST(COUNT(*) AS BIGINT) AS n FROM m
    ),
    folded AS (
      SELECT n, list_reduce(
        list_concat([[0.0, 0.0, 0.0, 0.0, -1.0]],
                    list_transform(ys, y -> [y])),
        (acc, x) -> list_transform(
          [[acc[1] + 1, acc[2] + x[1]]],
          p -> list_transform(
            [[acc[3] + x[1] - p[2] / p[1] - 0.0625]],
            mm -> [p[1], p[2], mm[1], least(acc[4], mm[1]),
                   CASE WHEN acc[5] < 0
                         AND mm[1] - least(acc[4], mm[1]) > 2.0
                        THEN p[1] ELSE acc[5] END])[1])[1]) AS st
      FROM series
    )
    SELECT n AS n_months,
           round(st[3] - st[4], 6) AS ph_stat,
           round(st[3], 6) AS m_stat,
           round(st[2] / st[1], 6) AS mean_level,
           CAST(st[5] AS BIGINT) AS first_alarm_t
    FROM folded
    """


@query(
    "q42o_page_hinkley",
    oracle=PAGE_HINKLEY_ORACLE,
    tags=("timeseries", "changepoint", "fold"),
)
def q42o_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-HINKLEY drift detector over monthly revenue — the
    sequential mean-shift test completing the changepoint shelf next
    to q42f's CUSUM (CUSUM needs a reference mean up front; PH tracks
    the RUNNING mean, which is what an online data-quality monitor
    actually has) and q42i's EWMA control chart (a smoother, not a
    test).

    m_t = sum_i(x_i - mean_i - delta) accumulates deviations against
    the running mean (delta=0.0625 dyadic drift allowance); the alarm
    fires the first time m_t - min(m) exceeds lambda=2.0. The
    recurrence is ONE in-row fold over the calendar-bounded month
    series with a 5-double state [t, sum, m, m_min, first_alarm_t]
    (operators.page_hinkley_step — shared with the qm23 streaming twin
    for bit-equivalence; singleton-transform let-bindings pin the op
    order, and the running-mean division is deterministic per step).
    Revenue scales to 1e6-cent units so doubles stay O(100).

    Scale: the fact folds map-side to one cents row per month; state
    is 5 doubles regardless of history length.
    """
    tune_for_oracle(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("t"),
            F.round(F.col("o_totalprice").cast("double") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("t")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    series = m.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "t",
                        (
                            F.col("cents").cast("double") / 100000000.0
                        ).alias("y"),
                    )
                )
            ),
            lambda s: s["y"],
        ).alias("ys"),
        F.count("*").cast("long").alias("n"),
    )
    from better_cdc_spark.operators import page_hinkley_step

    acc0 = F.array(
        F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(-1.0)
    )
    st = F.aggregate(F.col("ys"), acc0, page_hinkley_step)
    return series.select(
        F.col("n").alias("n_months"),
        F.round(F.element_at(st, 3) - F.element_at(st, 4), 6).alias(
            "ph_stat"
        ),
        F.round(F.element_at(st, 3), 6).alias("m_stat"),
        F.round(
            F.element_at(st, 2) / F.element_at(st, 1), 6
        ).alias("mean_level"),
        F.element_at(st, 5).cast("long").alias("first_alarm_t"),
    )


@query(
    "q36ao_friedman_test",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(dayofmonth(ts) AS BIGINT) AS d
                  FROM events),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    cells AS (
      SELECT g.d, g.t,
             CAST(COALESCE(SUM(CAST(floor(e.value) AS BIGINT)), 0)
                  AS BIGINT) AS s
      FROM (SELECT d, t FROM days CROSS JOIN types) g
      LEFT JOIN events e
        ON CAST(dayofmonth(e.ts) AS BIGINT) = g.d AND e.event_type = g.t
      GROUP BY g.d, g.t
    ),
    r2 AS (
      SELECT a.d, a.t,
             CAST(2 * SUM(CASE WHEN b.s < a.s THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN b.t <> a.t AND b.s = a.s
                             THEN 1 ELSE 0 END) + 2 AS BIGINT) AS r2
      FROM cells a JOIN cells b ON b.d = a.d
      GROUP BY a.d, a.t, a.s
    ),
    rs AS (
      SELECT t, CAST(SUM(r2) AS BIGINT) AS rt2 FROM r2 GROUP BY t
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(rt2 * rt2) AS BIGINT) AS sq
      FROM rs
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days)
    SELECT nb.n AS n_blocks, agg.k AS k_treatments,
           (agg.k - 1) AS dof,
           round(12.0 / (CAST(nb.n AS DOUBLE) * agg.k * (agg.k + 1))
                 * (CAST(agg.sq AS DOUBLE) / 4.0)
                 - 3.0 * nb.n * (agg.k + 1), 6) AS chi2
    FROM agg, nb
    """,
    tags=("agg", "statistics"),
)
def q36ao_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN TEST across event types blocked by day — the
    repeated-measures rank test completing the k-group ladder: q36z
    ANOVA assumes normal within-cell noise, q36aa Kruskal-Wallis
    assumes independent groups; Friedman ranks WITHIN each day block,
    so day-level shocks (weekend dips, deploy days) cancel instead of
    inflating the error term.

    Per-block tie-averaged DOUBLED ranks come from a day-keyed
    self-join of the dense day x type cell frame (k^2 = 25 rows per
    block — bounded): r2 = 2*#less + #eq_others + 2, an exact BIGINT
    (the q36t doubled-rank convention), so each treatment's rank sum
    and its square stay exact integers; chi2 = 12/(nk(k+1)) * (sum
    R2^2)/4 - 3n(k+1) touches doubles once. The day x type grid is
    DENSIFIED (cross join of two bounded distinct frames, zero-fill)
    so a type missing on a day ranks last rather than vanishing.

    Scale: one map-side-combinable fact pass to the ~150-cell frame;
    ranking and the fold run entirely on bounded grids.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        F.dayofmonth("ts").cast("long").alias("d"),
        F.col("event_type").alias("t"),
        F.floor("value").cast("long").alias("x"),
    )
    days = ev.select("d").distinct()
    types = ev.select("t").distinct()
    grid = days.crossJoin(F.broadcast(types))
    raw = ev.groupBy("d", "t").agg(F.sum("x").cast("long").alias("sr"))
    cells = (
        grid.join(raw, ["d", "t"], "left")
        .select("d", "t", F.coalesce("sr", F.lit(0)).cast("long").alias("s"))
    )
    b = cells.select(
        F.col("d").alias("db"), F.col("t").alias("tb"), F.col("s").alias("sb")
    )
    r2 = (
        cells.join(F.broadcast(b), F.col("db") == F.col("d"))
        .groupBy("d", "t", "s")
        .agg(
            (
                2 * F.sum(F.when(F.col("sb") < F.col("s"), 1).otherwise(0))
                + F.sum(
                    F.when(
                        (F.col("tb") != F.col("t")) & (F.col("sb") == F.col("s")),
                        1,
                    ).otherwise(0)
                )
                + 2
            )
            .cast("long")
            .alias("r2")
        )
    )
    rs = r2.groupBy("t").agg(F.sum("r2").cast("long").alias("rt2"))
    agg = rs.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("rt2") * F.col("rt2")).cast("long").alias("sq"),
    )
    nb = days.agg(F.count("*").cast("long").alias("n"))
    chi2 = 12.0 / (
        F.col("n").cast("double") * F.col("k") * (F.col("k") + 1)
    ) * (F.col("sq").cast("double") / 4.0) - 3.0 * F.col("n") * (
        F.col("k") + 1
    )
    return agg.join(F.broadcast(nb)).select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        (F.col("k") - 1).cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
    )


@query(
    "q53j_theil_index",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS t
      FROM cust
    ),
    terms AS (
      SELECT CAST(floor(CAST(cents AS DOUBLE) * tot.n / tot.t
                        * ln(CAST(cents AS DOUBLE) * tot.n / tot.t)
                        * 1000000000 + 0.5) AS BIGINT) AS t_nano,
             CAST(floor(ln(CAST(cents AS DOUBLE) * tot.n / tot.t)
                        * 1000000000 + 0.5) AS BIGINT) AS l_nano
      FROM cust, tot
    ),
    s AS (
      SELECT CAST(SUM(t_nano) AS BIGINT) AS ts_nano,
             CAST(SUM(l_nano) AS BIGINT) AS ls_nano
      FROM terms
    )
    SELECT tot.n AS n_customers,
           round(CAST(s.ts_nano AS DOUBLE) / tot.n / 1000000000.0, 6)
             AS theil_t,
           round(-CAST(s.ls_nano AS DOUBLE) / tot.n / 1000000000.0, 6)
             AS mld,
           round(1.0 - exp(CAST(s.ls_nano AS DOUBLE) / tot.n
                           / 1000000000.0), 6) AS atkinson_1
    FROM s, tot
    """,
    tags=("agg", "statistics", "inequality"),
)
def q53j_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL T, MEAN LOG DEVIATION (Theil L) and ATKINSON(eps=1) over
    per-customer revenue — the DECOMPOSABLE inequality indices
    completing the concentration shelf (q53d Gini ranks, q53f Lorenz
    plots, q53i HHI squares shares; Theil is the one that splits
    exactly into within-group + between-group terms, which is why
    mixing audits prefer it).

    Per-customer ratio q = cents*n/T is a double built from three
    exact BIGINTs (identical value both engines); q*ln(q) and ln(q)
    truncate to NANO-unit integers per row (floor(x*1e9+0.5) — the
    q95w summation convention), so the fact-scale sums are exact
    BIGINT and accumulation order cannot flake the hash. Theil T =
    sum(q ln q)/n, MLD = -sum(ln q)/n, Atkinson = 1 - exp(-MLD) —
    three pinned display assemblies (ln/exp follow the q98b precedent:
    same-libm, applied to bit-identical arguments).

    Scale: one map-side-combinable customer fold, one nano-unit term
    map, one 1-row combine. Headroom: t_nano <= ~5e10 per row, sums
    <= 1e16 at sf10.
    """
    tune_for_oracle(spark)
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("t"),
    )
    q = F.col("cents").cast("double") * F.col("n") / F.col("t")
    terms = cust.crossJoin(F.broadcast(tot)).select(
        F.floor(q * F.log(q) * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("t_nano"),
        F.floor(F.log(q) * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("l_nano"),
    )
    s = terms.agg(
        F.sum("t_nano").cast("long").alias("ts_nano"),
        F.sum("l_nano").cast("long").alias("ls_nano"),
    )
    return s.join(F.broadcast(tot)).select(
        F.col("n").alias("n_customers"),
        F.round(
            F.col("ts_nano").cast("double") / F.col("n") / 1000000000.0, 6
        ).alias("theil_t"),
        F.round(
            -F.col("ls_nano").cast("double") / F.col("n") / 1000000000.0, 6
        ).alias("mld"),
        F.round(
            1.0
            - F.exp(
                F.col("ls_nano").cast("double") / F.col("n") / 1000000000.0
            ),
            6,
        ).alias("atkinson_1"),
    )


@query(
    "q98ag_lexical_diversity",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    wc AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM words GROUP BY doc_id, w
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM wc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types, n_hapax,
           CAST(1000000 * n_types // n_tokens AS BIGINT) AS ttr_micro,
           CAST(1000000 * n_hapax // n_types AS BIGINT) AS hapax_micro,
           round(CAST(n_types AS DOUBLE)
                 / sqrt(CAST(n_tokens AS DOUBLE)), 6) AS guiraud
    FROM per_doc
    """,
    tags=("llm", "text", "quality"),
)
def q98ag_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL DIVERSITY per document: type-token ratio, hapax-
    legomenon share, and Guiraud's R — the vocabulary-richness gates
    that catch what q98c's repetition detector and q98z's token
    entropy each miss (a doc can have low bigram repetition yet a
    tiny cycling vocabulary; TTR sees it immediately; hapax share
    separates genuinely rich text from keyword-stuffed noise where
    every word appears once).

    TTR and hapax share are MICRO-UNIT integer divisions (1e6*a div b
    — deterministic floor both engines); Guiraud's types/sqrt(tokens)
    is the one display double (IEEE sqrt correctly rounded, round-6
    safe). Counts are exact from a two-level (doc, word) -> doc
    aggregation.

    Scale: the token explode is the scan cost; both aggregations are
    map-side combinable and key on doc_id (the second collapses the
    first's frame). No join at all.
    """
    tune_for_oracle(spark)
    words = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(lower_words()).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(
        F.count("*").cast("long").alias("c")
    )
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("CAST(1000000 * n_types div n_tokens AS BIGINT)").alias(
            "ttr_micro"
        ),
        F.expr("CAST(1000000 * n_hapax div n_types AS BIGINT)").alias(
            "hapax_micro"
        ),
        F.round(
            F.col("n_types").cast("double")
            / F.sqrt(F.col("n_tokens").cast("double")),
            6,
        ).alias("guiraud"),
    )


CROSTON_ORACLE = """
    WITH days AS (
      SELECT CAST(dayofmonth(ts) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN value > 500 THEN 1 ELSE 0 END) AS BIGINT)
               AS z
      FROM events GROUP BY 1
    ),
    series AS (
      SELECT array_agg(CAST(z AS DOUBLE) ORDER BY d) AS zs,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN z > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd
      FROM days
    ),
    folded AS (
      SELECT n, nd, list_reduce(
        list_concat([[0.0, 0.0, 1.0, 0.0]],
                    list_transform(zs, z -> [z])),
        (acc, x) -> CASE
          WHEN x[1] = 0
            THEN [acc[1], acc[2], acc[3] + 1, acc[4]]
          WHEN acc[4] = 0
            THEN [x[1], acc[3], 1.0, 1.0]
          ELSE [acc[1] / 2 + x[1] / 2, acc[2] / 2 + acc[3] / 2, 1.0, 1.0]
        END) AS st
      FROM series
    )
    SELECT n AS n_days, nd AS n_demand_days,
           round(st[1], 6) AS z_level,
           round(st[2], 6) AS q_interval,
           round(CASE WHEN st[2] = 0 THEN 0.0 ELSE st[1] / st[2] END, 6)
             AS croston_forecast
    FROM folded
    """


@query(
    "q42p_croston",
    oracle=CROSTON_ORACLE,
    tags=("timeseries", "smoothing", "fold"),
)
def q42p_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSTON'S METHOD for INTERMITTENT demand — the smoother the
    rest of the q42 shelf cannot replace: on a series that is mostly
    zeros (daily count of value>500 events), plain exponential
    smoothing decays toward zero between demands and spikes on each
    arrival; Croston smooths the nonzero demand SIZE and the
    inter-demand INTERVAL separately (alpha=1/2 dyadic for both) and
    forecasts their ratio.

    The recurrence is ONE in-row fold over the day-calendar series
    with a 4-double state [z_level, q_interval, periods_since, init]:
    zero days only bump the interval counter; the first demand seeds
    (z, psi); later demands fold both halves and reset the counter —
    every branch is dyadic arithmetic on exact-integer-born doubles,
    executed in one pinned op sequence per engine (the q42j/q42l fold
    discipline; no division until the display forecast).

    Scale: one map-side day fold over the fact; state is 4 doubles
    regardless of history. A streaming twin would be the qm19/qm23
    recurrence class (per-epoch txlog state, in-order admission).
    """
    tune_for_oracle(spark)
    days = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.dayofmonth("ts").cast("long").alias("d"))
        .agg(
            F.sum(F.when(F.col("value") > 500, 1).otherwise(0))
            .cast("long")
            .alias("z")
        )
    )
    series = days.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("d", F.col("z").cast("double").alias("zd"))
                )
            ),
            lambda s: s["zd"],
        ).alias("zs"),
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("z") > 0, 1).otherwise(0))
        .cast("long")
        .alias("nd"),
    )

    from better_cdc_spark.operators import croston_step

    acc0 = F.array(F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(0.0))
    st = F.aggregate(F.col("zs"), acc0, croston_step)
    return series.select(
        F.col("n").alias("n_days"),
        F.col("nd").alias("n_demand_days"),
        F.round(F.element_at(st, 1), 6).alias("z_level"),
        F.round(F.element_at(st, 2), 6).alias("q_interval"),
        F.round(
            F.when(F.element_at(st, 2) == 0, F.lit(0.0)).otherwise(
                F.element_at(st, 1) / F.element_at(st, 2)
            ),
            6,
        ).alias("croston_forecast"),
    )


@query(
    "q36ap_grubbs_test",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS t,
             CAST(SUM(x * x) AS BIGINT) AS q,
             CAST(MAX(x) AS BIGINT) AS mx,
             CAST(MIN(x) AS BIGINT) AS mn
      FROM v
    ),
    dev AS (
      SELECT n, t, q, mx, mn,
             greatest(abs(n * mx - t), abs(n * mn - t)) AS m
      FROM mom
    )
    SELECT n, mx AS max_value, mn AS min_value,
           CASE WHEN abs(n * mx - t) >= abs(n * mn - t)
                THEN mx ELSE mn END AS suspect,
           round(CAST(m AS DOUBLE) / n
                 / sqrt((CAST(n AS DOUBLE) * q - CAST(t AS DOUBLE) * t)
                        / (CAST(n AS DOUBLE) * (n - 1))), 6) AS g_stat
    FROM dev
    """,
    tags=("agg", "statistics", "outliers"),
)
def q36ap_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRUBBS' maximum-studentized-deviation test on event values —
    the parametric single-outlier screen beside q36l's MAD rule (MAD
    flags a robust SET of outliers; Grubbs asks whether the single
    most extreme point is too extreme for a normal sample, the
    question a sensor-calibration audit asks).

    The deviation |x - mean| maximizes at an ENDPOINT, so the max
    studentized deviation needs only five exact BIGINT aggregates:
    m = max(|n*max - T|, |n*min - T|) is the n-scaled deviation
    (exact — no per-row double ever forms), and G = m/n / s with
    s^2 = (nQ - T^2)/(n(n-1)) is ONE pinned double expression. The
    suspect column reports WHICH endpoint, decided on the same exact
    integers.

    Scale: one map-side-combinable aggregate pass; a scalar frame
    after. Headroom: n*Q ~ 3e15 at sf0.1 (the q36am budget).
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.floor("value").cast("long").alias("x")
    )
    mom = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("t"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
        F.max("x").cast("long").alias("mx"),
        F.min("x").cast("long").alias("mn"),
    )
    dmax = F.abs(F.col("n") * F.col("mx") - F.col("t"))
    dmin = F.abs(F.col("n") * F.col("mn") - F.col("t"))
    m = F.greatest(dmax, dmin)
    s = F.sqrt(
        (
            F.col("n").cast("double") * F.col("q")
            - F.col("t").cast("double") * F.col("t")
        )
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return mom.select(
        "n",
        F.col("mx").alias("max_value"),
        F.col("mn").alias("min_value"),
        F.when(dmax >= dmin, F.col("mx"))
        .otherwise(F.col("mn"))
        .cast("long")
        .alias("suspect"),
        F.round(m.cast("double") / F.col("n") / s, 6).alias("g_stat"),
    )


@query(
    "q47m_position_attribution",
    oracle="""
    WITH conv AS (
      SELECT user_id, MIN(ts) AS conv_ts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touch AS (
      SELECT e.user_id, e.event_type AS channel,
             ROW_NUMBER() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS rn,
             COUNT(*) OVER (PARTITION BY e.user_id) AS nt
      FROM events e JOIN conv c USING (user_id)
      WHERE e.event_type <> 'purchase' AND e.ts < c.conv_ts
    ),
    w AS (
      SELECT channel,
             CASE WHEN nt = 1 THEN CAST(1000000 AS BIGINT)
                  WHEN nt = 2 THEN CAST(500000 AS BIGINT)
                  WHEN rn = 1 OR rn = nt THEN CAST(400000 AS BIGINT)
                  ELSE CAST(200000 // (nt - 2) AS BIGINT) END AS w_micro
      FROM touch
    ),
    agg AS (
      SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
             CAST(SUM(w_micro) AS BIGINT) AS credit_micro
      FROM w GROUP BY channel
    ),
    tot AS (SELECT CAST(SUM(credit_micro) AS BIGINT) AS total FROM agg)
    SELECT agg.channel, agg.n_touches, agg.credit_micro,
           round(CAST(agg.credit_micro AS DOUBLE) / tot.total, 6) AS share
    FROM agg, tot
    """,
    tags=("funnel", "attribution"),
)
def q47m_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-SHAPED (position-based) ATTRIBUTION: 40% of conversion credit
    to the FIRST touch, 40% to the LAST, the middle 20% split evenly —
    the position-aware member completing the attribution family (q47c
    last-touch, q47l recency-decay, q47k order-free Shapley, q47j
    counterfactual removal; U-shaped is the one marketing ops actually
    deploys as a compromise between first- and last-touch bias).

    Weights are DEFINED micro-unit integers: 1e6 (solo touch), 5e5
    (pair), 4e5 endpoints + 2e5 div (n-2) middles — deterministic
    floor division, so a journey's credits are exact BIGINTs (the
    truncation remainder stays unassigned BY CONTRACT, mirroring
    q95as). Journey positions rank on (ts, event_id) — a total order,
    so first/last can never flake on timestamp ties.

    Scale: conversions are one map-side pass; the touch join and the
    position windows key on user_id (co-partitioned, bounded per-user
    frames); credit aggregation is taxonomy-bounded with a 1-row
    broadcast total.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    wn = W.partitionBy("user_id")
    touch = (
        ev.alias("e")
        .join(conv.alias("c"), "user_id")
        .where(
            (F.col("e.event_type") != "purchase")
            & (F.col("e.ts") < F.col("c.conv_ts"))
        )
        .select(
            F.col("user_id"),
            F.col("e.event_type").alias("channel"),
            F.col("e.ts").alias("ts"),
            F.col("e.event_id").alias("event_id"),
        )
        .withColumn("rn", F.row_number().over(wu))
        .withColumn("nt", F.count("*").over(wn))
    )
    w_micro = (
        F.when(F.col("nt") == 1, F.lit(1000000))
        .when(F.col("nt") == 2, F.lit(500000))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("nt")), F.lit(400000)
        )
        .otherwise(F.expr("CAST(200000 div (nt - 2) AS BIGINT)"))
        .cast("long")
    )
    agg = (
        touch.select("channel", w_micro.alias("w_micro"))
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("w_micro").cast("long").alias("credit_micro"),
        )
    )
    tot = agg.agg(F.sum("credit_micro").cast("long").alias("total"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "channel",
        "n_touches",
        "credit_micro",
        F.round(
            F.col("credit_micro").cast("double") / F.col("total"), 6
        ).alias("share"),
    )


@query(
    "q36aq_bartlett_test",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    pg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS q
      FROM v GROUP BY g
    ),
    terms AS (
      SELECT g, n,
             (CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
             / (CAST(n AS DOUBLE) * (n - 1)) AS s2
      FROM pg
    ),
    folded AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(n - 1) AS BIGINT) AS dof_w,
             list_reduce(array_agg((n - 1) * ln(s2) ORDER BY g),
                         (a, b) -> a + b) AS sum_ln,
             list_reduce(array_agg((CAST(n AS DOUBLE) * q
                                    - CAST(s AS DOUBLE) * s)
                                   / (CAST(n AS DOUBLE) * (n - 1))
                                   * (n - 1) ORDER BY g),
                         (a, b) -> a + b) AS pooled_num,
             list_reduce(array_agg(1.0 / (n - 1) ORDER BY g),
                         (a, b) -> a + b) AS inv_sum
      FROM terms JOIN pg USING (g, n)
    )
    SELECT k AS n_groups, nt AS n_rows,
           round((dof_w * ln(pooled_num / dof_w) - sum_ln)
                 / (1.0 + (inv_sum - 1.0 / dof_w) / (3.0 * (k - 1))), 6)
             AS bartlett_chi2,
           (k - 1) AS dof
    FROM folded
    """,
    tags=("agg", "statistics"),
)
def q36aq_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BARTLETT'S TEST of variance homogeneity across event types —
    the parametric counterpart to q36ac's Brown-Forsythe (BF ranks
    robustly around medians and shrugs at heavy tails; Bartlett is the
    sharper instrument when normality holds, and the pairing tells you
    WHICH assumption broke when they disagree).

    Per-group variances come from exact BIGINT moments (n, S, Q per
    group — one map-side pass); the k log terms (n_g-1)*ln(s_g^2), the
    pooled numerator, and the 1/(n_g-1) correction sum each fold over
    the g-SORTED group array (the q36aa ordered-fold discipline —
    three folds, all on the k=5-row frame), so the only doubles are
    per-group pinned expressions and ordered k-term sums. ln follows
    the q98b same-libm precedent.

    Scale: one map-side-combinable pass over the fact; everything
    after runs on the k-row frame.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor("value").cast("long").alias("x"),
    )
    pg = v.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    s2 = (
        F.col("n").cast("double") * F.col("q")
        - F.col("s").cast("double") * F.col("s")
    ) / (F.col("n").cast("double") * (F.col("n") - 1))

    def ordered_sum(term, alias):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("g", term.alias("t")))),
                lambda st: st["t"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias(alias)

    folded = pg.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum(F.col("n") - 1).cast("long").alias("dof_w"),
        ordered_sum((F.col("n") - 1) * F.log(s2), "sum_ln"),
        ordered_sum(s2 * (F.col("n") - 1), "pooled_num"),
        ordered_sum(F.lit(1.0) / (F.col("n") - 1), "inv_sum"),
    )
    chi2 = (
        F.col("dof_w") * F.log(F.col("pooled_num") / F.col("dof_w"))
        - F.col("sum_ln")
    ) / (
        1.0
        + (F.col("inv_sum") - 1.0 / F.col("dof_w")) / (3.0 * (F.col("k") - 1))
    )
    return folded.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_rows"),
        F.round(chi2, 6).alias("bartlett_chi2"),
        (F.col("k") - 1).cast("long").alias("dof"),
    )


@query(
    "q45e_cubic_spline",
    oracle="""
    WITH RECURSIVE
    m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS t,
             CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT array_agg(CAST(cents AS DOUBLE) / 100000000.0 ORDER BY t)
               AS ys,
             CAST(COUNT(*) AS BIGINT) AS n FROM m
    ),
    r AS (
      SELECT n, ys,
             list_transform(range(1, CAST(n AS INT) - 1), j ->
               6.0 * (ys[CAST(j AS INT)] - 2 * ys[CAST(j AS INT) + 1]
                      + ys[CAST(j AS INT) + 2])) AS rr
      FROM series
    ),
    fwd(j, c, d) AS (
      SELECT 1, 1.0 / 4.0, r.rr[1] / 4.0 FROM r
      UNION ALL
      SELECT f.j + 1, 1.0 / (4.0 - f.c),
             (r.rr[f.j + 1] - f.d) / (4.0 - f.c)
      FROM fwd f, r WHERE f.j + 1 <= CAST(r.n AS INT) - 2
    ),
    bwd(j, mv) AS (
      SELECT f.j, f.d - f.c * 0.0
      FROM fwd f, r WHERE f.j = CAST(r.n AS INT) - 2
      UNION ALL
      SELECT b.j - 1, f.d - f.c * b.mv
      FROM bwd b JOIN fwd f ON f.j = b.j - 1 WHERE b.j > 1
    ),
    marr AS (
      SELECT list_concat(list_concat([0.0],
               array_agg(mv ORDER BY j)), [0.0]) AS mm
      FROM bwd
    ),
    grid AS (
      SELECT unnest(range(1, (SELECT CAST(n AS INT) FROM series))) AS i
    )
    SELECT CAST(g.i AS BIGINT) - 1 AS interval_idx,
           round(s.ys[CAST(g.i AS INT)], 6) AS y_left,
           round(s.ys[CAST(g.i AS INT) + 1], 6) AS y_right,
           round(marr.mm[CAST(g.i AS INT)], 6) AS m_left,
           round(marr.mm[CAST(g.i AS INT) + 1], 6) AS m_right,
           round((s.ys[CAST(g.i AS INT)] + s.ys[CAST(g.i AS INT) + 1]) / 2
                 - (marr.mm[CAST(g.i AS INT)]
                    + marr.mm[CAST(g.i AS INT) + 1]) / 16, 6)
             AS spline_mid
    FROM grid g, series s, marr
    """,
    tags=("timeseries", "interpolation", "fold"),
)
def q45e_cubic_spline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATURAL CUBIC SPLINE interpolation of monthly revenue at the
    month midpoints — the smooth member of the gapfill/interpolate
    shelf (q45b LOCF is a step function, q45c linear has corner
    kinks; the spline is C2-continuous, what a dashboard draws and a
    downsampler resamples against).

    The tridiagonal system M_{i-1} + 4M_i + M_{i+1} = 6(y_{i-1} -
    2y_i + y_{i+1}) (natural boundaries M_0 = M_{n-1} = 0, unit
    spacing on the complete month grid) solves by the THOMAS
    ALGORITHM as two in-row folds: a forward sweep accumulating
    (c'_j, d'_j) pairs — seeded with the (0,0) boundary sentinel so
    the j=1 step needs no special case — and a backward substitution
    seeded with M_{m+1} = 0 folding over the REVERSED coefficient
    list. Both engines execute the identical pinned op sequence
    (Spark array folds; DuckDB recursive CTEs over the same
    recurrences — the km-CTE idiom), so every M_i is bit-identical
    and the dyadic midpoint formula (y_i+y_{i+1})/2 -
    (M_i+M_{i+1})/16 is hash-exact. Revenue scales to 1e6-cent units
    so doubles stay O(100).

    Scale: the fact folds map-side to one cents row per month; the
    solve is O(n) on the calendar-bounded series with a state no
    larger than the 2(n-2) sweep coefficients.
    """
    tune_for_oracle(spark)
    mth = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("t"),
            F.round(F.col("o_totalprice").cast("double") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("t")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    series = mth.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "t",
                        (
                            F.col("cents").cast("double") / 100000000.0
                        ).alias("y"),
                    )
                )
            ),
            lambda s: s["y"],
        ).alias("ys"),
        F.count("*").cast("long").alias("n"),
    )
    ys = F.col("ys")
    rr = F.transform(
        F.sequence(F.lit(1), F.size(ys) - 2),
        lambda j: 6.0
        * (
            F.element_at(ys, j)
            - 2 * F.element_at(ys, j + 1)
            + F.element_at(ys, j + 2)
        ),
    )

    def fstep(acc, x):
        last = F.element_at(acc, F.size(acc))
        c_prev = F.element_at(last, 1)
        d_prev = F.element_at(last, 2)
        return F.concat(
            acc,
            F.array(
                F.array(
                    F.lit(1.0) / (F.lit(4.0) - c_prev),
                    (x - d_prev) / (F.lit(4.0) - c_prev),
                )
            ),
        )

    cd = F.aggregate(
        rr, F.array(F.array(F.lit(0.0), F.lit(0.0))), fstep
    )
    interior = F.slice(cd, 2, F.size(cd) - 1)

    def bstep(macc, p):
        mval = F.element_at(p, 2) - F.element_at(p, 1) * F.element_at(
            macc, 1
        )
        return F.concat(F.array(mval), macc)

    mm_tail = F.aggregate(F.reverse(interior), F.array(F.lit(0.0)), bstep)
    mm = F.concat(F.array(F.lit(0.0)), mm_tail)
    solved = series.select("ys", "n", mm.alias("mm"))
    out = solved.select(
        "ys",
        "mm",
        F.explode(F.sequence(F.lit(1), F.size("ys") - 1)).alias("i"),
    )
    yi = F.element_at(F.col("ys"), F.col("i"))
    yi1 = F.element_at(F.col("ys"), F.col("i") + 1)
    mi = F.element_at(F.col("mm"), F.col("i"))
    mi1 = F.element_at(F.col("mm"), F.col("i") + 1)
    return out.select(
        (F.col("i").cast("long") - 1).alias("interval_idx"),
        F.round(yi, 6).alias("y_left"),
        F.round(yi1, 6).alias("y_right"),
        F.round(mi, 6).alias("m_left"),
        F.round(mi1, 6).alias("m_right"),
        F.round((yi + yi1) / 2 - (mi + mi1) / 16, 6).alias("spline_mid"),
    )


@query(
    "q36ar_cochran_q",
    oracle="""
    WITH u AS (
      SELECT user_id, event_type,
             CAST(MAX(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS BIGINT)
               AS x
      FROM events GROUP BY user_id, event_type
    ),
    rsum AS (
      SELECT user_id, CAST(SUM(x) AS BIGINT) AS r FROM u GROUP BY user_id
    ),
    csum AS (
      SELECT event_type, CAST(SUM(x) AS BIGINT) AS c FROM u
      GROUP BY event_type
    ),
    mom AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rsum) AS n_users,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM csum) AS k,
             (SELECT CAST(SUM(c) AS BIGINT) FROM csum) AS grand,
             (SELECT CAST(SUM(c * c) AS BIGINT) FROM csum) AS c2,
             (SELECT CAST(SUM(r * r) AS BIGINT) FROM rsum) AS r2
    )
    SELECT n_users, k, grand AS n_successes,
           (k - 1) AS dof,
           round(CAST((k - 1) * (k * c2 - grand * grand) AS DOUBLE)
                 / (k * grand - r2), 6) AS cochran_q
    FROM mom
    """,
    tags=("agg", "statistics"),
)
def q36ar_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q across the five event types as repeated binary
    treatments per user (flag = "user produced a value>150 event of
    this type" — thresholded so the per-user rows saturate at NEITHER
    end, the q36ai/q36af degeneracy lesson) — the k-treatment
    generalization of q36ai's McNemar, completing the paired-data
    ladder: McNemar (2 treatments, binary), Friedman (k treatments,
    ordinal), Cochran (k treatments, binary).

    Q = (k-1)[k*sum(C_j^2) - G^2] / (k*G - sum(R_i^2)) is EXACT
    INTEGER arithmetic until the single final division: column totals
    C_j, row totals R_i, and the grand total G are BIGINT sums of a
    0/1 matrix built by one (user, type) MAX pass. Nothing for
    accumulation order to flake.

    Scale: one map-side-combinable (user, type) aggregate over the
    fact; the row/column margins are two more map-side folds; the
    statistic assembles on a 1-row frame. Headroom: trivially exact
    to any sf (counts only).
    """
    tune_for_oracle(spark)
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.max(F.when(F.col("value") > 150, 1).otherwise(0))
            .cast("long")
            .alias("x")
        )
    )
    rsum = u.groupBy("user_id").agg(F.sum("x").cast("long").alias("r"))
    csum = u.groupBy("event_type").agg(F.sum("x").cast("long").alias("c"))
    rmom = rsum.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("r2"),
    )
    cmom = csum.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("c").cast("long").alias("grand"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("c2"),
    )
    mom = rmom.crossJoin(F.broadcast(cmom))
    q = (
        (F.col("k") - 1)
        * (F.col("k") * F.col("c2") - F.col("grand") * F.col("grand"))
    ).cast("double") / (F.col("k") * F.col("grand") - F.col("r2"))
    return mom.select(
        "n_users",
        "k",
        F.col("grand").alias("n_successes"),
        (F.col("k") - 1).cast("long").alias("dof"),
        F.round(q, 6).alias("cochran_q"),
    )


@query(
    "q47n_markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS s,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    tr AS (
      SELECT s, nxt, CAST(COUNT(*) AS BIGINT) AS nij
      FROM seq WHERE nxt IS NOT NULL GROUP BY s, nxt
    ),
    rowm AS (
      SELECT s, CAST(SUM(nij) AS BIGINT) AS ni FROM tr GROUP BY s
    ),
    tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS nt FROM tr),
    hcell AS (
      SELECT tr.s, tr.nxt, rowm.ni,
             -(CAST(tr.nij AS DOUBLE) / rowm.ni)
             * log2(CAST(tr.nij AS DOUBLE) / rowm.ni) AS hterm
      FROM tr JOIN rowm USING (s)
    ),
    hrow AS (
      SELECT s, CAST(MAX(ni) AS BIGINT) AS ni,
             list_reduce(array_agg(hterm ORDER BY nxt), (a, b) -> a + b)
               AS h_state
      FROM hcell GROUP BY s
    )
    SELECT hrow.s AS state, hrow.ni AS n_transitions,
           round(hrow.h_state, 6) AS h_state,
           round(CAST(hrow.ni AS DOUBLE) / tot.nt, 6) AS weight,
           round(CAST(hrow.ni AS DOUBLE) / tot.nt * hrow.h_state, 6)
             AS contribution
    FROM hrow, tot
    """,
    tags=("funnel", "statistics", "markov"),
)
def q47n_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY RATE decomposition of the user-journey Markov chain —
    per-state conditional entropies H(next | state) weighted by
    empirical state mass, completing the Markov family (q44f estimates
    the transition matrix, q47f its stationary vector, q47i absorbing
    hits, q47j removal effects; entropy rate says how PREDICTABLE the
    journey is, the number a sequence-model curriculum uses to rank
    behavioral corpora).

    Transition counts come from the q44f machinery (per-user LEAD on a
    (ts, event_id) total order); everything after lives on the
    taxonomy-bounded 5x5 grid: per-cell -p*log2(p) terms are pinned
    doubles on exact-integer ratios, and each state's <=5 terms sum
    via an ORDERED fold (q36aa discipline — log2 follows the q98b
    same-libm precedent). Weights are exact-integer ratios.

    Scale: the only fact-sized ops are the user-keyed LEAD window
    (co-partitioned, bounded per-user frames) and one map-side count
    to the grid.

    Oracle note: both engines fold each state's cells in nxt order —
    DuckDB via array_agg(... ORDER BY nxt), Spark by sorting the
    collected (nxt, hterm) structs — so the <=5-term double sums are
    order-pinned, never engine-arbitrary.
    """
    tune_for_oracle(spark)
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(wu).alias("nxt"),
    )
    tr = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("s", "nxt")
        .agg(F.count("*").cast("long").alias("nij"))
    )
    rowm = tr.groupBy("s").agg(F.sum("nij").cast("long").alias("ni"))
    tot = tr.agg(F.sum("nij").cast("long").alias("nt"))
    p = F.col("nij").cast("double") / F.col("ni")
    hcell = tr.join(F.broadcast(rowm), "s").select(
        "s", "ni", "nxt", (-p * F.log2(p)).alias("hterm")
    )
    hrow = hcell.groupBy("s").agg(
        F.max("ni").cast("long").alias("ni"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("nxt", "hterm"))),
                lambda st: st["hterm"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("h_state"),
    )
    return hrow.crossJoin(F.broadcast(tot)).select(
        F.col("s").alias("state"),
        F.col("ni").alias("n_transitions"),
        F.round(F.col("h_state"), 6).alias("h_state"),
        F.round(F.col("ni").cast("double") / F.col("nt"), 6).alias("weight"),
        F.round(
            F.col("ni").cast("double") / F.col("nt") * F.col("h_state"), 6
        ).alias("contribution"),
    )


@query(
    "q05e_bloom_filter_sink",
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST(l_quantity AS BIGINT) AS quantity,
           CAST(round(CAST(l_extendedprice AS DOUBLE) * 100, 0) AS BIGINT)
             AS price_cents
    FROM lineitem
    WHERE l_orderkey % 977 = 1
    """,
    tags=("sink", "parquet", "pushdown"),
)
def q05e_bloom_filter_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARQUET BLOOM-FILTER sink + point-lookup readback: lineitem is
    rewritten with a column bloom filter on l_orderkey and the result
    of a selective key probe against the rewritten files must equal
    the same probe on the original table — the layout feature that
    makes needle-in-haystack lookups on a 100 TB fact table skip row
    groups whose bloom filter excludes the key, without any index
    service.

    The bloom filter changes ONLY file layout, never content: the
    oracle proves the rewrite round-trips by value (the q05b "pure
    layout change" contract). The probe predicate (l_orderkey % 977 =
    1 — a sparse key set) is applied on the READBACK so the scan
    benefits from predicate pushdown + bloom row-group pruning;
    tests/test_plans.py-style PushedFilters assertions are visible in
    the readback plan. Writer knobs: parquet.bloom.filter.enabled per
    column, small row groups so multiple groups exist to prune at
    gate scale.

    Scale: write is one pass; the probe reads only row groups whose
    bloom admits the key — the point of the feature. Output columns
    are cast to engine-neutral BIGINTs (cents for the price) so the
    hash compares values, not parquet logical types.
    """
    tune_for_oracle(spark)
    out = f"{tempfile.gettempdir()}/bcs_q05e_bloom"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    (
        li.coalesce(4)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
        .option("parquet.block.size", str(1 * 1024 * 1024))
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("l_orderkey") % 977 == 1)
    return back.select(
        F.col("l_orderkey").cast("long"),
        F.col("l_linenumber").cast("long"),
        F.col("l_quantity").cast("long").alias("quantity"),
        F.round(F.col("l_extendedprice").cast("double") * 100, 0)
        .cast("long")
        .alias("price_cents"),
    )


@query(
    "q36as_ks_uniform",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    grid AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY x
    ),
    cum AS (
      SELECT x, CAST(SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cm
      FROM grid
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(MAX(x) AS BIGINT) AS mx
      FROM grid
    ),
    dev AS (
      SELECT cum.x,
             abs(cum.cm * (tot.mx + 1) - tot.n * (cum.x + 1)) AS num
      FROM cum, tot
    ),
    best AS (
      SELECT x, num, ROW_NUMBER() OVER (ORDER BY num DESC, x ASC) AS rk
      FROM dev
    )
    SELECT tot.n, tot.mx AS domain_max,
           best.x AS d_at,
           round(CAST(best.num AS DOUBLE) / (tot.n * (tot.mx + 1)), 6)
             AS d_stat,
           round(sqrt(CAST(tot.n AS DOUBLE))
                 * (CAST(best.num AS DOUBLE) / (tot.n * (tot.mx + 1))), 6)
             AS sqrt_n_d
    FROM best, tot WHERE best.rk = 1
    """,
    tags=("agg", "statistics"),
)
def q36as_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-SAMPLE KOLMOGOROV-SMIRNOV test of the floored event values
    against the discrete uniform on {0..max} — the goodness-of-fit
    member beside q36q's two-sample KS (q36q asks "same
    distribution?"; this asks "THE distribution I assumed?" — the
    sanity check a synthetic-data generator or a hash-partitioner
    audit runs against its own uniformity claim).

    The supremum deviation is located on EXACT INTEGERS: at grid
    value v, |ECDF - F0| has common denominator n*(mx+1), so the
    argmax ranks |cum_v*(mx+1) - n*(v+1)| — a BIGINT — with a
    smallest-v tie-break; the displayed D and sqrt(n)*D are two
    pinned double assemblies after the argmax is already decided.
    The cumsum window runs over the ~400-row value grid (bounded by
    the value domain, never fact-sized — the q36aa grid discipline).

    Scale: one map-side-combinable histogram pass; everything after
    lives on the grid frame. Headroom: cum*(mx+1) ~ 5e10 at sf10.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.floor("value").cast("long").alias("x")
    )
    grid = v.groupBy("x").agg(F.count("*").cast("long").alias("c"))
    cum = grid.select(
        "x",
        F.sum("c")
        .over(W.orderBy("x").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cm"),
    )
    tot = grid.agg(
        F.sum("c").cast("long").alias("n"),
        F.max("x").cast("long").alias("mx"),
    )
    dev = cum.crossJoin(F.broadcast(tot)).select(
        "x",
        "n",
        "mx",
        F.abs(
            F.col("cm") * (F.col("mx") + 1) - F.col("n") * (F.col("x") + 1)
        )
        .cast("long")
        .alias("num"),
    )
    best = (
        dev.orderBy(F.col("num").desc(), F.col("x").asc())
        .limit(1)
    )
    d = F.col("num").cast("double") / (F.col("n") * (F.col("mx") + 1))
    return best.select(
        "n",
        F.col("mx").alias("domain_max"),
        F.col("x").alias("d_at"),
        F.round(d, 6).alias("d_stat"),
        F.round(F.sqrt(F.col("n").cast("double")) * d, 6).alias("sqrt_n_d"),
    )


@query(
    "q46j_engagement_histogram",
    oracle="""
    WITH ud AS (
      SELECT user_id,
             CAST(COUNT(DISTINCT dayofmonth(ts)) AS BIGINT) AS active_days
      FROM events GROUP BY user_id
    ),
    hist AS (
      SELECT active_days, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM ud GROUP BY active_days
    ),
    tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS nt FROM hist)
    SELECT h.active_days, h.n_users,
           CAST(1000000 * h.n_users // tot.nt AS BIGINT) AS share_micro,
           CAST(SUM(h.n_users) OVER (ORDER BY h.active_days DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_at_least,
           round(CAST(h.active_days AS DOUBLE) * h.n_users / tot.nt, 6)
             AS contribution_days
    FROM hist h, tot
    """,
    tags=("retention", "engagement"),
)
def q46j_engagement_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGAGEMENT-DEPTH HISTOGRAM (the L28-style power-user curve on
    the 30-day window): users bucketed by active-day count, with the
    at-least-N cumulative and each bucket's contribution to mean
    active-days — the distribution shape behind q46e's single
    stickiness number (two products with identical DAU/MAU can hide
    opposite curves: a habit product's right hump vs a drive-by
    product's left spike).

    Counts are exact integers end to end (distinct days per user,
    users per depth); shares are micro-unit integer divisions; the
    only window is the at-least cumsum over the <=31-row depth grid.

    Scale: one (user, day)-distinct aggregate (map-side combinable),
    one depth histogram, a 31-row frame after. The q46 family shape.
    """
    tune_for_oracle(spark)
    ud = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.countDistinct(F.dayofmonth("ts"))
            .cast("long")
            .alias("active_days")
        )
    )
    hist = ud.groupBy("active_days").agg(
        F.count("*").cast("long").alias("n_users")
    )
    tot = hist.agg(F.sum("n_users").cast("long").alias("nt"))
    wc = W.orderBy(F.col("active_days").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "active_days",
        "n_users",
        F.expr("CAST(1000000 * n_users div nt AS BIGINT)").alias(
            "share_micro"
        ),
        F.sum("n_users").over(wc).cast("long").alias("n_at_least"),
        F.round(
            F.col("active_days").cast("double")
            * F.col("n_users")
            / F.col("nt"),
            6,
        ).alias("contribution_days"),
    )


@query(
    "q36at_jonckheere_terpstra",
    oracle="""
    WITH v AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS g,
             CAST(floor(value) AS BIGINT) AS x
      FROM events
    ),
    h AS (
      SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY g, x
    ),
    pairs AS (
      SELECT a.g AS gi, b.g AS gj,
             CAST(SUM(CASE WHEN b.x > a.x THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS gt,
             CAST(SUM(CASE WHEN b.x = a.x THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS ties
      FROM h a JOIN h b ON b.g > a.g
      GROUP BY a.g, b.g
    ),
    jt AS (
      SELECT CAST(SUM(2 * gt + ties) AS BIGINT) AS jt2,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs
    ),
    sizes AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY g
    ),
    mom AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(n * n) AS BIGINT) AS sn2,
             SUM(CAST(n AS DOUBLE) * n * (2 * n + 3)) AS sn23
      FROM sizes
    )
    SELECT mom.nt AS n_rows, jt.n_pairs AS n_group_pairs,
           jt.jt2 AS jt_doubled,
           round((CAST(jt.jt2 AS DOUBLE) / 2
                  - (CAST(mom.nt AS DOUBLE) * mom.nt - CAST(mom.sn2 AS DOUBLE))
                    / 4)
                 / sqrt((CAST(mom.nt AS DOUBLE) * mom.nt * (2 * mom.nt + 3)
                         - mom.sn23)
                        / 72), 6) AS z_approx
    FROM jt, mom
    """,
    tags=("agg", "statistics"),
)
def q36at_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JONCKHEERE-TERPSTRA ordered-alternative trend test: do event
    values trend MONOTONICALLY across the week (Sunday..Saturday as
    the a-priori group order)? Completing the k-group shelf's third
    axis: q36aa Kruskal-Wallis detects ANY difference, q36af
    Cochran-Armitage needs binary outcomes, JT is the rank test with
    power against ordered shifts on a continuous response.

    The doubled statistic 2*JT = sum over ordered group pairs of
    (2*gt + ties) — Mann-Whitney dominance with the half-tie
    convention in exact BIGINTs — comes from ONE strict-order
    self-join of the (weekday, value) grid (the q36ak shape: products
    of histogram counts, never a fact pair-join). The normal
    approximation's mean n^2 - sum(n_i^2))/4 and no-tie variance
    (n^2(2n+3) - sum(n_i^2(2n_i+3)))/72 assemble from group sizes
    (sn23 sums integer-VALUED doubles on both engines — exact and
    order-free below 2^53, documented to ~sf3; the z is display-level
    by contract, the decided statistic jt_doubled stays exact).

    Scale: one histogram pass; the pair join runs on the bounded
    7 x ~400 grid.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.dayofweek("ts").cast("long").alias("g"),
        F.floor("value").cast("long").alias("x"),
    )
    h = v.groupBy("g", "x").agg(F.count("*").cast("long").alias("c"))
    a = h.select(
        F.col("g").alias("gi"), F.col("x").alias("xa"), F.col("c").alias("ca")
    )
    b = h.select(
        F.col("g").alias("gj"), F.col("x").alias("xb"), F.col("c").alias("cb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("gj") > F.col("gi"))
        .groupBy("gi", "gj")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), F.col("ca") * F.col("cb"))
                .otherwise(0)
            ).cast("long").alias("gt"),
            F.sum(
                F.when(F.col("xb") == F.col("xa"), F.col("ca") * F.col("cb"))
                .otherwise(0)
            ).cast("long").alias("ties"),
        )
    )
    jt = pairs.agg(
        F.sum(2 * F.col("gt") + F.col("ties")).cast("long").alias("jt2"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    sizes = h.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    mom = sizes.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sn2"),
        F.sum(
            F.col("n").cast("double") * F.col("n") * (2 * F.col("n") + 3)
        ).alias("sn23"),
    )
    mean = (
        F.col("nt").cast("double") * F.col("nt")
        - F.col("sn2").cast("double")
    ) / 4
    var = (
        F.col("nt").cast("double") * F.col("nt") * (2 * F.col("nt") + 3)
        - F.col("sn23")
    ) / 72
    return jt.crossJoin(F.broadcast(mom)).select(
        F.col("nt").alias("n_rows"),
        F.col("n_pairs").alias("n_group_pairs"),
        F.col("jt2").alias("jt_doubled"),
        F.round(
            (F.col("jt2").cast("double") / 2 - mean) / F.sqrt(var), 6
        ).alias("z_approx"),
    )


@query(
    "q44j_conversion_latency",
    oracle="""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS first_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
      SELECT user_id, MIN(ts) AS first_purchase FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    d AS (
      SELECT CAST(date_diff('second', fv.first_view, fp.first_purchase)
                  AS BIGINT) AS delay_s
      FROM fv JOIN fp USING (user_id)
      WHERE fp.first_purchase > fv.first_view
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(delay_s) AS BIGINT) AS min_s,
           round(quantile_cont(delay_s, 0.25), 6) AS p25_s,
           round(quantile_cont(delay_s, 0.5), 6) AS median_s,
           round(quantile_cont(delay_s, 0.75), 6) AS p75_s,
           CAST(SUM(delay_s) AS BIGINT) AS total_s
    FROM d
    """,
    tags=("sessionize", "funnel", "latency"),
)
def q44j_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIEW-TO-PURCHASE CONVERSION LATENCY quartiles — the
    time-to-event summary the funnel family lacked: q47 counts WHO
    converts, q44g/q44i model IF/WHEN under censoring; this is the
    operational latency readout (how long does conversion take for
    those who DO convert) a growth dashboard tracks week over week.

    Per-user delays are exact integer SECONDS (first purchase minus
    first view, strictly positive); the quartiles use exact linear
    interpolation at binary-exact fractions (.25/.5/.75 — even safer
    than q36c's probed .9: position fractions are dyadic, and
    integer-valued endpoints make every interpolated midpoint an
    exact binary fraction, so the cross-engine hash is bit-safe).
    min/total stay BIGINT.

    Scale: two map-side-combinable first-event passes, one user-keyed
    join (co-partitioned). Exact percentiles buffer the delay column
    (user-bounded, never fact-bounded — the q36c honesty note); the
    sketch path for trillion-user scale is q36f's approx quantiles.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    d = (
        fv.join(fp, "user_id")
        .where(F.col("first_purchase") > F.col("first_view"))
        .select(
            (
                F.unix_timestamp("first_purchase")
                - F.unix_timestamp("first_view")
            )
            .cast("long")
            .alias("delay_s")
        )
    )
    return d.agg(
        F.count("*").cast("long").alias("n_users"),
        F.min("delay_s").cast("long").alias("min_s"),
        F.round(F.percentile("delay_s", 0.25), 6).alias("p25_s"),
        F.round(F.percentile("delay_s", 0.5), 6).alias("median_s"),
        F.round(F.percentile("delay_s", 0.75), 6).alias("p75_s"),
        F.sum("delay_s").cast("long").alias("total_s"),
    )


@query(
    "q36au_mood_median_test",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    grid AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY x
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM grid),
    med AS (
      SELECT CAST(MIN(x) AS BIGINT) AS m FROM (
        SELECT x, SUM(c) OVER (ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        FROM grid
      ), tot WHERE cm * 2 >= tot.n
    ),
    cells AS (
      SELECT g,
             CAST(SUM(CASE WHEN x > med.m THEN 1 ELSE 0 END) AS BIGINT)
               AS a,
             CAST(COUNT(*) AS BIGINT) AS ng
      FROM v, med GROUP BY g
    ),
    marg AS (
      SELECT CAST(SUM(a) AS BIGINT) AS ta,
             CAST(SUM(ng) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cells
    ),
    chi AS (
      SELECT CAST(SUM(
               (cells.ng * marg.ta - marg.n * cells.a)
               * (cells.ng * marg.ta - marg.n * cells.a)
               // (marg.ta * (marg.n - marg.ta) * cells.ng // 1000000)
             ) AS BIGINT) AS s_micro
      FROM cells, marg
    )
    SELECT marg.k AS n_groups, med.m AS grand_median, marg.n AS n_rows,
           round(CAST(chi.s_micro AS DOUBLE) / 1000000.0, 6) AS chi2,
           (marg.k - 1) AS dof
    FROM chi, marg, med
    """,
    tags=("agg", "statistics"),
)
def q36au_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOOD'S MEDIAN TEST across event types — the bluntest and most
    outlier-proof of the k-group tests (q36aa ranks everything;
    Mood's only asks which side of the GRAND median each observation
    falls on — the test of choice when values are corrupt beyond
    ranking but sign-vs-median survives).

    The grand median is a discrete order statistic located by
    cumulative-count bracketing on the bounded value grid (the q36ac
    convention — no fact sort). The k x 2 chi-square collapses per
    group to D_g^2 / (ta*tb*n_g/n^2-ish): contribution_g =
    (n_g*ta - n*a_g)^2 / (ta*tb*n_g), computed in MICRO-UNITS by the
    truncated-denominator trick D^2 div (denom div 1e6) — every
    operand BIGINT-budgeted (D^2 <= 4e18 at sf0.1; re-unit beyond —
    the q36ad headroom convention) and the identical integer op
    sequence runs on both engines. The display chi2 is s_micro/1e6.

    Scale: one histogram pass, one bounded-grid cumsum, one map-side
    k x 2 fold; the statistic assembles on a 1-row frame.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor("value").cast("long").alias("x"),
    )
    grid = v.groupBy("x").agg(F.count("*").cast("long").alias("c"))
    tot = grid.agg(F.sum("c").cast("long").alias("n"))
    cum = grid.select(
        "x",
        F.sum("c")
        .over(W.orderBy("x").rowsBetween(W.unboundedPreceding, 0))
        .alias("cm"),
    )
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cm") * 2 >= F.col("n"))
        .agg(F.min("x").cast("long").alias("m"))
    )
    cells = (
        v.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("x") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.count("*").cast("long").alias("ng"),
        )
    )
    marg = cells.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("ng").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
    )
    terms = cells.crossJoin(F.broadcast(marg)).select(
        F.expr(
            "(ng * ta - n * a) * (ng * ta - n * a)"
            " div (ta * (n - ta) * ng div 1000000)"
        )
        .cast("long")
        .alias("t_micro"),
    )
    s = terms.agg(F.sum("t_micro").cast("long").alias("s_micro"))
    return (
        s.crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("k").alias("n_groups"),
            F.col("m").alias("grand_median"),
            F.col("n").alias("n_rows"),
            F.round(
                F.col("s_micro").cast("double") / 1000000.0, 6
            ).alias("chi2"),
            (F.col("k") - 1).cast("long").alias("dof"),
        )
    )


@query(
    "q42q_process_capability",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS q,
             CAST(SUM(CASE WHEN x < 50 OR x > 550 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_out
      FROM v
    )
    SELECT n, n_out,
           round(CAST(s AS DOUBLE) / n, 6) AS mean_x,
           round(sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                      / (CAST(n AS DOUBLE) * (n - 1))), 6) AS sd,
           round(500.0 / (6 * sqrt((CAST(n AS DOUBLE) * q
                                    - CAST(s AS DOUBLE) * s)
                                   / (CAST(n AS DOUBLE) * (n - 1)))), 6)
             AS cp,
           round(least(550.0 - CAST(s AS DOUBLE) / n,
                       CAST(s AS DOUBLE) / n - 50.0)
                 / (3 * sqrt((CAST(n AS DOUBLE) * q
                              - CAST(s AS DOUBLE) * s)
                             / (CAST(n AS DOUBLE) * (n - 1)))), 6) AS cpk
    FROM mom
    """,
    tags=("timeseries", "statistics", "spc"),
)
def q42q_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESS CAPABILITY indices Cp / Cpk for event values against
    the spec band [50, 550] — the STATIC judgment completing the SPC
    pair with q42i's EWMA control chart (the chart asks "did the
    process drift over time?"; capability asks "even in control, does
    the process FIT the spec?" — a process can be perfectly stable
    and still incapable).

    Cp = (USL-LSL)/6s ignores centering; Cpk = min(USL-mean,
    mean-LSL)/3s punishes it — both assemble from three exact BIGINT
    moments (n, S, Q — one map-side pass) in single pinned double
    expressions; the out-of-spec count rides the same pass as an
    exact integer. Spec limits are contract literals on both engines.

    Scale: one map-side-combinable aggregate; a scalar frame after.
    Headroom: n*Q ~ 3e15 at sf0.1 (the q36am budget).
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.floor("value").cast("long").alias("x")
    )
    mom = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
        F.sum(
            F.when((F.col("x") < 50) | (F.col("x") > 550), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_out"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("n").cast("double") * F.col("q")
            - F.col("s").cast("double") * F.col("s")
        )
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return mom.select(
        "n",
        "n_out",
        F.round(mean, 6).alias("mean_x"),
        F.round(sd, 6).alias("sd"),
        F.round(F.lit(500.0) / (6 * sd), 6).alias("cp"),
        F.round(
            F.least(F.lit(550.0) - mean, mean - F.lit(50.0)) / (3 * sd), 6
        ).alias("cpk"),
    )


@query(
    "q44k_fano_dispersion",
    oracle="""
    WITH days AS (
      SELECT CAST(dayofmonth(ts) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS q
      FROM days
    )
    SELECT n AS n_days, s AS n_events,
           round(CAST(s AS DOUBLE) / n, 6) AS mean_per_day,
           round((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                 / (CAST(n AS DOUBLE) * (n - 1))
                 / (CAST(s AS DOUBLE) / n), 6) AS fano,
           round((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                 / (CAST(n AS DOUBLE) * s) * n / (n - 1) * (n - 1), 6)
             AS dispersion_chi2
    FROM mom
    """,
    tags=("sessionize", "statistics", "timeseries"),
)
def q44k_fano_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FANO FACTOR (variance-to-mean) of daily purchase counts plus
    the index-of-dispersion chi-square — the Poisson-ness screen that
    decides which model downstream applies: Fano ~ 1 says q36s's
    Poisson bootstrap assumptions hold; >> 1 (overdispersion,
    bursts/contagion) says negative-binomial and q44's burst-aware
    sessionization; << 1 says rate-limited regularity.

    Both statistics assemble from three exact BIGINT moments over the
    calendar-bounded day frame in single pinned double expressions
    (sample variance / mean; dispersion chi2 = (n-1)*s^2/mean, here
    written as the same algebra both engines execute token-for-token).

    Scale: one map-side-combinable day fold; a scalar frame after.
    """
    tune_for_oracle(spark)
    days = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.dayofmonth("ts").cast("long").alias("d"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    mom = days.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    )
    var = (
        F.col("n").cast("double") * F.col("q")
        - F.col("s").cast("double") * F.col("s")
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    mean = F.col("s").cast("double") / F.col("n")
    return mom.select(
        F.col("n").alias("n_days"),
        F.col("s").alias("n_events"),
        F.round(mean, 6).alias("mean_per_day"),
        F.round(var / mean, 6).alias("fano"),
        F.round(
            (
                F.col("n").cast("double") * F.col("q")
                - F.col("s").cast("double") * F.col("s")
            )
            / (F.col("n").cast("double") * F.col("s"))
            * F.col("n")
            / (F.col("n") - 1)
            * (F.col("n") - 1),
            6,
        ).alias("dispersion_chi2"),
    )


@query(
    "q47p_funnel_significance",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s_view,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s_click,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS s_buy,
             CAST(user_id % 2 AS BIGINT) AS arm
      FROM events GROUP BY user_id
    ),
    steps AS (
      SELECT 'view_to_click' AS step, arm,
             CAST(SUM(s_view) AS BIGINT) AS n_in,
             CAST(SUM(CASE WHEN s_view = 1 AND s_click = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_out
      FROM u GROUP BY arm
      UNION ALL
      SELECT 'click_to_buy' AS step, arm,
             CAST(SUM(s_click) AS BIGINT) AS n_in,
             CAST(SUM(CASE WHEN s_click = 1 AND s_buy = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_out
      FROM u GROUP BY arm
    ),
    wide AS (
      SELECT step,
             CAST(MAX(CASE WHEN arm = 0 THEN n_in END) AS BIGINT) AS n1,
             CAST(MAX(CASE WHEN arm = 0 THEN n_out END) AS BIGINT) AS x1,
             CAST(MAX(CASE WHEN arm = 1 THEN n_in END) AS BIGINT) AS n2,
             CAST(MAX(CASE WHEN arm = 1 THEN n_out END) AS BIGINT) AS x2
      FROM steps GROUP BY step
    )
    SELECT step, n1, x1, n2, x2,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             round(CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2, 6)
           END AS rate_diff,
           CASE WHEN n1 > 0 AND n2 > 0 AND x1 + x2 > 0
                 AND x1 + x2 < n1 + n2 THEN
             round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                   / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                          * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                          * (1.0 / n1 + 1.0 / n2)), 6)
           END AS z_stat
    FROM wide
    """,
    tags=("funnel", "statistics"),
)
def q47p_funnel_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION Z-TEST per funnel step between the even/odd user
    arms — the decision layer the funnel family lacked: q47 counts
    step conversion, q36ai/q36af test paired and trend hypotheses;
    this is the A/B readout (is arm 0's view->click rate REALLY
    different from arm 1's?) every experiment dashboard runs on funnel
    data.

    Per-arm step counts are exact integers from one (user) MAX pass
    (step membership is reach-based: a user counts into a step's
    denominator iff they reached its input stage); the pooled z
    assembles in ONE pinned double expression per step. The 2x2 pivot
    is a MAX-CASE fold, never a join (q36ag discipline).

    Degenerate cells (an arm with zero step entrants at tiny scales,
    or an all-or-nothing pooled rate) yield NULL statistics by
    explicit guard on the exact integers — Spark's ANSI
    divide-by-zero and DuckDB's silent inf would otherwise diverge.

    Scale: one map-side-combinable user pass; everything after lives
    on the 2-step x 2-arm frame.
    """
    tune_for_oracle(spark)
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
                "s_view"
            ),
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("s_click"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("s_buy"),
        )
        .select(
            "*", (F.col("user_id") % 2).cast("long").alias("arm")
        )
    )

    def step_counts(name, in_col, out_col):
        return u.groupBy("arm").agg(
            F.lit(name).alias("step"),
            F.sum(in_col).cast("long").alias("n_in"),
            F.sum(
                F.when((F.col(in_col) == 1) & (F.col(out_col) == 1), 1)
                .otherwise(0)
            ).cast("long").alias("n_out"),
        )

    steps = step_counts("view_to_click", "s_view", "s_click").unionByName(
        step_counts("click_to_buy", "s_click", "s_buy")
    )
    wide = steps.groupBy("step").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_in"))).cast("long").alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n_out"))).cast("long").alias("x1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_in"))).cast("long").alias("n2"),
        F.max(F.when(F.col("arm") == 1, F.col("n_out"))).cast("long").alias("x2"),
    )
    p1 = F.expr("CAST(x1 AS DOUBLE) / n1")
    p2 = F.expr("CAST(x2 AS DOUBLE) / n2")
    pp = F.expr("CAST(x1 + x2 AS DOUBLE) / (n1 + n2)")
    both = (F.col("n1") > 0) & (F.col("n2") > 0)
    nondegenerate = (
        both
        & (F.col("x1") + F.col("x2") > 0)
        & (F.col("x1") + F.col("x2") < F.col("n1") + F.col("n2"))
    )
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return wide.select(
        "step",
        "n1",
        "x1",
        "n2",
        "x2",
        F.when(both, F.round(p1 - p2, 6)).alias("rate_diff"),
        F.when(nondegenerate, F.round(z, 6)).alias("z_stat"),
    )


@query(
    "q36av_robust_shape",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    grid AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY x
    ),
    cum AS (
      SELECT x, CAST(SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cm
      FROM grid
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM grid),
    oct AS (
      SELECT k.k,
             CAST(MIN(cum.x) AS BIGINT) AS e
      FROM (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS k) k, cum, tot
      WHERE cum.cm >= (tot.n * k.k + 7) // 8
      GROUP BY k.k
    ),
    wide AS (
      SELECT CAST(MAX(CASE WHEN k = 1 THEN e END) AS BIGINT) AS e1,
             CAST(MAX(CASE WHEN k = 2 THEN e END) AS BIGINT) AS e2,
             CAST(MAX(CASE WHEN k = 3 THEN e END) AS BIGINT) AS e3,
             CAST(MAX(CASE WHEN k = 4 THEN e END) AS BIGINT) AS e4,
             CAST(MAX(CASE WHEN k = 5 THEN e END) AS BIGINT) AS e5,
             CAST(MAX(CASE WHEN k = 6 THEN e END) AS BIGINT) AS e6,
             CAST(MAX(CASE WHEN k = 7 THEN e END) AS BIGINT) AS e7
      FROM oct
    )
    SELECT tot.n, wide.e2 AS q1, wide.e4 AS q2, wide.e6 AS q3,
           round(CAST(wide.e6 + wide.e2 - 2 * wide.e4 AS DOUBLE)
                 / (wide.e6 - wide.e2), 6) AS bowley_skew,
           round(CAST(wide.e6 - wide.e2 AS DOUBLE)
                 / (wide.e6 + wide.e2), 6) AS quartile_dispersion,
           round(CAST((wide.e7 - wide.e5) + (wide.e3 - wide.e1) AS DOUBLE)
                 / (wide.e6 - wide.e2), 6) AS moors_kurtosis
    FROM wide, tot
    """,
    tags=("agg", "statistics", "robust"),
)
def q36av_robust_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST SHAPE STATISTICS — Bowley quartile skewness, the
    quartile coefficient of dispersion, and Moors' octile kurtosis —
    the quantile-based counterparts to q36ad's moment skewness/
    kurtosis (Jarque-Bera's inputs explode under one wild value;
    these have 25% breakdown and answer the same "is it asymmetric /
    heavy-tailed?" questions on corrupt data).

    All seven octiles are DISCRETE order statistics (smallest grid
    value with cumulative count >= ceil(n*k/8), the integer ceil
    (n*k+7) div 8 — selection on exact integers, no interpolation, so
    cross-engine bit-safety is structural); the three statistics are
    pinned double ratios of integer differences. The octile selection
    joins the bounded cumulative grid against a 7-row target frame.

    Scale: one histogram pass; cumsum and selection on the ~400-row
    value grid (the q36aa grid discipline).
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.floor("value").cast("long").alias("x")
    )
    grid = v.groupBy("x").agg(F.count("*").cast("long").alias("c"))
    cum = grid.select(
        "x",
        F.sum("c")
        .over(W.orderBy("x").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cm"),
    )
    tot = grid.agg(F.sum("c").cast("long").alias("n"))
    ks = spark.range(1, 8).select(F.col("id").alias("k"))
    oct_sel = (
        cum.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(ks),
            F.col("cm") >= F.expr("(n * k + 7) div 8"),
        )
        .groupBy("k")
        .agg(F.min("x").cast("long").alias("e"))
    )
    wide = oct_sel.agg(
        *[
            F.max(F.when(F.col("k") == i, F.col("e")))
            .cast("long")
            .alias(f"e{i}")
            for i in range(1, 8)
        ]
    )
    return wide.crossJoin(F.broadcast(tot)).select(
        "n",
        F.col("e2").alias("q1"),
        F.col("e4").alias("q2"),
        F.col("e6").alias("q3"),
        F.round(
            (F.col("e6") + F.col("e2") - 2 * F.col("e4")).cast("double")
            / (F.col("e6") - F.col("e2")),
            6,
        ).alias("bowley_skew"),
        F.round(
            (F.col("e6") - F.col("e2")).cast("double")
            / (F.col("e6") + F.col("e2")),
            6,
        ).alias("quartile_dispersion"),
        F.round(
            (
                (F.col("e7") - F.col("e5")) + (F.col("e3") - F.col("e1"))
            ).cast("double")
            / (F.col("e6") - F.col("e2")),
            6,
        ).alias("moors_kurtosis"),
    )


@query(
    "q36aw_welch_anova",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS x FROM events
    ),
    pg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS q
      FROM v GROUP BY g
    ),
    wts AS (
      SELECT g, n,
             CAST(s AS DOUBLE) / n AS m,
             CAST(n AS DOUBLE) * n * (n - 1)
             / (CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s) AS w
      FROM pg
    ),
    s1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             list_reduce(array_agg(w ORDER BY g), (a, b) -> a + b) AS sw,
             list_reduce(array_agg(w * m ORDER BY g), (a, b) -> a + b)
               AS swm
      FROM wts
    ),
    s2 AS (
      SELECT s1.k, s1.sw,
             list_reduce(array_agg(
               wts.w * (wts.m - s1.swm / s1.sw)
                     * (wts.m - s1.swm / s1.sw) ORDER BY wts.g),
               (a, b) -> a + b) AS a_num,
             list_reduce(array_agg(
               (1 - wts.w / s1.sw) * (1 - wts.w / s1.sw)
               / (wts.n - 1) ORDER BY wts.g),
               (a, b) -> a + b) AS lam
      FROM wts, s1 GROUP BY s1.k, s1.sw
    )
    SELECT k AS n_groups,
           round(a_num / (k - 1)
                 / (1 + 2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1) * lam),
                 6) AS welch_f,
           (k - 1) AS dof1,
           round((CAST(k AS DOUBLE) * k - 1) / (3.0 * lam), 6) AS dof2
    FROM s2
    """,
    tags=("agg", "statistics"),
)
def q36aw_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S HETEROSCEDASTIC ONE-WAY ANOVA across event types — the
    k-group mean test that drops q36z's equal-variance assumption
    (q36z's classic F inflates its error rate badly when group
    variances differ with unequal n; Welch reweights by n/s^2 the way
    its 2-group sibling q36j does), with the Welch-Satterthwaite
    second degrees of freedom.

    Per-group weights w = n/s^2 and means assemble from exact BIGINT
    moments per group row; the three k-term sums (sum w, sum w*m,
    then the centered quadratic and the lambda correction) run as
    ORDERED g-sorted folds on the 5-row frame (the q36aa/q36aq fold
    discipline — staged so the weighted grand mean is itself a ratio
    of two ordered folds before the second pass consumes it in one
    pinned expression shape both engines share).

    Scale: one map-side-combinable pass over the fact; everything
    after lives on the k-row frame.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor("value").cast("long").alias("x"),
    )
    pg = v.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    m = F.col("s").cast("double") / F.col("n")
    w = (
        F.col("n").cast("double") * F.col("n") * (F.col("n") - 1)
        / (
            F.col("n").cast("double") * F.col("q")
            - F.col("s").cast("double") * F.col("s")
        )
    )
    wts = pg.select("g", "n", m.alias("m"), w.alias("w"))

    def osum(term, alias):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("g", term.alias("t")))),
                lambda st: st["t"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias(alias)

    s1 = wts.agg(
        F.count("*").cast("long").alias("k"),
        osum(F.col("w"), "sw"),
        osum(F.col("w") * F.col("m"), "swm"),
    )
    joined = wts.crossJoin(F.broadcast(s1))
    gm = F.col("swm") / F.col("sw")
    s2 = joined.groupBy("k", "sw").agg(
        osum(F.col("w") * (F.col("m") - gm) * (F.col("m") - gm), "a_num"),
        osum(
            (1 - F.col("w") / F.col("sw"))
            * (1 - F.col("w") / F.col("sw"))
            / (F.col("n") - 1),
            "lam",
        ),
    )
    kd = F.col("k").cast("double")
    return s2.select(
        F.col("k").alias("n_groups"),
        F.round(
            F.col("a_num")
            / (F.col("k") - 1)
            / (1 + 2.0 * (F.col("k") - 2) / (kd * F.col("k") - 1) * F.col("lam")),
            6,
        ).alias("welch_f"),
        (F.col("k") - 1).cast("long").alias("dof1"),
        F.round((kd * F.col("k") - 1) / (3.0 * F.col("lam")), 6).alias("dof2"),
    )


@query(
    "q42r_peak_detection",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               // 100000 AS x
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT array_agg(x ORDER BY mi) AS ys,
             array_agg(mi ORDER BY mi) AS mis,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM m
    ),
    idx AS (
      SELECT s.ys, s.mis, s.n, unnest(range(2, CAST(s.n AS INT))) AS i
      FROM series s
    ),
    peaks AS (
      SELECT ys, mis, n, CAST(i AS INT) AS i
      FROM idx
      WHERE ys[CAST(i AS INT)] > ys[CAST(i AS INT) - 1]
        AND ys[CAST(i AS INT)] > ys[CAST(i AS INT) + 1]
    ),
    prom AS (
      SELECT mis[i] AS month_idx, ys[i] AS height_kd,
             ys[i] - greatest(
               list_min(list_transform(range(
                 COALESCE(list_max(list_filter(range(1, i),
                   h -> ys[CAST(h AS INT)] > ys[i])), 0) + 1, i),
                 j -> ys[CAST(j AS INT)])),
               list_min(list_transform(range(i + 1,
                 COALESCE(list_min(list_filter(
                   range(i + 1, CAST(n AS INT) + 1),
                   h -> ys[CAST(h AS INT)] > ys[i])),
                   CAST(n AS INT) + 1)),
                 j -> ys[CAST(j AS INT)]))
             ) AS prominence_kd
      FROM peaks
    )
    SELECT CAST(month_idx AS BIGINT) AS month_idx,
           CAST(height_kd AS BIGINT) AS height_kd,
           CAST(prominence_kd AS BIGINT) AS prominence_kd
    FROM prom WHERE prominence_kd > 0
    """,
    tags=("timeseries", "signal"),
)
def q42r_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK DETECTION WITH TOPOGRAPHIC PROMINENCE on monthly revenue —
    the signal-processing primitive behind "which spikes matter":
    q42f/q42o flag level SHIFTS; this ranks local maxima by how far
    they rise above their surrounding terrain (a strict local max two
    units above a plateau is noise; the same height above a deep
    saddle is a real event), scipy.signal.find_peaks semantics made
    engine-portable.

    Spec (deterministic, integer-only): peaks are STRICT interior
    local maxima of the exact kilodollar series; per side, the col
    stretch runs to the nearest strictly-higher point (or the series
    end if none), prominence = height - max(left stretch min, right
    stretch min). The whole computation is bounded in-row index
    arithmetic over the ~80-month array (O(n^2) worst case = 6400
    integer ops — calendar-bounded, never fact-sized) executed as the
    same sequence of MIN/MAX folds on both engines. No doubles
    anywhere.

    Scale: the fact folds map-side to one cents row per month;
    everything else is in-row on the bounded series.
    """
    tune_for_oracle(spark)
    mth = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("mi"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) div 100000").alias("x"))
    )
    series = mth.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("mi", "x"))), lambda s: s["x"]
        ).alias("ys"),
        F.sort_array(F.collect_list("mi")).alias("mis"),
        F.count("*").cast("long").alias("n"),
    )
    idx = series.select(
        "ys",
        "mis",
        "n",
        F.explode(F.sequence(F.lit(2), F.col("n").cast("int") - 1)).alias("i"),
    )
    yi = F.element_at("ys", F.col("i"))
    peaks = idx.filter(
        (yi > F.element_at("ys", F.col("i") - 1))
        & (yi > F.element_at("ys", F.col("i") + 1))
    )
    left_higher = F.coalesce(
        F.aggregate(
            F.filter(
                F.sequence(F.lit(1), F.col("i") - 1),
                lambda h: F.element_at("ys", h.cast("int")) > yi,
            ),
            F.lit(None).cast("int"),
            lambda a, h: F.greatest(a, h.cast("int")),
        ),
        F.lit(0),
    )
    right_higher = F.coalesce(
        F.aggregate(
            F.filter(
                F.sequence(F.col("i") + 1, F.col("n").cast("int")),
                lambda h: F.element_at("ys", h.cast("int")) > yi,
            ),
            F.lit(None).cast("int"),
            lambda a, h: F.least(a, h.cast("int")),
        ),
        F.col("n").cast("int") + 1,
    )
    left_min = F.array_min(
        F.transform(
            F.sequence(left_higher + 1, F.col("i") - 1),
            lambda j: F.element_at("ys", j.cast("int")),
        )
    )
    right_min = F.array_min(
        F.transform(
            F.sequence(F.col("i") + 1, right_higher - 1),
            lambda j: F.element_at("ys", j.cast("int")),
        )
    )
    prom = peaks.select(
        F.element_at("mis", F.col("i")).cast("long").alias("month_idx"),
        yi.cast("long").alias("height_kd"),
        (yi - F.greatest(left_min, right_min)).cast("long").alias(
            "prominence_kd"
        ),
    )
    return prom.filter(F.col("prominence_kd") > 0)


@query(
    "q36ax_anderson_darling_2s",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value) AS BIGINT) AS x,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s1
      FROM events WHERE event_type IN ('click', 'view')
    ),
    grid AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(s1) AS BIGINT) AS c1
      FROM v GROUP BY x
    ),
    cum AS (
      SELECT x, c,
             CAST(SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS h,
             CAST(SUM(c1) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS l
      FROM grid
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS nt, CAST(SUM(c1) AS BIGINT) AS n1
      FROM grid
    ),
    terms AS (
      SELECT CAST(floor(
               CAST(cum.c AS DOUBLE)
               * (CAST(tot.nt AS DOUBLE) * cum.l
                  - CAST(tot.n1 AS DOUBLE) * cum.h)
               * (CAST(tot.nt AS DOUBLE) * cum.l
                  - CAST(tot.n1 AS DOUBLE) * cum.h)
               / (CAST(cum.h AS DOUBLE) * (tot.nt - cum.h))
               * 1000 + 0.5) AS BIGINT) AS t_milli
      FROM cum, tot WHERE cum.h < tot.nt
    ),
    s AS (SELECT CAST(SUM(t_milli) AS BIGINT) AS sm FROM terms)
    SELECT tot.n1, (tot.nt - tot.n1) AS n2, s.sm AS sum_milli,
           round(CAST(s.sm AS DOUBLE) / 1000.0
                 / (CAST(tot.n1 AS DOUBLE) * (tot.nt - tot.n1)), 6)
             AS a2_stat
    FROM s, tot
    """,
    tags=("agg", "statistics"),
)
def q36ax_anderson_darling_2s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE ANDERSON-DARLING between click and view values — the
    tail-weighted companion to q36q's KS (KS sees only the single
    largest ECDF gap, which sits near the middle; AD integrates ALL
    gaps with 1/(H(N-H)) weighting that amplifies the TAILS — the
    region where quality-distribution differences actually live).

    Tie-blocked Scholz-Stephens form on the bounded value grid: per
    distinct value, D = N*L - n1*H is built from exact cumulative
    integers; the weighted term c*D^2/(H*(N-H)) is ONE pinned double
    on those integers, truncated to MILLI-units per grid row
    (floor(t*1e3+.5) — each t <= ~1e7, the 400-row sum <= ~4e12, so
    the grid-sized sum crosses engines exactly); the exact milli-unit
    sum is itself an output column and the display statistic is one
    pinned division. The last grid block (H = N)
    drops on both engines by the same integer predicate.

    Scale: one histogram pass; cumsums and terms on the ~400-row
    value grid (the q36aa discipline).
    """
    tune_for_oracle(spark)
    v = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            F.floor("value").cast("long").alias("x"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("s1"),
        )
    )
    grid = v.groupBy("x").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("s1").cast("long").alias("c1"),
    )
    wc = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    cum = grid.select(
        "x",
        "c",
        F.sum("c").over(wc).cast("long").alias("h"),
        F.sum("c1").over(wc).cast("long").alias("l"),
    )
    tot = grid.agg(
        F.sum("c").cast("long").alias("nt"),
        F.sum("c1").cast("long").alias("n1"),
    )
    d = (
        F.col("nt").cast("double") * F.col("l")
        - F.col("n1").cast("double") * F.col("h")
    )
    t = (
        F.col("c").cast("double")
        * d
        * d
        / (F.col("h").cast("double") * (F.col("nt") - F.col("h")))
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("h") < F.col("nt"))
        .select(
            F.floor(t * 1000 + F.lit(0.5)).cast("long").alias("t_milli")
        )
    )
    s = terms.agg(F.sum("t_milli").cast("long").alias("sm"))
    base = F.col("sm").cast("double") / 1000.0 / (
        F.col("n1").cast("double") * (F.col("nt") - F.col("n1"))
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "n1",
        (F.col("nt") - F.col("n1")).cast("long").alias("n2"),
        F.col("sm").alias("sum_milli"),
        F.round(base, 6).alias("a2_stat"),
    )


@query(
    "q36ay_tost_equivalence",
    oracle="""
    WITH v AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(floor(value) AS BIGINT) AS x
      FROM events
    ),
    pg AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS q
      FROM v GROUP BY arm
    ),
    wide AS (
      SELECT CAST(MAX(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n1,
             CAST(MAX(CASE WHEN arm = 0 THEN s END) AS BIGINT) AS s1,
             CAST(MAX(CASE WHEN arm = 0 THEN q END) AS BIGINT) AS q1,
             CAST(MAX(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n2,
             CAST(MAX(CASE WHEN arm = 1 THEN s END) AS BIGINT) AS s2,
             CAST(MAX(CASE WHEN arm = 1 THEN q END) AS BIGINT) AS q2
      FROM pg
    ),
    stat AS (
      SELECT n1, n2,
             CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS diff,
             sqrt((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                  / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))
                  + (CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
                    / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))) AS se
      FROM wide
    )
    SELECT n1, n2,
           round(diff, 6) AS mean_diff,
           round(se, 6) AS welch_se,
           round((diff + 5.0) / se, 6) AS z_lower,
           round((5.0 - diff) / se, 6) AS z_upper,
           ((diff + 5.0) / se > 1.644854 AND (5.0 - diff) / se > 1.644854)
             AS equivalent_5u
    FROM stat
    """,
    tags=("agg", "statistics"),
)
def q36ay_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST EQUIVALENCE TEST (two one-sided Welch z) between the
    even/odd user arms' event values with a +-5-unit margin — the
    inference the rest of the testing shelf cannot make: q36j/q47p
    can only FAIL to find a difference (absence of evidence); TOST
    positively demonstrates the difference lies INSIDE the margin
    (evidence of absence) — what an A/A validation or a
    do-no-harm launch check actually needs.

    Both one-sided statistics assemble from six exact BIGINT moments
    (the q36ag MAX-CASE pivot, no join) in pinned double expressions;
    the margin (5.0) and the 95% one-sided critical value (1.644854,
    a 6dp literal — the pinned-constant convention, never an in-plan
    quantile call) are contract literals on both engines, and the
    equivalence verdict is the conjunction of two identically-pinned
    comparisons.

    Scale: one map-side-combinable pass; a 2-row pivot after.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).cast("long").alias("arm"),
        F.floor("value").cast("long").alias("x"),
    )
    pg = v.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    wide = pg.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c)))
            .cast("long")
            .alias(f"{c}{a + 1}")
            for a in (0, 1)
            for c in ("n", "s", "q")
        ]
    )
    diff = F.col("s1").cast("double") / F.col("n1") - F.col("s2").cast(
        "double"
    ) / F.col("n2")
    se = F.sqrt(
        (
            F.col("n1").cast("double") * F.col("q1")
            - F.col("s1").cast("double") * F.col("s1")
        )
        / (F.col("n1").cast("double") * F.col("n1") * (F.col("n1") - 1))
        + (
            F.col("n2").cast("double") * F.col("q2")
            - F.col("s2").cast("double") * F.col("s2")
        )
        / (F.col("n2").cast("double") * F.col("n2") * (F.col("n2") - 1))
    )
    zl = (diff + 5.0) / se
    zu = (5.0 - diff) / se
    return wide.select(
        "n1",
        "n2",
        F.round(diff, 6).alias("mean_diff"),
        F.round(se, 6).alias("welch_se"),
        F.round(zl, 6).alias("z_lower"),
        F.round(zu, 6).alias("z_upper"),
        ((zl > 1.644854) & (zu > 1.644854)).alias("equivalent_5u"),
    )


@query(
    "q46l_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST((dayofmonth(ts) - 1) // 7 AS BIGINT) AS wk
      FROM events WHERE dayofmonth(ts) <= 28
    ),
    pairs AS (
      SELECT w.wk,
             CAST(COUNT(*) AS BIGINT) AS active,
             CAST(SUM(CASE WHEN p.user_id IS NULL AND f.first_wk = w.wk
                           THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
             CAST(SUM(CASE WHEN p.user_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS retained,
             CAST(SUM(CASE WHEN p.user_id IS NULL AND f.first_wk < w.wk
                           THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
      FROM uw w
      LEFT JOIN uw p ON p.user_id = w.user_id AND p.wk = w.wk - 1
      JOIN (SELECT user_id, CAST(MIN(wk) AS BIGINT) AS first_wk
            FROM uw GROUP BY user_id) f ON f.user_id = w.user_id
      GROUP BY w.wk
    ),
    churn AS (
      SELECT p.wk + 1 AS wk, CAST(COUNT(*) AS BIGINT) AS churned
      FROM uw p
      LEFT JOIN uw n ON n.user_id = p.user_id AND n.wk = p.wk + 1
      WHERE n.user_id IS NULL AND p.wk < 3
      GROUP BY p.wk
    )
    SELECT pairs.wk, pairs.active, pairs.new_users, pairs.retained,
           pairs.resurrected,
           CAST(COALESCE(churn.churned, 0) AS BIGINT) AS churned,
           CASE WHEN COALESCE(churn.churned, 0) > 0 THEN
             round(CAST(pairs.new_users + pairs.resurrected AS DOUBLE)
                   / churn.churned, 6)
           END AS quick_ratio
    FROM pairs LEFT JOIN churn USING (wk)
    """,
    tags=("retention", "engagement"),
)
def q46l_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKLY GROWTH ACCOUNTING — every active user classified as NEW
    (first-ever week), RETAINED (active last week too) or RESURRECTED
    (returning after a gap), with the week's CHURN (active last week,
    gone this week) and the quick ratio (new+resurrected)/churned —
    the decomposition that explains a flat active-user curve (q46b
    counts actives; this says whether the pipeline is a leaky bucket
    being refilled or genuine compounding).

    Four complete weeks (days 1..28); states are exact set operations
    expressed as user-keyed self-joins of the distinct (user, week)
    frame against its one-week lag plus a first-week dim — every
    count an exact integer; the quick ratio guards zero churn
    explicitly (NULL, the q47p convention).

    Scale: one map-side distinct pass; the lag joins key on
    (user_id) with week predicates (co-partitioned); frames after are
    4 rows.
    """
    tune_for_oracle(spark)
    uw = (
        load_table(spark, sf_dir, "events")
        .filter(F.dayofmonth("ts") <= 28)
        .select(
            "user_id",
            ((F.dayofmonth("ts") - 1) / 7).cast("long").alias("wk"),
        )
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.min("wk").cast("long").alias("first_wk"))
    prev = uw.select(
        F.col("user_id").alias("pu"), (F.col("wk") + 1).alias("pw")
    )
    pairs = (
        uw.join(
            prev,
            (F.col("pu") == F.col("user_id")) & (F.col("pw") == F.col("wk")),
            "left",
        )
        .join(first, "user_id")
        .groupBy("wk")
        .agg(
            F.count("*").cast("long").alias("active"),
            F.sum(
                F.when(
                    F.col("pu").isNull() & (F.col("first_wk") == F.col("wk")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("new_users"),
            F.sum(F.when(F.col("pu").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("retained"),
            F.sum(
                F.when(
                    F.col("pu").isNull() & (F.col("first_wk") < F.col("wk")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("resurrected"),
        )
    )
    nxt = uw.select(
        F.col("user_id").alias("nu"), (F.col("wk") - 1).alias("nw")
    )
    churn = (
        uw.filter(F.col("wk") < 3)
        .join(
            nxt,
            (F.col("nu") == F.col("user_id")) & (F.col("nw") == F.col("wk")),
            "left",
        )
        .filter(F.col("nu").isNull())
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count("*").cast("long").alias("churned"))
    )
    out = pairs.join(churn, "wk", "left").select(
        "wk",
        "active",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce("churned", F.lit(0)).cast("long").alias("churned"),
    )
    return out.select(
        "*",
        F.when(
            F.col("churned") > 0,
            F.round(
                (F.col("new_users") + F.col("resurrected")).cast("double")
                / F.col("churned"),
                6,
            ),
        ).alias("quick_ratio"),
    )


MCC_ORACLE = """
    WITH v AS (
      SELECT CASE WHEN value > 150 THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
      FROM events
    ),
    cells AS (
      SELECT CAST(SUM(a * b) AS BIGINT) AS tp,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS fp,
             CAST(SUM((1 - a) * b) AS BIGINT) AS fn,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS tn
      FROM v
    )
    SELECT tp, fp, fn, tn,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                        * (tn + fp) * (tn + fn)), 6) AS mcc,
           round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
    FROM cells
    """


@query(
    "q36az_matthews_correlation",
    oracle=MCC_ORACLE,
    tags=("agg", "statistics", "evaluation"),
)
def q36az_matthews_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTHEWS CORRELATION COEFFICIENT (with F1 alongside) between
    the value>150 flag and the purchase label — the
    confusion-matrix summary that stays honest under class imbalance
    (F1 ignores true negatives entirely; MCC is the full 2x2
    correlation, the metric a classifier-gate evaluation should
    actually optimize — and the binary specialization of q36v's
    Cramer's V with a SIGN).

    The whole confusion matrix is one map-side pass of products of
    0/1 indicators (exact BIGINTs); MCC and F1 are single pinned
    double expressions. Headroom: the 4-factor denominator product
    stays under 2^53 integer-valued doubles to ~sf1; the q36at
    convention documents the re-unit beyond.

    Scale: one map-side-combinable aggregate; a scalar frame after.
    """
    tune_for_oracle(spark)
    v = load_table(spark, sf_dir, "events").select(
        F.when(F.col("value") > 150, 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("b"),
    )
    cells = v.agg(
        F.sum(F.col("a") * F.col("b")).cast("long").alias("tp"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("fp"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("fn"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("tn"),
    )
    num = F.col("tp").cast("double") * F.col("tn") - F.col("fp").cast(
        "double"
    ) * F.col("fn")
    den = F.sqrt(
        (F.col("tp") + F.col("fp")).cast("double")
        * (F.col("tp") + F.col("fn"))
        * (F.col("tn") + F.col("fp"))
        * (F.col("tn") + F.col("fn"))
    )
    return cells.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(num / den, 6).alias("mcc"),
        F.round(
            2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1"),
    )


def _slem_duck_step() -> str:
    """DuckDB fold step for q47r: one deflated power iteration on the
    micro-unit transition matrix. Emitted by a builder so the deeply
    nested let-binding lists stay balanced by construction (the
    _pca2_step lesson). Sign-safe truncation uses (x - x % 1e6) //
    1e6 — dividend-signed %, so the floor division lands on an exact
    multiple and equals Spark's `div` for BOTH signs."""
    tm = (
        "(u[(i + 1)::INTEGER] * m[(i * kk.k + j + 1)::INTEGER]"
        " - (u[(i + 1)::INTEGER] * m[(i * kk.k + j + 1)::INTEGER])"
        " % 1000000) // 1000000"
    )
    proj = (
        "(sw * pi[(i + 1)::INTEGER]"
        " - (sw * pi[(i + 1)::INTEGER]) % 1000000) // 1000000"
    )
    sw = (
        "list_reduce(list_transform(range(kk.k),"
        " z -> acc[(z + 1)::INTEGER]), (a, b) -> a + b)"
    )
    u = (
        f"list_transform(range(kk.k), i -> acc[(i + 1)::INTEGER] - {proj})"
    )
    t = (
        f"list_transform(range(kk.k), j -> list_reduce("
        f"list_transform(range(kk.k), i -> {tm}), (a, b) -> a + b))"
    )
    mx = "list_reduce(list_transform(t, z -> abs(z)), (a, b) -> greatest(a, b))"
    wnew = (
        "list_concat(list_transform(range(kk.k), j ->"
        " CASE WHEN t[(j + 1)::INTEGER] < 0"
        " THEN -((-t[(j + 1)::INTEGER]) * 1000000 // mx)"
        " ELSE t[(j + 1)::INTEGER] * 1000000 // mx END), [mx])"
    )
    return (
        f"(acc, x) -> list_transform([{sw}], sw ->"
        f" list_transform([{u}], u ->"
        f" list_transform([{t}], t ->"
        f" list_transform([{mx}], mx ->"
        f" CASE WHEN mx = 0 THEN acc ELSE {wnew} END"
        f")[1])[1])[1])[1]"
    )


@query(
    "q47r_markov_slem",
    oracle=_ORACLE_TRANSITIONS
    + f"""
    statf AS (
      SELECT list_reduce(
               list_concat(
                 [list_transform(range(kk.k), x -> 1000000 // kk.k)],
                 list_transform(range(30),
                                x -> list_transform(range(kk.k),
                                                    y -> 0::BIGINT))),
               (acc, x) -> list_transform(range(kk.k), j ->
                 list_reduce(
                   list_transform(range(kk.k),
                                  i -> acc[(i + 1)::INTEGER]
                                       * m[(i * kk.k + j + 1)::INTEGER]
                                       // 1000000),
                   (a, b) -> a + b))) AS pi
      FROM mat, kk
    ), folded2 AS (
      SELECT kk.k, list_reduce(
               list_concat(
                 [list_concat(list_transform(range(kk.k),
                    z -> CASE WHEN z % 2 = 0 THEN 1000000::BIGINT
                              ELSE (-1000000)::BIGINT END), [0::BIGINT])],
                 list_transform(range(20),
                                x -> list_transform(range(kk.k + 1),
                                                    y -> 0::BIGINT))),
               {_slem_duck_step()}) AS w
      FROM mat, statf, kk
    )
    SELECT k AS n_states,
           w[(k + 1)::INTEGER] AS slem_micro,
           round(CAST(w[(k + 1)::INTEGER] AS DOUBLE) / 1000000.0, 6)
             AS slem,
           round(1.0 - CAST(w[(k + 1)::INTEGER] AS DOUBLE) / 1000000.0, 6)
             AS spectral_gap
    FROM folded2
    """,
    tags=("analytics", "markov", "iterative", "fold"),
)
def q47r_markov_slem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND-LARGEST EIGENVALUE MODULUS (SLEM) of the journey
    transition chain by DEFLATED power iteration — the spectral gap
    that says HOW FAST q47f's stationary distribution is reached
    (slem near 1 = slow mixing, users trapped in behavioral modes;
    near 0 = one step forgets history), the number that calibrates
    how much journey history a sequence model actually needs.

    The dominant left pair of a row-stochastic chain is known
    (pi, 1), so each iteration deflates exactly: u = w - (sum w)*pi
    / 1e6, then u <- uP, renormalized by max-abs — ALL in truncated
    micro-unit integers (the q47f truncmul discipline extended
    sign-safe: both engines truncate toward zero via (x - x%1e6)/1e6,
    which Spark's div and DuckDB's on-exact-multiple floor agree on
    for BOTH signs). The 20-step fold carries [w_1..w_k, last_mx];
    the final pre-normalization max IS the slem estimate in exact
    micro-units. pi itself comes from the q47f fold inside the same
    plan. Alternating seed avoids an orthogonal start.

    Scale: fact-sized work is the per-user lead window and the
    (src, dst) count; both folds run on the one-row K^2 frame.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    _, kk, probs_f = _transition_chain(ev)
    mat = probs_f.join(F.broadcast(kk)).agg(
        F.map_from_entries(F.collect_list(F.struct("f", "p"))).alias("mp"),
        F.max("k").alias("k"),
    )
    M = F.lit(1000000).cast("long")
    kcol = F.col("k").cast("int")

    def tdiv(prod):
        return ((prod - prod % M) / M).cast("long")

    m = F.transform(
        F.sequence(F.lit(0), (kcol * kcol - 1)),
        lambda f: F.coalesce(
            F.element_at(F.col("mp"), f.cast("long")), F.lit(0).cast("long")
        ),
    )
    v0 = F.transform(
        F.sequence(F.lit(0), kcol - 1), lambda _: F.expr("1000000 div k")
    )
    pi_fold = F.aggregate(
        F.sequence(F.lit(1), F.lit(30)),
        v0,
        lambda acc, _: F.transform(
            F.sequence(F.lit(0), kcol - 1),
            lambda j: F.aggregate(
                F.sequence(F.lit(0), kcol - 1),
                F.lit(0).cast("long"),
                lambda s, i: s
                + (
                    (
                        (
                            F.element_at(acc, i + 1)
                            * F.element_at(m, (i * kcol + j + 1))
                        )
                        - (
                            F.element_at(acc, i + 1)
                            * F.element_at(m, (i * kcol + j + 1))
                        )
                        % M
                    )
                    / M
                ).cast("long"),
            ).cast("long"),
        ),
    )
    base = mat.select("k", m.alias("m"), pi_fold.alias("pi"))

    def let(x, f):
        return F.element_at(F.transform(F.array(x), f), 1)

    def step(acc, _):
        sw_expr = F.aggregate(
            F.sequence(F.lit(1), kcol),
            F.lit(0).cast("long"),
            lambda s, i: s + F.element_at(acc, i),
        )

        def with_sw(sw):
            u_expr = F.transform(
                F.sequence(F.lit(0), kcol - 1),
                lambda i: F.element_at(acc, i + 1)
                - tdiv(sw * F.element_at(F.col("pi"), i + 1)),
            )

            def with_u(u):
                t_expr = F.transform(
                    F.sequence(F.lit(0), kcol - 1),
                    lambda j: F.aggregate(
                        F.sequence(F.lit(0), kcol - 1),
                        F.lit(0).cast("long"),
                        lambda s, i: s
                        + tdiv(
                            F.element_at(u, i + 1)
                            * F.element_at(F.col("m"), (i * kcol + j + 1))
                        ),
                    ),
                )

                def with_t(t):
                    mx_expr = F.aggregate(
                        F.transform(t, lambda z: F.abs(z)),
                        F.lit(0).cast("long"),
                        lambda a, b: F.greatest(a, b),
                    )

                    def with_mx(mx):
                        def idiv(a):  # exact floor division a div mx, a >= 0
                            return ((a - a % mx) / mx).cast("long")

                        wnew = F.concat(
                            F.transform(
                                F.sequence(F.lit(0), kcol - 1),
                                lambda j: F.when(
                                    F.element_at(t, j + 1) < 0,
                                    -idiv((-F.element_at(t, j + 1)) * M),
                                ).otherwise(
                                    idiv(F.element_at(t, j + 1) * M)
                                ),
                            ),
                            F.array(mx),
                        )
                        return F.when(mx == 0, acc).otherwise(wnew)

                    return let(mx_expr, with_mx)

                return let(t_expr, with_t)

            return let(u_expr, with_u)

        return let(sw_expr, with_sw)

    seed = F.concat(
        F.transform(
            F.sequence(F.lit(0), kcol - 1),
            lambda z: F.when(z % 2 == 0, M).otherwise(-M).cast("long"),
        ),
        F.array(F.lit(0).cast("long")),
    )
    folded2 = base.select(
        F.col("k").alias("n_states"),
        F.aggregate(F.sequence(F.lit(1), F.lit(20)), seed, step).alias("w"),
    )
    slem_micro = F.element_at("w", (F.col("n_states") + 1).cast("int"))
    return folded2.select(
        "n_states",
        slem_micro.cast("long").alias("slem_micro"),
        F.round(slem_micro.cast("double") / 1000000.0, 6).alias("slem"),
        F.round(
            1.0 - slem_micro.cast("double") / 1000000.0, 6
        ).alias("spectral_gap"),
    )


@query(
    "q53k_hoover_index",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS t
      FROM cust
    ),
    dev AS (
      SELECT CAST(SUM(abs(tot.n * cust.cents - tot.t)) AS BIGINT) AS sd
      FROM cust, tot
    )
    SELECT tot.n AS n_customers, dev.sd AS abs_dev_scaled,
           round(CAST(dev.sd AS DOUBLE) / (2.0 * tot.n * tot.t), 6)
             AS hoover_index
    FROM dev, tot
    """,
    tags=("agg", "statistics", "inequality"),
)
def q53k_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOOVER (Robin Hood) INDEX of per-customer revenue — the share
    of total revenue that would have to move to equalize everyone,
    the most LITERAL member of the inequality shelf (Gini ranks,
    Theil logs, HHI squares; Hoover just answers "how much moves"),
    and geometrically the maximum vertical gap of q53f's Lorenz
    curve.

    The numerator sum |n*x_i - T| is EXACT BIGINT end to end (the
    n-scaled deviation trick — no per-row double, no rounding unit,
    nothing ordered); the index is one pinned display division by
    2nT. Headroom: n*x ~ 5e14 at sf0.1, ~5e18 at sf10.

    Scale: one map-side customer fold, one map-side deviation fold
    against the 1-row broadcast totals. The cheapest exact
    inequality statistic this engine ships.
    """
    tune_for_oracle(spark)
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("t"),
    )
    dev = cust.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.abs(F.col("n") * F.col("cents") - F.col("t")))
        .cast("long")
        .alias("sd")
    )
    return dev.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_customers"),
        F.col("sd").alias("abs_dev_scaled"),
        F.round(
            F.col("sd").cast("double") / (2.0 * F.col("n") * F.col("t")), 6
        ).alias("hoover_index"),
    )


@query(
    "q44l_burstiness_memory",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    gaps AS (
      SELECT user_id,
             CAST(date_diff('second', ts, nxt) AS BIGINT) AS g,
             LEAD(CAST(date_diff('second', ts, nxt) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts) AS g2
      FROM seq WHERE nxt IS NOT NULL
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(g) AS BIGINT) AS s,
             CAST(SUM(g * g) AS BIGINT) AS q
      FROM gaps
    ),
    pair AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(g) AS BIGINT) AS sx, CAST(SUM(g2) AS BIGINT) AS sy,
             CAST(SUM(g * g) AS BIGINT) AS sxx,
             CAST(SUM(g2 * g2) AS BIGINT) AS syy,
             CAST(SUM(g * g2) AS BIGINT) AS sxy
      FROM gaps WHERE g2 IS NOT NULL
    )
    SELECT mom.n AS n_gaps, pair.np AS n_pairs,
           round(CAST(mom.s AS DOUBLE) / mom.n, 6) AS mean_gap_s,
           round((sqrt((CAST(mom.n AS DOUBLE) * mom.q
                        - CAST(mom.s AS DOUBLE) * mom.s)
                       / (CAST(mom.n AS DOUBLE) * (mom.n - 1)))
                  - CAST(mom.s AS DOUBLE) / mom.n)
                 / (sqrt((CAST(mom.n AS DOUBLE) * mom.q
                          - CAST(mom.s AS DOUBLE) * mom.s)
                         / (CAST(mom.n AS DOUBLE) * (mom.n - 1)))
                    + CAST(mom.s AS DOUBLE) / mom.n), 6) AS burstiness,
           round((CAST(pair.np AS DOUBLE) * pair.sxy
                  - CAST(pair.sx AS DOUBLE) * pair.sy)
                 / sqrt((CAST(pair.np AS DOUBLE) * pair.sxx
                         - CAST(pair.sx AS DOUBLE) * pair.sx)
                        * (CAST(pair.np AS DOUBLE) * pair.syy
                           - CAST(pair.sy AS DOUBLE) * pair.sy)), 6)
             AS memory_coeff
    FROM mom, pair
    """,
    tags=("sessionize", "statistics", "timeseries"),
)
def q44l_burstiness_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURSTINESS and MEMORY of inter-event times (Goh-Barabasi) —
    the two-coordinate fingerprint of human temporal dynamics: B =
    (sigma-mu)/(sigma+mu) separates bursty (B>0) from regular (B<0)
    from Poisson (B~0), M is the lag-1 correlation of CONSECUTIVE
    gaps (trains of short gaps). Humans sit in the (B>0, M>0)
    quadrant; schedulers and bots do not — which is what makes this
    pair a bot-detection and traffic-synthesis audit, and the
    per-process refinement of q44k's day-count Fano.

    Gaps are exact integer SECONDS from the per-user (ts, event_id)
    lead; consecutive-gap pairs ride a second user-keyed lead; both
    statistics assemble from exact BIGINT moments (six sums for M,
    the q36r Pearson convention — every factor cast to DOUBLE before
    multiplying) in single pinned expressions.

    Scale: two user-partitioned windows (co-partitioned, one shuffle)
    and map-side moment folds; scalar frames after.
    """
    tune_for_oracle(spark)
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.lead("ts").over(wu).alias("nxt")
    )
    wg = W.partitionBy("user_id").orderBy("ts")
    gaps = (
        seq.filter(F.col("nxt").isNotNull())
        .select(
            "user_id",
            "ts",
            (F.unix_timestamp("nxt") - F.unix_timestamp("ts"))
            .cast("long")
            .alias("g"),
        )
        .select("user_id", "ts", "g", F.lead("g").over(wg).alias("g2"))
    )
    mom = gaps.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("q"),
    )
    pair = gaps.filter(F.col("g2").isNotNull()).agg(
        F.count("*").cast("long").alias("np"),
        F.sum("g").cast("long").alias("sx"),
        F.sum("g2").cast("long").alias("sy"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("sxx"),
        F.sum(F.col("g2") * F.col("g2")).cast("long").alias("syy"),
        F.sum(F.col("g") * F.col("g2")).cast("long").alias("sxy"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("n").cast("double") * F.col("q")
            - F.col("s").cast("double") * F.col("s")
        )
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    npd = F.col("np").cast("double")
    mcoef = (npd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (npd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (npd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return mom.crossJoin(F.broadcast(pair)).select(
        F.col("n").alias("n_gaps"),
        F.col("np").alias("n_pairs"),
        F.round(mu, 6).alias("mean_gap_s"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
        F.round(mcoef, 6).alias("memory_coeff"),
    )


@query(
    "q47s_absorbing_expected_steps",
    oracle=_ORACLE_TRANSITIONS
    + """
    tg AS (SELECT idx AS g FROM types WHERE t = 'purchase'),
    folded AS (
      SELECT kk.k,
             list_reduce(
               list_concat(
                 [list_concat(
                    list_transform(range(kk.k), i ->
                      CASE WHEN i = tg.g THEN 0::BIGINT
                           ELSE 1000000::BIGINT END),
                    list_transform(range(kk.k), i ->
                      CASE WHEN i = tg.g THEN 0::BIGINT
                           ELSE 1000000::BIGINT END))],
                 list_transform(range(29),
                                x -> list_transform(range(2 * kk.k),
                                                    y -> 0::BIGINT))),
               (acc, x) -> list_transform([
                 list_transform(range(kk.k), i ->
                   list_reduce(
                     list_transform(range(kk.k), j ->
                       CASE WHEN j = tg.g THEN 0::BIGINT
                            ELSE acc[(j + 1)::INTEGER]
                                 * m[(i * kk.k + j + 1)::INTEGER]
                                 // 1000000 END),
                     (a, b) -> a + b))],
                 s -> list_concat(s,
                   list_transform(range(kk.k), i ->
                     acc[(kk.k + i + 1)::INTEGER]
                     + s[(i + 1)::INTEGER])))[1]) AS v
      FROM mat, kk, tg
    )
    SELECT types.t AS event_type, folded.k AS n_states,
           v[(folded.k + types.idx + 1)::INTEGER] AS esteps30_micro,
           round(CAST(v[(folded.k + types.idx + 1)::INTEGER] AS DOUBLE)
                 / 1000000.0, 6) AS esteps30
    FROM folded, types ORDER BY event_type
    """,
    tags=("analytics", "markov", "iterative", "fold", "attribution"),
)
def q47s_absorbing_expected_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPECTED STEPS TO CONVERSION (30-step horizon) — the WHEN to
    q47i's WHETHER: E[min(T, 30)] per starting state via the survival
    accumulation E = sum_t P(T > t), computed by iterating transient
    mass s <- Qs (Q = P with the absorbing column zeroed) and
    accumulating — the finite-horizon form that needs no fundamental-
    matrix inverse, monotone from below, and the journey-length prior
    a sequence-model curriculum or a nurture-campaign scheduler
    consumes next to the conversion probability.

    q47f/q47i machinery verbatim: ONE-row micro-unit matrix, a
    29-step nested truncated-integer fold whose state is the 2k array
    [s_1..s_k, e_1..e_k] (survival mass + accumulated expectation,
    seeded with the t=0 survival term), per-step singleton-list
    let-binding for s' so the accumulation reads the same vector it
    appends to. All values non-negative, so // equals div and the
    truncation bleed is monotone — the defined contract.

    Scale: fact-sized stages are the per-user lead window and the
    (src, dst) count; the fold is |states|^2-bounded in-row.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    types, kk, probs_f = _transition_chain(ev)
    tg = types.filter(F.col("t") == "purchase").select(F.col("idx").alias("g"))
    mat = (
        probs_f.join(F.broadcast(kk))
        .join(F.broadcast(tg))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("f", "p"))).alias("mp"),
            F.max("k").alias("k"),
            F.max("g").alias("g"),
        )
    )
    M = F.lit(1000000).cast("long")
    kcol = F.col("k").cast("int")
    gcol = F.col("g").cast("int")
    m = F.transform(
        F.sequence(F.lit(0), (kcol * kcol - 1)),
        lambda f: F.coalesce(
            F.element_at(F.col("mp"), f.cast("long")), F.lit(0).cast("long")
        ),
    )
    base = mat.select("k", "g", m.alias("m"))
    s0 = F.transform(
        F.sequence(F.lit(0), kcol - 1),
        lambda i: F.when(i == gcol, F.lit(0)).otherwise(M).cast("long"),
    )
    seed = F.concat(s0, s0)

    def let(x, f):
        return F.element_at(F.transform(F.array(x), f), 1)

    def tdiv(prod):
        return ((prod - prod % M) / M).cast("long")

    def step(acc, _):
        s_expr = F.transform(
            F.sequence(F.lit(0), kcol - 1),
            lambda i: F.aggregate(
                F.sequence(F.lit(0), kcol - 1),
                F.lit(0).cast("long"),
                lambda a, j: a
                + F.when(j == gcol, F.lit(0).cast("long")).otherwise(
                    tdiv(
                        F.element_at(acc, j + 1)
                        * F.element_at(F.col("m"), (i * kcol + j + 1))
                    )
                ),
            ),
        )

        def with_s(s):
            return F.concat(
                s,
                F.transform(
                    F.sequence(F.lit(0), kcol - 1),
                    lambda i: F.element_at(acc, kcol + i + 1)
                    + F.element_at(s, i + 1),
                ),
            )

        return let(s_expr, with_s)

    folded = base.select(
        F.col("k").alias("n_states"),
        F.aggregate(F.sequence(F.lit(1), F.lit(29)), seed, step).alias("v"),
    )
    return (
        folded.join(F.broadcast(types))
        .select(
            F.col("t").alias("event_type"),
            "n_states",
            F.element_at(
                "v", (F.col("n_states") + F.col("idx") + 1).cast("int")
            ).alias("esteps30_micro"),
            F.round(
                F.element_at(
                    "v", (F.col("n_states") + F.col("idx") + 1).cast("int")
                ).cast("double")
                / 1000000.0,
                6,
            ).alias("esteps30"),
        )
        .orderBy("event_type")
    )


@query(
    "q36ba_wilson_interval",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS BIGINT)
               AS x
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, x,
           round(CAST(x AS DOUBLE) / n, 6) AS rate,
           round((CAST(x AS DOUBLE) / n + 1.959964 * 1.959964 / (2 * n)
                  - 1.959964 * sqrt((CAST(x AS DOUBLE) / n)
                                    * (1 - CAST(x AS DOUBLE) / n) / n
                                    + 1.959964 * 1.959964
                                      / (4.0 * n * n)))
                 / (1 + 1.959964 * 1.959964 / n), 6) AS wilson_lo,
           round((CAST(x AS DOUBLE) / n + 1.959964 * 1.959964 / (2 * n)
                  + 1.959964 * sqrt((CAST(x AS DOUBLE) / n)
                                    * (1 - CAST(x AS DOUBLE) / n) / n
                                    + 1.959964 * 1.959964
                                      / (4.0 * n * n)))
                 / (1 + 1.959964 * 1.959964 / n), 6) AS wilson_hi
    FROM cells
    """,
    tags=("agg", "statistics"),
)
def q36ba_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON SCORE INTERVAL for the value>150 rate per event type —
    the binomial CI that behaves at the boundaries the Wald interval
    famously botches (a zero-success cell gets a sensible nonzero
    upper bound instead of [0, 0]), and the number every rate
    dashboard should draw instead of rate +- 1.96*se.

    Counts are exact integers per type; both bounds are single pinned
    double expressions sharing the 1.959964 z literal (the 6dp
    pinned-constant convention — never an in-plan quantile call).

    Scale: one map-side-combinable pass; a 5-row frame after.
    """
    tune_for_oracle(spark)
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("value") > 150, 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    z = F.lit(1.959964)
    p = F.col("x").cast("double") / F.col("n")
    z2n = z * z / (2 * F.col("n"))
    rad = z * F.sqrt(
        p * (1 - p) / F.col("n")
        + z * z / (4.0 * F.col("n") * F.col("n"))
    )
    den = 1 + z * z / F.col("n")
    return cells.select(
        "event_type",
        "n",
        "x",
        F.round(p, 6).alias("rate"),
        F.round((p + z2n - rad) / den, 6).alias("wilson_lo"),
        F.round((p + z2n + rad) / den, 6).alias("wilson_hi"),
    )


@query(
    "q42s_garch_volatility",
    oracle="""
    WITH m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS t,
             CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT array_agg(CAST(cents AS DOUBLE) / 100000000.0 ORDER BY t)
               AS ys,
             CAST(COUNT(*) AS BIGINT) AS n FROM m
    ),
    rets AS (
      SELECT n, list_transform(range(2, CAST(n AS INT) + 1),
               i -> ys[CAST(i AS INT)] - ys[CAST(i AS INT) - 1]) AS rs
      FROM series
    ),
    folded AS (
      SELECT n, list_reduce(
        list_concat([[1.0, 0.0]], list_transform(rs, r -> [r, 0.0])),
        (acc, x) -> [1.0 + (x[1] * x[1]) / 4 + 5 * acc[1] / 8, x[1]]
      ) AS st
      FROM rets
    )
    SELECT n AS n_months,
           round(st[1], 6) AS sigma2,
           round(sqrt(st[1]), 6) AS sigma,
           round(st[2], 6) AS last_return,
           round(1.0 / (1.0 - 0.25 - 0.625), 6) AS unconditional_var
    FROM folded
    """,
    tags=("timeseries", "volatility", "fold"),
)
def q42s_garch_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1)-LITE CONDITIONAL VOLATILITY of monthly revenue
    changes — the volatility-CLUSTERING model the smoothing shelf
    lacks: q42d's EWMA smooths the LEVEL, q42i charts its drift; this
    tracks the VARIANCE of changes with persistence (sigma2' = omega
    + alpha*r^2 + beta*sigma2), so a turbulent quarter keeps risk
    elevated after the level recovers — the number a revenue-at-risk
    or anomaly-threshold calculation actually wants.

    All three parameters are DYADIC (omega=1 fold-unit, alpha=1/4,
    beta=5/8; persistence 7/8 < 1, unconditional variance
    omega/(1-alpha-beta) = 8), so every fold step is exact dyadic
    double arithmetic in one pinned op sequence — the q42j/q42n
    recurrence discipline, state [sigma2, last_r]. Returns are
    month-over-month differences of the exact 1e6-cent series (no
    logs — exactness over convention).

    Scale: the fact folds map-side to one cents row per month; state
    is 2 doubles. A streaming twin would join the qm19..qm24
    recurrence class.
    """
    tune_for_oracle(spark)
    mth = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("t"),
            F.round(F.col("o_totalprice").cast("double") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("t")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    series = mth.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "t",
                        (
                            F.col("cents").cast("double") / 100000000.0
                        ).alias("y"),
                    )
                )
            ),
            lambda s: s["y"],
        ).alias("ys"),
        F.count("*").cast("long").alias("n"),
    )
    rs = F.transform(
        F.sequence(F.lit(2), F.col("n").cast("int")),
        lambda i: F.element_at("ys", i) - F.element_at("ys", i - 1),
    )

    def step(acc, r):
        return F.array(
            F.lit(1.0)
            + (r * r) / 4
            + 5 * F.element_at(acc, 1) / 8,
            r,
        )

    st = F.aggregate(
        rs, F.array(F.lit(1.0), F.lit(0.0)), step
    )
    folded = series.select("n", st.alias("st"))
    return folded.select(
        F.col("n").alias("n_months"),
        F.round(F.element_at("st", 1), 6).alias("sigma2"),
        F.round(F.sqrt(F.element_at("st", 1)), 6).alias("sigma"),
        F.round(F.element_at("st", 2), 6).alias("last_return"),
        F.round(F.lit(1.0) / (1.0 - 0.25 - 0.625), 6).alias(
            "unconditional_var"
        ),
    )


@query(
    "q53l_palma_ratio",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT cents, NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM cust
    ), dec AS (
      SELECT decile, CAST(SUM(cents) AS BIGINT) AS dc
      FROM scored GROUP BY decile
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN decile = 10 THEN dc ELSE 0 END) AS BIGINT)
               AS top10,
             CAST(SUM(CASE WHEN decile <= 4 THEN dc ELSE 0 END) AS BIGINT)
               AS bottom40,
             CAST(SUM(dc) AS BIGINT) AS t
      FROM dec
    )
    SELECT top10 AS top10_cents, bottom40 AS bottom40_cents,
           round(CAST(top10 AS DOUBLE) / t, 6) AS top10_share,
           round(CAST(bottom40 AS DOUBLE) / t, 6) AS bottom40_share,
           round(CAST(top10 AS DOUBLE) / bottom40, 6) AS palma_ratio
    FROM agg
    """,
    tags=("analytics", "inequality"),
)
def q53l_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PALMA RATIO of customer revenue — top-decile share over
    bottom-four-decile share, the inequality scalar development
    economics moved to when Gini proved insensitive exactly where
    distributions actually change (the tails; the middle ~50% share
    is empirically stable, which is the Palma observation) — and the
    single number completing the shelf: Gini (ranks), Lorenz (the
    curve), Theil (decomposable), Hoover (literal transfer), Palma
    (tails head-to-head).

    Deciles come from the q53f machinery: blocked_ntile over the
    (cents, custkey) total order — no single-task dim sort (the r10
    two-level swap) — and both tail masses are exact BIGINT sums over
    the 10-row decile frame; two display shares and the ratio are the
    only doubles.

    Scale: one map-side customer fold; blocked ranking two-level
    parallel; a 10-row frame after.
    """
    from better_cdc_spark.operators import blocked_ntile

    tune_for_oracle(spark)
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    scored = blocked_ntile(
        cust, "cents", "o_custkey", 10, "decile"
    ).select("cents", "decile")
    dec = scored.groupBy("decile").agg(
        F.sum("cents").cast("long").alias("dc")
    )
    agg = dec.agg(
        F.sum(F.when(F.col("decile") == 10, F.col("dc")).otherwise(0))
        .cast("long")
        .alias("top10"),
        F.sum(F.when(F.col("decile") <= 4, F.col("dc")).otherwise(0))
        .cast("long")
        .alias("bottom40"),
        F.sum("dc").cast("long").alias("t"),
    )
    return agg.select(
        F.col("top10").alias("top10_cents"),
        F.col("bottom40").alias("bottom40_cents"),
        F.round(F.col("top10").cast("double") / F.col("t"), 6).alias(
            "top10_share"
        ),
        F.round(F.col("bottom40").cast("double") / F.col("t"), 6).alias(
            "bottom40_share"
        ),
        F.round(
            F.col("top10").cast("double") / F.col("bottom40"), 6
        ).alias("palma_ratio"),
    )


@query(
    "q36bb_poisson_rate_test",
    oracle="""
    WITH cells AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS x1,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS x2
      FROM events WHERE event_type = 'purchase'
    )
    SELECT x1, x2,
           round(CAST(x1 AS DOUBLE) / x2, 6) AS rate_ratio,
           round((CAST(x1 AS DOUBLE) - CAST(x1 + x2 AS DOUBLE) / 2)
                 / sqrt(CAST(x1 + x2 AS DOUBLE) / 4), 6) AS z_stat
    FROM cells
    """,
    tags=("agg", "statistics"),
)
def q36bb_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE POISSON RATE TEST between the even/odd user arms'
    purchase counts — the count-data member of the A/B shelf (q47p
    compares conversion PROPORTIONS; this compares event RATES, the
    right test when the outcome is "how many", not "whether"): the
    classic CONDITIONAL reduction — given the total X = x1+x2, x1 is
    Binomial(X, 1/2) under equal rates with equal exposure — makes
    the statistic z = (x1 - X/2)/sqrt(X/4), two exact integers into
    one pinned double expression.

    Scale: one filtered map-side pass; a scalar frame after. The
    cheapest rate test that exists.
    """
    tune_for_oracle(spark)
    cells = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .agg(
            F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("x1"),
            F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
            .cast("long")
            .alias("x2"),
        )
    )
    xt = (F.col("x1") + F.col("x2")).cast("double")
    return cells.select(
        "x1",
        "x2",
        F.round(F.col("x1").cast("double") / F.col("x2"), 6).alias(
            "rate_ratio"
        ),
        F.round(
            (F.col("x1").cast("double") - xt / 2) / F.sqrt(xt / 4), 6
        ).alias("z_stat"),
    )


@query(
    "q45g_quantile_normalization",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS x
      FROM events WHERE event_type IN ('click', 'view')
    ),
    gh AS (
      SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY g, x
    ),
    gc AS (
      SELECT g, x, c,
             CAST(SUM(c) OVER (PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM gh
    ),
    gn AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng FROM gh GROUP BY g),
    ph AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY x
    ),
    pc AS (
      SELECT x, CAST(SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS pcum
      FROM ph
    ),
    pn AS (SELECT CAST(SUM(c) AS BIGINT) AS np FROM ph),
    mapped AS (
      SELECT gc.g, gc.x, gc.c,
             CAST(MIN(pc.x) AS BIGINT) AS mapped_x
      FROM gc
      JOIN gn USING (g) CROSS JOIN pn
      JOIN pc ON pc.pcum * gn.ng >= gc.cum * pn.np
      GROUP BY gc.g, gc.x, gc.c
    )
    SELECT g AS grp, x, c AS n_rows, mapped_x
    FROM mapped
    """,
    tags=("interpolation", "calibration", "statistics"),
)
def q45g_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION of click and view values onto the POOLED
    distribution — the batch-effect corrector (microarray lineage, now
    the standard cross-source score calibrator in data curation: two
    quality scorers with different scales become comparable by mapping
    each through its own ECDF into the shared one) — the CALIBRATION
    member of the q45 family (LOCF/linear/spline interpolate in time;
    this interpolates in distribution).

    Every mapping is a DISCRETE order-statistic selection on exact
    integers: value x in group g (cumulative cum of ng) maps to the
    smallest pooled value whose cumulative satisfies pcum*ng >=
    cum*np — integer cross-multiplication, no quantile interpolation,
    no doubles anywhere. Both per-group and pooled cumsums run over
    the bounded value grid (the q36aa discipline).

    Scale: two histogram passes; the mapping join is grid x grid
    bounded by the value domain. Output is the mapping TABLE (apply
    = one broadcast join against the fact).
    """
    tune_for_oracle(spark)
    v = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            F.col("event_type").alias("g"),
            F.floor("value").cast("long").alias("x"),
        )
    )
    gh = v.groupBy("g", "x").agg(F.count("*").cast("long").alias("c"))
    wg = W.partitionBy("g").orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    gc = gh.select(
        "g", "x", "c", F.sum("c").over(wg).cast("long").alias("cum")
    )
    gn = gh.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    ph = v.groupBy("x").agg(F.count("*").cast("long").alias("c"))
    wp = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    pc = ph.select(
        F.col("x").alias("px"),
        F.sum("c").over(wp).cast("long").alias("pcum"),
    )
    pn = ph.agg(F.sum("c").cast("long").alias("np"))
    mapped = (
        gc.join(F.broadcast(gn), "g")
        .crossJoin(F.broadcast(pn))
        .join(
            F.broadcast(pc),
            F.col("pcum") * F.col("ng") >= F.col("cum") * F.col("np"),
        )
        .groupBy("g", "x", "c")
        .agg(F.min("px").cast("long").alias("mapped_x"))
    )
    return mapped.select(
        F.col("g").alias("grp"),
        "x",
        F.col("c").alias("n_rows"),
        "mapped_x",
    )


#: 12dp-pinned unit-circle tables for the 24 hour angles (the Benford
#: pinned-constant convention: NEVER call cos/sin in-plan on either
#: engine — shared literals make the weighted sums engine-identical).
_COS24 = [1.0, 0.965925826289, 0.866025403784, 0.707106781187, 0.5, 0.258819045103, 0.0, -0.258819045103, -0.5, -0.707106781187, -0.866025403784, -0.965925826289, -1.0, -0.965925826289, -0.866025403784, -0.707106781187, -0.5, -0.258819045103, -0.0, 0.258819045103, 0.5, 0.707106781187, 0.866025403784, 0.965925826289]
_SIN24 = [0.0, 0.258819045103, 0.5, 0.707106781187, 0.866025403784, 0.965925826289, 1.0, 0.965925826289, 0.866025403784, 0.707106781187, 0.5, 0.258819045103, 0.0, -0.258819045103, -0.5, -0.707106781187, -0.866025403784, -0.965925826289, -1.0, -0.965925826289, -0.866025403784, -0.707106781187, -0.5, -0.258819045103]


@query(
    "q44m_circular_hour_stats",
    oracle="""
    WITH hh AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    trig AS (
      SELECT h, c,
             CASE h WHEN 0 THEN 1.0 WHEN 1 THEN 0.965925826289 WHEN 2 THEN 0.866025403784 WHEN 3 THEN 0.707106781187 WHEN 4 THEN 0.5 WHEN 5 THEN 0.258819045103 WHEN 6 THEN 0.0 WHEN 7 THEN -0.258819045103 WHEN 8 THEN -0.5 WHEN 9 THEN -0.707106781187 WHEN 10 THEN -0.866025403784 WHEN 11 THEN -0.965925826289 WHEN 12 THEN -1.0 WHEN 13 THEN -0.965925826289 WHEN 14 THEN -0.866025403784 WHEN 15 THEN -0.707106781187 WHEN 16 THEN -0.5 WHEN 17 THEN -0.258819045103 WHEN 18 THEN -0.0 WHEN 19 THEN 0.258819045103 WHEN 20 THEN 0.5 WHEN 21 THEN 0.707106781187 WHEN 22 THEN 0.866025403784 WHEN 23 THEN 0.965925826289 END AS ch,
             CASE h WHEN 0 THEN 0.0 WHEN 1 THEN 0.258819045103 WHEN 2 THEN 0.5 WHEN 3 THEN 0.707106781187 WHEN 4 THEN 0.866025403784 WHEN 5 THEN 0.965925826289 WHEN 6 THEN 1.0 WHEN 7 THEN 0.965925826289 WHEN 8 THEN 0.866025403784 WHEN 9 THEN 0.707106781187 WHEN 10 THEN 0.5 WHEN 11 THEN 0.258819045103 WHEN 12 THEN 0.0 WHEN 13 THEN -0.258819045103 WHEN 14 THEN -0.5 WHEN 15 THEN -0.707106781187 WHEN 16 THEN -0.866025403784 WHEN 17 THEN -0.965925826289 WHEN 18 THEN -1.0 WHEN 19 THEN -0.965925826289 WHEN 20 THEN -0.866025403784 WHEN 21 THEN -0.707106781187 WHEN 22 THEN -0.5 WHEN 23 THEN -0.258819045103 END AS sh
      FROM hh
    ),
    agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             list_reduce(array_agg(c * ch ORDER BY h), (a, b) -> a + b)
               AS cs,
             list_reduce(array_agg(c * sh ORDER BY h), (a, b) -> a + b)
               AS ss
      FROM trig
    )
    SELECT n AS n_events,
           round(cs, 6) AS cos_sum,
           round(ss, 6) AS sin_sum,
           round(sqrt(cs * cs + ss * ss) / n, 6) AS resultant_r,
           round(1.0 - sqrt(cs * cs + ss * ss) / n, 6)
             AS circular_variance,
           round(atan2(ss, cs) * 12.0 / pi() + CASE WHEN atan2(ss, cs) < 0
                 THEN 24.0 ELSE 0.0 END, 6) AS mean_hour
    FROM agg
    """,
    tags=("sessionize", "statistics", "circular"),
)
def q44m_circular_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIRCULAR STATISTICS of purchase time-of-day — mean direction,
    resultant length R and circular variance of the hour angle: the
    CORRECT way to average clock times (the linear mean of 23:00 and
    01:00 is noon; the circular mean is midnight), the peak-hour
    readout every ops dashboard computes wrongly with AVG(hour), and
    the rhythm-strength signal (R near 1 = strongly peaked daily
    cycle, near 0 = uniform).

    The 24 hour angles use 12dp-PINNED cos/sin literal tables on both
    engines (the Benford convention — no in-plan trig until the final
    display atan2/sqrt on identical doubles); weighted sums fold in
    h-order over the 24-row frame (the q36aa ordered-fold
    discipline); counts are exact integers.

    Scale: one map-side hour histogram; everything after is a 24-row
    frame.
    """
    tune_for_oracle(spark)
    hh = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.hour("ts").cast("long").alias("h"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    cos_arr = array_literal(_COS24)
    sin_arr = array_literal(_SIN24)
    trig = hh.select(
        "h",
        "c",
        F.element_at(cos_arr, (F.col("h") + 1).cast("int")).alias("ch"),
        F.element_at(sin_arr, (F.col("h") + 1).cast("int")).alias("sh"),
    )

    def osum(term, alias):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", term.alias("t")))),
                lambda st: st["t"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias(alias)

    agg = trig.agg(
        F.sum("c").cast("long").alias("n"),
        osum(F.col("c") * F.col("ch"), "cs"),
        osum(F.col("c") * F.col("sh"), "ss"),
    )
    r = F.sqrt(F.col("cs") * F.col("cs") + F.col("ss") * F.col("ss")) / F.col(
        "n"
    )
    ang = F.atan2(F.col("ss"), F.col("cs"))
    return agg.select(
        F.col("n").alias("n_events"),
        F.round(F.col("cs"), 6).alias("cos_sum"),
        F.round(F.col("ss"), 6).alias("sin_sum"),
        F.round(r, 6).alias("resultant_r"),
        F.round(1.0 - r, 6).alias("circular_variance"),
        F.round(
            ang * 12.0 / math.pi
            + F.when(ang < 0, F.lit(24.0)).otherwise(F.lit(0.0)),
            6,
        ).alias("mean_hour"),
    )


@query(
    "q36bc_cohens_h",
    oracle="""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    wide AS (
      SELECT CAST(MAX(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n1,
             CAST(MAX(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS x1,
             CAST(MAX(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n2,
             CAST(MAX(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS x2
      FROM cells
    )
    SELECT n1, x1, n2, x2,
           round(CAST(x1 AS DOUBLE) / n1, 6) AS p1,
           round(CAST(x2 AS DOUBLE) / n2, 6) AS p2,
           round(2 * asin(sqrt(CAST(x1 AS DOUBLE) / n1))
                 - 2 * asin(sqrt(CAST(x2 AS DOUBLE) / n2)), 6) AS cohens_h
    FROM wide
    """,
    tags=("agg", "statistics"),
)
def q36bc_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S H effect size for the click-rate difference between the
    even/odd user arms — the arcsine-stabilized proportion effect
    size that q47p's z cannot substitute for (z scales with sqrt(n):
    any trivial difference becomes "significant" at corpus scale; h
    is SAMPLE-SIZE-FREE, the number a practical-significance gate
    thresholds — the proportion twin of q36ag's Cohen's d).

    Counts exact from one MAX-CASE pivot pass; h = 2asin(sqrt(p1)) -
    2asin(sqrt(p2)) is one pinned display expression (asin/sqrt on
    identical doubles, the q98b same-libm precedent).

    Scale: one map-side pass; a 2-row pivot after.
    """
    tune_for_oracle(spark)
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 2).cast("long").alias("arm"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    wide = cells.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c)))
            .cast("long")
            .alias(f"{c}{a + 1}")
            for a in (0, 1)
            for c in ("n", "x")
        ]
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    return wide.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(
            2 * F.asin(F.sqrt(p1)) - 2 * F.asin(F.sqrt(p2)), 6
        ).alias("cohens_h"),
    )


@query(
    "q47t_journey_shapes",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    shapes AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS shape
      FROM seq WHERE rn <= 3 GROUP BY user_id
    ),
    hist AS (
      SELECT shape, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM shapes GROUP BY shape
    ),
    tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS nt FROM hist),
    ranked AS (
      SELECT shape, n_users,
             ROW_NUMBER() OVER (ORDER BY n_users DESC, shape ASC) AS rnk
      FROM hist
    )
    SELECT rnk, shape, n_users,
           CAST(1000000 * n_users // tot.nt AS BIGINT) AS share_micro
    FROM ranked, tot WHERE rnk <= 10
    """,
    tags=("funnel", "paths"),
)
def q47t_journey_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOURNEY SHAPE HISTOGRAM: the top-10 opening three-event
    sequences across users — the onboarding-funnel fingerprint (which
    first impressions actually happen) that q47b's full path mining
    drowns in combinatorics and q44f's one-step matrix cannot see
    (a transition matrix forgets position; 'view>view>click' and
    'click>view>view' are different products).

    Shapes concatenate in (ts, event_id) total order (Spark
    concat_ws over the rn-sorted collected structs mirrors DuckDB's
    string_agg ORDER BY rn); counts exact; the top-10 ranks on
    (n_users DESC, shape) — a total order, flake-free; shares are
    micro-unit integer divisions.

    Scale: one user-keyed window + map-side shape histogram; the
    ranked frame is shape-taxonomy bounded (<= 5^3 = 125 rows).
    """
    tune_for_oracle(spark)
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= 3)
    )
    shapes = seq.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda st: st["event_type"],
            ),
        ).alias("shape")
    )
    hist = shapes.groupBy("shape").agg(
        F.count("*").cast("long").alias("n_users")
    )
    tot = hist.agg(F.sum("n_users").cast("long").alias("nt"))
    top = hist.orderBy(F.col("n_users").desc(), F.col("shape").asc()).limit(10)
    ranked = top.withColumn(
        "rnk",
        F.row_number().over(
            W.orderBy(F.col("n_users").desc(), F.col("shape").asc())
        ),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rnk",
        "shape",
        "n_users",
        F.expr("CAST(1000000 * n_users div nt AS BIGINT)").alias(
            "share_micro"
        ),
    )


@query(
    "q42t_max_drawdown",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               // 100000 AS x
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT array_agg(x ORDER BY mi) AS ys,
             CAST(COUNT(*) AS BIGINT) AS n FROM m
    ),
    folded AS (
      SELECT n, list_reduce(
        list_concat([[ys[1], 0::BIGINT, ys[1], ys[1]]],
                    list_transform(ys[2:], y -> [y, 0::BIGINT,
                                                 0::BIGINT, 0::BIGINT])),
        (acc, x) -> [
          CASE WHEN x[1] > acc[1] THEN x[1] ELSE acc[1] END,
          CASE WHEN (CASE WHEN x[1] > acc[1] THEN x[1] ELSE acc[1] END)
                    - x[1] > acc[2]
               THEN (CASE WHEN x[1] > acc[1] THEN x[1] ELSE acc[1] END)
                    - x[1]
               ELSE acc[2] END,
          CASE WHEN (CASE WHEN x[1] > acc[1] THEN x[1] ELSE acc[1] END)
                    - x[1] > acc[2]
               THEN (CASE WHEN x[1] > acc[1] THEN x[1] ELSE acc[1] END)
               ELSE acc[3] END,
          CASE WHEN (CASE WHEN x[1] > acc[1] THEN x[1] ELSE acc[1] END)
                    - x[1] > acc[2]
               THEN x[1] ELSE acc[4] END
        ]) AS st
      FROM series
    )
    SELECT n AS n_months,
           st[2] AS max_drawdown_kd,
           st[3] AS peak_kd,
           st[4] AS trough_kd,
           round(CAST(st[2] AS DOUBLE) / st[3], 6) AS drawdown_frac
    FROM folded
    """,
    tags=("timeseries", "fold"),
)
def q42t_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN of monthly revenue — the worst peak-to-trough
    decline, with the peak and trough levels that produced it: the
    risk number a revenue (or any KPI) review quotes that no variance
    statistic captures (volatility is symmetric; drawdown is the
    asymmetric pain — two series with equal sigma can have wildly
    different worst declines).

    ONE in-row fold over the exact kilodollar month series with a
    4-BIGINT state [running_peak, max_dd, peak_at_max, trough_at_max]
    — pure integer comparisons and subtractions, nothing for
    accumulation order or rounding to flake (the argmax ties break
    toward the EARLIEST occurrence on both engines because strict >
    guards every update). The fraction is the single display double.

    Scale: the fact folds map-side to one cents row per month; state
    is 4 integers regardless of history.
    """
    tune_for_oracle(spark)
    mth = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("mi"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) div 100000").alias("x"))
    )
    series = mth.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("mi", "x"))), lambda s: s["x"]
        ).alias("ys"),
        F.count("*").cast("long").alias("n"),
    )

    def step(acc, x):
        peak = F.greatest(F.element_at(acc, 1), x)
        dd = peak - x
        better = dd > F.element_at(acc, 2)
        return F.array(
            peak,
            F.when(better, dd).otherwise(F.element_at(acc, 2)),
            F.when(better, peak).otherwise(F.element_at(acc, 3)),
            F.when(better, x).otherwise(F.element_at(acc, 4)),
        )

    acc0 = F.array(
        F.element_at("ys", 1),
        F.lit(0).cast("long"),
        F.element_at("ys", 1),
        F.element_at("ys", 1),
    )
    st = F.aggregate(
        F.slice("ys", 2, F.size("ys") - 1), acc0, step
    )
    folded = series.select("n", st.alias("st"))
    return folded.select(
        F.col("n").alias("n_months"),
        F.element_at("st", 2).cast("long").alias("max_drawdown_kd"),
        F.element_at("st", 3).cast("long").alias("peak_kd"),
        F.element_at("st", 4).cast("long").alias("trough_kd"),
        F.round(
            F.element_at("st", 2).cast("double") / F.element_at("st", 3), 6
        ).alias("drawdown_frac"),
    )


@query(
    "q42u_ulcer_index",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               // 100000 AS x
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT mi, x,
             CAST(MAX(x) OVER (ORDER BY mi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS peak
      FROM m
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((peak - x) * (peak - x)) AS BIGINT) AS ssq,
             CAST(SUM(CASE WHEN x < peak THEN 1 ELSE 0 END) AS BIGINT)
               AS n_underwater
      FROM dd
    )
    SELECT n AS n_months, n_underwater, ssq AS dd_sumsq_kd,
           round(sqrt(CAST(ssq AS DOUBLE) / n), 6) AS ulcer_index_kd
    FROM agg
    """,
    tags=("timeseries",),
)
def q42u_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ULCER INDEX of monthly revenue — the RMS of drawdowns from the
    running peak: where q42t's max drawdown reports the single worst
    decline, the ulcer index integrates DURATION (a long shallow
    underwater stretch can hurt more than one sharp dip), the
    risk-adjusted denominator the Martin ratio uses instead of sigma.

    Per-month drawdowns come from a running-max window over the
    calendar-bounded month frame (exact kilodollar integers);
    squared-drawdown sums stay BIGINT; the index is one display
    sqrt. The underwater-month count rides along exact.

    Scale: the fact folds map-side to one cents row per month; the
    window runs over the ~80-row calendar frame.
    """
    tune_for_oracle(spark)
    mth = (
        load_table(spark, sf_dir, "orders")
        .select(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("mi"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) div 100000").alias("x"))
    )
    wp = W.orderBy("mi").rowsBetween(W.unboundedPreceding, 0)
    dd = mth.select(
        "mi", "x", F.max("x").over(wp).cast("long").alias("peak")
    )
    agg = dd.agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("peak") - F.col("x")) * (F.col("peak") - F.col("x")))
        .cast("long")
        .alias("ssq"),
        F.sum(F.when(F.col("x") < F.col("peak"), 1).otherwise(0))
        .cast("long")
        .alias("n_underwater"),
    )
    return agg.select(
        F.col("n").alias("n_months"),
        "n_underwater",
        F.col("ssq").alias("dd_sumsq_kd"),
        F.round(
            F.sqrt(F.col("ssq").cast("double") / F.col("n")), 6
        ).alias("ulcer_index_kd"),
    )


@query(
    "q46m_user_concentration",
    oracle="""
    WITH uc AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, user_id ASC) AS rk
      FROM uc
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nu, CAST(SUM(c) AS BIGINT) AS ne
      FROM uc
    ),
    tiers AS (SELECT unnest([1, 5, 10, 25]) AS pct),
    agg AS (
      SELECT tiers.pct,
             CAST(SUM(CASE WHEN ranked.rk * 100 <= tot.nu * tiers.pct
                           THEN ranked.c ELSE 0 END) AS BIGINT) AS tc,
             CAST(SUM(CASE WHEN ranked.rk * 100 <= tot.nu * tiers.pct
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM ranked, tot, tiers GROUP BY tiers.pct
    )
    SELECT CAST(agg.pct AS BIGINT) AS top_pct, agg.tn AS n_users,
           agg.tc AS n_events,
           CAST(1000000 * agg.tc // tot.ne AS BIGINT) AS share_micro
    FROM agg, tot ORDER BY top_pct
    """,
    tags=("retention", "engagement", "inequality"),
)
def q46m_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-USER ACTIVITY CONCENTRATION: the share of all events
    produced by the top 1/5/10/25% most active users — the
    engagement-side concentration ladder (q53c asks it of revenue;
    whale-dependence of ACTIVITY is a different risk: a product whose
    top 1% of users generate half the events dies differently than
    one whose revenue does).

    Tier membership is an integer cross-multiplication (rk*100 <=
    nu*pct — no percentile rounding ambiguity), tier masses exact
    BIGINTs, shares micro-unit divisions. The user ranking runs over
    the user-dimension aggregate with a (c DESC, user_id) total
    order.

    Scale: one map-side user fold; the ranking is user-dimension
    sized (the blocked ops are the documented migration if the user
    dimension reaches fact scale); tiers are a 4-row broadcast.
    """
    tune_for_oracle(spark)
    uc = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ranked = uc.select(
        "c",
        F.row_number()
        .over(W.orderBy(F.col("c").desc(), F.col("user_id").asc()))
        .alias("rk"),
    )
    tot = uc.agg(
        F.count("*").cast("long").alias("nu"),
        F.sum("c").cast("long").alias("ne"),
    )
    tiers = spark.createDataFrame([(1,), (5,), (10,), (25,)], "pct int")
    agg = (
        ranked.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tiers))
        .groupBy("pct")
        .agg(
            F.sum(
                F.when(
                    F.col("rk") * 100 <= F.col("nu") * F.col("pct"),
                    F.col("c"),
                ).otherwise(0)
            ).cast("long").alias("tc"),
            F.sum(
                F.when(
                    F.col("rk") * 100 <= F.col("nu") * F.col("pct"), 1
                ).otherwise(0)
            ).cast("long").alias("tn"),
        )
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("pct").cast("long").alias("top_pct"),
            F.col("tn").alias("n_users"),
            F.col("tc").alias("n_events"),
            F.expr("CAST(1000000 * tc div ne AS BIGINT)").alias(
                "share_micro"
            ),
        )
        .orderBy("top_pct")
    )


@query(
    "q36bd_type_entropy",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM events
      GROUP BY event_type
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k FROM h),
    terms AS (
      SELECT h.event_type,
             -(CAST(h.c AS DOUBLE) / tot.n)
             * log2(CAST(h.c AS DOUBLE) / tot.n) AS t
      FROM h, tot
    ),
    agg AS (
      SELECT list_reduce(array_agg(t ORDER BY event_type),
                         (a, b) -> a + b) AS hh
      FROM terms
    )
    SELECT tot.n AS n_events, tot.k AS n_types,
           round(agg.hh, 6) AS entropy_bits,
           round(agg.hh + CAST(tot.k - 1 AS DOUBLE)
                 / (2.0 * tot.n) / ln(2), 6) AS entropy_mm_bits,
           round(agg.hh / log2(CAST(tot.k AS DOUBLE)), 6) AS evenness
    FROM agg, tot
    """,
    tags=("agg", "statistics"),
)
def q36bd_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHANNON ENTROPY of the event-type mix with the MILLER-MADOW
    bias correction and Pielou evenness — the category-mix summary a
    mixing dashboard tracks (raw plug-in entropy is biased LOW by
    ~(k-1)/2n; Miller-Madow adds the first-order correction — the
    difference that matters when comparing entropy across sample
    sizes), with evenness normalizing to [0,1] against the uniform
    maximum.

    Counts exact; the k per-type -p log2 p terms fold in type order
    (q36aa discipline, log2 per the q98b same-libm precedent); the
    correction and evenness are pinned display expressions.

    Scale: one map-side pass; a k-row frame after.
    """
    tune_for_oracle(spark)
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = h.agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
    )
    p = F.col("c").cast("double") / F.col("n")
    terms = h.crossJoin(F.broadcast(tot)).select(
        "event_type", (-p * F.log2(p)).alias("t")
    )
    agg = terms.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("event_type", "t"))
                ),
                lambda st: st["t"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("hh")
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_events"),
        F.col("k").alias("n_types"),
        F.round(F.col("hh"), 6).alias("entropy_bits"),
        F.round(
            F.col("hh")
            + (F.col("k") - 1).cast("double")
            / (2.0 * F.col("n"))
            / math.log(2),
            6,
        ).alias("entropy_mm_bits"),
        F.round(
            F.col("hh") / F.log2(F.col("k").cast("double")), 6
        ).alias("evenness"),
    )


@query(
    "q36be_pythagorean_means",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
      FROM cust
    ),
    terms AS (
      SELECT CAST(floor(ln(CAST(cents AS DOUBLE) / 100.0)
                        * 1000000000 + 0.5) AS BIGINT) AS l_nano,
             CAST(floor(1000000000000.0 / (CAST(cents AS DOUBLE) / 100.0)
                        + 0.5) AS BIGINT) AS r_pico
      FROM cust
    ),
    agg AS (
      SELECT CAST(SUM(l_nano) AS BIGINT) AS ls,
             CAST(SUM(r_pico) AS BIGINT) AS rs
      FROM terms
    )
    SELECT tot.n AS n_customers,
           round(CAST(tot.s AS DOUBLE) / tot.n / 100.0, 6) AS mean_usd,
           round(exp(CAST(agg.ls AS DOUBLE) / tot.n / 1000000000.0), 6)
             AS geomean_usd,
           round(CAST(tot.n AS DOUBLE)
                 / (CAST(agg.rs AS DOUBLE) / 1000000000000.0), 6)
             AS harmean_usd
    FROM agg, tot
    """,
    tags=("agg", "statistics"),
)
def q36be_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PYTHAGOREAN MEAN TRIO of per-customer revenue — arithmetic,
    geometric, harmonic — whose ordering gap IS the skew diagnostic
    (AM = GM = HM only for constant data; AM/GM is the multiplicative
    dispersion a growth-rate summary needs, and the harmonic mean is
    the only correct average of rates): the summary a revenue review
    should quote instead of the mean alone.

    The arithmetic mean is exact integers; per-customer ln and
    reciprocal terms truncate to NANO/PICO units per row (the q53j
    summation convention — fact-scale sums cross engines exactly;
    ln/exp per the q98b same-libm precedent) so accumulation order
    cannot flake either derived mean.

    Scale: one map-side customer fold, one term map, one 1-row
    combine.
    """
    tune_for_oracle(spark)
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    usd = F.col("cents").cast("double") / 100.0
    terms = cust.select(
        F.floor(F.log(usd) * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("l_nano"),
        F.floor(F.lit(1000000000000.0) / usd + F.lit(0.5))
        .cast("long")
        .alias("r_pico"),
    )
    agg = terms.agg(
        F.sum("l_nano").cast("long").alias("ls"),
        F.sum("r_pico").cast("long").alias("rs"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_customers"),
        F.round(
            F.col("s").cast("double") / F.col("n") / 100.0, 6
        ).alias("mean_usd"),
        F.round(
            F.exp(F.col("ls").cast("double") / F.col("n") / 1000000000.0), 6
        ).alias("geomean_usd"),
        F.round(
            F.col("n").cast("double")
            / (F.col("rs").cast("double") / 1000000000000.0),
            6,
        ).alias("harmean_usd"),
    )
