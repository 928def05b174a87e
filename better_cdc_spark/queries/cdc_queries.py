"""CDC pipeline queries (SURVEY.md §2: R2–R9, R15; Q43), oracle-paired.

The change log is synthesized deterministically from the `orders` table
(better_cdc_spark.cdc.changelog) so the full normalize pipeline —
allowlist filter, commit stamping, seq_in_tx, event ids, subjects, DLQ —
is checkable against an ANSI-SQL oracle that performs the same derivation
directly on `orders`.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from better_cdc_spark.cdc import (
    apply_changelog,
    normalize_changelog,
    synthesize_changelog_from_orders,
)
from better_cdc_spark.cdc.dlq import route_failures
from better_cdc_spark.cdc.normalize import typed_projection
from better_cdc_spark.io import load_table
from better_cdc_spark.queries import query
from better_cdc_spark.scratch import scratch_dir
from better_cdc_spark.session import ckpt, tune_for_oracle

ALLOWLIST = ["public.orders", "public.accounts"]

# Shared oracle CTEs: the SQL mirror of changelog synthesis + normalize.
_ORACLE_BASE = """
WITH base AS (
  SELECT o_orderkey AS okey,
         o_orderkey % 997 AS xid,
         CASE WHEN o_orderkey % 7 = 0 THEN 'audit_log'
              WHEN o_orderkey % 3 = 0 THEN 'orders'
              ELSE 'accounts' END AS tbl,
         CASE WHEN o_orderkey % 10 < 6 THEN 'INSERT'
              WHEN o_orderkey % 10 < 9 THEN 'UPDATE'
              ELSE 'DELETE' END AS op,
         o_orderstatus AS status,
         CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR) AS total_cents,
         o_orderdate
  FROM orders
), txc AS (
  SELECT xid, MAX(o_orderdate) AS commit_time FROM base GROUP BY xid
), filtered AS (
  SELECT b.*,
         ROW_NUMBER() OVER (PARTITION BY b.xid ORDER BY b.okey) - 1 AS seq,
         '0/' || printf('%x', b.xid * 16 + 1048576) AS lsn,
         t.commit_time
  FROM base b JOIN txc t USING (xid)
  WHERE b.tbl <> 'audit_log'
), envelope AS (
  SELECT concat_ws(':', lsn, CAST(xid AS VARCHAR), op,
                   'public.' || tbl, CAST(seq AS VARCHAR)) AS event_id,
         CASE op WHEN 'INSERT' THEN 'cdc.insert'
                 WHEN 'UPDATE' THEN 'cdc.update'
                 ELSE 'cdc.delete' END AS event_type,
         'testdb' AS source,
         commit_time,
         lsn,
         xid AS txid,
         'public' AS "schema",
         tbl AS "table",
         op AS operation,
         'cdc.testdb.public.' || tbl AS subject,
         CASE WHEN op IN ('UPDATE','DELETE') THEN 1 END AS n_before,
         CASE WHEN op IN ('INSERT','UPDATE') THEN 3 END AS n_after,
         CASE WHEN op IN ('INSERT','UPDATE') THEN status END AS after_status,
         CASE WHEN op IN ('UPDATE','DELETE') THEN CAST(okey AS VARCHAR) END AS before_id,
         okey, seq, status, total_cents
  FROM filtered
)
"""


# The multi-version order changelog qc05-qc14 fold: every key's status and
# cents at wave `first`, every 4th key again at wave `last`; a key's last
# version carries a 60/30/10 INSERT/UPDATE/DELETE op, earlier ones INSERT.
# Columns: id, status, total_cents, operation, commit_seq.
_ORACLE_VERSIONS = """
    WITH base AS (
      SELECT o_orderkey AS id, o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), versions AS (
      SELECT b.id,
             b.status || '-' || CAST(t.v AS VARCHAR) AS status,
             b.cents + t.v AS total_cents,
             CASE WHEN t.v < CASE WHEN b.id % 4 = 0 THEN {last} ELSE {first} END THEN 'INSERT'
                  WHEN b.id % 10 < 6 THEN 'INSERT'
                  WHEN b.id % 10 < 9 THEN 'UPDATE'
                  ELSE 'DELETE' END AS operation,
             t.v AS commit_seq
      FROM base b JOIN (VALUES ({first}), ({last})) AS t(v)
        ON t.v = {first} OR b.id % 4 = 0
    ),"""


def _order_versions(
    spark: SparkSession, sf_dir: str, waves: tuple[int, int]
) -> tuple[DataFrame, DataFrame]:
    """(base, changes): ``base`` is orders as (id, status, cents) and
    ``changes`` the changelog _ORACLE_VERSIONS derives, for the wave
    pair ``waves`` = (first, last)."""
    first, last = waves
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    two_versions = F.col("id") % 4 == 0
    versions = base.select(
        "*",
        F.explode(
            F.when(two_versions, F.array(F.lit(first), F.lit(last))).otherwise(
                F.array(F.lit(first))
            )
        ).alias("v"),
    )
    last_v = F.when(two_versions, F.lit(last)).otherwise(F.lit(first))
    op = (
        F.when(F.col("v") < last_v, "INSERT")
        .when(F.col("id") % 10 < 6, "INSERT")
        .when(F.col("id") % 10 < 9, "UPDATE")
        .otherwise("DELETE")
    )
    changes = versions.select(
        "id",
        F.concat_ws("-", "status", F.col("v").cast("string")).alias("status"),
        (F.col("cents") + F.col("v")).alias("total_cents"),
        op.alias("operation"),
        F.col("v").alias("commit_seq"),
    )
    return base, changes


def _normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    changelog = synthesize_changelog_from_orders(orders)
    return normalize_changelog(changelog, database="testdb", allowlist=ALLOWLIST)


@query(
    "qc01_cdc_normalize",
    oracle=_ORACLE_BASE
    + """
    SELECT event_id, event_type, source, commit_time, lsn, txid,
           "schema", "table", operation, subject,
           n_before, n_after, after_status, before_id
    FROM envelope
    """,
    tags=("cdc", "flagship"),
)
def qc01_cdc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC normalize: change log → envelope (R2, R4, R5, R7, R8, R9).

    Exercises allowlist filtering, commit stamping by txid, seq_in_tx
    ordinals, deterministic event ids, event-type mapping, and subject
    routing in one plan. The dynamic before/after images are surfaced as
    sizes + extracted entries so the compare is representation-free.
    """
    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir)
    return ev.select(
        "event_id",
        "event_type",
        "source",
        "commit_time",
        "lsn",
        "txid",
        "schema",
        "table",
        "operation",
        "subject",
        F.size("before").alias("n_before"),
        F.size("after").alias("n_after"),
        F.element_at("after", "status").alias("after_status"),
        F.element_at("before", "id").alias("before_id"),
    )


@query(
    "q43_seq_in_tx",
    oracle=_ORACLE_BASE
    + """
    SELECT txid, okey, CAST(seq AS BIGINT) AS seq_in_tx
    FROM envelope
    """,
    tags=("cdc", "window"),
)
def q43_seq_in_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-transaction WAL-order ordinal (reference SeqInTx, R5/Q43):
    row_number over (partition by txid order by ingest order) - 1."""
    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir)
    # seq_in_tx is embedded in the event id (last ':' token).
    seq = F.element_at(F.split("event_id", ":"), -1).cast("bigint")
    okey = F.element_at("before", "id").cast("bigint")
    okey = F.coalesce(okey, F.element_at("after", "id").cast("bigint"))
    return ev.select(F.col("txid"), okey.alias("okey"), seq.alias("seq_in_tx"))


@query(
    "qc02_typed_projection",
    oracle=_ORACLE_BASE
    + """
    SELECT event_id,
           okey AS id,
           status,
           CAST(total_cents AS INTEGER) AS total_cents
    FROM envelope
    WHERE "table" = 'orders' AND operation IN ('INSERT','UPDATE')
    """,
    tags=("cdc", "schema"),
)
def qc02_typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic MAP image → typed columns (relationInfo registry analog)."""
    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("total_cents", T.IntegerType()),
        ]
    )
    return typed_projection(ev, "public.orders", schema)


@query(
    "qc03_dlq_routing",
    oracle=_ORACLE_BASE
    + """
    , payloads AS (
      SELECT *,
             concat_ws('|', event_id, COALESCE(after_status, '')) AS payload
      FROM envelope
    )
    SELECT event_id,
           'dlq.testdb.public.' || "table" AS subject,
           'testdb' AS database, "schema", "table", operation, lsn, txid,
           'max payload exceeded' AS error,
           CAST(strlen(payload) AS BIGINT) AS payload_size,
           (strlen(payload) > 36) AS truncated,
           substr(payload, 1, 36) AS payload_prefix
    FROM payloads
    WHERE strlen(payload) > 38
    """,
    tags=("cdc", "dlq"),
)
def qc03_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failure policy 'dlq': permanent failures → dead-letter side output
    with payload truncation (R15; dlq.go:36-82, 64 KiB cap scaled to 48B
    so truncation is exercised at test scale)."""
    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir)
    payload = F.concat_ws(
        "|", F.col("event_id"), F.coalesce(F.element_at("after", "status"), F.lit(""))
    )
    _ok, dlq = route_failures(
        ev,
        # byte-based cap matching the reference (dlq.go:36 caps BYTES);
        # the oracle routes on DuckDB strlen() = bytes, so the two sides
        # agree even for multi-byte payloads
        error_pred=F.octet_length(payload) > 38,
        error_msg=F.lit("max payload exceeded"),
        payload=payload,
        policy="dlq",
        prefix_cap=36,
    )
    return dlq


@query(
    "qc05_merge_apply",
    oracle=_ORACLE_VERSIONS.format(first=1, last=2)
    + """
    latest AS (
      SELECT id, status, total_cents, operation
      FROM versions
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY commit_seq DESC) = 1
    ), snapshot AS (
      SELECT o_orderkey AS id, 'SNAP' AS status, CAST(0 AS BIGINT) AS total_cents
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT s.id, s.status, s.total_cents
    FROM snapshot s LEFT JOIN latest l USING (id) WHERE l.id IS NULL
    UNION ALL
    SELECT id, status, total_cents FROM latest WHERE operation <> 'DELETE'
    """,
    tags=("cdc", "merge"),
)
def qc05_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-side MERGE: apply a multi-version change batch to a prior
    snapshot (cdc.apply.apply_changelog — the downstream half of the
    reference's idempotent-sink contract, R11/R14).

    The change stream carries two versions for every 4th key (the final
    event per key wins), a 60/30/10 I/U/D operation mix, and the snapshot
    pre-contains the even keys — so the apply exercises upsert-over-
    existing, insert-of-new, delete-of-existing, delete-of-absent, and
    pass-through untouched rows in one plan.
    """
    tune_for_oracle(spark)
    base, changes = _order_versions(spark, sf_dir, (1, 2))
    snapshot = base.filter(F.col("id") % 2 == 0).select(
        "id",
        F.lit("SNAP").alias("status"),
        F.lit(0).cast("long").alias("total_cents"),
    )
    return apply_changelog(
        snapshot, changes, keys="id", order_col="commit_seq", broadcast_changes=True
    )


@query(
    "qc04_event_id_invariants",
    oracle=_ORACLE_BASE
    + """
    SELECT COUNT(*) AS n_events,
           COUNT(DISTINCT event_id) AS n_distinct_ids,
           COUNT(DISTINCT txid) AS n_txs,
           CAST(MAX(seq) AS BIGINT) AS max_seq_in_tx
    FROM envelope
    """,
    tags=("cdc", "invariant"),
)
def qc04_event_id_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-id uniqueness invariant (cdc_dedup_test.go:118-163): ids are
    distinct across and within transactions; replay of the same change
    yields the same id (determinism is implied by the hash-match itself)."""
    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir)
    seq = F.element_at(F.split("event_id", ":"), -1).cast("bigint")
    return ev.agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        F.countDistinct("txid").alias("n_txs"),
        F.max(seq).alias("max_seq_in_tx"),
    )


@query(
    "qc06_scd2",
    oracle=_ORACLE_VERSIONS.format(first=1, last=2)
    + """
    closed AS (
      SELECT *,
             LEAD(commit_seq) OVER (PARTITION BY id ORDER BY commit_seq) AS valid_to
      FROM versions
    ), surviving AS (
      SELECT * FROM closed WHERE operation <> 'DELETE'
    )
    SELECT id, status, total_cents, operation, commit_seq, valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY commit_seq) AS INTEGER) AS version,
           (valid_to IS NULL) AS is_current
    FROM surviving
    """,
    tags=("cdc", "scd2"),
)
def qc06_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 historization (cdc.scd2.scd2_history): the same
    multi-version change stream as qc05, materialized as a dimension
    HISTORY instead of a snapshot — validity intervals on the commit axis,
    DELETE events closing (not emitting) versions, is_current flags.

    Plan: one shuffle on the key; lead() and the post-filter renumbering
    share the exchange+sort (WindowExec x2, zero extra exchanges).
    """
    tune_for_oracle(spark)
    _, changes = _order_versions(spark, sf_dir, (1, 2))
    from better_cdc_spark.cdc import scd2_history

    return scd2_history(changes, keys="id", order_col="commit_seq")


@query(
    "qc07_snapshot_at",
    oracle=_ORACLE_VERSIONS.format(first=1, last=2)
    + """
    hist AS (
      SELECT * FROM versions WHERE commit_seq <= 1
    ), latest AS (
      SELECT id, status, total_cents, operation
      FROM hist
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY commit_seq DESC) = 1
    )
    SELECT id, status, total_cents FROM latest WHERE operation <> 'DELETE'
    """,
    tags=("cdc", "time-travel"),
)
def qc07_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction (cdc.apply.snapshot_at): the table as
    of commit_seq <= 1, replayed from the same multi-version changelog
    qc05 applies in full.

    Every 4th key's second version (and its final 60/30/10 op) must NOT
    appear — at the cutoff those keys were plain v=1 INSERTs. The cutoff
    predicate reaches the changelog scan (LSN-range partition pruning at
    scale); reconstruction is one key-shuffle for latest-per-key.
    """
    tune_for_oracle(spark)
    _, changes = _order_versions(spark, sf_dir, (1, 2))
    from better_cdc_spark.cdc import snapshot_at

    return snapshot_at(changes, "id", "commit_seq", cutoff=1).select(
        "id", "status", "total_cents"
    )


@query(
    "qc08_schema_evolution",
    oracle=_ORACLE_BASE
    + """
    SELECT event_id,
           okey AS id,
           status,
           CAST(total_cents AS INTEGER) AS total_cents,
           CASE WHEN okey % 5 = 0 THEN CAST(okey % 100 AS INTEGER) END AS discount
    FROM envelope
    WHERE "table" = 'orders' AND operation IN ('INSERT','UPDATE')
    """,
    tags=("cdc", "schema", "evolution"),
)
def qc08_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift: a column added mid-stream, one catalog, no reprocess.

    Every 5th key's events are 'new generation' and carry a discount key
    in the after-image map; the rest predate the DDL. Because the image
    is dynamic (map<string,string>) and typed_projection resolves columns
    by name, ONE evolved catalog schema projects both generations —
    missing keys surface as NULL, exactly how the reference's relationInfo
    registry absorbs relation-message updates (pgoutput.go:20-26) without
    replaying history. No per-generation branching, no schema-tagged
    unions; at 100 TB that is the difference between a metadata change
    and a table rewrite.
    """
    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir)
    okey = F.element_at("after", "id").cast("long")
    new_gen = F.col("after").isNotNull() & (okey % 5 == 0)
    evolved = ev.withColumn(
        "after",
        F.when(
            new_gen,
            F.map_concat(
                "after",
                F.create_map(F.lit("discount"), (okey % 100).cast("string")),
            ),
        ).otherwise(F.col("after")),
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("total_cents", T.IntegerType()),
            T.StructField("discount", T.IntegerType()),
        ]
    )
    return typed_projection(evolved, "public.orders", schema)


@query(
    "qc09_python_datasource",
    oracle="""
    WITH gen AS (
        SELECT g, g // 5 AS txid,
               CASE g % 5 WHEN 0 THEN 'I' WHEN 1 THEN 'I'
                          WHEN 2 THEN 'U' WHEN 3 THEN 'U' ELSE 'D' END AS op,
               CASE WHEN g % 3 = 0 THEN 'accounts' ELSE 'orders' END AS tbl,
               (g * 2654435761) % 1000000007 AS val
        FROM generate_series(0, 15999) t(g)
    )
    SELECT tbl, op,
           COUNT(*) AS n_events,
           CAST(SUM(val) AS BIGINT) AS sum_val,
           CAST(MAX(txid) AS BIGINT) AS max_txid
    FROM gen GROUP BY tbl, op
    """,
    tags=("cdc", "source", "datasource"),
)
def qc09_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan (the reference's R1 connector edge,
    internal/wal/reader.go:124-178, re-expressed in Spark's DataSource
    API): a registered named format with options, partition planning, and
    per-partition generator iterators producing a wal2json-shaped change
    stream (datasource.py).

    The generated rows are a pure function of the global index, so the
    DuckDB oracle reproduces the entire source with generate_series and
    the hash compare verifies the connector end-to-end: partitioning
    (8 partitions x 2000 rows must tile [0, 16000) exactly once), schema,
    and values. At scale each executor runs its own iterator; the driver
    only plans the partition list.
    """
    from better_cdc_spark.datasource import ChangelogGenDataSource

    tune_for_oracle(spark)
    spark.dataSource.register(ChangelogGenDataSource)
    changes = (
        spark.read.format("changelog_gen")
        .option("partitions", 8)
        .option("rowsPerPartition", 2000)
        .load()
    )
    return changes.groupBy("tbl", "op").agg(
        F.count("*").alias("n_events"),
        F.sum("val").cast("bigint").alias("sum_val"),
        F.max("txid").cast("bigint").alias("max_txid"),
    )


@query(
    "qc10_pgoutput_decode",
    oracle=_ORACLE_BASE
    + """
    SELECT event_id, event_type, source, commit_time, lsn, txid,
           "schema", "table", operation, subject,
           n_before, n_after, after_status, before_id
    FROM envelope
    """,
    tags=("cdc", "pgoutput", "source"),
)
def qc10_pgoutput_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary pgoutput decode → normalize (R3 parity with the wal2json path).

    The synthesized changelog is first ENCODED as a binary pgoutput stream
    (Relation/Begin/Commit/Insert/Update/Delete wire messages — the public
    Postgres logical-replication format the reference's pglogrepl parser
    consumes, internal/parser/pgoutput.go:552-642), then decoded by the
    distributed decoder (cdc/pgoutput.py: broadcast versioned relation
    registry, chunked Arrow kernel, prefix-scan tx-context carry) and fed
    through the SAME normalize_changelog as qc01. The oracle is qc01's —
    a hash match proves the binary path produces byte-identical envelopes
    to the wal2json-v2 path on equivalent input.
    """
    from better_cdc_spark.cdc.pgoutput import (
        decode_pgoutput,
        encode_changelog_as_pgoutput,
    )
    from better_cdc_spark.cdc.changelog import synthesize_changelog_from_orders

    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    changelog = synthesize_changelog_from_orders(orders)
    msgs = encode_changelog_as_pgoutput(changelog)
    decoded = decode_pgoutput(spark, msgs, chunk_rows=512)
    ev = normalize_changelog(decoded, database="testdb", allowlist=ALLOWLIST)
    return ev.select(
        "event_id",
        "event_type",
        "source",
        "commit_time",
        "lsn",
        "txid",
        "schema",
        "table",
        "operation",
        "subject",
        F.size("before").alias("n_before"),
        F.size("after").alias("n_after"),
        F.element_at("after", "status").alias("after_status"),
        F.element_at("before", "id").alias("before_id"),
    )


@query(
    "qc11_jetstream_publish",
    oracle=_ORACLE_BASE
    + """
    SELECT subject, COUNT(*) AS n_msgs
    FROM envelope
    GROUP BY subject
    """,
    tags=("cdc", "sink", "transport"),
)
def qc11_jetstream_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JetStream-shaped publish (R11): ensure → publish twice → consume.

    The normalized envelope is published TWICE through the
    JetStream-shaped transport (streaming/jetstream_shaped.py): stream
    ensure, subject-filter routing, and msg-id dedup inside the duplicate
    window. Per-subject message counts equal the single-delivery oracle —
    proving the second publish was a broker-side no-op
    (TestJetStreamDedup parity, readme.md:168) and that every event
    routed to its cdc.{db}.{schema}.{table} subject.
    """
    from better_cdc_spark.streaming.jetstream_shaped import (
        JetStreamShapedSink,
        StreamConfig,
    )

    tune_for_oracle(spark)
    # Steady-state arrival shape: the fixture's commit dates span seven
    # YEARS of o_orderdate, which as publish time would mean thousands of
    # history partitions — real CDC publishes cluster near now. Dedup is
    # keyed on event_id (timestamps only drive bucketing), and this
    # query's oracle checks subject routing + counts, so remapping commit
    # time onto a compact recent span changes nothing it verifies.
    ev = (
        _normalized(spark, sf_dir)
        .withColumn("timestamp", F.timestamp_seconds(F.lit(1700000000) + F.col("txid")))
        .transform(ckpt)
    )
    sink = JetStreamShapedSink(
        spark,
        scratch_dir("qc11_stream"),
        StreamConfig(subjects=("cdc.>",)),
    ).ensure_stream()
    sink.publish(ev)
    sink.publish(ev)  # at-least-once upstream replay → broker no-op
    return sink.messages().groupBy("subject").agg(F.count("*").alias("n_msgs"))


@query(
    "qc12_streaming_datasource",
    oracle="""
    WITH gen AS (
        SELECT g, g // 5 AS txid,
               CASE g % 5 WHEN 0 THEN 'I' WHEN 1 THEN 'I'
                          WHEN 2 THEN 'U' WHEN 3 THEN 'U' ELSE 'D' END AS op,
               CASE WHEN g % 3 = 0 THEN 'accounts' ELSE 'orders' END AS tbl,
               (g * 2654435761) % 1000000007 AS val
        FROM generate_series(0, 15999) t(g)
    )
    SELECT tbl, op,
           COUNT(*) AS n_events,
           CAST(SUM(val) AS BIGINT) AS sum_val,
           CAST(MAX(txid) AS BIGINT) AS max_txid
    FROM gen GROUP BY tbl, op
    """,
    tags=("cdc", "source", "datasource", "streaming"),
)
def qc12_streaming_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom Python DataSource (R1's streaming face).

    The same registered format as qc09, read with readStream: the reader
    exposes a monotonic position offset (the LSN analog), advances one
    rowsPerBatch slice per trigger up to the maxRows head, and splits
    each batch range into independent generator partitions
    (datasource.py: ChangelogGenStreamReader). 16k rows arrive over 8
    micro-batches through one running aggregation; the result equals the
    batch scan's, and the offset log in Spark's checkpoint is the
    reference's acked-LSN monotonic tracking (reader.go:611-637)
    re-expressed. Restart-resume over this reader is pinned in
    tests/test_cdc.py::test_streaming_datasource_resumes_from_checkpoint.
    """
    from better_cdc_spark.datasource import ChangelogGenDataSource
    from better_cdc_spark.streaming.core import run_to_memory

    tune_for_oracle(spark)
    spark.dataSource.register(ChangelogGenDataSource)
    changes = (
        spark.readStream.format("changelog_gen")
        .option("partitions", 8)
        .option("rowsPerBatch", 2000)
        .option("maxRows", 16000)
        .load()
    )
    agg = changes.groupBy("tbl", "op").agg(
        F.count("*").alias("n_events"),
        F.sum("val").cast("bigint").alias("sum_val"),
        F.max("txid").cast("bigint").alias("max_txid"),
    )
    return run_to_memory(agg, mode="complete")


@query(
    "qc13_snapshot_handoff",
    oracle=_ORACLE_VERSIONS.format(first=2, last=4)
    + """
    snap AS (
      SELECT id, status, total_cents, 'SNAPSHOT' AS operation, 3 AS commit_seq
      FROM (
        SELECT id, status, total_cents, operation,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY commit_seq DESC) AS rn
        FROM versions WHERE commit_seq <= 3
      ) WHERE rn = 1 AND operation <> 'DELETE'
    ), log AS (
      SELECT * FROM snap
      UNION ALL
      SELECT id, status, total_cents, operation, commit_seq FROM versions
    ), final AS (
      SELECT id, status, total_cents, operation,
             ROW_NUMBER() OVER (PARTITION BY id
                                ORDER BY commit_seq DESC, operation ASC) AS rn
      FROM log
    )
    SELECT id, status, total_cents FROM final WHERE rn = 1 AND operation <> 'DELETE'
    """,
    tags=("cdc", "bootstrap", "merge"),
)
def qc13_snapshot_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial-snapshot → stream handoff (the Debezium bootstrap pattern
    the reference skips — it starts cold from the slot, reader.go:124-178,
    leaving pre-slot history unrecoverable; a real migration needs both).

    The hard part is the OVERLAP: the stream replays from before the
    snapshot's consistent point, so pre-snapshot events arrive again.
    Re-expressed Spark-first, bootstrap needs no special mode at all:
    tag the snapshot as one versioned row per key at the consistent
    point (commit_seq 3, between the waves at 2 and 4) and fold the
    union with ordinary last-writer-wins — replayed wave-2 events lose
    to the snapshot, post-snapshot wave-4 events beat it, and a key
    deleted pre-snapshot stays deleted because its replayed DELETE is
    its latest version. tests/test_cdc.py pins the bootstrap theorem:
    the result equals the pure-changelog fold (the snapshot injection
    is a no-op for a consistent snapshot).

    Scale: one shuffle on the key for latest-per-key; the snapshot
    enters the same shuffle as ordinary rows (no second pass, no
    broadcast of a 100 TB table).
    """
    tune_for_oracle(spark)
    _, changes = _order_versions(spark, sf_dir, (2, 4))
    from better_cdc_spark.cdc.apply import snapshot_at as snap_fold

    snapshot = snap_fold(changes, keys="id", order_col="commit_seq", cutoff=3).select(
        "id",
        "status",
        "total_cents",
        F.lit("SNAPSHOT").alias("operation"),
        F.lit(3).alias("commit_seq"),
    )
    log = snapshot.unionByName(changes)
    w = W.partitionBy("id").orderBy(
        F.col("commit_seq").desc(), F.col("operation").asc()
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("operation") != "DELETE"))
        .select("id", "status", "total_cents")
    )


@query(
    "qc14_streaming_scd2",
    oracle=_ORACLE_VERSIONS.format(first=1, last=2)
    + """
    closed AS (
      SELECT *,
             LEAD(commit_seq) OVER (PARTITION BY id ORDER BY commit_seq) AS valid_to
      FROM versions
    ), surviving AS (
      SELECT * FROM closed WHERE operation <> 'DELETE'
    )
    SELECT id, status, total_cents, operation, commit_seq, valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY commit_seq) AS INTEGER) AS version,
           (valid_to IS NULL) AS is_current
    FROM surviving
    """,
    tags=("cdc", "scd2", "streaming"),
)
def qc14_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2: qc06's historization built incrementally in
    foreachBatch — and the oracle is qc06's own batch SQL, so the hash
    check proves the increment law: folding micro-batches in stream order
    reproduces the batch fold exactly (versions, validity bounds,
    is_current, everything).

    Each micro-batch (one commit wave per trigger) closes the open
    versions of its touched keys, chains in-batch versions via lead(),
    and continues version numbers from the key's surviving count — see
    cdc.scd2.scd2_apply_increment. The history lives in parquet between
    epochs (localCheckpoint before overwrite — never read-and-overwrite
    the same files in one plan); every step is keyed by the dimension
    key, O(batch + touched-history), no global rewrite per epoch.
    """
    import os as _os

    from better_cdc_spark.cdc import scd2_apply_increment

    tune_for_oracle(spark)
    _, changes = _order_versions(spark, sf_dir, (1, 2))

    src = scratch_dir("qc14_src")
    hist_dir = scratch_dir("qc14_hist")
    # one DETERMINISTICALLY-NAMED file per commit wave: appended writes
    # carry random uuid part names, which name-ordered mtime stamping
    # would scramble ~50% of runs (waves must admit in commit order)
    from better_cdc_spark.streaming.core import stage_numbered_file, stamp_ordered_mtimes

    for wave in (1, 2):
        stage_numbered_file(changes.filter(F.col("commit_seq") == wave), src, wave)
    stamp_ordered_mtimes(src, "wave-*")

    out_schema = changes.withColumn("valid_to", F.lit(None).cast("int")).withColumn(
        "version", F.lit(None).cast("int")
    ).withColumn("is_current", F.lit(True)).schema

    def step(batch_df: DataFrame, _epoch: int) -> None:
        spark_ = batch_df.sparkSession
        # ONLY a missing dir means empty history — any other read failure
        # must raise, or a transient error would silently reset the
        # accumulated history to empty (wrong-but-plausible output).
        if _os.path.isdir(hist_dir):
            hist = spark_.read.schema(out_schema).parquet(hist_dir)
        else:
            hist = spark_.createDataFrame([], out_schema)
        new_hist = scd2_apply_increment(
            hist, batch_df, keys="id", order_col="commit_seq"
        ).transform(ckpt)
        new_hist.write.mode("overwrite").parquet(hist_dir)

    q = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", scratch_dir("qc14_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    return spark.read.schema(out_schema).parquet(hist_dir)


@query(
    "qc15_toast_fill",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS id, o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), versions AS (
      SELECT b.id, t.v AS commit_seq,
             CASE WHEN t.v = 1 THEN b.status || '-1'
                  WHEN b.id % 3 = 0 THEN NULL              -- unchanged TOAST
                  ELSE b.status || '-' || CAST(t.v AS VARCHAR) END AS payload,
             b.cents + t.v AS total_cents
      FROM base b JOIN (VALUES (1), (2), (3)) AS t(v) ON TRUE
    ), filled AS (
      SELECT id, commit_seq, total_cents,
             LAST_VALUE(payload IGNORE NULLS) OVER (
               PARTITION BY id ORDER BY commit_seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS payload
      FROM versions
    )
    SELECT id, commit_seq, payload, total_cents FROM filled
    """,
    tags=("cdc", "toast", "locf"),
)
def qc15_toast_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unchanged-TOAST column fill: the reference's pgoutput decoder SKIPS
    'u' (unchanged TOAST) columns entirely (pgoutput.go:613-614), so the
    after-image a consumer receives is missing those values — every
    downstream materializer must carry them forward from the key's prior
    version. That carry IS last-observation-carried-forward per (key,
    column) over commit order: one window pass with last(ignorenulls).

    The fixture gives every key three versions and withholds the payload
    ('u' analog → NULL) on versions 2-3 of every third key; the fill must
    reconstruct them from version 1 while leaving real values untouched.

    Scale: one hash shuffle on the key, one running window — no
    self-join, no per-version lookup; at 100 TB this rides the same key
    partitioning as the MERGE apply. (An UNBOUNDED PRECEDING running
    frame, not a full-partition frame, so state per key is O(1).)
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    versions = base.select(
        "id",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("commit_seq"),
        "status",
        "cents",
    ).select(
        "id",
        "commit_seq",
        F.when(F.col("commit_seq") == 1, F.concat_ws("-", "status", F.lit("1")))
        .when(F.col("id") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat_ws("-", "status", F.col("commit_seq").cast("string")))
        .alias("payload"),
        (F.col("cents") + F.col("commit_seq")).alias("total_cents"),
    )
    w = (
        W.partitionBy("id")
        .orderBy("commit_seq")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return versions.select(
        "id",
        "commit_seq",
        F.last("payload", ignorenulls=True).over(w).alias("payload"),
        "total_cents",
    )


@query(
    "qc16_python_datasource_sink",
    oracle="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY o_orderstatus
    """,
    tags=("cdc", "sink", "datasource"),
)
def qc16_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource SINK (Spark 4 DataSourceWriter) — the
    write-side twin of qc09/qc12's custom sources, completing the
    connector extension surface (the reference's publisher seam, R11):
    per-task staging + driver-side commit publishes files atomically
    (`_BCS_COMMITTED` manifest), abort leaves nothing visible — the
    publish-then-ack contract of the JetStream sink through Spark's API.

    The query writes a filtered orders slice through the sink, re-reads
    the committed JSONL with an explicit schema, and aggregates — the
    oracle computes the same slice straight from orders, so the hash
    check verifies the writer, the commit protocol, and the read-back
    path end-to-end.
    """
    import json as _json
    import os as _os

    from better_cdc_spark.datasource import JsonlSinkDataSource

    tune_for_oracle(spark)
    spark.dataSource.register(JsonlSinkDataSource)
    out = scratch_dir("qc16_sink")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    slice_df = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("string").alias("price"),  # lossless text
    )
    slice_df.write.format("bcs_jsonl_sink").option("path", out).mode("append").save()

    manifest = _json.load(open(_os.path.join(out, "_BCS_COMMITTED")))
    assert manifest["total_rows"] == slice_df.count(), manifest
    assert not _os.path.exists(_os.path.join(out, "_staged"))

    back = spark.read.schema("o_orderkey long, status string, price string").json(
        _os.path.join(out, "*.jsonl")
    )
    return back.groupBy("status").agg(
        F.count("*").alias("n"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@query(
    "qm02_merge_full_clauses",
    oracle="""
    WITH t AS (
      SELECT c_custkey AS id, c_mktsegment AS seg,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
      FROM customer
    ), latest AS (
      SELECT o_custkey, o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders
    ), s AS (
      SELECT CASE WHEN o_custkey % 100 = 0 THEN o_custkey + 1000000
                  ELSE o_custkey END AS id,
             o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
      FROM latest WHERE rn = 1
    ), j AS (
      SELECT t.id AS tid, t.seg, t.bal_cents, s.id AS sid, s.status, s.price_cents
      FROM t FULL OUTER JOIN s ON t.id = s.id
    )
    SELECT COALESCE(tid, sid) AS id,
           CASE WHEN tid IS NOT NULL AND sid IS NULL THEN 'DORMANT'
                WHEN tid IS NULL THEN 'NEW'
                ELSE seg END AS seg,
           CASE WHEN tid IS NULL THEN price_cents
                WHEN sid IS NULL THEN bal_cents
                ELSE bal_cents + price_cents END AS bal_cents
    FROM j
    WHERE NOT (tid IS NOT NULL AND sid IS NOT NULL AND status = 'F')
    """,
    tags=("cdc", "merge", "delta"),
)
def qm02_merge_full_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-clause MERGE INTO (the full Delta clause set, including WHEN
    NOT MATCHED BY SOURCE): matched+status='F' → DELETE, matched →
    balance update, source-only → INSERT as 'NEW', target-only →
    'DORMANT' re-segmentation — retention logic that otherwise needs a
    second anti-join pass runs inside the same single full-outer join.

    Source is pre-collapsed to one row per key (latest order per
    customer); every 100th source key is shifted out of the target key
    space to exercise the insert clause. Same one-shuffle plan as qm01 —
    the extra clauses are pure projection/filter logic on the joined row.
    """
    tune_for_oracle(spark)
    from better_cdc_spark.operators import merge_into, topk_per_group

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    target = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    latest = topk_per_group(orders, "o_custkey", F.col("o_orderkey"), 1).select(
        F.when(F.col("o_custkey") % 100 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
    )
    return merge_into(
        target,
        latest,
        on="id",
        when_matched_delete=F.col("s.status") == "F",
        when_matched_update={
            "bal_cents": F.col("t.bal_cents") + F.col("s.price_cents")
        },
        when_not_matched_insert={
            "seg": F.lit("NEW"),
            "bal_cents": F.col("s.price_cents"),
        },
        when_not_matched_by_source_update={"seg": F.lit("DORMANT")},
    )


@query(
    "qc17_dlq_replay",
    oracle=_ORACLE_BASE
    + """
    , payloads AS (
      SELECT event_id, "table", operation,
             concat_ws('|', event_id, COALESCE(after_status, '')) AS payload
      FROM envelope
    )
    SELECT event_id, "table", operation,
           CASE WHEN strlen(payload) > 38 THEN substr(payload, 1, 36)
                ELSE payload END AS payload_out,
           (strlen(payload) > 38) AS replayed
    FROM payloads
    """,
    tags=("cdc", "dlq", "replay"),
)
def qc17_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLQ REPLAY — the second half of the dead-letter story qc03 starts
    (quarantine): remediate quarantined events and merge them back so the
    sink converges to exactly-once over ALL events. Reference analog: a
    NATS consumer re-publishing dlq.> subjects after an operator fix —
    the workflow `internal/publisher/dlq.go` exists to enable.

    Flow: route_failures splits on the payload cap (qc03's policy) →
    publishable rows keep their payload → DLQ rows are remediated with
    the fix the DLQ record makes possible (here: the capped prefix IS
    the remediation, truncation-at-source) and re-enter flagged
    replayed=true → unionByName. The oracle recomputes both branches
    closed-form, so a dropped, duplicated, or mis-flagged replay row
    fails the hash. Both branches derive from ONE normalize pass
    (no second decode of the stream) and the union is
    partition-preserving — replay costs the DLQ's own size, not a
    re-scan of the corpus.
    """
    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir)
    payload = F.concat_ws(
        "|", F.col("event_id"), F.coalesce(F.element_at("after", "status"), F.lit(""))
    )
    ev = ev.withColumn("payload", payload)
    ok, dlq = route_failures(
        ev,
        # byte-based cap matching the reference (see qc03's note)
        error_pred=F.octet_length("payload") > 38,
        error_msg=F.lit("max payload exceeded"),
        payload=F.col("payload"),
        policy="dlq",
        prefix_cap=36,
    )
    published = ok.select(
        "event_id",
        "table",
        "operation",
        F.col("payload").alias("payload_out"),
        F.lit(False).alias("replayed"),
    )
    replayed = dlq.select(
        "event_id",
        "table",
        "operation",
        F.col("payload_prefix").alias("payload_out"),
        F.lit(True).alias("replayed"),
    )
    return published.unionByName(replayed)


@query(
    "qc18_data_quality_audit",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name,
           (SELECT COUNT(*) FROM orders) AS n_checked,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_violations
    UNION ALL
    SELECT 'event_id_unique',
           (SELECT COUNT(*) FROM events),
           (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM
             (SELECT COUNT(*) AS n FROM events GROUP BY event_id HAVING COUNT(*) > 1) t)
    UNION ALL
    SELECT 'orderstatus_accepted_values',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('F', 'O'))
    UNION ALL
    SELECT 'discount_in_range',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.1)
    UNION ALL
    SELECT 'totalprice_not_null_positive',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders
            WHERE o_totalprice IS NULL OR o_totalprice <= 0)
    """,
    tags=("cdc", "quality", "audit"),
)
def qc18_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit — the dbt-test / Deequ layer as engine-native
    checks over the warehouse tables: referential integrity (anti-join),
    key uniqueness (grouped dup count), accepted values, range, and
    not-null/positivity — one (check_name, n_checked, n_violations) row
    each. The accepted-values check FIRES on this data ('P' status rows),
    so the report proves violations are counted, not just zeros echoed.

    Check shapes are exactly the engine's primitives: the FK check is a
    LEFT ANTI join (broadcast dim at any realistic customer size — never
    a per-row lookup), uniqueness is one map-side-combined groupBy,
    everything else is a narrow filter-count fused into the scan. At
    100 TB each check is one pass — and the five checks share table
    scans where Catalyst can (orders feeds three checks).
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    def row(name, n_checked_df, viol_df):
        return (
            n_checked_df.agg(F.count("*").alias("n_checked"))
            .crossJoin(viol_df)
            .select(
                F.lit(name).alias("check_name"), "n_checked", "n_violations"
            )
        )

    fk_viol = (
        orders.join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        ).agg(F.count("*").alias("n_violations"))
    )
    dup_viol = (
        events.groupBy("event_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("long").alias("n_violations"))
    )
    status_viol = orders.filter(~F.col("o_orderstatus").isin("F", "O")).agg(
        F.count("*").alias("n_violations")
    )
    disc_viol = lineitem.filter(
        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
    ).agg(F.count("*").alias("n_violations"))
    price_viol = orders.filter(
        F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
    ).agg(F.count("*").alias("n_violations"))

    return (
        row("orders_custkey_fk", orders, fk_viol)
        .unionByName(row("event_id_unique", events, dup_viol))
        .unionByName(row("orderstatus_accepted_values", orders, status_viol))
        .unionByName(row("discount_in_range", lineitem, disc_viol))
        .unionByName(row("totalprice_not_null_positive", orders, price_viol))
    )


@query(
    "qc19_xlogdata_framed_source",
    oracle=_ORACLE_BASE
    + """
    SELECT event_id, event_type, source, commit_time, lsn, txid,
           "schema", "table", operation, subject,
           n_before, n_after, after_status, before_id
    FROM envelope
    """,
    tags=("cdc", "source", "replication", "framing"),
)
def qc19_xlogdata_framed_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingest over XLogData-FRAMED records (R1's wire format,
    reader.go:311-393): the same change stream qc01 normalizes, but
    transported as binary replication frames — each record wrapped in an
    'w' XLogData frame (walStart = its LSN, payload = the wal2json line),
    with 'k' PrimaryKeepalive frames interleaved one per Arrow batch
    exactly as a live server interleaves them. The consumer decodes the
    frames, SKIPS keepalives/empty frames (frame dispatch parity), and
    feeds surviving payloads to the shared normalize pipeline — the
    oracle is qc01's, so a dropped frame, a mis-sliced payload offset, or
    a keepalive leaking through all hash-mismatch.

    Both codec passes run INSIDE executors over Arrow batches
    (mapInPandas; framing is embarrassingly parallel — the wire protocol
    is serial only at the single replication socket, which is the
    driver-side ReplicationSession tested in tests/test_replication.py
    with resume-from-LSN and idle-advance heartbeats). Scale shape: two
    narrow binary passes + qc01's plan; no extra shuffle.
    """
    import pandas as pd

    from better_cdc_spark.cdc.replication import (
        PG_EPOCH_US,
        decode_frame,
        encode_keepalive,
        encode_xlog_data,
        lsn_to_int,
        XLogData,
    )
    from better_cdc_spark.schemas import CHANGE_LOG_SCHEMA

    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    changelog = synthesize_changelog_from_orders(orders)
    lines = changelog.select(
        F.col("lsn"),
        F.to_json(F.struct(*changelog.columns)).alias("line"),
    )

    def frame_batches(batches):
        for pdf in batches:
            frames = [
                encode_keepalive(0, PG_EPOCH_US, False)  # server chatter
            ]
            frames += [
                encode_xlog_data(lsn_to_int(lsn), 0, PG_EPOCH_US, line.encode())
                for lsn, line in zip(pdf["lsn"], pdf["line"])
            ]
            frames.append(b"")  # empty CopyData — must be skipped too
            yield pd.DataFrame({"frame": frames})

    framed = lines.mapInPandas(frame_batches, "frame binary")

    def deframe_batches(batches):
        for pdf in batches:
            out = []
            for buf in pdf["frame"]:
                f = decode_frame(bytes(buf))
                if isinstance(f, XLogData):
                    out.append(f.payload.decode())
            yield pd.DataFrame({"line": out})

    lines_back = framed.mapInPandas(deframe_batches, "line string")
    decoded = lines_back.select(
        F.from_json("line", CHANGE_LOG_SCHEMA).alias("r")
    ).select("r.*")
    ev = normalize_changelog(decoded, database="testdb", allowlist=ALLOWLIST)
    return ev.select(
        "event_id",
        "event_type",
        "source",
        "commit_time",
        "lsn",
        "txid",
        "schema",
        "table",
        "operation",
        "subject",
        F.size("before").alias("n_before"),
        F.size("after").alias("n_after"),
        F.element_at("after", "status").alias("after_status"),
        F.element_at("before", "id").alias("before_id"),
    )


@query(
    "qm03_txlog_acid",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS id, o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
    ),
    final AS (
      SELECT id, status,
             cents + CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END AS cents
      FROM base
    )
    SELECT 'v1' AS snap, status,
           COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM base GROUP BY status
    UNION ALL
    SELECT 'final' AS snap, status,
           COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM final GROUP BY status
    """,
    tags=("merge", "acid", "txlog"),
)
def qm03_txlog_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID table lifecycle on the transactional commit log (txlog.py) —
    the table-format move that retires the sink's hand-rolled
    delete-then-write idempotency (streaming/pipeline.py note):

      v0  append  okey%3=0 rows
      v1  append  okey%3=1 rows (with a writer txn token)
      --  REPLAY  the v1 commit (same app_id/txn_version) → no-op ack;
                  a double-applied epoch would inflate every v1+final
                  count and fail the hash
      v2  replace ENTIRE live file set with the upserted state
          (cents+1 for okey%5=0) in ONE atomic commit — delete+write
          with no observable intermediate state

    The result unions the FINAL snapshot aggregate with the TIME-TRAVEL
    read at v1, so the oracle verifies both the current state and that
    history survives the replace. Snapshot reads are ordinary parquet
    scans (pushdown pinned in tests/test_txlog.py); the log itself is
    bounded by commit count, not data size.
    """
    from better_cdc_spark.txlog import TxLogTable

    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    t = TxLogTable(spark, scratch_dir("qm03_txlog"))
    t.append(base.filter(F.col("id") % 3 == 0))
    wave1 = base.filter(F.col("id") % 3 == 1)
    v1 = t.append(wave1, app_id="qm03", txn_version=1)
    t.append(wave1, app_id="qm03", txn_version=1)  # replayed epoch: no-op
    upserted = t.read().withColumn(
        "cents",
        F.col("cents") + F.when(F.col("id") % 5 == 0, 1).otherwise(0),
    )
    # one atomic commit replaces every live file with the upserted state
    t.replace(upserted.transform(ckpt), remove_pred=lambda p: True)

    def agg(df, tag):
        return df.groupBy("status").agg(
            F.count("*").alias("n"), F.sum("cents").cast("long").alias("sum_cents")
        ).select(F.lit(tag).alias("snap"), "status", "n", "sum_cents")

    return agg(t.read(version=v1), "v1").unionByName(agg(t.read(), "final"))


@query(
    "qc20_incremental_snapshot",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS id, o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ),
    keyed AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY id) - 1 AS key_pos FROM base
    ),
    chunked AS (
      SELECT *, key_pos // 500 AS chunk FROM keyed
    ),
    events AS (
      SELECT id, id % 89 AS seq,
             'U' AS op, status || '-v2' AS status2, cents + 7 AS cents2
      FROM base WHERE id % 4 = 1
    ),
    win AS (
      SELECT chunk, chunk * 10 AS w_lo, chunk * 10 + 45 AS w_hi
      FROM (SELECT DISTINCT chunk FROM chunked)
    ),
    snap_read AS (
      -- chunk read at its LOW watermark: base + events with seq <= w_lo
      SELECT c.chunk, c.id,
             COALESCE(CASE WHEN e.seq <= w.w_lo THEN e.status2 END, c.status)
               AS status,
             COALESCE(CASE WHEN e.seq <= w.w_lo THEN e.cents2 END, c.cents)
               AS cents,
             (e.id IS NOT NULL AND e.seq > w.w_lo AND e.seq <= w.w_hi)
               AS superseded
      FROM chunked c
      JOIN win w USING (chunk)
      LEFT JOIN events e USING (id)
    ),
    emitted AS (SELECT * FROM snap_read WHERE NOT superseded),
    -- reconstruction: emitted snapshot reads overlaid by ALL stream
    -- events (stream is authoritative); equals direct-apply iff the
    -- watermark supersede rule is correct
    recon AS (
      SELECT c.id,
             COALESCE(e.status2, s.status) AS status,
             COALESCE(e.cents2, s.cents) AS cents
      FROM chunked c
      LEFT JOIN emitted s ON s.id = c.id
      LEFT JOIN events e ON e.id = c.id
    ),
    direct AS (
      SELECT b.id, COALESCE(e.status2, b.status) AS status,
             COALESCE(e.cents2, b.cents) AS cents
      FROM base b LEFT JOIN events e USING (id)
    )
    SELECT sr.chunk,
           COUNT(*) AS n_keys,
           CAST(SUM(CASE WHEN NOT sr.superseded THEN 1 ELSE 0 END) AS BIGINT)
             AS n_snapshot_emitted,
           CAST(SUM(CASE WHEN sr.superseded THEN 1 ELSE 0 END) AS BIGINT)
             AS n_superseded,
           CAST(SUM(CASE WHEN r.status <> d.status OR r.cents <> d.cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
    FROM snap_read sr
    JOIN chunked c2 ON c2.id = sr.id
    JOIN recon r ON r.id = sr.id
    JOIN direct d ON d.id = sr.id
    GROUP BY sr.chunk
    """,
    tags=("cdc", "snapshot", "incremental"),
)
def qc20_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL (chunked) snapshot with watermark supersede — the
    DBLog / Debezium-incremental-snapshot algorithm (Andreakis &
    Papapanagiotou 2020; Debezium 'read-only incremental snapshots'):
    bootstrap a table WHILE its change stream flows, in key-ordered
    chunks, without ever locking the table or pausing the stream. Per
    chunk: mark a low watermark in the stream, read the chunk, mark the
    high watermark; a chunk row whose key saw a change event INSIDE the
    watermark window is SUPERSEDED (dropped — the stream is
    authoritative for it), every other row is emitted as a READ event.
    qc13 covers the one-shot consistent-point handoff; this is the
    production variant for tables too large to snapshot in one pass.

    The fixture interleaves deterministically (chunk k's window covers
    seq (10k, 10k+45]; every 4th key gets an update at seq = id mod 89),
    so the oracle replays the algorithm AND the correctness theorem:
    per chunk it also counts mismatches between (emitted reads overlaid
    by the stream) and the direct final state — n_mismatch is COMPUTED
    to be zero by both engines, not asserted, so a supersede-rule bug
    surfaces as a nonzero column that hash-mismatches.

    Scale shape: chunk assignment is one key-order window (at 100 TB:
    range-partitioned key windows, one per executor wave); the
    supersede decision and reconstruction are equi-joins on the key —
    no locks, no stream pause, chunk reads proceed embarrassingly
    parallel exactly as DBLog's chunk scheduler intends.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    # Chunk assignment via the two-level blocked rank (id is a distinct
    # integral key) — DBLog's key-order chunking without funnelling the
    # whole snapshot through one window task.
    from better_cdc_spark.operators import blocked_row_number

    chunked = (
        blocked_row_number(base, "id", "id", "__rn")
        .withColumn("chunk", ((F.col("__rn") - 1) / 500).cast("long"))
        .drop("__rn")
        .transform(ckpt)
    )
    events = base.filter(F.col("id") % 4 == 1).select(
        "id",
        (F.col("id") % 89).alias("seq"),
        F.concat(F.col("status"), F.lit("-v2")).alias("status2"),
        (F.col("cents") + 7).alias("cents2"),
    )
    w_lo = F.col("chunk") * 10
    w_hi = F.col("chunk") * 10 + 45
    snap_read = (
        chunked.join(events, "id", "left")
        .select(
            "chunk",
            "id",
            F.coalesce(
                F.when(F.col("seq") <= w_lo, F.col("status2")), F.col("status")
            ).alias("status"),
            F.coalesce(
                F.when(F.col("seq") <= w_lo, F.col("cents2")), F.col("cents")
            ).alias("cents"),
            (
                F.col("seq").isNotNull()
                & (F.col("seq") > w_lo)
                & (F.col("seq") <= w_hi)
            ).alias("superseded"),
        )
        .transform(ckpt)
    )
    emitted = snap_read.filter(~F.col("superseded")).select(
        "id", F.col("status").alias("s_status"), F.col("cents").alias("s_cents")
    )
    recon = (
        chunked.select("id")
        .join(emitted, "id", "left")
        .join(
            events.select("id", "status2", "cents2"), "id", "left"
        )
        .select(
            "id",
            F.coalesce("status2", "s_status").alias("r_status"),
            F.coalesce("cents2", "s_cents").alias("r_cents"),
        )
    )
    direct = (
        base.join(events.select("id", "status2", "cents2"), "id", "left")
        .select(
            "id",
            F.coalesce("status2", "status").alias("d_status"),
            F.coalesce("cents2", "cents").alias("d_cents"),
        )
    )
    mismatch = (
        (F.col("r_status") != F.col("d_status"))
        | (F.col("r_cents") != F.col("d_cents"))
    ).cast("int")
    return (
        snap_read.join(recon, "id")
        .join(direct, "id")
        .groupBy("chunk")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum(F.when(~F.col("superseded"), 1).otherwise(0))
            .cast("long")
            .alias("n_snapshot_emitted"),
            F.sum(F.when(F.col("superseded"), 1).otherwise(0))
            .cast("long")
            .alias("n_superseded"),
            F.sum(mismatch).cast("long").alias("n_mismatch"),
        )
    )


@query(
    "qc21_socket_replication_source",
    oracle=_ORACLE_BASE
    + """
    SELECT event_id, event_type, source, commit_time, lsn, txid,
           "schema", "table", operation, subject,
           n_before, n_after, after_status, before_id
    FROM envelope
    """,
    tags=("cdc", "source", "replication", "socket", "network"),
)
def qc21_socket_replication_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingest over a REAL TCP replication socket (R1, network-proven).

    The same change stream qc01 normalizes, but delivered end-to-end the
    way a live server delivers it: an in-process FakeWalServer listens
    on a real socket and streams PG-wire-framed CopyData/XLogData
    messages (keepalives interleaved every 50 frames); the driver-side
    ReplicationLoop connects with START_REPLICATION, consumes frames,
    acks positions via standby statuses — and survives a SCRIPTED
    MID-STREAM DISCONNECT halfway through, reconnecting and resuming
    from the acked LSN (reader.go:233-293). The recovered payload lines
    then feed the shared normalize pipeline; the oracle is qc01's, so a
    dropped, duplicated, or replayed frame across the reconnect
    hash-mismatches. This closes the round-5 "no code opens a socket"
    gap as a registry entry, not just a unit test.

    Wire positions are the change log's unique ingest_seq (every real
    WAL record has a distinct LSN; the tx-level lsn column rides INSIDE
    the payload). Scale shape: the socket leg is driver-side serial BY
    PROTOCOL — one replication socket per engine, same as the reference
    — and bounded here by the synthesized batch (~17k frames at
    sf0.01); the distributed decode path for executor-parallel framing
    is qc19. Normalize runs distributed after a repartition.
    """
    from better_cdc_spark.cdc.replication import (
        ReplicationLoop,
        lsn_to_str,
        start_replication_command,
    )
    from better_cdc_spark.cdc.socket_wire import FakeWalServer, connect_wire
    from better_cdc_spark.schemas import CHANGE_LOG_SCHEMA

    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    changelog = synthesize_changelog_from_orders(orders)
    rows = changelog.select(
        "ingest_seq", "action",
        F.to_json(F.struct(*changelog.columns)).alias("line"),
    ).collect()  # bounded: one synthesized envelope batch feeds the wire
    # Wire positions are SERVER-assigned stream offsets: enumerate the
    # rows in deterministic (ingest_seq, action) order — a total order
    # here, since only a B and a C marker of different txs can share an
    # ingest_seq (min_okey*10-5 == max_okey'*10+5) and action breaks the
    # tie. Unique positions matter because resume-from-LSN is
    # strict-greater: a duplicated position would skip its sibling on
    # reconnect.
    rows.sort(key=lambda r: (int(r["ingest_seq"]), r["action"]))
    wal = [(1000 + i, r["line"].encode()) for i, r in enumerate(rows)]

    recovered: list[str] = []

    def on_payload(frame):
        recovered.append(frame.payload.decode())
        return lsn_to_str(frame.wal_start)

    with FakeWalServer(
        wal, keepalive_every=50, disconnect_after={0: len(wal) // 2}
    ) as srv:
        loop = ReplicationLoop(
            connect=lambda resume: connect_wire(
                "127.0.0.1",
                srv.port,
                start_replication_command("bcs_slot", resume),
            ),
            sleep=lambda s: None,  # deterministic: skip reconnect backoff
            standby_timeout_s=5.0,
        )
        loop.run(on_payload)
        assert loop.reconnects >= 1, "disconnect script did not fire"

    lines_back = spark.createDataFrame(
        [(l,) for l in recovered], "line string"
    ).repartition(spark.sparkContext.defaultParallelism)
    decoded = lines_back.select(
        F.from_json("line", CHANGE_LOG_SCHEMA).alias("r")
    ).select("r.*")
    ev = normalize_changelog(decoded, database="testdb", allowlist=ALLOWLIST)
    return ev.select(
        "event_id",
        "event_type",
        "source",
        "commit_time",
        "lsn",
        "txid",
        "schema",
        "table",
        "operation",
        "subject",
        F.size("before").alias("n_before"),
        F.size("after").alias("n_after"),
        F.element_at("after", "status").alias("after_status"),
        F.element_at("before", "id").alias("before_id"),
    )


@query(
    "qc22_socket_publish_sink",
    oracle=_ORACLE_BASE
    + """
    SELECT event_id, subject
    FROM envelope
    WHERE txid % 20 = 0
    """,
    tags=("cdc", "sink", "publish", "socket", "network"),
)
def qc22_socket_publish_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC publish over a REAL TCP broker socket (R11, network-proven) —
    the sink-side sibling of qc21: the reference's main loop (normalize
    → ordered ack-gated publish → checkpoint on full resolution,
    engine.go:447-534) driven end-to-end over an actual network link.

    The qc01 envelope slice (every 20th transaction, ~600 events at
    sf0.01 — the engine is per-item ordered, so the slice keeps the
    serial leg honest but bounded) is batched on COMMIT BOUNDARIES
    (one batch per txid, the reference's batching model) and published
    through OrderedPublishEngine + SocketPublishTransport against an
    in-process FakeBrokerServer scripted to fail every 13th event once
    with a transient error — the engine must retry over the wire and
    still deliver IN ORDER. Every batch must fully resolve and
    checkpoint its commit position; the returned DataFrame is the
    DISTINCT (event_id, subject) set the broker actually received,
    compared against qc01's envelope derivation — a dropped event, a
    poison misclassification, or a subject mis-route hash-mismatches,
    and a duplicate DELIVERY would too (retries of un-acked publishes
    are legal at-least-once wire traffic; the distinct is the broker's
    msg-id dedup, qc11's contract).

    Scale shape: the publish loop is driver-side over the COLLECTED
    bounded batch exactly like the reference (batch dial 500,
    config.go); normalize and the result compare stay distributed.
    """
    import time as _time

    from better_cdc_spark.streaming.publish_retry import (
        OrderedPublishEngine,
        PublishItem,
        publish_and_checkpoint,
    )
    from better_cdc_spark.streaming.socket_broker import (
        BrokerScript,
        FakeBrokerServer,
        SocketPublishTransport,
    )

    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir).filter(F.col("txid") % 20 == 0)
    rows = (
        ev.select("event_id", "subject", "lsn", "txid")
        .collect()  # bounded: the reference's per-batch publish model
    )
    rows.sort(key=lambda r: (int(r["txid"]), r["event_id"]))
    # one publish batch per commit (txid), in commit order
    batches: dict[int, list[PublishItem]] = {}
    for r in rows:
        batches.setdefault(int(r["txid"]), []).append(
            PublishItem(
                subject=r["subject"],
                event_id=r["event_id"],
                payload=r["event_id"].encode(),
                position=r["lsn"],
            )
        )
    script = BrokerScript(
        fail_first={r["event_id"]: 1 for i, r in enumerate(rows) if i % 13 == 0}
    )
    checkpoints: list[str] = []
    engine = OrderedPublishEngine(
        max_publish_retries=3,
        publish_timeout_s=10.0,
        sleep=lambda s: _time.sleep(min(s, 0.002)),  # compress backoff
    )
    with FakeBrokerServer(script) as srv:
        with SocketPublishTransport("127.0.0.1", srv.port) as tp:
            for txid in sorted(batches):
                items = batches[txid]
                result = publish_and_checkpoint(
                    engine, tp, items,
                    commit_position=items[-1].position,
                    checkpoint_cb=checkpoints.append,
                )
                assert result.is_complete(), f"tx {txid} failed: {result.first_error}"
        delivered = list(dict.fromkeys(srv.received))  # broker msg-id dedup
    assert len(checkpoints) == len(batches), "a resolved batch must checkpoint"
    assert engine.retry_count >= len(script.fail_first), "fail-nth never fired"
    return spark.createDataFrame(
        [(e, s) for s, e in delivered], "event_id string, subject string"
    ).repartition(spark.sparkContext.defaultParallelism)


@query(
    "qc24_snapshot_diff_cdc",
    oracle="""
    WITH new_snap AS (
      SELECT o_orderkey AS okey, o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents
      FROM orders
      WHERE o_orderkey % 10 <> 5          -- rows deleted since the old snap
    ), old_snap AS (
      SELECT o_orderkey AS okey,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT)
               - CASE WHEN o_orderkey % 7 = 0 THEN 500 ELSE 0 END AS total_cents
      FROM orders
      WHERE o_orderkey % 10 <> 0          -- rows inserted since the old snap
    )
    SELECT COALESCE(n.okey, o.okey) AS okey,
           CASE WHEN o.okey IS NULL THEN 'INSERT'
                WHEN n.okey IS NULL THEN 'DELETE'
                ELSE 'UPDATE' END AS op,
           o.status AS old_status, n.status AS new_status,
           o.total_cents AS old_total_cents, n.total_cents AS new_total_cents
    FROM old_snap o FULL OUTER JOIN new_snap n ON o.okey = n.okey
    WHERE o.okey IS NULL OR n.okey IS NULL
       OR o.status <> n.status OR o.total_cents <> n.total_cents
    """,
    tags=("cdc", "snapshot", "diff", "join"),
)
def qc24_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-based CDC — derive the change stream by DIFFING two full
    table snapshots (the fallback CDC mode for sources with no WAL
    access, e.g. a nightly warehouse export; the log-based pipeline in
    qc01/qc19 is the primary mode, reference internal/wal/reader.go).

    Two snapshots are synthesized deterministically from `orders`: the
    old snapshot is missing keys ending in 0 (inserted since), carries
    stale values for keys divisible by 7 (price updated) or 13 (status
    updated), and the new snapshot is missing keys ending in 5 (deleted
    since). A FULL OUTER JOIN on the primary key classifies each key
    into INSERT / UPDATE / DELETE, suppressing unchanged rows — exactly
    the event set a log-based reader would have produced, minus
    intra-interval churn (a row updated twice between snapshots shows
    once: the documented fidelity loss of snapshot diffing).

    Scale: the diff is one PK equi-join — with both snapshots bucketed
    by PK (the natural layout for successive exports) it is a
    zero-shuffle sort-merge join; unchanged-row suppression is a narrow
    post-join filter. For wide tables, production diffing compares a
    per-side content hash (xxhash64 over the value columns) instead of
    column-by-column predicates so the join payload stays 2 columns —
    here the table is narrow enough to compare values directly, which
    also keeps the oracle exact rather than hash-collision-probable.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    new_snap = (
        orders.filter(F.col("o_orderkey") % 10 != 5)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderstatus").alias("status"),
            cents.alias("total_cents"),
        )
    )
    old_snap = (
        orders.filter(F.col("o_orderkey") % 10 != 0)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            (
                cents
                - F.when(F.col("o_orderkey") % 7 == 0, F.lit(500)).otherwise(0)
            ).alias("total_cents"),
        )
    )
    o, n = old_snap.alias("o"), new_snap.alias("n")
    joined = o.join(n, F.col("o.okey") == F.col("n.okey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("n.okey"), F.col("o.okey")).alias("okey"),
        F.when(F.col("o.okey").isNull(), "INSERT")
        .when(F.col("n.okey").isNull(), "DELETE")
        .otherwise("UPDATE")
        .alias("op"),
        F.col("o.status").alias("old_status"),
        F.col("n.status").alias("new_status"),
        F.col("o.total_cents").alias("old_total_cents"),
        F.col("n.total_cents").alias("new_total_cents"),
    ).filter(
        F.col("o.okey").isNull()
        | F.col("n.okey").isNull()
        | (F.col("o.status") != F.col("n.status"))
        | (F.col("o.total_cents") != F.col("n.total_cents"))
    )


@query(
    "qc25_replication_lag_report",
    oracle=_ORACLE_BASE
    + """
    , lag AS (
      SELECT "table" AS tbl, operation,
             (txid * 131 + seq * 17) % 5000 AS lag_ms
      FROM envelope
    )
    SELECT tbl, operation,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(lag_ms) AS BIGINT) AS sum_lag_ms,
           CAST(SUM(lag_ms) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_lag_ms,
           quantile_cont(lag_ms, 0.95) AS p95_lag_ms,
           CAST(MAX(lag_ms) AS BIGINT) AS max_lag_ms
    FROM lag GROUP BY tbl, operation
    """,
    tags=("cdc", "monitoring", "percentile"),
)
def qc25_replication_lag_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication-lag SLO report over the normalized change stream —
    the operational dashboard a CDC deployment watches: per
    (table, operation) event counts and commit-to-delivery lag
    avg/p95/max (the reference exposes the same health through its
    metrics listener, internal/metrics; here it is a query over the
    envelope so it back-fills over history, not just current gauges).

    Delivery timestamps are synthesized as a deterministic per-event
    skew (a txid/seq hash mod 5 s) so the lag distribution is exactly
    reproducible in both engines: integer-millisecond lags make the
    SUM exact in BIGINT, the single sum/count division bit-identical
    in DOUBLE, and the interpolated p95 an exact binary fraction
    (q36c's argument).

    Scale: one narrow projection (seq parsed from the event id — no
    second source scan) and one hash agg on a (tables x 3)-bounded
    key; the exact p95 buffers per group, and the 100 TB swap is
    percentile_approx, everything else unchanged.
    """
    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir)
    seq = F.element_at(F.split(F.col("event_id"), ":"), -1).cast("long")
    lag = ev.select(
        F.col("table").alias("tbl"),
        "operation",
        ((F.col("txid") * 131 + seq * 17) % 5000).alias("lag_ms"),
    )
    return lag.groupBy("tbl", "operation").agg(
        F.count("*").alias("n"),
        F.sum("lag_ms").alias("sum_lag_ms"),
        (F.sum("lag_ms") / F.count("*")).alias("avg_lag_ms"),
        F.percentile("lag_ms", 0.95).alias("p95_lag_ms"),
        F.max("lag_ms").alias("max_lag_ms"),
    )


@query(
    "qm10_change_data_feed",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS id, o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ),
    v0 AS (SELECT id, status, cents, 'insert' AS change_type,
                  CAST(0 AS BIGINT) AS commit_version
           FROM base WHERE id % 3 = 0),
    v1 AS (SELECT id, status, cents, 'insert', 1 FROM base WHERE id % 3 = 1),
    v3d AS (SELECT id, status, cents, 'delete', 3 FROM base WHERE id % 3 < 2),
    v3i AS (SELECT id, status,
                   cents + CASE WHEN id % 5 = 0 THEN 100 ELSE 0 END,
                   'insert', 3
            FROM base WHERE id % 3 < 2),
    v4 AS (SELECT id, status, cents, 'insert', 4 FROM base WHERE id % 3 = 2)
    SELECT * FROM v0
    UNION ALL SELECT * FROM v1
    UNION ALL SELECT * FROM v3d
    UNION ALL SELECT * FROM v3i
    UNION ALL SELECT * FROM v4
    """,
    tags=("cdc", "txlog", "change-feed", "acid"),
)
def qm10_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CHANGE DATA FEED from the transactional log (the Delta
    CDF / table_changes() move, txlog.change_feed) — the lakehouse side
    of the CDC loop: qc-family queries turn upstream WAL into events;
    this turns the SINK TABLE's own commit history back into events, so
    downstream consumers (qm07's IVM, replication fan-out) sync from
    the table without touching the source.

      v0 append   id%3=0          -> inserts @0
      v1 append   id%3=1          -> inserts @1
      v2 OPTIMIZE (compaction)    -> dataChange=false, SKIPPED: rows
                                     moved files but nothing changed
      v3 replace  (+100 cents on id%5=0) -> delete(old state) +
                                     insert(new state) @3 — the
                                     update-as-delete+insert contract
      v4 append   id%3=2          -> inserts @4

    An optimize leaking into the feed, a wrong version stamp, or a
    missed delete hash-mismatches. Planning walks only the requested
    log tail (O(commits)); every row read is a distributed scan of
    files the vacuum horizon provably retains.
    """
    from better_cdc_spark.txlog import TxLogTable

    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    t = TxLogTable(spark, scratch_dir("qm10_txlog"))
    t.append(base.filter(F.col("id") % 3 == 0))            # v0
    t.append(base.filter(F.col("id") % 3 == 1))            # v1
    t.optimize()                                           # v2: dataChange=false
    updated = t.read().withColumn(
        "cents",
        F.col("cents") + F.when(F.col("id") % 5 == 0, 100).otherwise(0),
    )
    t.replace(updated.transform(ckpt), remove_pred=lambda p: True)  # v3
    t.append(base.filter(F.col("id") % 3 == 2))            # v4
    return t.change_feed(v_from=-1).select(
        "id", "status", "cents",
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
    )


@query(
    "qc26_scd2_temporal_join",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment AS segment,
             TIMESTAMP '1990-01-01' AS valid_from,
             CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1995-06-01' END
               AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'MOVED-' || c_mktsegment,
             TIMESTAMP '1995-06-01', NULL
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT d.segment AS segment_at_order_time,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND o.o_orderdate >= d.valid_from
     AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    GROUP BY d.segment
    """,
    tags=("cdc", "scd2", "temporal", "join"),
)
def qc26_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal fact-to-dimension join — the canonical CONSUMPTION of an
    SCD2 dimension (qc06/qc14 build them; this is why): each order
    joins the customer VERSION that was valid at order time, so
    revenue rolls up under the segment the customer belonged to THEN,
    not now. The dimension here is a deterministic two-version history
    (every third customer re-segmented mid-1995) so the
    as-of-attribution is fully oracle-checkable.

    Scale shape: the join is an EQUI-join on the natural key with the
    validity interval as a residual filter evaluated in the hash probe
    — never a range-only join; fan-out is bounded by versions-per-key
    (the SCD2 invariant that intervals partition the timeline per key
    guarantees exactly one surviving match). The dim broadcasts while
    it fits; at warehouse scale both sides co-bucket on the key and
    the residual still rides the probe.
    """
    tune_for_oracle(spark)
    cust = load_table(spark, sf_dir, "customer")
    cutoff = F.lit("1995-06-01").cast("timestamp")
    v1 = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.when(F.col("c_custkey") % 3 == 0, cutoff).alias("valid_to"),
    )
    v2 = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.concat(F.lit("MOVED-"), F.col("c_mktsegment")).alias("segment"),
        cutoff.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(
        F.broadcast(dim),
        (orders.o_custkey == dim.c_custkey)
        & (orders.o_orderdate >= dim.valid_from)
        & (dim.valid_to.isNull() | (orders.o_orderdate < dim.valid_to)),
    )
    return joined.groupBy(
        F.col("segment").alias("segment_at_order_time")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


@query(
    "qm11_cdf_downstream_sync",
    oracle="""
    WITH final_state AS (
      SELECT o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT)
               + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS cents
      FROM orders
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM final_state GROUP BY status
    """,
    tags=("cdc", "txlog", "change-feed", "incremental", "matview"),
)
def qm11_cdf_downstream_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC loop CLOSED inside the lakehouse: a downstream aggregate
    view synced purely from the upstream table's CHANGE FEED (qm10's
    txlog CDF) using qm07's retraction algebra — the downstream never
    reads the source table, never re-scans history, and never sees the
    optimize commit (dataChange=false rows would double-count every row
    the compaction moved; the feed's job is to hide them).

    Upstream commits: three appends covering all orders, an OPTIMIZE,
    then a replace applying +100 cents to id%5=0 (the update arrives
    downstream as delete+insert, exercising retraction). Each commit's
    feed slice is consumed EXACTLY once, folded to |groups|-bounded
    (grp, dn, dsum) partials; deltas commute, so the synced view must
    hash-equal the direct aggregate of the FINAL upstream state — the
    full oracle.

    Scale: per-commit sync cost is O(rows changed in that commit); the
    version walk is O(commits) driver-side planning, identical to
    snapshot resolution. This pattern is why a table format carries a
    CDF at all.
    """
    from better_cdc_spark.txlog import TxLogTable

    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    t = TxLogTable(spark, scratch_dir("qm11_txlog"))
    for b in range(3):
        t.append(base.filter(F.col("id") % 3 == b))        # v0..v2
    t.optimize()                                           # v3: not a change
    updated = t.read().withColumn(
        "cents",
        F.col("cents") + F.when(F.col("id") % 5 == 0, 100).otherwise(0),
    )
    t.replace(updated.transform(ckpt), remove_pred=lambda p: True)  # v4

    partials = scratch_dir("qm11_partials")
    synced_from = -1
    for v in range(0, t.snapshot().version + 1):
        try:
            feed = t.change_feed(v_from=v - 1, v_to=v)
        except ValueError:
            continue  # dataChange=false commit: nothing to sync
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        (
            feed.select(
                "status",
                sign.alias("sgn"),
                (sign * F.col("cents")).alias("dcents"),
            )
            .groupBy("status")
            .agg(F.sum("sgn").alias("dn"), F.sum("dcents").alias("dsum"))
            .coalesce(1)
            .write.mode("append")
            .parquet(partials)
        )
        synced_from = v
    assert synced_from == t.snapshot().version, "sync fell behind the log"
    return (
        spark.read.parquet(partials)
        .groupBy("status")
        .agg(F.sum("dn").alias("n_rows"), F.sum("dsum").alias("sum_cents"))
        .filter(F.col("n_rows") > 0)
    )


@query(
    "qc27_protobuf_decode",
    oracle=_ORACLE_BASE
    + """
    SELECT "table" AS tbl, operation,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN operation = 'DELETE' THEN 0
                          ELSE CAST(total_cents AS BIGINT) END) AS BIGINT)
             AS sum_cents,
           CAST(SUM(txid) AS BIGINT) AS sum_txid
    FROM envelope
    GROUP BY tbl, operation
    """,
    tags=("cdc", "protobuf", "decode", "codec"),
)
def qc27_protobuf_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTING protobuf-payload CDC decode — the binary-envelope
    sibling of qc10's pgoutput and q01e's Avro: half the Kafka CDC
    world ships proto3 messages, and `from_protobuf` is an external
    module this offline build cannot load, so codecs.encode_protobuf/
    decode_protobuf make the seam a working path (varint/zigzag/
    fixed/length-delimited wire walk, proto3 default elision).

    Stage 1 serializes each normalized envelope event as wire bytes
    under a WRITER schema that includes a field the reader does not
    know (field 15, a tracing blob); stage 2 decodes with the READER
    schema — the unknown field must be SKIPPED by wire type, proto3's
    forward-compatibility rule, exercised on every row in-plan. The
    oracle recomputes the per-(table, operation) counts, cent sums and
    txid sums from the source derivation: a varint mis-split, zigzag
    sign error, or botched unknown-field skip shifts every downstream
    byte and hash-mismatches.

    Both stages Arrow-batched narrow maps; one bounded-key agg.
    """
    import pandas as pd

    from better_cdc_spark.codecs import decode_protobuf, encode_protobuf

    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir).select(
        F.col("table").alias("tbl"),
        "operation",
        F.col("txid"),
        F.element_at(F.col("after"), "total_cents")
        .cast("long")
        .alias("cents_after"),
    ).withColumn("cents", F.coalesce("cents_after", F.lit(0)))

    writer = [(1, "tbl", "string"), (2, "operation", "string"),
              (3, "txid", "uint64"), (4, "cents", "sint64"),
              (15, "trace", "bytes")]
    reader = writer[:4]

    def serialize(batches):
        for pdf in batches:
            payloads = [
                encode_protobuf(
                    {"tbl": t, "operation": o, "txid": int(x), "cents": int(c),
                     "trace": bytes([int(x) % 256]) * 3},
                    writer,
                )
                for t, o, x, c in zip(
                    pdf["tbl"], pdf["operation"], pdf["txid"], pdf["cents"]
                )
            ]
            yield pd.DataFrame({"payload": payloads})

    def decode(batches):
        for pdf in batches:
            rows = [decode_protobuf(bytes(p), reader) for p in pdf["payload"]]
            yield pd.DataFrame(rows, columns=["tbl", "operation", "txid", "cents"])

    wire = ev.mapInPandas(serialize, "payload binary")
    decoded = wire.mapInPandas(
        decode, "tbl string, operation string, txid long, cents long"
    )
    return decoded.groupBy("tbl", "operation").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.sum("txid").alias("sum_txid"),
    )


@query(
    "qc28_delivery_order_audit",
    oracle=_ORACLE_BASE
    + """
    , feed AS (
      -- at-least-once delivery simulation, derived from (txid, seq) only:
      -- every event whose (txid*31+seq) % 17 = 0 is delivered twice, and
      -- arrival order scrambles commit order via a deterministic jitter
      SELECT "table" AS tbl, seq, txid,
             txid * 1000 + seq * 10 + (txid + seq) % 7 AS arrival
      FROM envelope
      UNION ALL
      SELECT "table", seq, txid,
             txid * 1000 + seq * 10 + (txid + seq) % 7 + 100000000
      FROM envelope WHERE (txid * 31 + seq) % 17 = 0
    ), ordered AS (
      SELECT tbl, seq, txid, arrival,
             LAG(txid * 1000000 + seq) OVER w AS prev_pos,
             txid * 1000000 + seq AS pos,
             CASE WHEN COUNT(*) OVER (PARTITION BY tbl, txid, seq) > 1
                  THEN 1 ELSE 0 END AS dup_flag
      FROM feed
      WINDOW w AS (PARTITION BY tbl ORDER BY arrival, txid, seq)
    )
    SELECT tbl,
           CAST(COUNT(*) AS BIGINT) AS n_delivered,
           CAST(SUM(CASE WHEN prev_pos IS NOT NULL AND pos < prev_pos
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_regressions,
           CAST(SUM(dup_flag) / 2 AS BIGINT) AS n_duplicated_events,
           CAST(MAX(pos) AS BIGINT) AS high_watermark
    FROM ordered GROUP BY tbl
    """,
    tags=("cdc", "monitoring", "ordering", "audit"),
)
def qc28_delivery_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-side DELIVERY-ORDER audit — the monitor a CDC consumer
    runs against an at-least-once feed before trusting it: per table,
    how many deliveries arrived, how many POSITION REGRESSIONS occurred
    (an event with a lower (txid, seq) landing after a higher one —
    exactly what the reference's ordered publisher exists to prevent,
    publish_retry.py / waitforacks_test.go), how many events were
    delivered more than once (legal at-least-once redundancy that
    idempotent sinks absorb, qc11/qm04), and the high watermark.

    The feed is a deterministic simulation over the envelope keyed
    ONLY on (txid, seq) — every 17th event by a txid/seq hash doubles,
    arrival order jitters commit order within a table — so expected
    regression and duplicate counts are exact in both engines. One
    arrival-ordered window per table plus a dup-count window over the
    same partitioning; the report is |tables|-bounded. In production
    this alert feeds qc25's lag dashboard.
    """
    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir)
    parts = F.split(F.col("event_id"), ":")
    base = ev.select(
        F.col("table").alias("tbl"),
        F.col("txid"),
        F.element_at(parts, -1).cast("long").alias("seq"),
    )
    arrival = F.col("txid") * 1000 + F.col("seq") * 10 + (F.col("txid") + F.col("seq")) % 7
    once = base.select("tbl", "txid", "seq", arrival.alias("arrival"))
    dups = base.filter((F.col("txid") * 31 + F.col("seq")) % 17 == 0).select(
        "tbl", "txid", "seq", (arrival + 100000000).alias("arrival")
    )
    feed = once.unionByName(dups)
    wo = W.partitionBy("tbl").orderBy("arrival", "txid", "seq")
    pos = F.col("txid") * 1000000 + F.col("seq")
    ordered = feed.select(
        "tbl", "arrival", "txid", "seq",
        pos.alias("pos"),
        F.lag(pos).over(wo).alias("prev_pos"),
        F.when(
            F.count("*").over(W.partitionBy("tbl", "txid", "seq")) > 1, 1
        ).otherwise(0).alias("dup_flag"),
    )
    return ordered.groupBy("tbl").agg(
        F.count("*").alias("n_delivered"),
        F.sum(
            F.when(
                F.col("prev_pos").isNotNull() & (F.col("pos") < F.col("prev_pos")), 1
            ).otherwise(0)
        ).cast("long").alias("n_regressions"),
        (F.sum("dup_flag") / 2).cast("long").alias("n_duplicated_events"),
        F.max("pos").alias("high_watermark"),
    )


@query(
    "qc29_wire_e2e_pipeline",
    oracle=_ORACLE_BASE
    + """
    SELECT "table" AS tbl, operation,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN operation = 'DELETE' THEN 0
                         ELSE CAST(total_cents AS BIGINT) END) AS BIGINT)
             AS sum_cents,
           CAST(SUM(txid) AS BIGINT) AS sum_txid
    FROM envelope
    WHERE txid % 7 = 0
    GROUP BY tbl, operation
    """,
    tags=("cdc", "e2e", "socket", "protobuf", "network"),
)
def qc29_wire_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE job, wire-real at BOTH ends with binary
    payloads: PG-framed XLogData over a real TCP replication socket
    (with a scripted mid-stream disconnect + resume-from-acked-LSN) →
    distributed normalize → proto3-serialized envelopes published
    through the ordered ack-gated engine over a real TCP broker socket
    (with scripted transient failures forcing in-order retries) →
    consumer-side protobuf decode under a REDUCED reader schema
    (unknown-field skip per row) → aggregate. One query, every leg of
    internal/{wal,engine,publisher} composed: qc21 proves the source
    leg, qc22 the sink leg, qc27 the payload codec — this is the
    integration of all three, hash-checked against the source
    derivation. At-least-once broker redundancy is absorbed by msg-id
    (event_id) dedup, qc11's contract.

    The stream is sliced to txid % 7 = 0 (~2.4k events at sf0.01) —
    both socket legs are serial BY PROTOCOL (one replication socket,
    per-item ordered publish), exactly like the reference process; the
    slice keeps the serial legs honest but bounded while normalize,
    decode, and aggregation stay distributed.
    """
    import time as _time

    import pandas as pd

    from better_cdc_spark.cdc.replication import (
        ReplicationLoop,
        lsn_to_str,
        start_replication_command,
    )
    from better_cdc_spark.cdc.socket_wire import FakeWalServer, connect_wire
    from better_cdc_spark.codecs import decode_protobuf, encode_protobuf
    from better_cdc_spark.schemas import CHANGE_LOG_SCHEMA
    from better_cdc_spark.streaming.publish_retry import (
        OrderedPublishEngine,
        PublishItem,
        publish_and_checkpoint,
    )
    from better_cdc_spark.streaming.socket_broker import (
        BrokerScript,
        FakeBrokerServer,
        SocketPublishTransport,
    )

    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    changelog = synthesize_changelog_from_orders(orders).filter(
        F.col("xid") % 7 == 0
    )

    # -- leg 1: replication socket with disconnect + resume ------------
    rows = changelog.select(
        "ingest_seq", "action",
        F.to_json(F.struct(*changelog.columns)).alias("line"),
    ).collect()  # bounded slice feeds the serial wire
    rows.sort(key=lambda r: (int(r["ingest_seq"]), r["action"]))
    wal = [(1000 + i, r["line"].encode()) for i, r in enumerate(rows)]
    recovered: list[str] = []

    def on_payload(frame):
        recovered.append(frame.payload.decode())
        return lsn_to_str(frame.wal_start)

    with FakeWalServer(
        wal, keepalive_every=50, disconnect_after={0: len(wal) // 2}
    ) as srv:
        loop = ReplicationLoop(
            connect=lambda resume: connect_wire(
                "127.0.0.1", srv.port,
                start_replication_command("bcs_slot", resume),
            ),
            sleep=lambda s: None,
            standby_timeout_s=5.0,
        )
        loop.run(on_payload)
        assert loop.reconnects >= 1, "disconnect script did not fire"

    # -- distributed normalize -----------------------------------------
    lines_back = spark.createDataFrame(
        [(l,) for l in recovered], "line string"
    ).repartition(spark.sparkContext.defaultParallelism)
    ev = normalize_changelog(
        lines_back.select(F.from_json("line", CHANGE_LOG_SCHEMA).alias("r")).select("r.*"),
        database="testdb",
        allowlist=ALLOWLIST,
    ).select(
        "event_id", "subject", "lsn", "txid",
        F.col("table").alias("tbl"), "operation",
        F.coalesce(
            F.element_at(F.col("after"), "total_cents").cast("long"), F.lit(0)
        ).alias("cents"),
    )

    # -- leg 2: proto3 payloads over the broker socket ------------------
    writer = [(1, "event_id", "string"), (2, "tbl", "string"),
              (3, "operation", "string"), (4, "txid", "uint64"),
              (5, "cents", "sint64"), (15, "trace", "bytes")]
    reader = writer[:5]
    pub_rows = ev.collect()  # bounded: the reference's per-batch publish model
    pub_rows.sort(key=lambda r: (int(r["txid"]), r["event_id"]))
    batches: dict[int, list[PublishItem]] = {}
    for r in pub_rows:
        payload = encode_protobuf(
            {"event_id": r["event_id"], "tbl": r["tbl"],
             "operation": r["operation"], "txid": int(r["txid"]),
             "cents": int(r["cents"]), "trace": b"\x07\x07"},
            writer,
        )
        batches.setdefault(int(r["txid"]), []).append(
            PublishItem(
                subject=r["subject"], event_id=r["event_id"],
                payload=payload, position=r["lsn"],
            )
        )
    script = BrokerScript(
        fail_first={r["event_id"]: 1 for i, r in enumerate(pub_rows) if i % 13 == 0},
        # sparse drop_acks: each one costs a full publish timeout while
        # the client waits for the lost ack, so keep the set small and
        # the timeout tight — the duplication SEMANTICS need one firing
        drop_ack={r["event_id"] for i, r in enumerate(pub_rows) if i % 499 == 1},
    )
    engine = OrderedPublishEngine(
        max_publish_retries=3, publish_timeout_s=0.25,
        sleep=lambda s: _time.sleep(min(s, 0.002)),
    )
    with FakeBrokerServer(script) as srv:
        with SocketPublishTransport("127.0.0.1", srv.port) as tp:
            for txid in sorted(batches):
                items = batches[txid]
                result = publish_and_checkpoint(
                    engine, tp, items,
                    commit_position=items[-1].position,
                    checkpoint_cb=lambda pos: None,
                )
                assert result.is_complete(), f"tx {txid}: {result.first_error}"
        received = list(srv.received_payloads)
    assert engine.retry_count >= 1, "fail-nth never fired"
    assert len(received) > len({r["event_id"] for r in pub_rows} & {
        decode_protobuf(bytes(p), reader)["event_id"] for p in received
    }), "drop-ack duplication never fired"

    # -- leg 3: consumer-side decode (reduced schema) + dedup + agg -----
    wire = spark.createDataFrame(
        [(bytes(p),) for p in received], "payload binary"
    ).repartition(spark.sparkContext.defaultParallelism)

    def decode(batch_iter):
        for pdf in batch_iter:
            recs = [decode_protobuf(bytes(p), reader) for p in pdf["payload"]]
            yield pd.DataFrame(
                recs, columns=["event_id", "tbl", "operation", "txid", "cents"]
            )

    decoded = wire.mapInPandas(
        decode,
        "event_id string, tbl string, operation string, txid long, cents long",
    ).dropDuplicates(["event_id"])  # broker msg-id dedup (qc11 contract)
    return decoded.groupBy("tbl", "operation").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.sum("txid").alias("sum_txid"),
    )


@query(
    "qc33_nats_wire_publish",
    oracle=_ORACLE_BASE
    + """
    SELECT "table" AS tbl, operation,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN operation = 'DELETE' THEN 0
                         ELSE CAST(total_cents AS BIGINT) END) AS BIGINT)
             AS sum_cents,
           CAST(SUM(txid) AS BIGINT) AS sum_txid
    FROM envelope
    WHERE txid % 10 = 0
    GROUP BY tbl, operation
    """,
    tags=("cdc", "e2e", "nats", "network", "protocol"),
)
def qc33_nats_wire_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The publish leg over the REAL NATS client protocol, hash-checked
    at the gate: normalized CDC envelopes serialize to JSON and go out
    as HPUB frames with Nats-Msg-Id headers through
    streaming/nats_wire.py against a real-protocol JetStream-ack
    responder, under the full at-least-once gauntlet — scripted
    transient PubAck errors (in-order retry), a stored-but-dropped ack
    (timeout -> republish -> duplicate ack at the ORIGINAL sequence),
    and then the ENTIRE epoch re-published (crash-before-checkpoint).
    The consumer aggregates the broker's STORED stream — if msg-id
    dedup, ordered retry, or the ack protocol mishandled anything, the
    stored stream diverges from the source derivation and the hash
    fails. qc29 proved the custom-JSON-wire composition; this is the
    same contract on the actual NATS byte protocol (jetstream.go:99-125
    publish, :337-340 msg-id), so the remaining deploy-time swap is a
    TCP address.

    The stream is sliced to txid % 10 = 0 (the socket leg is serial BY
    PROTOCOL, like the reference's single publisher connection);
    normalize, consumer decode, and the aggregate stay distributed.
    """
    import time as _time

    from better_cdc_spark.streaming.nats_wire import (
        FakeNatsServer,
        NatsScript,
        NatsWireTransport,
    )
    from better_cdc_spark.streaming.publish_retry import (
        OrderedPublishEngine,
        PublishItem,
    )

    tune_for_oracle(spark)
    ev = _normalized(spark, sf_dir).filter(F.col("txid") % 10 == 0).select(
        "event_id",
        "subject",
        "lsn",
        "txid",
        F.col("table").alias("tbl"),
        "operation",
        F.coalesce(
            F.element_at(F.col("after"), "total_cents").cast("long"), F.lit(0)
        ).alias("cents"),
    )
    pub_rows = ev.collect()  # bounded: the reference's per-batch publish model
    pub_rows.sort(key=lambda r: (int(r["txid"]), r["event_id"]))
    items = [
        PublishItem(
            subject=r["subject"],
            event_id=r["event_id"],
            payload=json.dumps(
                {
                    "event_id": r["event_id"],
                    "tbl": r["tbl"],
                    "operation": r["operation"],
                    "txid": int(r["txid"]),
                    "cents": int(r["cents"]),
                },
                separators=(",", ":"),
            ).encode(),
            position=r["lsn"],
        )
        for r in pub_rows
    ]
    script = NatsScript(
        fail_first_n={r["event_id"]: 1 for i, r in enumerate(pub_rows) if i % 13 == 0},
        drop_ack_first_n={
            r["event_id"]: 1 for i, r in enumerate(pub_rows) if i % 499 == 1
        },
    )
    engine = OrderedPublishEngine(
        max_publish_retries=3,
        publish_timeout_s=0.25,
        sleep=lambda s: _time.sleep(min(s, 0.002)),
    )
    with FakeNatsServer(script) as srv:
        with NatsWireTransport("127.0.0.1", srv.port) as tp:
            result = engine.publish_with_retry(tp, items)
            assert result.is_complete(), f"epoch 1: {result.first_error}"
            # crash-before-checkpoint: the whole epoch redelivers
            result2 = engine.publish_with_retry(tp, items)
            assert result2.is_complete(), f"epoch 2: {result2.first_error}"
        assert engine.retry_count >= 1, "fail-nth never fired"
        dup_acked = [m for m in srv.messages if m["duplicate"]]
        assert len(dup_acked) >= len(items), "epoch redelivery never deduped"
        stored = [
            (m["msg_id"], m["subject"], bytes(m["payload"]).decode())
            for m in srv.messages
            if not m["duplicate"]
        ]

    wire = spark.createDataFrame(
        stored, "msg_id string, subject string, body string"
    ).repartition(spark.sparkContext.defaultParallelism)
    decoded = wire.select(
        F.from_json(
            "body",
            "event_id string, tbl string, operation string, "
            "txid long, cents long",
        ).alias("r")
    ).select("r.*")
    return decoded.groupBy("tbl", "operation").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("operation") == "DELETE", 0).otherwise(F.col("cents"))
        ).cast("long").alias("sum_cents"),
        F.sum("txid").cast("long").alias("sum_txid"),
    )


#: (version, field, type, has_default) — six schema generations of one
#: subject, exercising add-with-default, add-without-default, drop,
#: promotion (int->long, float->double), and an incompatible retype.
_SCHEMA_VERSIONS = [
    (1, "id", "int", False), (1, "name", "string", False),
    (2, "id", "long", False), (2, "name", "string", False),      # promote id
    (3, "id", "long", False), (3, "name", "string", False),
    (3, "region", "string", True),                               # add w/ default
    (4, "id", "long", False), (4, "region", "string", True),     # drop name
    (5, "id", "long", False), (5, "region", "string", True),
    (5, "score", "double", False),                               # add w/o default
    (6, "id", "string", False), (6, "region", "string", True),   # retype id: BREAKS
    (6, "score", "double", False),
]

_PROMOTABLE = [("int", "long"), ("int", "double"), ("long", "double"),
               ("float", "double")]


@query(
    "qc30_schema_compat_matrix",
    oracle=f"""
    WITH fields(v, f, t, has_default) AS (
      VALUES {", ".join(f"({v}, '{f}', '{t}', {str(d).upper()})" for v, f, t, d in _SCHEMA_VERSIONS)}
    ), promotable(wt, rt) AS (
      VALUES {", ".join(f"('{a}', '{b}')" for a, b in _PROMOTABLE)}
    ), pairs AS (
      SELECT r.v AS reader_v, w.v AS writer_v
      FROM (SELECT DISTINCT v FROM fields) r
      JOIN (SELECT DISTINCT v FROM fields) w ON w.v = r.v - 1
    ), viol AS (
      SELECT p.reader_v, p.writer_v, rf.f,
             CASE WHEN wf.f IS NULL AND NOT rf.has_default THEN 1
                  WHEN wf.f IS NOT NULL AND wf.t <> rf.t
                       AND NOT EXISTS (SELECT 1 FROM promotable pr
                                       WHERE pr.wt = wf.t AND pr.rt = rf.t)
                  THEN 1 ELSE 0 END AS bad
      FROM pairs p
      JOIN fields rf ON rf.v = p.reader_v
      LEFT JOIN fields wf ON wf.v = p.writer_v AND wf.f = rf.f
    )
    SELECT reader_v, writer_v,
           CAST(SUM(bad) AS BIGINT) AS n_violations,
           SUM(bad) = 0 AS backward_compatible
    FROM viol GROUP BY reader_v, writer_v
    """,
    tags=("cdc", "schema", "governance", "compat"),
)
def qc30_schema_compat_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-registry BACKWARD-compatibility matrix — the gate a CDC
    platform runs before accepting a producer's new schema (the Kafka
    schema-registry rule set): a reader at version N must decode data
    written at N−1, which holds iff every reader field is either
    present in the writer with the same or a promotable type
    (int→long, int/long/float→double — Avro's resolution rules,
    matching the codec in q01e) or carries a default. The fixture's
    six generations exercise promotion, add-with-default, drop,
    add-WITHOUT-default (breaks v4→v5), and a retype (breaks v5→v6) —
    so both failure modes appear in the matrix with exact violation
    counts, not just booleans.

    Schemas are plan-literal field tables in BOTH engines; the check is
    a reader-fields left-join writer-fields with an anti-semi on the
    promotion table — |fields|-scale work, trivially parallel over
    thousands of subjects in a real registry sweep.
    """
    tune_for_oracle(spark)
    fields = spark.createDataFrame(
        _SCHEMA_VERSIONS, "v int, f string, t string, has_default boolean"
    )
    promotable = spark.createDataFrame(_PROMOTABLE, "wt string, rt string")
    versions = fields.select("v").distinct()
    pairs = versions.alias("r").join(
        versions.alias("w"), F.expr("w.v = r.v - 1")
    ).select(F.col("r.v").alias("reader_v"), F.col("w.v").alias("writer_v"))
    rf = fields.select(
        F.col("v").alias("reader_v"), F.col("f"),
        F.col("t").alias("rt2"), "has_default",
    )
    wf = fields.select(
        F.col("v").alias("wv"), F.col("f").alias("wf"),
        F.col("t").alias("wt2"),
    )
    promo = promotable.select(
        F.col("wt").alias("wt2"), F.col("rt").alias("rt2"),
        F.lit(True).alias("promotable"),
    )
    joined = (
        pairs.join(rf, "reader_v")
        .join(wf, (F.col("writer_v") == F.col("wv")) & (F.col("f") == F.col("wf")), "left")
        .drop("wv")
        .join(F.broadcast(promo), ["wt2", "rt2"], "left")
    )
    bad = F.when(F.col("wf").isNull() & ~F.col("has_default"), 1).when(
        F.col("wf").isNotNull()
        & (F.col("wt2") != F.col("rt2"))
        & F.col("promotable").isNull(),
        1,
    ).otherwise(0)
    return (
        joined.select("reader_v", "writer_v", bad.alias("bad"))
        .groupBy("reader_v", "writer_v")
        .agg(
            F.sum("bad").cast("long").alias("n_violations"),
            (F.sum("bad") == 0).alias("backward_compatible"),
        )
    )


@query(
    "qc31_crdt_counter_merge",
    oracle="""
    WITH contrib AS (
      -- per (counter, node): cumulative inc/dec counters, monotone in seq
      SELECT o_orderkey % 50 AS counter, o_orderkey % 5 AS node,
             o_orderkey AS seq,
             SUM(CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END)
               OVER w AS inc_c,
             SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
               OVER w AS dec_c
      FROM orders
      WINDOW w AS (PARTITION BY o_orderkey % 50, o_orderkey % 5
                   ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING)
    ), feed AS (
      -- at-least-once, out-of-order delivery: every 4th state doubles
      SELECT * FROM contrib
      UNION ALL
      SELECT * FROM contrib WHERE seq % 4 = 0
    ), merged AS (
      -- the CRDT join semantics: per node take the MAX observed counters
      SELECT counter, node,
             CAST(MAX(inc_c) AS BIGINT) AS inc_c,
             CAST(MAX(dec_c) AS BIGINT) AS dec_c
      FROM feed GROUP BY counter, node
    )
    SELECT counter,
           CAST(SUM(inc_c) AS BIGINT) AS total_inc,
           CAST(SUM(dec_c) AS BIGINT) AS total_dec,
           CAST(SUM(inc_c) - SUM(dec_c) AS BIGINT) AS value
    FROM merged GROUP BY counter
    """,
    tags=("cdc", "crdt", "merge", "distributed"),
)
def qc31_crdt_counter_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PN-counter CRDT merge — the conflict-free convergence story for
    MULTI-master change capture (the reference is single-master WAL;
    multi-region counters are the canonical first CRDT): each node
    publishes its own monotone cumulative (increments, decrements)
    pair, and merge is per-node MAX — idempotent, commutative,
    associative, so an at-least-once, out-of-order feed (every 4th
    state update deliberately delivered twice here) converges to
    EXACTLY the true value, the qm08 bit_or discipline with MAX as
    the semilattice join. A non-CRDT sum over the same feed would
    double-count every duplicated delivery; the hash-checked value
    column is the proof it doesn't.

    Scale: per-(counter, node) MAX is one hash agg with map-side
    combine; state is |counters| × |nodes| regardless of update
    volume — why PN-counters are THE design for planet-scale counters.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy(F.col("o_orderkey") % 50, F.col("o_orderkey") % 5)
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    contrib = orders.select(
        (F.col("o_orderkey") % 50).alias("counter"),
        (F.col("o_orderkey") % 5).alias("node"),
        F.col("o_orderkey").alias("seq"),
        F.sum(F.when(F.col("o_orderkey") % 3 != 0, 1).otherwise(0))
        .over(w)
        .alias("inc_c"),
        F.sum(F.when(F.col("o_orderkey") % 3 == 0, 1).otherwise(0))
        .over(w)
        .alias("dec_c"),
    )
    feed = contrib.unionByName(contrib.filter(F.col("seq") % 4 == 0))
    merged = feed.groupBy("counter", "node").agg(
        F.max("inc_c").cast("long").alias("inc_c"),
        F.max("dec_c").cast("long").alias("dec_c"),
    )
    return merged.groupBy("counter").agg(
        F.sum("inc_c").cast("long").alias("total_inc"),
        F.sum("dec_c").cast("long").alias("total_dec"),
        (F.sum("inc_c") - F.sum("dec_c")).cast("long").alias("value"),
    )


@query(
    "qc32_transactional_outbox",
    oracle="""
    WITH business AS (
      SELECT o_orderkey AS okey,
             o_orderkey % 499 AS xid,
             CASE WHEN o_orderkey % 3 = 0 THEN 'orders' ELSE 'accounts' END
               AS tbl
      FROM orders
    ), outbox AS (
      -- the app writes one outbox event per business change IN THE SAME
      -- tx ... except the seeded dual-write bug (%13=5 forgets the
      -- event) and the seeded orphan (%17=3 emits a second event whose
      -- aggregate no longer exists)
      SELECT okey, xid, tbl FROM business WHERE okey % 13 <> 5
      UNION ALL
      SELECT okey + 1000000000, xid, tbl FROM business WHERE okey % 17 = 3
    ), joined AS (
      SELECT COALESCE(b.tbl, o.tbl) AS tbl,
             COALESCE(b.xid, o.xid) AS xid,
             CASE WHEN b.okey IS NOT NULL AND o.okey IS NOT NULL
                    THEN 'atomic'
                  WHEN b.okey IS NOT NULL THEN 'missed_event'
                  ELSE 'orphan_event' END AS status
      FROM business b
      FULL OUTER JOIN outbox o ON b.okey = o.okey AND b.xid = o.xid
    )
    SELECT tbl,
           CAST(SUM(CASE WHEN status = 'atomic' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_atomic,
           CAST(SUM(CASE WHEN status = 'missed_event' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missed_events,
           CAST(SUM(CASE WHEN status = 'orphan_event' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphan_events,
           CAST(COUNT(DISTINCT CASE WHEN status <> 'atomic' THEN xid END)
                AS BIGINT) AS n_dirty_tx
    FROM joined GROUP BY tbl
    """,
    tags=("cdc", "outbox", "audit", "integrity"),
)
def qc32_transactional_outbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSACTIONAL-OUTBOX consistency audit — the integration pattern
    a CDC feed exists to enable: the application writes an outbox
    event in the SAME database transaction as the business change, the
    CDC stream of the outbox table becomes the event feed, and
    dual-write bugs become IMPOSSIBLE — *if* the invariant actually
    holds. This query is the audit that proves it from the changelog:
    FULL OUTER JOIN business changes against outbox events on
    (tx, aggregate key), classifying atomic / missed_event (a business
    change whose tx wrote no event — the dual-write bug the pattern
    prevents) / orphan_event (an event referencing no business change
    — a leaked retry or manual insert). Both failure classes are
    seeded deterministically so every counter is exercised; n_dirty_tx
    is the per-table blast radius legal/ops actually asks for.

    Scale shape: one equi-key FULL OUTER JOIN on (okey, xid) — both
    sides shuffle once on the same key, no residuals — and a
    |tables|-bounded agg; at 100 TB the join co-locates if business
    and outbox extracts share PK bucketing (the qc24 note applies
    verbatim). Reference anchor: the ordered ack-gated publisher
    (publish_retry.py) delivers the outbox rows; this is the
    consumer-side proof the contract held end to end.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    business = orders.select(
        F.col("o_orderkey").alias("okey"),
        (F.col("o_orderkey") % 499).alias("xid"),
        F.when(F.col("o_orderkey") % 3 == 0, "orders")
        .otherwise("accounts").alias("tbl"),
    )
    outbox = business.filter(F.col("okey") % 13 != 5).unionByName(
        business.filter(F.col("okey") % 17 == 3).select(
            (F.col("okey") + 1000000000).alias("okey"), "xid", "tbl"
        )
    )
    b = business.alias("b")
    o = outbox.alias("o")
    joined = b.join(
        o, (F.col("b.okey") == F.col("o.okey")) & (F.col("b.xid") == F.col("o.xid")),
        "full_outer",
    ).select(
        F.coalesce(F.col("b.tbl"), F.col("o.tbl")).alias("tbl"),
        F.coalesce(F.col("b.xid"), F.col("o.xid")).alias("xid"),
        F.when(F.col("b.okey").isNotNull() & F.col("o.okey").isNotNull(), "atomic")
        .when(F.col("b.okey").isNotNull(), "missed_event")
        .otherwise("orphan_event")
        .alias("status"),
    )
    return joined.groupBy("tbl").agg(
        F.sum(F.when(F.col("status") == "atomic", 1).otherwise(0))
        .cast("long").alias("n_atomic"),
        F.sum(F.when(F.col("status") == "missed_event", 1).otherwise(0))
        .cast("long").alias("n_missed_events"),
        F.sum(F.when(F.col("status") == "orphan_event", 1).otherwise(0))
        .cast("long").alias("n_orphan_events"),
        F.countDistinct(
            F.when(F.col("status") != "atomic", F.col("xid"))
        ).cast("long").alias("n_dirty_tx"),
    )
