"""Streaming operator surface (SURVEY.md §2.2 Q04, Q06, Q80–Q87).

Each query drives a real Structured Streaming query on the finite events
file source synchronously (processAllAvailable), so the result is
deterministic and oracle-checkable: complete/update-mode results over a
finite stream equal the batch aggregation DuckDB computes.

Watermark append-mode emission timing (windows held until the watermark
passes) is covered by unit tests in tests/test_streaming.py — emission
timing is not SQL-expressible, the final state here is.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from better_cdc_spark.io import load_table
from better_cdc_spark.queries import query
from better_cdc_spark.queries import relational
from better_cdc_spark.queries.llm import _EXACT_JACCARD_ORACLE, _append_index_rows
from better_cdc_spark.queries.relational import _d, dec
from better_cdc_spark.scratch import scratch_dir
from better_cdc_spark.session import ckpt, tune_for_oracle
from better_cdc_spark.streaming.core import events_stream, run_to_memory
from better_cdc_spark.streaming.stateful import stateful_user_agg


@query(
    "q04_streaming_file_source",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "source"),
)
def q04_streaming_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source → grouped agg, complete mode (Q04)."""
    tune_for_oracle(spark)
    agg = (
        events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), _d(F.sum(dec("value"))).alias("sum_value"))
    )
    return run_to_memory(agg, mode="complete")


@query("q80_watermark_append", tags=("streaming", "watermark"))
def q80_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append-mode late-data handling (Q80, rows-only check).

    Append mode only emits windows the 10-minute watermark has passed, so
    the result is the finalized-window set — emission timing semantics
    that no batch SQL expresses (the late-DROP path is unit-tested in
    tests/test_streaming.py::test_watermark_drops_late_rows).
    """
    tune_for_oracle(spark)
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    return run_to_memory(agg, mode="append")


@query(
    "q81_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    tags=("streaming", "window"),
)
def q81_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute event-time window aggregation (Q81).

    Watermark bounds state at scale; complete mode on the finite stream
    makes the result equal the batch answer.
    """
    tune_for_oracle(spark)
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"), _d(F.sum(dec("value"))).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )
    return run_to_memory(agg, mode="complete")


@query(
    "q82_sliding_window",
    oracle="""
    SELECT s AS window_start, event_type, COUNT(*) AS n
    FROM events e,
         UNNEST([time_bucket(INTERVAL '5 minutes', e.ts),
                 time_bucket(INTERVAL '5 minutes', e.ts) - INTERVAL '5 minutes'])
           AS t(s)
    GROUP BY s, event_type
    """,
    tags=("streaming", "window"),
)
def q82_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10-minute length, 5-minute slide) per event type."""
    tune_for_oracle(spark)
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    return run_to_memory(agg, mode="complete")


@query(
    "q83_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '5 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, sess_id
    """,
    tags=("streaming", "session"),
)
def q83_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) per user (Q83).

    session_window works identically in batch and streaming; the oracle is
    the classic gaps-and-islands formulation. Session merge rule: an event
    at exactly prev_ts + gap starts a NEW session (window is [ts, ts+gap)).
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "5 minutes"))
        .agg(F.count("*").alias("n_events"), _d(F.sum(dec("value"))).alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q84_streaming_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "dedup"),
)
def q84_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id over a duplicated stream (R14/Q84).

    The stream is unioned with itself (every event arrives twice — the
    at-least-once replay case, cdc_recovery_test.go:12-122);
    dropDuplicates keeps exactly one copy per id — the JetStream
    DuplicateWindow analog with an unbounded window; production bounds
    state with dropDuplicatesWithinWatermark.
    """
    tune_for_oracle(spark)
    s1 = events_stream(spark, sf_dir)
    s2 = events_stream(spark, sf_dir)
    deduped = s1.unionByName(s2).dropDuplicates(["event_id"])
    # count(*) after dedup IS the distinct count (streaming forbids
    # distinct aggregates; the dedup operator holds the distinct state).
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return run_to_memory(agg, mode="complete")


@query(
    "q85_stateful_processing",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def q85_stateful_processing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key stateful operator via applyInPandasWithState (Q85).

    The state is a (count, decimal-cent sum) per user — the same machinery
    that implements transaction assembly (R5) when keyed by txid. Values
    are accumulated in integer cents so state updates are exact. The same
    operator as a Spark-4 StatefulProcessor is q85b (streaming.stateful;
    tws engine when protobuf is present, shim engine otherwise).
    """
    tune_for_oracle(spark)
    return _run_stateful_agg(spark, sf_dir, engine="legacy")


def _run_stateful_agg(spark: SparkSession, sf_dir: str, engine: str) -> DataFrame:
    # Rate-limited source: the per-key state MUST survive four epochs for
    # the final counts to match the batch answer — a single-batch stream
    # would pass even with broken state handling.
    out = stateful_user_agg(
        events_stream(spark, sf_dir, max_files_per_trigger=1), engine=engine
    )
    out_dir = scratch_dir("q85_sink")

    def write_batch(df: DataFrame, _epoch: int) -> None:
        df.write.mode("append").parquet(out_dir)

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", scratch_dir("q85_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # Keep the final state per key (events file may span several batches).
    res = spark.read.parquet(out_dir)
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


@query(
    "q85b_transform_with_state",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "tws"),
)
def q85b_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q85 as a Spark-4 StatefulProcessor (transformWithStateInPandas).

    Registered unconditionally: where the container carries google.protobuf
    (the tws state-server wire protocol needs it) the processor runs on
    transformWithStateInPandas + RocksDB; elsewhere the SAME
    StatefulProcessor instance executes on the shim engine
    (streaming/stateful.py: StatefulProcessor hosted on
    applyInPandasWithState, ValueState backed by GroupState). Either way
    the Spark-4 stateful code path is exercised and hash-checked."""
    tune_for_oracle(spark)
    return _run_stateful_agg(spark, sf_dir, engine="auto")


@query(
    "q86_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "join"),
)
def q86_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment join (Q86, the reference's dimension-lookup
    analog): the static side is broadcast to every task — no stream-side
    shuffle, the canonical 100 TB enrichment pattern."""
    tune_for_oracle(spark)
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.join(cust, stream.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), _d(F.sum(dec("value"))).alias("sum_value"))
    )
    return run_to_memory(agg, mode="complete")


@query(
    "q87_foreachbatch_idempotent_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "sink"),
)
def q87_foreachbatch_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch idempotent sink + checkpoint (Q06/Q87, R11/R12/R16).

    The same stream is delivered TWICE into one sink; the anti-join on
    event_id makes the second delivery a no-op (Nats-Msg-Id dedup analog).
    The returned counts prove effectively-once delivery.

    Deliberately the MINIMAL contract demo: the anti-join reads the whole
    sink, which is O(sink) per epoch. The production path is the bounded
    window — q87b and CDCStreamPipeline partition the sink by commit
    bucket and prune the dedup read to the batch's own buckets.
    """
    tune_for_oracle(spark)
    out_dir = scratch_dir("q87_sink")

    def idempotent_write(batch_df: DataFrame, _epoch: int) -> None:
        spark_ = batch_df.sparkSession
        try:
            existing = spark_.read.parquet(out_dir).select("event_id")
        except Exception:
            existing = batch_df.select("event_id").limit(0)
        fresh = batch_df.join(existing, "event_id", "left_anti")
        fresh.write.mode("append").parquet(out_dir)

    for _attempt in range(2):  # second run = full replay (kill/restart case)
        q = (
            events_stream(spark, sf_dir)
            .writeStream.foreachBatch(idempotent_write)
            .option("checkpointLocation", scratch_dir("q87_ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    sunk = spark.read.parquet(out_dir)
    return sunk.groupBy("event_type").agg(F.count("*").alias("n"))


@query(
    "q87b_windowed_idempotent_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "sink", "scale"),
)
def q87b_windowed_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window idempotent sink (Q87 at 100 TB; R11/R14).

    The scale-safe variant of q87: the sink is hive-partitioned by
    commit-DATE bucket (the analog of the reference's JetStream dedup
    window, config.go:100 / readme.md:118 — bucket width is a
    partitioning dial, dedup stays exact at any width because a replayed
    event carries the same deterministic timestamp ⇒ same bucket), and
    each micro-batch anti-joins ONLY the buckets its own events fall in.
    Partition pruning makes per-epoch dedup IO O(batch days) instead of
    O(sink size), with parquet min/max row-group skipping tightening it
    below the day via the pushed timestamp range. The stream is delivered
    TWICE (multi-batch via maxFilesPerTrigger); equality with the batch
    counts proves the second delivery was a no-op while never reading
    out-of-window partitions (each dedup read carries a commit_bucket
    partition filter; tests/test_plans.py pins the pruning in the plan).
    """
    tune_for_oracle(spark)
    window_s = 86400.0
    out_dir = scratch_dir("q87b_sink")

    def windowed_idempotent_write(batch_df: DataFrame, _epoch: int) -> None:
        spark_ = batch_df.sparkSession
        b = batch_df.withColumn(
            "commit_bucket",
            F.floor(F.unix_timestamp("ts") / F.lit(window_s)).cast("long"),
        ).transform(ckpt)
        # Bounded driver collect: the ONE micro-batch's day set + ts span.
        span = b.agg(
            F.collect_set("commit_bucket").alias("bks"),
            F.min("ts").alias("lo"),
            F.max("ts").alias("hi"),
        ).first()
        try:
            existing = (
                spark_.read.parquet(out_dir)
                .filter(F.col("commit_bucket").isin(span["bks"]))
                .filter(F.col("ts").between(span["lo"], span["hi"]))
                .select("event_id")
            )
        except Exception:
            existing = b.select("event_id").limit(0)
        fresh = b.join(existing, "event_id", "left_anti")
        if len(span["bks"] or []) > 32:  # backfill shape only
            fresh = fresh.repartition("commit_bucket")
        fresh.write.mode("append").partitionBy("commit_bucket").parquet(out_dir)

    for _attempt in range(2):  # second run = full replay (kill/restart case)
        q = (
            events_stream(spark, sf_dir, max_files_per_trigger=1)
            .writeStream.foreachBatch(windowed_idempotent_write)
            .option("checkpointLocation", scratch_dir("q87b_ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    sunk = spark.read.parquet(out_dir)
    return sunk.groupBy("event_type").agg(F.count("*").alias("n"))


@query(
    "q88_stream_stream_join",
    oracle="""
    SELECT s.user_id AS user_id, s.event_id AS signup_id, p.event_id AS purchase_id
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join", "stream-stream"),
)
def q88_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks + time-range bound.

    Signups matched to the same user's purchases within the following
    hour. Both sides carry a watermark and the join condition bounds
    event time on BOTH ends — exactly what lets Spark evict join state
    (a signup older than watermark − 1 h can never match again). Without
    the bound, state grows forever; this is the one streaming operator
    where the 100 TB concern is state size, not shuffle width. Over the
    finite ordered source nothing is evicted early, so the append-mode
    result equals the batch self-join the oracle runs.
    """
    tune_for_oracle(spark)
    ev = events_stream(spark, sf_dir)
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("s_user").alias("user_id"),
        "signup_id",
        "purchase_id",
    )
    return run_to_memory(joined, mode="append")


@query(
    "q89_multi_sink_fanout",
    oracle="""
    SELECT 'clean' AS sink, COUNT(*) AS n FROM events WHERE event_type <> 'error'
    UNION ALL
    SELECT 'dlq' AS sink, COUNT(*) AS n FROM events WHERE event_type = 'error'
    """,
    tags=("streaming", "sink", "dlq"),
)
def q89_multi_sink_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stream, two sinks, one commit boundary (R11 + R15 composed).

    foreachBatch is the only place Spark lets a stream write N sinks
    under a single checkpointed epoch: the batch splits into clean and
    dead-letter routes and both writes happen inside the same batch
    function — a replayed epoch re-writes BOTH consistently, never one.
    Splitting outside foreachBatch (two writeStreams) would double-read
    the source and commit the routes independently, letting a crash land
    clean and DLQ at different offsets.
    """
    tune_for_oracle(spark)
    clean_dir = scratch_dir("q89_clean")
    dlq_dir = scratch_dir("q89_dlq")

    def fan_out(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.persist()
        try:
            batch_df.filter(F.col("event_type") != "error").write.mode(
                "append"
            ).parquet(clean_dir)
            batch_df.filter(F.col("event_type") == "error").write.mode(
                "append"
            ).parquet(dlq_dir)
        finally:
            batch_df.unpersist()

    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", scratch_dir("q89_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    clean_n = spark.read.parquet(clean_dir).agg(
        F.lit("clean").alias("sink"), F.count("*").alias("n")
    )
    dlq_n = spark.read.parquet(dlq_dir).agg(
        F.lit("dlq").alias("sink"), F.count("*").alias("n")
    )
    return clean_n.unionByName(dlq_n)


@query(
    "q81b_incremental_rollup",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    tags=("streaming", "rollup", "ivm"),
)
def q81b_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate: a rollup table maintained incrementally.

    The hypertable-rollup pattern on immutable storage: the update-mode
    windowed aggregation re-emits a window's cumulative total whenever a
    batch touches it; foreachBatch appends those emissions (stamped with
    the epoch) to an append-only log, and readers keep the latest emission
    per window — merge-on-read IVM. Append-only means a replayed epoch
    re-appends identical rows and the keep-latest read is unaffected
    (idempotent under at-least-once). The final state must equal the
    from-scratch batch aggregate, which is exactly what the oracle checks.
    """
    tune_for_oracle(spark)
    log_dir = scratch_dir("q81b_log")

    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"), _d(F.sum(dec("value"))).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )

    def append_emissions(batch_df: DataFrame, epoch: int) -> None:
        batch_df.withColumn("epoch", F.lit(epoch)).write.mode("append").parquet(
            log_dir
        )

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(append_emissions)
        .option("checkpointLocation", scratch_dir("q81b_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    log = spark.read.parquet(log_dir)
    w = W.partitionBy("window_start").orderBy(F.col("epoch").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("window_start", "n", "sum_value")
    )


@query(
    "q88b_stream_stream_left_join",
    oracle="""
    WITH s AS (SELECT user_id, event_id AS signup_id, ts AS s_ts
               FROM events WHERE event_type = 'signup'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    matched AS (
      SELECT s.user_id, s.signup_id, p.purchase_id
      FROM s JOIN p ON s.user_id = p.user_id
       AND p.p_ts >= s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 1 HOUR
    ),
    unmatched AS (
      SELECT s.user_id, s.signup_id, CAST(NULL AS BIGINT) AS purchase_id
      FROM s
      WHERE NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = s.user_id
          AND p.p_ts >= s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 1 HOUR
      )
      -- Spark emits a null-matched left row only once the GLOBAL
      -- watermark (min over both inputs of max event time, minus the 2h
      -- delay) passes the s_ts + 1h join bound:
      AND s.s_ts + INTERVAL 1 HOUR <
          LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'signup'),
                (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
          - INTERVAL 2 HOUR
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    tags=("streaming", "join", "stream-stream", "outer"),
)
def q88b_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: null emission is watermark-gated.

    The semantics q88 can't show: an unmatched signup emits its
    null-purchase row only when the watermark proves no matching purchase
    can still arrive (watermark > s_ts + 1 h join bound). Signups younger
    than max_event_time − watermark_delay − window stay in state forever
    on a finite stream — the oracle encodes the exact eviction frontier,
    so the hash check verifies Spark's emission rule itself, not just the
    matched pairs.
    """
    tune_for_oracle(spark)
    signups = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        F.col("s_user").alias("user_id"),
        "signup_id",
        "purchase_id",
    )
    return run_to_memory(joined, mode="append")


@query(
    "q86b_stream_static_refresh",
    oracle="""
    WITH w1 AS (
      SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v FROM events
      WHERE event_id % 2 = 0
    ), w2 AS (
      SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v FROM events
      WHERE event_id % 2 = 1
    ), j AS (
      SELECT user_id % 3 AS tier, v FROM w1
      UNION ALL
      SELECT user_id % 3 + 10 AS tier, v FROM w2
    )
    SELECT tier, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sum_value
    FROM j GROUP BY tier
    """,
    tags=("streaming", "join", "stream-static", "refresh"),
)
def q86b_stream_static_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join where the static dim MUTATES between epochs —
    the slowly-changing-reference-data pattern q86 can't show.

    The gotcha this query pins: a static DataFrame created once outside
    the stream caches its file listing (InMemoryFileIndex) at plan time,
    so dim updates NEVER become visible to later micro-batches. The
    production pattern — used here — re-reads the dim INSIDE foreachBatch,
    so each epoch resolves the current dim version. Epoch 1 (even
    event_ids) joins dim v1 (tier = user % 3); the dim is overwritten;
    epoch 2 (odd event_ids) joins v2 (tier = user % 3 + 10). The oracle
    encodes exactly that wave↦version pairing, so the hash check fails if
    either epoch saw the wrong dim.

    Scale: the dim re-read is one listing + broadcast per epoch — the
    same cost Spark pays for any dim join; correctness, not cost, is why
    the re-read must live inside the batch function.
    """
    tune_for_oracle(spark)

    from better_cdc_spark.io import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("value").cast("decimal(18,2)").alias("v")
    )
    src = scratch_dir("q86b_src")
    dim_dir = scratch_dir("q86b_dim")
    out_dir = scratch_dir("q86b_out")
    ck = scratch_dir("q86b_ck")

    users = events.select("user_id").distinct()

    def write_dim(version: int) -> None:
        tier = F.col("user_id") % 3 + (0 if version == 1 else 10)
        users.select("user_id", tier.cast("long").alias("tier")).write.mode(
            "overwrite"
        ).parquet(dim_dir)

    from better_cdc_spark.streaming.core import stage_numbered_file, stamp_ordered_mtimes

    def stage_wave(parity: int) -> None:
        # deterministic wave-NNNN names: appended uuid part names would
        # make name-ordered stamping scramble the wave sequence
        stage_numbered_file(events.filter(F.col("event_id") % 2 == parity), src, parity)
        stamp_ordered_mtimes(src, "wave-*")

    def step(batch_df: DataFrame, _epoch: int) -> None:
        spark_ = batch_df.sparkSession
        dim = F.broadcast(spark_.read.parquet(dim_dir))  # re-read EVERY epoch
        batch_df.join(dim, "user_id").select("tier", "v").write.mode("append").parquet(
            out_dir
        )

    def run_once() -> None:
        q = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(step)
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    stage_wave(0)
    write_dim(1)
    run_once()
    stage_wave(1)
    write_dim(2)
    run_once()

    joined = spark.read.parquet(out_dir)
    return joined.groupBy("tier").agg(
        F.count("*").alias("n"), F.sum("v").cast("double").alias("sum_value")
    )


@query(
    "q88d_stream_stream_full_join",
    oracle="""
    WITH s AS (SELECT user_id, event_id AS signup_id, ts AS s_ts
               FROM events WHERE event_type = 'signup'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'signup'),
                        (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
                  - INTERVAL 2 HOUR AS w),
    matched AS (
      SELECT s.user_id, s.signup_id, p.purchase_id
      FROM s JOIN p ON s.user_id = p.user_id
       AND p.p_ts >= s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 1 HOUR
    ),
    unmatched_s AS (
      SELECT s.user_id, s.signup_id, CAST(NULL AS BIGINT) AS purchase_id
      FROM s, wm
      WHERE NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = s.user_id
          AND p.p_ts >= s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 1 HOUR
      )
      AND s.s_ts + INTERVAL 1 HOUR < wm.w
    ),
    unmatched_p AS (
      SELECT p.user_id, CAST(NULL AS BIGINT) AS signup_id, p.purchase_id
      FROM p, wm
      WHERE NOT EXISTS (
        SELECT 1 FROM s WHERE s.user_id = p.user_id
          AND p.p_ts >= s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 1 HOUR
      )
      AND p.p_ts < wm.w
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched_s
    UNION ALL SELECT * FROM unmatched_p
    """,
    tags=("streaming", "join", "stream-stream", "outer"),
)
def q88d_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join: both null frontiers, one query.

    Completes the q88 family (inner/left/semi → full): unmatched signups
    emit once the watermark passes their s_ts + 1 h join bound (same
    frontier as q88b), and unmatched purchases emit once it passes p_ts —
    the range condition s_ts ∈ [p_ts − 1 h, p_ts] means no admissible
    signup can arrive after the watermark crosses p_ts itself. The oracle
    encodes BOTH eviction frontiers, so the hash check pins Spark's
    two-sided emission rule, not just the matched pairs. State size is the
    same as the left join's: both sides evict on their respective
    frontiers; a full outer join costs no extra state over left, only the
    extra null emissions.
    """
    tune_for_oracle(spark)
    signups = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select(
        F.coalesce(F.col("s_user"), F.col("p_user")).alias("user_id"),
        "signup_id",
        "purchase_id",
    )
    return run_to_memory(joined, mode="append")


@query(
    "q04b_rate_limited_source",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "source", "rate-limit"),
)
def q04b_rate_limited_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited multi-batch source: maxFilesPerTrigger=1 over 4 splits.

    The file-source analog of Kafka's maxOffsetsPerTrigger — the knob that
    bounds per-batch work (and therefore end-to-end latency and state
    churn) when a backlogged 100 TB topic would otherwise arrive as one
    giant first batch. Four micro-batches flow through the SAME running
    aggregation state; the final complete-mode table must equal the batch
    answer, proving state carries correctly across epochs (single-batch
    streams can't test that at all — tests/test_streaming.py asserts the
    batch count).
    """
    tune_for_oracle(spark)
    agg = (
        events_stream(spark, sf_dir, max_files_per_trigger=1)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), _d(F.sum(dec("value"))).alias("sum_value"))
    )
    return run_to_memory(agg, mode="complete")


@query(
    "q04c_available_now_trigger",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "source", "trigger"),
)
def q04c_available_now_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow: drain the backlog in RATE-LIMITED batches and
    stop on its own — the modern replacement for Trigger.Once, which
    ignored maxFilesPerTrigger and loaded the entire backlog as one giant
    batch (the OOM path for a 100 TB catch-up job). Four staged splits ×
    maxFilesPerTrigger=1 must flow as ≥4 micro-batches through one
    aggregation state, terminate without processAllAvailable, and equal
    the batch answer.
    """
    tune_for_oracle(spark)

    agg = (
        events_stream(spark, sf_dir, max_files_per_trigger=1)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), _d(F.sum(dec("value"))).alias("sum_value"))
    )
    name = "q04c_mem"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_dir("q04c_ck"))
        .start()
    )
    q.awaitTermination()  # AvailableNow terminates by itself — no stop()
    n_batches = len(q.recentProgress)
    assert n_batches >= 4, f"expected >=4 rate-limited batches, got {n_batches}"
    return spark.table(name)


@query(
    "q84b_dedup_within_watermark",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "dedup", "watermark"),
)
def q84b_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark (Q84's
    production form — the reference's 2-minute DuplicateWindow, R14).

    q84's dropDuplicates holds every seen key forever; the watermark
    variant evicts keys older than the delay, so state is bounded by the
    duplicate window instead of stream length — the ONLY viable shape at
    100 TB. Replays here arrive within the window (the same finite stream
    unioned with itself), so the result still equals the batch distinct
    count.
    """
    tune_for_oracle(spark)
    s1 = events_stream(spark, sf_dir).withWatermark("ts", "2 minutes")
    s2 = events_stream(spark, sf_dir).withWatermark("ts", "2 minutes")
    deduped = s1.unionByName(s2).dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return run_to_memory(agg, mode="complete")


@query(
    "q88c_stream_stream_semi_join",
    oracle="""
    SELECT s.user_id, s.event_id AS signup_id, s.ts AS s_ts
    FROM events s
    WHERE s.event_type = 'signup' AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
          AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    )
    """,
    tags=("streaming", "join", "stream-stream", "semi"),
)
def q88c_stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI stream-stream join: streaming EXISTS.

    'Which signups converted within the hour' without materializing the
    (signup x purchase) match pairs q88 produces — a signup emits once on
    its first match and never again, so output is bounded by the left
    stream regardless of purchase fan-in. Same two-ended time bound =>
    same evictable state; the oracle is the batch EXISTS.
    """
    tune_for_oracle(spark)
    signups = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).select(F.col("s_user").alias("user_id"), "signup_id", "s_ts")
    return run_to_memory(joined, mode="append")


@query(
    "q81c_streaming_ohlc",
    oracle=relational.OHLC_ORACLE_SQL,
    tags=("streaming", "window", "ohlc"),
)
def q81c_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OHLC bars — q44c's hypertable rollup maintained
    incrementally by Structured Streaming: per (user, 1-hour event-time
    window), open/close via min_by/max_by over the (ts, event_id)
    ordering struct INSIDE the streaming aggregation state. Each
    micro-batch folds new events into 5-scalar-per-bar state (the
    mergeable-partial-agg property q44c's batch plan exploits is exactly
    what makes the operator streamable); the watermark closes bars for
    eviction at scale. The oracle is the batch OHLC over the full
    stream — complete mode on the finite stream must equal it, bar for
    bar, tick for tick (tie-broken open/close, not first-arrival).
    """
    tune_for_oracle(spark)
    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        dec("value").alias("v"),
        F.struct("ts", "event_id").alias("ord"),
    )
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(
            F.round(F.min_by("v", "ord").cast("double"), 2).alias("open"),
            F.round(F.max("v").cast("double"), 2).alias("high"),
            F.round(F.min("v").cast("double"), 2).alias("low"),
            F.round(F.max_by("v", "ord").cast("double"), 2).alias("close"),
            F.count("*").alias("n_events"),
            F.round(F.sum("v").cast("double"), 2).alias("volume"),
        )
        .select(
            "user_id",
            F.col("window.start").alias("bar_ts"),
            "open", "high", "low", "close", "n_events", "volume",
        )
    )
    return run_to_memory(agg, mode="complete")


@query(
    "qm04_txlog_streaming_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "sink", "acid", "txlog"),
)
def qm04_txlog_streaming_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch → ACID commit log: the effectively-once sink with NO
    dedup read at all. Each micro-batch appends to a TxLogTable carrying
    the writer token (app_id='events_sink', txn_version=epoch_id); the
    commit and the token land in ONE atomic log entry, so a replayed
    epoch — here a FULL second run of the stream from a fresh checkpoint
    replaying every epoch — is acknowledged as a no-op without reading a
    single stored row. Contrast with q87/q87b, which implement the same
    contract by anti-joining the sink (bounded by partition pruning):
    the commit-log token turns per-epoch dedup IO from O(batch window)
    into O(1), which is why real table formats carry txn actions.

    Crash-safety inherited from txlog.py: data files are invisible until
    their commit, so a crash between write and commit re-runs the epoch
    cleanly instead of double-counting (tests/test_txlog.py pins the
    torn-state and race cases). The multi-batch stream (rate-limited
    file source) produces several epochs, so the token floor is
    exercised across distinct versions, not just one. Token dedup
    presumes DETERMINISTIC epoch replay (same offsets ⇒ same rows) —
    exactly Spark's replayable-source contract; a source that can't
    promise it needs the content-keyed anti-join (q87b) instead.
    """
    from better_cdc_spark.txlog import TxLogTable

    tune_for_oracle(spark)
    table = TxLogTable(spark, scratch_dir("qm04_txlog_sink"))

    def commit_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        table.append(
            batch_df.select("event_id", "event_type"),
            app_id="events_sink",
            txn_version=int(epoch_id),
        )

    for _attempt in range(2):  # second run = full replay (kill/restart case)
        q = (
            events_stream(spark, sf_dir, max_files_per_trigger=1)
            .writeStream.foreachBatch(commit_epoch)
            .option("checkpointLocation", scratch_dir("qm04_ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    # Token dedup across a FRESH-checkpoint replay presumes the file
    # source batches files into identical epochs both runs. That holds
    # here (mtime+path-ordered listing, one file per trigger), but a
    # differently-broken tie would silently drop or double-count — so
    # assert the invariant post-hoc and fail LOUDLY instead.
    sink_rows = table.read().count()
    src_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    if sink_rows != src_rows:
        raise AssertionError(
            f"qm04 replay nondeterminism: sink={sink_rows} source={src_rows}"
        )

    return table.read().groupBy("event_type").agg(F.count("*").alias("n"))


@query(
    "qm05_streaming_lsh_dedup",
    oracle=_EXACT_JACCARD_ORACLE,
    tags=("streaming", "llm", "dedup", "minhash", "incremental"),
    oracle_scales=("0.001", "0.01", "0.1"),  # probed recall == 1.0 only at these sfs
)
def qm05_streaming_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental MinHash-LSH near-dup dedup — q95aa's
    batch-incremental algorithm in its production harness: a Structured
    Streaming file source delivers document batches (maxFilesPerTrigger
    = 1 → one micro-batch per arrival file) and foreachBatch runs the
    per-batch step — sign the batch once, PROBE the persisted
    pb-partitioned band index (file-listing-time pruning), union
    within-batch candidates from the band self-join, append discovered
    pairs to a result sink, append the batch's rows to the index. The
    corpus is never re-scanned; per-epoch cost is O(batch + probed
    files + candidates) — the continuously-crawling 100 TB form.

    The correctness theorem rides IN-QUERY: every unordered pair has
    exactly one discovery event regardless of epoch order, so the union
    over epochs must EQUAL the one-shot candidate set over the whole
    corpus — asserted here against llmops.minhash_candidate_pairs
    before returning, then exact-Jaccard verified over involved docs
    only. Full value-hash oracle since r8 (was rows-only): the sketch is
    deterministic and banding recall is exactly 1.0 on this corpus at
    the driver scales (probed; see _EXACT_JACCARD_ORACLE's note in
    queries/llm.py), so the exact all-pairs truth is the oracle; emitted
    pairs are guaranteed true positives, and the batch-side equality and
    pruning plans are pinned by q95aa's tests.
    """
    from better_cdc_spark import llmops
    from better_cdc_spark.queries.llm import JACCARD_THRESHOLD

    tune_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    arrivals = scratch_dir("qm05_arrivals")
    for b in range(3):  # three arrival files = three micro-batches
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    index_dir = scratch_dir("qm05_band_index")
    cand_dir = scratch_dir("qm05_candidates")
    _open_cost_key = "spark.sql.files.openCostInBytes"
    _prev = spark.conf.get(_open_cost_key, None)
    spark.conf.set(_open_cost_key, str(64 * 1024))
    import os

    def lsh_step(batch_df: DataFrame, epoch_id: int) -> None:
        rows = llmops.lsh_band_rows(batch_df).transform(ckpt)
        cands = None
        if os.path.isdir(index_dir) and any(
            f for f in os.listdir(index_dir) if not f.startswith("_")
        ):
            probe_pbs = [r["pb"] for r in rows.select("pb").distinct().collect()]
            idx = spark.read.parquet(index_dir).filter(F.col("pb").isin(probe_pbs))
            cands = (
                idx.select(F.col("doc_id").alias("doc_a"), "band", "key")
                .join(
                    rows.select(F.col("doc_id").alias("doc_b"), "band", "key"),
                    ["band", "key"],
                )
                .select("doc_a", "doc_b")
            )
        a, bb = rows.alias("a"), rows.alias("b")
        within = a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        cands = within if cands is None else cands.unionByName(within)
        (
            cands.select(
                F.least("doc_a", "doc_b").alias("lo"),
                F.greatest("doc_a", "doc_b").alias("hi"),
            )
            .select(F.col("lo").alias("doc_a"), F.col("hi").alias("doc_b"))
            .distinct()
            .write.mode("append").parquet(cand_dir)  # sink BEFORE index grows
        )
        _append_index_rows(rows, index_dir, rows.count())

    try:
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals)
            .writeStream.foreachBatch(lsh_step)
            .option("checkpointLocation", scratch_dir("qm05_ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        # restore even on failure — leaking the 64 KiB override would
        # skew every later query's split planning in the shared session
        if _prev is None:
            spark.conf.unset(_open_cost_key)
        else:
            spark.conf.set(_open_cost_key, _prev)

    streamed = spark.read.parquet(cand_dir).transform(ckpt)
    # the theorem, asserted: streamed discovery == one-shot candidates
    one_shot = llmops.minhash_candidate_pairs(docs, "doc_id").transform(ckpt)
    n_stream, n_one = streamed.count(), one_shot.count()
    n_common = streamed.join(one_shot, ["doc_a", "doc_b"]).count()
    if not (n_stream == n_one == n_common):
        raise AssertionError(
            f"streamed candidates diverged: {n_stream} vs one-shot {n_one},"
            f" common {n_common}"
        )
    involved = (
        streamed.select(F.col("doc_a").alias("doc_id"))
        .union(streamed.select("doc_b"))
        .distinct()
    )
    postings = llmops.shingle_postings(
        docs.join(involved, "doc_id", "left_semi")
    ).transform(ckpt)
    verified = llmops.jaccard_for_pairs(postings, streamed, materialize=False)
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


@query(
    "qm06_streaming_ahash_dedup",
    oracle="""
    WITH v AS MATERIALIZED (
      SELECT doc_id, t.j,
             ((doc_id % 40) * 13 + ((t.j * t.j * 7) % 64) * 3) % 200 + 28
             + CASE WHEN (doc_id // 40) % 4 > 0
                     AND t.j = (doc_id % 40 + (doc_id // 40) % 4) % 64
                    THEN 1 ELSE 0 END AS val
      FROM documents, UNNEST(range(64)) AS t(j)
    ),
    s AS (SELECT doc_id, SUM(val) AS total FROM v GROUP BY doc_id),
    bands AS MATERIALIZED (
      SELECT v.doc_id, v.j // 16 AS k,
             CAST(SUM(CASE WHEN v.val * 64 > s.total
                           THEN 1 << CAST(v.j % 16 AS INTEGER)
                           ELSE 0 END) AS BIGINT) AS bv
      FROM v JOIN s ON v.doc_id = s.doc_id
      GROUP BY v.doc_id, v.j // 16
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT c.d1, c.d2,
           CAST(SUM(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
    FROM cand c
    JOIN bands x ON x.doc_id = c.d1
    JOIN bands y ON y.doc_id = c.d2 AND y.k = x.k
    GROUP BY c.d1, c.d2
    HAVING SUM(bit_count(xor(x.bv, y.bv))) <= 3
    """,
    tags=("streaming", "llm", "multimodal", "dedup", "incremental"),
)
def qm06_streaming_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental image near-dup — q99u's per-batch aHash
    step in its production harness (a Structured Streaming file source,
    one micro-batch per arrival file, foreachBatch running
    decode→hash→probe→append against the persisted pb-partitioned band
    index). The image corpus is never re-decoded or re-scanned;
    per-epoch cost is O(batch + probed files + candidates).

    First streaming entry with a FULL value-hash oracle: aHash banding
    is deterministic and every unordered pair has exactly one discovery
    event in WHATEVER order epochs arrive, so the union over epochs is
    set-equal to the one-shot q99q result — the oracle checks the
    actual pairs and hamming distances, not just row counts.
    """
    import os

    from better_cdc_spark.queries.llm import _ahash_band_hashes

    tune_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    arrivals = scratch_dir("qm06_arrivals")
    for b in range(3):  # three arrival files = three micro-batches
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    index_dir = scratch_dir("qm06_band_index")
    cand_dir = scratch_dir("qm06_candidates")
    n_buckets = 32
    hamming = sum(
        F.bit_count(F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")))
        for k in range(4)
    )
    _open_cost_key = "spark.sql.files.openCostInBytes"
    _prev = spark.conf.get(_open_cost_key, None)
    spark.conf.set(_open_cost_key, str(64 * 1024))

    def ahash_step(batch_df: DataFrame, epoch_id: int) -> None:
        rows = (
            _ahash_band_hashes(batch_df)
            .select(
                "doc_id", "b0", "b1", "b2", "b3",
                F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("k", "bv"),
            )
            .withColumn(
                "pb", F.col("k") * n_buckets + F.pmod(F.col("bv"), n_buckets)
            )
            .transform(ckpt)
        )

        def canon(joined):
            return joined.select(
                F.least("a.doc_id", "b.doc_id").alias("d1"),
                F.greatest("a.doc_id", "b.doc_id").alias("d2"),
                hamming.cast("long").alias("hamming"),
            )

        pairs = None
        if os.path.isdir(index_dir) and any(
            f for f in os.listdir(index_dir) if not f.startswith("_")
        ):
            probe_pbs = [r["pb"] for r in rows.select("pb").distinct().collect()]
            idx = spark.read.parquet(index_dir).filter(
                F.col("pb").isin(probe_pbs)
            )
            pairs = canon(
                idx.alias("a").join(
                    rows.alias("b"),
                    (F.col("a.k") == F.col("b.k"))
                    & (F.col("a.bv") == F.col("b.bv")),
                )
            )
        within = canon(
            rows.alias("a").join(
                rows.alias("b"),
                (F.col("a.k") == F.col("b.k"))
                & (F.col("a.bv") == F.col("b.bv"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
        )
        pairs = within if pairs is None else pairs.unionByName(within)
        (
            pairs.filter(F.col("hamming") <= 3)
            .distinct()
            .write.mode("append")
            .parquet(cand_dir)  # sink BEFORE the index grows
        )
        _append_index_rows(rows, index_dir, rows.count())

    try:
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals)
            .writeStream.foreachBatch(ahash_step)
            .option("checkpointLocation", scratch_dir("qm06_ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        if _prev is None:
            spark.conf.unset(_open_cost_key)
        else:
            spark.conf.set(_open_cost_key, _prev)

    return spark.read.parquet(cand_dir)


@query(
    "qm08_streaming_bitmap_index",
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
    tags=("streaming", "bitmap", "incremental"),
)
def qm08_streaming_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental audience bitmaps — q48's overlap matrix
    maintained under event arrival instead of recomputed: each micro-
    batch folds its members into per-(segment, chunk) 63-bit words and
    APPENDS the partial words; the read side OR-merges partials per
    (segment, chunk) before the popcount pair join.

    bit_or is commutative, associative, and idempotent, so the merged
    index is EXACTLY the one-shot bitmap in any arrival order and under
    duplicate membership events — which is why this streaming entry
    carries q48's FULL value-hash oracle verbatim (the qm06 discipline:
    incremental == one-shot as a hash check, not a row count).

    Scale: per-epoch cost is O(batch) — one narrow map + one
    (segment, chunk)-keyed partial agg, no read-modify-write of the
    index and no scan of prior epochs at write time; the OR-collapse at
    read is bounded by index words x epochs, and a periodic compaction
    (re-append the OR-merge, drop old partials) keeps that factor O(1)
    — same shape as q87b's commit-bucket sink maintenance.
    """
    tune_for_oracle(spark)
    events = load_table(spark, sf_dir, "events").select("event_type", "user_id")

    arrivals = scratch_dir("qm08_arrivals")
    for b in range(3):  # three arrival files = three micro-batches
        events.filter(F.col("user_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    index_dir = scratch_dir("qm08_words")

    def bitmap_step(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.distinct()
            .select(
                "event_type",
                F.expr("user_id div 63").alias("chunk"),
                F.expr("shiftleft(1L, cast(user_id % 63 as int))").alias("bit"),
            )
            .groupBy("event_type", "chunk")
            .agg(F.expr("bit_or(bit)").alias("mask"))
            .coalesce(1)
            .write.mode("append")
            .parquet(index_dir)
        )

    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(bitmap_step)
        .option("checkpointLocation", scratch_dir("qm08_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    bm = (
        spark.read.parquet(index_dir)
        .groupBy("event_type", "chunk")
        .agg(F.expr("bit_or(mask)").alias("mask"))
    )
    sizes = bm.groupBy("event_type").agg(F.sum(F.bit_count("mask")).alias("sz"))
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
    "qm07_incremental_matview",
    oracle="""
    WITH final_state AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 7 THEN 'R'
                  ELSE o_orderstatus END AS grp,
             CAST(round(o_totalprice * 100, 0) AS BIGINT)
               + CASE WHEN o_orderkey % 10 = 6 THEN 250 ELSE 0 END AS cents
      FROM orders
      WHERE o_orderkey % 10 <> 9          -- deleted rows
    )
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM final_state GROUP BY grp
    """,
    tags=("streaming", "cdc", "incremental", "matview"),
)
def qm07_incremental_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (IVM) from a CDC change
    stream — the canonical CONSUMER of a CDC engine's output: a grouped
    aggregate view (COUNT + SUM per status) kept current by folding
    insert/update/delete DELTAS, never re-scanning the base table.

    A deterministic changelog is synthesized from `orders`: every key
    INSERTs; keys ending in 6 then UPDATE the price (+250 cents), keys
    ending in 7 UPDATE the status to 'R' (a GROUP-CHANGING update —
    the case that breaks naive "update in place" maintenance), keys
    ending in 9 DELETE. Each event is expanded to retraction algebra:
    INSERT -> (+1, +v) at the new group; DELETE -> (-1, -v) at the old
    group; UPDATE -> both, possibly at different groups. foreachBatch
    appends per-batch PARTIAL (grp, dn, dsum) aggregates; the read side
    sums partials and drops groups whose count retracted to zero.

    Deltas commute, so the merged view equals the batch aggregate of
    the final state in ANY micro-batch arrival order — which is why
    this streaming entry carries a FULL value-hash oracle (the qm08
    discipline) computing the view directly from the final state.

    Scale: per-epoch cost is O(batch) — a narrow delta expansion plus a
    |groups|-bounded partial agg, no read-modify-write of the view and
    no base-table scan; read-side merge is bounded by groups x epochs
    with the same periodic-compaction story as qm08. This is how
    SUM/COUNT/AVG views stay fresh under 100 TB of base data: deltas
    are self-maintainable. MIN/MAX under deletes are NOT (a retracted
    max needs a per-group rescan) — that variant needs the qc20-style
    chunk recompute instead, deliberately out of scope here.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    last = F.col("o_orderkey") % 10
    base = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("cents"),
        last.alias("last"),
    )
    inserts = base.select(
        "okey",
        F.lit("INSERT").alias("op"),
        F.lit(None).cast("string").alias("g_old"),
        F.lit(None).cast("long").alias("v_old"),
        F.col("status").alias("g_new"),
        F.col("cents").alias("v_new"),
    )
    upd_price = base.filter(F.col("last") == 6).select(
        "okey",
        F.lit("UPDATE").alias("op"),
        F.col("status").alias("g_old"),
        F.col("cents").alias("v_old"),
        F.col("status").alias("g_new"),
        (F.col("cents") + 250).alias("v_new"),
    )
    upd_group = base.filter(F.col("last") == 7).select(
        "okey",
        F.lit("UPDATE").alias("op"),
        F.col("status").alias("g_old"),
        F.col("cents").alias("v_old"),
        F.lit("R").alias("g_new"),
        F.col("cents").alias("v_new"),
    )
    deletes = base.filter(F.col("last") == 9).select(
        "okey",
        F.lit("DELETE").alias("op"),
        F.col("status").alias("g_old"),
        F.col("cents").alias("v_old"),
        F.lit(None).cast("string").alias("g_new"),
        F.lit(None).cast("long").alias("v_new"),
    )
    changelog = inserts.unionByName(upd_price).unionByName(upd_group).unionByName(deletes)

    arrivals = scratch_dir("qm07_changelog")
    for b in range(3):  # three arrival files = three micro-batches
        changelog.filter(F.col("okey") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    partials = scratch_dir("qm07_partials")

    def ivm_step(batch_df: DataFrame, epoch_id: int) -> None:
        retract = batch_df.filter(F.col("g_old").isNotNull()).select(
            F.col("g_old").alias("grp"),
            F.lit(-1).cast("long").alias("dn"),
            (-F.col("v_old")).alias("dsum"),
        )
        assert_ = batch_df.filter(F.col("g_new").isNotNull()).select(
            F.col("g_new").alias("grp"),
            F.lit(1).cast("long").alias("dn"),
            F.col("v_new").alias("dsum"),
        )
        (
            retract.unionByName(assert_)
            .groupBy("grp")
            .agg(F.sum("dn").alias("dn"), F.sum("dsum").alias("dsum"))
            .coalesce(1)
            .write.mode("append")
            .parquet(partials)
        )

    q = (
        spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(ivm_step)
        .option("checkpointLocation", scratch_dir("qm07_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    return (
        spark.read.parquet(partials)
        .groupBy("grp")
        .agg(F.sum("dn").alias("n_rows"), F.sum("dsum").alias("sum_cents"))
        .filter(F.col("n_rows") > 0)
    )


@query(
    "q80b_watermark_advisor",
    oracle="""
    WITH arr AS (
      SELECT event_type, ts,
             epoch_ms(ts) + (event_id * 48271) % 30000 AS arrival_ms
      FROM events
    ), late AS (
      SELECT event_type,
             MAX(epoch_ms(ts)) OVER (PARTITION BY event_type
                                     ORDER BY arrival_ms, ts
                                     ROWS UNBOUNDED PRECEDING)
               - epoch_ms(ts) AS lateness_ms
      FROM arr
    ), ranked AS (
      SELECT event_type, lateness_ms,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY lateness_ms) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM late
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN lateness_ms > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(MAX(CASE WHEN r = CAST(ceil(n * 0.99) AS BIGINT)
                         THEN lateness_ms END) AS BIGINT) AS p99_lateness_ms,
           CAST(MAX(lateness_ms) AS BIGINT) AS max_lateness_ms
    FROM ranked GROUP BY event_type
    """,
    tags=("streaming", "watermark", "advisor", "ops"),
)
def q80b_watermark_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK ADVISOR — the measurement a streaming deployment makes
    BEFORE choosing Q80's delay: per series, the out-of-orderness
    profile of the feed. Lateness of an event is how far the maximum
    event time seen so far (in ARRIVAL order) has already passed it —
    exactly the quantity a watermark must exceed for the event to
    survive. The p99/max lateness columns are the evidence behind
    'withWatermark(…, 30 seconds)': a delay at p99 drops 1% of late
    rows, at max drops none (at the cost of state).

    Arrival order is synthesized as a deterministic per-event jitter
    over commit time (the qc25 convention) so the profile is exactly
    reproducible; the p99 is a DISCRETE rank statistic (the q36n
    lesson). One arrival-ordered window per series (running max + the
    lateness subtraction in the same pass) and one rank pass — at
    100 TB both stay series-partitioned; the advisory runs over a
    sampled day, not the corpus.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    arr = ev.select(
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        (F.unix_millis("ts") + (F.col("event_id") * 48271) % 30000).alias(
            "arrival_ms"
        ),
    )
    wa = W.partitionBy("event_type").orderBy("arrival_ms", "ts_ms")
    late = arr.select(
        "event_type",
        (
            F.max("ts_ms").over(wa.rowsBetween(W.unboundedPreceding, W.currentRow))
            - F.col("ts_ms")
        ).alias("lateness_ms"),
    )
    wr = W.partitionBy("event_type").orderBy("lateness_ms")
    ranked = late.select(
        "event_type", "lateness_ms",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.when(F.col("lateness_ms") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.max(
            F.when(
                F.col("r") == F.ceil(F.col("n") * 0.99), F.col("lateness_ms")
            )
        ).cast("long").alias("p99_lateness_ms"),
        F.max("lateness_ms").cast("long").alias("max_lateness_ms"),
    )


@query(
    "qm13_streaming_crdt_counters",
    oracle="""
    WITH contrib AS (
      SELECT o_orderkey % 50 AS counter, o_orderkey % 5 AS node,
             o_orderkey AS seq,
             SUM(CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END)
               OVER w AS inc_c,
             SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
               OVER w AS dec_c
      FROM orders
      WINDOW w AS (PARTITION BY o_orderkey % 50, o_orderkey % 5
                   ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING)
    ), merged AS (
      SELECT counter, node,
             CAST(MAX(inc_c) AS BIGINT) AS inc_c,
             CAST(MAX(dec_c) AS BIGINT) AS dec_c
      FROM contrib GROUP BY counter, node
    )
    SELECT counter,
           CAST(SUM(inc_c) AS BIGINT) AS total_inc,
           CAST(SUM(dec_c) AS BIGINT) AS total_dec,
           CAST(SUM(inc_c) - SUM(dec_c) AS BIGINT) AS value
    FROM merged GROUP BY counter
    """,
    tags=("streaming", "crdt", "incremental", "merge"),
)
def qm13_streaming_crdt_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PN-counter convergence — qc31's CRDT merge in its
    production harness: per-node cumulative counter states arrive in
    micro-batches (out of order ACROSS batches, with every 4th state
    re-delivered in a later batch — at-least-once made concrete);
    foreachBatch appends per-batch per-(counter, node) MAX partials,
    and the read side MAX-merges partials. MAX is idempotent,
    commutative, associative — the merged value equals the one-shot
    truth in ANY arrival order, so this streaming entry carries the
    FULL value-hash oracle computing the truth directly (the
    qm06/qm07/qm08 discipline; the semilattice family is now bit_or,
    SUM-retraction, and MAX).

    Per-epoch cost is O(batch) with |counters|x|nodes|-bounded
    partials; read-side merge is partials x epochs with the usual
    compaction story.
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
        .over(w).alias("inc_c"),
        F.sum(F.when(F.col("o_orderkey") % 3 == 0, 1).otherwise(0))
        .over(w).alias("dec_c"),
    )

    arrivals = scratch_dir("qm13_states")
    # three arrival files: states scrambled across batches by a hash,
    # plus every 4th state RE-DELIVERED in the final batch
    for b in range(2):
        contrib.filter((F.col("seq") * 7919) % 2 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)
    contrib.filter(F.col("seq") % 4 == 0).coalesce(1).write.mode("append").parquet(
        arrivals
    )

    partials = scratch_dir("qm13_partials")

    def merge_step(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.groupBy("counter", "node")
            .agg(F.max("inc_c").alias("inc_c"), F.max("dec_c").alias("dec_c"))
            .coalesce(1)
            .write.mode("append")
            .parquet(partials)
        )

    q = (
        spark.readStream.schema(contrib.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(merge_step)
        .option("checkpointLocation", scratch_dir("qm13_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    merged = (
        spark.read.parquet(partials)
        .groupBy("counter", "node")
        .agg(
            F.max("inc_c").cast("long").alias("inc_c"),
            F.max("dec_c").cast("long").alias("dec_c"),
        )
    )
    return merged.groupBy("counter").agg(
        F.sum("inc_c").cast("long").alias("total_inc"),
        F.sum("dec_c").cast("long").alias("total_dec"),
        (F.sum("inc_c") - F.sum("dec_c")).cast("long").alias("value"),
    )


@query(
    "qm14_delta_join_ivm",
    oracle="""
    WITH a_final AS (
      SELECT o_orderkey AS okey, o_custkey AS custkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey % 7 <> 3              -- deleted order rows
    ),
    b_final AS (
      SELECT c_custkey AS custkey,
             CASE WHEN c_custkey % 5 = 2 THEN 'MOVED'
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT seg,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM a_final JOIN b_final USING (custkey)
    GROUP BY seg
    """,
    tags=("streaming", "cdc", "incremental", "matview", "join"),
)
def qm14_delta_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance — the delta-join with
    retractions (the Differential-Dataflow / Materialize core move,
    and the piece qm07's aggregate-IVM deliberately left out): keep
    V = orders ⋈ customer current under inserts, deletes, AND
    dimension updates on BOTH sides, never re-joining the base tables.

    Per micro-batch of signed deltas (dm = ±1):

        dV  =  dA ⋈ B_prev  ∪  A_prev ⋈ dB  ∪  dA ⋈ dB

    with multiplicities MULTIPLYING across the join — the three terms
    telescope across batches to exactly A_final ⋈ B_final regardless of
    how events split into batches OR their order (a delete arriving
    before its insert makes a transient −1 that the later insert
    cancels; commutativity is why this streaming entry carries a FULL
    value-hash oracle, the qm07/qm08 discipline). The synthesized
    changelog exercises every term: all orders INSERT, okey%7==3 orders
    DELETE, all customers INSERT, custkey%5==2 customers UPDATE their
    segment (retract old row + assert new row — the group-changing
    case), interleaved across 3 micro-batches by a key hash so
    customers routinely arrive AFTER orders that reference them.

    Scale: per-epoch cost is O(dA·|B-match| + dB·|A-match| + dA·dB) —
    the state sides are READ, never rewritten, and they are PARTITIONED
    BY kb = hash(join key) mod 16 (the q95aa band-index discipline), so
    each batch's probe filters to its own bounded kb set and partition
    pruning resolves at file-listing time: epoch IO is O(matching state
    buckets), not O(accumulated state). V is an append-only signed log
    compacted on read (sum dm, keep > 0), the same periodic-compaction
    story as qm07/qm08. MIN/MAX-style aggregates on top of V need the
    qm15 multiset-state treatment, not aggregate-only state.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    a_ins = orders.select(
        F.lit("A").alias("side"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.lit(None).cast("string").alias("seg"),
        F.lit(1).cast("long").alias("dm"),
    )
    a_del = a_ins.filter(F.col("okey") % 7 == 3).withColumn(
        "dm", F.lit(-1).cast("long")
    )
    b_ins = customer.select(
        F.lit("B").alias("side"),
        F.lit(None).cast("long").alias("okey"),
        F.col("c_custkey").alias("custkey"),
        F.lit(None).cast("long").alias("cents"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(1).cast("long").alias("dm"),
    )
    b_move = customer.filter(F.col("c_custkey") % 5 == 2)
    b_retract = b_ins.join(
        b_move.select(F.col("c_custkey").alias("custkey")), "custkey"
    ).select(*b_ins.columns).withColumn("dm", F.lit(-1).cast("long"))
    b_assert = b_retract.withColumn("seg", F.lit("MOVED")).withColumn(
        "dm", F.lit(1).cast("long")
    )
    changelog = (
        a_ins.unionByName(a_del)
        .unionByName(b_ins)
        .unionByName(b_retract)
        .unionByName(b_assert)
    )

    arrivals = scratch_dir("qm14_changelog")
    mix = F.coalesce(F.col("okey") * 13, F.col("custkey") * 31)
    for b in range(3):
        changelog.filter(F.pmod(mix, F.lit(3)) == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    a_dir = scratch_dir("qm14_state_a")
    b_dir = scratch_dir("qm14_state_b")
    v_dir = scratch_dir("qm14_view_log")

    # Test-scale guard (the q95aa move): tiny per-kb partition files
    # would each get their own split under the default 4 MiB open cost;
    # at real scale buckets are real files and the default is right.
    _open_cost_key = "spark.sql.files.openCostInBytes"
    _prev_open_cost = spark.conf.get(_open_cost_key, None)
    spark.conf.set(_open_cost_key, str(64 * 1024))

    # State dirs are PARTITIONED BY kb = hash(join key) mod NB — the
    # q95aa band-index discipline applied to join state: each batch
    # collects its own bounded kb set (≤ NB ints) and the state probe
    # filters on it, so partition pruning resolves at FILE-LISTING time
    # and each epoch reads only state buckets its keys can match.
    NB = 16
    kb = F.pmod(F.xxhash64("custkey"), F.lit(NB))

    def read_state(path: str, like: DataFrame, kbs: list[int]) -> DataFrame:
        # Probe existence explicitly rather than catching Exception: a
        # genuine read failure (corrupt/partial parquet, transient FS
        # error) must surface as an error, not silently become empty
        # state and a wrong view.
        if not os.path.isdir(path):  # first batch: state dir not created yet
            return spark.createDataFrame([], like.schema)
        return (
            spark.read.schema(like.schema).parquet(path)
            .filter(F.col("kb").isin(kbs))
        )

    def delta_join_step(batch_df: DataFrame, epoch_id: int) -> None:
        da = batch_df.filter(F.col("side") == "A").select(
            "okey", "custkey", "cents", F.col("dm").alias("dma"),
            kb.alias("kb"),
        ).transform(ckpt)
        db = batch_df.filter(F.col("side") == "B").select(
            "custkey", "seg", F.col("dm").alias("dmb"), kb.alias("kb"),
        ).transform(ckpt)
        # bounded collect: ≤ NB bucket ids per side per batch
        a_kbs = [r["kb"] for r in da.select("kb").distinct().collect()]
        b_kbs = [r["kb"] for r in db.select("kb").distinct().collect()]
        prev_a = read_state(a_dir, da, b_kbs).drop("kb")
        prev_b = read_state(b_dir, db, a_kbs).drop("kb")
        # the three delta-join terms; signs multiply across the join
        terms = (
            da.drop("kb").join(prev_b, "custkey")
            .unionByName(prev_a.join(db.drop("kb"), "custkey"))
            .unionByName(da.drop("kb").join(db.drop("kb"), "custkey"))
        )
        dv = terms.select(
            "custkey", "okey", "cents", "seg",
            (F.col("dma") * F.col("dmb")).cast("long").alias("dm"),
        )
        dv.write.mode("append").parquet(v_dir)
        # advance state AFTER dV so prev_* excludes the current batch
        da.write.partitionBy("kb").mode("append").parquet(a_dir)
        db.write.partitionBy("kb").mode("append").parquet(b_dir)

    q = (
        spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(delta_join_step)
        .option("checkpointLocation", scratch_dir("qm14_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
        if _prev_open_cost is None:
            spark.conf.unset(_open_cost_key)
        else:
            spark.conf.set(_open_cost_key, _prev_open_cost)

    live = (
        spark.read.parquet(v_dir)
        .groupBy("custkey", "okey", "cents", "seg")
        .agg(F.sum("dm").alias("m"))
        .filter(F.col("m") > 0)
    )
    return live.groupBy("seg").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


@query(
    "qm15_minmax_ivm_multiset",
    oracle="""
    WITH final_state AS (
      SELECT o_orderkey,
             o_orderstatus AS grp,
             CAST(round(o_totalprice * 100, 0) AS BIGINT)
               + CASE WHEN o_orderkey % 10 = 6 THEN 250 ELSE 0 END AS cents
      FROM orders
      WHERE o_orderkey % 10 <> 9            -- deleted rows
    )
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM final_state GROUP BY grp
    """,
    tags=("streaming", "cdc", "incremental", "matview", "minmax"),
)
def qm15_minmax_ivm_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX materialized views under DELETES — the case qm07 and
    qm14 explicitly declared not self-maintainable from aggregate-only
    state (a retracted max needs to know the runner-up), closed here
    with the standard production answer (Materialize's reduction
    strategy): keep a (group, value) MULTISET with signed
    multiplicities instead of the bare aggregate. Inserts assert
    (+1), deletes retract (−1), updates do both; the read side nets
    multiplicities, drops ≤0 rows, and takes MIN/MAX over what
    survives — every retraction is answered from state, no base-table
    rescan ever.

    The structural cost hierarchy this query demonstrates: SUM/COUNT
    views need O(|groups|) state (qm07); MIN/MAX under deletes needs
    O(|groups| × |distinct values per group|) state — irreducible,
    because any smaller state forgets a potential runner-up. Per-batch
    work stays O(batch): foreachBatch appends per-batch PARTIAL
    (grp, cents, dm) aggregates (map-side combined), so the multiset
    log grows with distinct touched values per epoch, with the same
    compact-on-read + periodic-rewrite story as qm07/qm08/qm14.
    Deltas commute ⇒ any micro-batch split yields the same net
    multiset ⇒ FULL value-hash oracle from the final state.

    Changelog reuses qm07's shape: every order INSERTs; keys ending in
    6 UPDATE price +250 (retract old value, assert new); keys ending
    in 9 DELETE — so retractions hit group maxima and minima for real.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    last = F.col("o_orderkey") % 10
    base = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("grp"),
        cents.alias("cents"),
        last.alias("last"),
    )
    ins = base.select("okey", "grp", "cents", F.lit(1).cast("long").alias("dm"))
    upd_out = base.filter(F.col("last") == 6).select(
        "okey", "grp", "cents", F.lit(-1).cast("long").alias("dm")
    )
    upd_in = base.filter(F.col("last") == 6).select(
        "okey", "grp", (F.col("cents") + 250).alias("cents"),
        F.lit(1).cast("long").alias("dm"),
    )
    dele = base.filter(F.col("last") == 9).select(
        "okey", "grp", "cents", F.lit(-1).cast("long").alias("dm")
    )
    changelog = ins.unionByName(upd_out).unionByName(upd_in).unionByName(dele)

    arrivals = scratch_dir("qm15_changelog")
    for b in range(3):
        changelog.filter(F.col("okey") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    multiset = scratch_dir("qm15_multiset")

    def minmax_step(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.groupBy("grp", "cents")
            .agg(F.sum("dm").alias("dm"))      # per-batch partial
            .coalesce(1)                        # small-batch file guard
            .write.mode("append")
            .parquet(multiset)
        )

    q = (
        spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(minmax_step)
        .option("checkpointLocation", scratch_dir("qm15_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    live = (
        spark.read.parquet(multiset)
        .groupBy("grp", "cents")
        .agg(F.sum("dm").alias("m"))
        .filter(F.col("m") > 0)
    )
    return live.groupBy("grp").agg(
        F.sum("m").cast("long").alias("n_rows"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
    )


@query(
    "qm16_ivm_avg_var_moments",
    oracle="""
    WITH final_state AS (
      SELECT o_orderkey,
             o_orderstatus AS grp,
             CAST(round(o_totalprice, 0) AS BIGINT)
               + CASE WHEN o_orderkey % 10 = 6 THEN 3 ELSE 0 END AS dollars
      FROM orders
      WHERE o_orderkey % 10 <> 9
    ),
    m AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dollars) AS BIGINT) AS s1,
             CAST(SUM(dollars * dollars) AS BIGINT) AS s2
      FROM final_state GROUP BY grp
    )
    SELECT grp, n,
           ROUND(s1 * 1.0 / n, 6) AS avg_dollars,
           ROUND((s2 - s1 * 1.0 * s1 / n) / (n - 1), 6) AS var_dollars
    FROM m
    """,
    tags=("streaming", "cdc", "incremental", "matview", "moments"),
)
def qm16_ivm_avg_var_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG/VARIANCE materialized views under inserts/updates/deletes —
    the ALGEBRAIC tier of the IVM taxonomy (Gray et al.'s cube
    classification applied to view maintenance), completing the family:
    DISTRIBUTIVE aggregates keep O(|groups|) running totals (qm07
    SUM/COUNT), ALGEBRAIC aggregates keep a bounded MOMENT VECTOR per
    group — (n, Σx, Σx²) here — from which the view derives in closed
    form, and HOLISTIC-under-retraction aggregates need the qm15
    multiset. Moments are signed like any distributive state: an insert
    adds (+1, +x, +x²), a delete adds (−1, −x, −x²), an update does
    both — retractions are EXACT because the moments live in integer
    units (whole dollars), so no floating drift accumulates across
    epochs (the real-world failure mode of double-typed running
    moments; the one-pass finish is the q36j Welch-test discipline).

    Per-epoch cost O(batch): foreachBatch appends per-batch partial
    moment rows; read side sums moments per group and finishes
    avg = Σx/n, var = (Σx² − (Σx)²/n)/(n−1) in one double expression
    identical to the oracle's. Deltas commute ⇒ full value-hash oracle
    from the final state, any micro-batch split.
    """
    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    dollars = F.round(F.col("o_totalprice"), 0).cast("long")
    last = F.col("o_orderkey") % 10
    base = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("grp"),
        dollars.alias("x"),
        last.alias("last"),
    )

    def signed(df: DataFrame, xcol, sign: int) -> DataFrame:
        return df.select(
            "okey", "grp",
            F.lit(sign).cast("long").alias("dn"),
            (F.lit(sign) * xcol).cast("long").alias("ds1"),
            (F.lit(sign) * xcol * xcol).cast("long").alias("ds2"),
        )

    ins = signed(base, F.col("x"), 1)
    upd_out = signed(base.filter(F.col("last") == 6), F.col("x"), -1)
    upd_in = signed(base.filter(F.col("last") == 6), F.col("x") + 3, 1)
    dele = signed(base.filter(F.col("last") == 9), F.col("x"), -1)
    changelog = ins.unionByName(upd_out).unionByName(upd_in).unionByName(dele)

    arrivals = scratch_dir("qm16_changelog")
    for b in range(3):
        changelog.filter(F.col("okey") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    moments = scratch_dir("qm16_moments")

    def moment_step(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.groupBy("grp")
            .agg(
                F.sum("dn").alias("dn"),
                F.sum("ds1").alias("ds1"),
                F.sum("ds2").alias("ds2"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(moments)
        )

    q = (
        spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(moment_step)
        .option("checkpointLocation", scratch_dir("qm16_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    m = (
        spark.read.parquet(moments)
        .groupBy("grp")
        .agg(
            F.sum("dn").cast("long").alias("n"),
            F.sum("ds1").cast("long").alias("s1"),
            F.sum("ds2").cast("long").alias("s2"),
        )
        .filter(F.col("n") > 0)
    )
    return m.select(
        "grp",
        "n",
        F.round(F.col("s1") * F.lit(1.0) / F.col("n"), 6).alias("avg_dollars"),
        F.round(
            (F.col("s2") - F.col("s1") * F.lit(1.0) * F.col("s1") / F.col("n"))
            / (F.col("n") - 1),
            6,
        ).alias("var_dollars"),
    )


@query(
    "qm17_streaming_reservoir",
    # bottom-k by a shared deterministic MINSTD rank == a fixed uniform
    # k-sample of the full stream; the truth is directly SQL-computable
    oracle="""
    SELECT event_id, user_id, event_type,
           (event_id * 48271) % 2147483647 AS rank
    FROM events
    ORDER BY rank, event_id
    LIMIT 100
    """,
    tags=("streaming", "sampling", "incremental", "merge"),
)
def qm17_streaming_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING UNIFORM k-SAMPLE via bottom-k order statistics — the
    reservoir-sampling job a pipeline runs to keep a fixed-size
    uniform sample of an unbounded stream (eval panels, drift probes,
    manual QA draws) without ever holding more than k rows of state.

    The classic algorithm-R reservoir is ORDER-DEPENDENT (replacement
    draws depend on arrival position), so it could never carry a
    value-hash oracle. The bottom-k formulation is the distributed
    fix: rank every event by a deterministic uniform hash and keep the
    k SMALLEST ranks. Bottom-k is a semilattice (merge = union then
    take-k-smallest, idempotent/commutative/associative), so per-epoch
    k-row partials merged at read time equal the one-shot truth in ANY
    arrival order and under re-delivery — the qm13 MAX / qm08 bit_or
    discipline extended to a bounded ORDER STATISTIC, and the sample
    it yields is exactly uniform because ranks are exchangeable.

    Rank = MINSTD (event_id * 48271) % 2147483647 — shared exact
    BIGINT arithmetic both engines compute bit-identically (the
    q52b/q49 pattern), injective for event_id < 2^31-1 (prime modulus,
    48271 invertible) so ties cannot occur at any driver scale.

    Scale shape: per epoch, a batch-local sort-limit (k rows out, map
    partial per task — Spark's TakeOrdered is a partial top-k, never a
    full sort); state is epochs x k rows compacted on read by one
    k-bounded merge. At 100 TB: k rows per micro-batch cross the wire,
    the sample never re-reads the corpus, and the same partials give
    per-window samples for free by bucketing epochs.
    """
    K = 100
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        ((F.col("event_id") * 48271) % 2147483647).alias("rank"),
    )

    arrivals = scratch_dir("qm17_arrivals")
    # three arrival files: events scrambled across batches by a hash
    # (NOT by rank), plus every 9th event RE-DELIVERED in the final
    # batch — at-least-once made concrete; idempotence must absorb it
    for b in range(2):
        ev.filter((F.col("event_id") * 7919) % 2 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)
    ev.filter(F.col("event_id") % 9 == 0).coalesce(1).write.mode("append").parquet(
        arrivals
    )

    partials = scratch_dir("qm17_partials")

    def sample_step(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.orderBy("rank", "event_id").limit(K)
            .coalesce(1)
            .write.mode("append")
            .parquet(partials)
        )

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(sample_step)
        .option("checkpointLocation", scratch_dir("qm17_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # read-side merge: union of k-row partials -> k smallest ranks;
    # re-delivered events collapse because the merge is a SET take-k
    # (distinct on the full row — every column is a function of
    # event_id, so duplicates are exact row copies)
    return (
        spark.read.parquet(partials)
        .distinct()
        .orderBy("rank", "event_id")
        .limit(K)
    )


@query(
    "qm18_streaming_quantile_histogram",
    oracle="""
    WITH hist AS (
      SELECT CAST(floor(value * 10) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), cum AS (
      SELECT bucket, n,
             CAST(SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum,
             CAST(SUM(n) OVER () AS BIGINT) AS total
      FROM hist
    ), hit AS (
      SELECT q.q_milli, c.bucket, c.cum, c.total,
             ROW_NUMBER() OVER (PARTITION BY q.q_milli ORDER BY c.bucket)
               AS rn
      FROM cum c
      JOIN (VALUES (500), (900), (990)) AS q(q_milli)
        ON c.cum >= (c.total * q.q_milli + 999) // 1000
    )
    SELECT CAST(q_milli AS BIGINT) AS q_milli, bucket,
           round(bucket / 10.0, 4) AS lower_bound,
           cum AS n_at_or_below, total
    FROM hit WHERE rn = 1
    """,
    tags=("streaming", "quantile", "histogram", "incremental", "txlog"),
)
def qm18_streaming_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING QUANTILES from a fixed-boundary histogram maintained
    through the ACID idempotent sink — the monitoring-percentile job
    (latency p99, value drift) run the only way additive state can be
    exactly-once: histogram COUNTS are a SUM-monoid, NOT idempotent,
    so unlike qm13's MAX or qm17's bottom-k a re-delivered batch
    would silently double-count. That is precisely the job of the
    commit-token sink: each epoch's partial counts append to a
    TxLogTable under (app_id, txn_version=epoch), and a restart-replay
    of a COMPLETED epoch — re-delivered here verbatim after the stream
    drains, the foreachBatch checkpoint-recovery contract made
    concrete — short-circuits on the token as a no-op. The streaming
    semilattice family (bit_or/MAX/bottom-k) thus gets its additive
    sibling with the exactly-once mechanism it actually requires.

    Quantile read: smallest bucket whose cumulative count reaches
    ceil(q·total) — pure integer arithmetic over the bucket-bounded
    merged histogram, so the full value-hash oracle computes the same
    bucketed quantile directly. floor(value·10) is the same IEEE
    double op in both engines (bit-identical), and ceil(a/b) is the
    shared division-free (a·q+999)//1000 form.

    Scale shape: per epoch one |buckets|-bounded partial (map-side
    combined) appended O(1); merge cost is buckets x epochs with the
    txlog compaction story; quantile windows run over ≤ |buckets|
    rows. At 100 TB the histogram IS the state — no raw value is ever
    retained, which is why fixed-boundary histograms (not exact
    medians) are the production percentile path (q36m documents the
    exact-refinement alternative for batch).
    """
    from better_cdc_spark.txlog import TxLogTable

    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    bucketed = ev.select(
        "event_id", F.floor(F.col("value") * 10).cast("long").alias("bucket")
    )

    arrivals = scratch_dir("qm18_arrivals")
    for b in range(3):
        bucketed.filter((F.col("event_id") * 7919) % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    t = TxLogTable(spark, scratch_dir("qm18_txlog"))
    epoch_files: dict[int, list[str]] = {}

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        # bounded collect: ≤ maxFilesPerTrigger paths, recorded so the
        # replay below re-delivers a completed epoch VERBATIM
        epoch_files[int(epoch_id)] = [
            r[0] for r in batch_df.select(F.input_file_name()).distinct().collect()
        ]
        partial = batch_df.groupBy("bucket").agg(
            F.count("*").cast("long").alias("n")
        )
        t.append(partial, app_id="qm18", txn_version=int(epoch_id))

    q = (
        spark.readStream.schema(bucketed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", scratch_dir("qm18_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # checkpoint-recovery replay: epoch 0 re-delivered verbatim with its
    # original txn_version — the token makes the double-append a no-op
    # (a SUM merge without the token would inflate every epoch-0 bucket)
    replayed = spark.read.schema(bucketed.schema).parquet(*epoch_files[0])
    step(replayed, 0)

    hist = t.read().groupBy("bucket").agg(F.sum("n").cast("long").alias("n"))
    w_cum = W.partitionBy().orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy()
    cum = hist.select(
        "bucket",
        "n",
        F.sum("n").over(w_cum).cast("long").alias("cum"),
        F.sum("n").over(w_all).cast("long").alias("total"),
    )
    qdf = spark.createDataFrame([(500,), (900,), (990,)], "q_milli long")
    hit = cum.join(
        F.broadcast(qdf),
        F.col("cum") >= F.expr("div(total * q_milli + 999, 1000)"),
    ).withColumn(
        "rn",
        F.row_number().over(W.partitionBy("q_milli").orderBy("bucket")),
    )
    return hit.filter(F.col("rn") == 1).select(
        "q_milli",
        "bucket",
        F.round(F.col("bucket") / 10.0, 4).alias("lower_bound"),
        F.col("cum").alias("n_at_or_below"),
        "total",
    )


@query(
    "qm19_streaming_holt_trend",
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
    tags=("streaming", "timeseries", "smoothing", "txlog", "recurrence"),
)
def qm19_streaming_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HOLT TREND — q42j's double exponential smoothing
    maintained incrementally, completing the streaming-state taxonomy
    with its third class: RECURRENCE state. qm13/qm17 hold semilattice
    state (idempotent — re-delivery is harmless), qm18 holds additive
    state (re-delivery double-counts; the txlog token dedupes), and
    (l, b) here is worse than both: it is ORDER-SENSITIVE and
    non-mergeable — batches must apply in day order, and a re-applied
    batch corrupts the state nonlinearly rather than just inflating
    it. Two mechanisms make it exactly-once anyway:

    1. Per-epoch state rows commit to the ACID txlog under (app_id,
       txn_version=epoch): a checkpoint-recovery replay of a COMPLETED
       epoch (re-delivered verbatim below after the stream drains)
       recomputes deterministically and its append short-circuits on
       the token as a no-op — the stored state is never touched twice.
    2. An in-order admission guard: each epoch asserts its min day
       follows the prior state's last day (the ordered-delivery
       contract the publish path provides and qc28 audits); an
       out-of-order batch fails loud instead of silently corrupting
       the recurrence.

    Epoch e folds its day-sorted batch means FROM the epoch-(e-1)
    state with the same dyadic-coefficient fold as q42j, so the final
    state is bit-identical to the batch run and the BATCH oracle (the
    full-series fold) is this query's full value-hash oracle — the
    strongest equivalence a streaming operator can claim. State is 2
    doubles + 2 longs per key regardless of history length.

    Scale: per epoch one (key, day) map-side-combinable aggregate,
    one |keys|-bounded fold, one O(1) txlog append; no raw history
    retained. Reference pattern: internal/engine stateful op (R5) +
    the commit-boundary idempotent sink (R10-R12).
    """
    from better_cdc_spark.txlog import TxLogTable

    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        (
            F.sum(F.round(F.col("value").cast("double") * 1000, 0).cast("long"))
            .cast("double")
            / F.count("*")
            / 1000
        ).alias("y")
    ).select(
        "event_type",
        F.datediff(F.col("day").cast("date"), F.to_date(F.lit("1970-01-01")))
        .cast("long")
        .alias("day_idx"),
        "y",
    )
    # day-ordered arrival epochs: three consecutive day ranges written in
    # order (mtime-ordered pickup, one file per trigger)
    epoch_of = (F.dense_rank().over(W.orderBy("day_idx")) - 1)
    staged = daily.withColumn("arrival", (epoch_of / 10).cast("int"))
    arrivals = scratch_dir("qm19_arrivals")
    n_epochs = staged.agg(F.max("arrival")).collect()[0][0] + 1  # bounded scalar
    for e in range(n_epochs):
        staged.filter(F.col("arrival") == e).drop("arrival").coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    t = TxLogTable(spark, scratch_dir("qm19_txlog"))
    epoch_files: dict[int, list[str]] = {}

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        epoch_files[e] = [
            r[0] for r in batch_df.select(F.input_file_name()).distinct().collect()
        ]
        agg = batch_df.groupBy("event_type").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day_idx", "y"))),
                lambda s: s["y"],
            ).alias("ys"),
            F.count("*").cast("long").alias("bn"),
            F.min("day_idx").cast("long").alias("min_day"),
            F.max("day_idx").cast("long").alias("max_day"),
        )
        if e > 0:
            prior = (
                t.read()
                .filter(F.col("epoch") == e - 1)
                .select(
                    "event_type",
                    F.col("l").alias("p_l"),
                    F.col("b").alias("p_b"),
                    F.col("n_days").alias("p_n"),
                    F.col("last_day").alias("p_last"),
                )
            )
            joined = agg.join(F.broadcast(prior), "event_type", "left")
            # recurrence admission guard: this epoch must FOLLOW the state
            bad = joined.filter(
                F.col("p_l").isNotNull() & (F.col("min_day") <= F.col("p_last"))
            ).count()
            if bad:
                raise ValueError(
                    f"qm19 epoch {e}: {bad} keys arrived out of order — "
                    "a recurrence cannot absorb late batches"
                )
        else:
            joined = agg.select(
                "*",
                F.lit(None).cast("double").alias("p_l"),
                F.lit(None).cast("double").alias("p_b"),
                F.lit(None).cast("long").alias("p_n"),
                F.lit(None).cast("long").alias("p_last"),
            )
        has_prior = F.col("p_l").isNotNull()
        ys = F.col("ys")
        init = F.when(
            has_prior, F.struct(F.col("p_l").alias("l"), F.col("p_b").alias("b"))
        ).otherwise(
            F.struct(
                F.element_at(ys, 1).alias("l"),
                (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("b"),
            )
        )
        seq = F.when(has_prior, ys).otherwise(F.slice(ys, 2, F.size(ys) - 1))
        st = F.aggregate(
            seq,
            init,
            lambda acc, x: F.struct(
                ((x + acc["l"] + acc["b"]) / 2).alias("l"),
                (((x + acc["l"] + acc["b"]) / 2 - acc["l"] + 3 * acc["b"]) / 4).alias(
                    "b"
                ),
            ),
        )
        state = joined.select(
            "event_type",
            st.getField("l").alias("l"),
            st.getField("b").alias("b"),
            (F.coalesce(F.col("p_n"), F.lit(0)) + F.col("bn")).cast("long").alias(
                "n_days"
            ),
            F.col("max_day").alias("last_day"),
            F.lit(e).cast("long").alias("epoch"),
        )
        t.append(state, app_id="qm19", txn_version=e)

    q = (
        spark.readStream.schema(staged.drop("arrival").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", scratch_dir("qm19_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # checkpoint-recovery replay: epoch 0 re-delivered verbatim. The
    # recompute seeds fresh (deterministic) and the token makes the
    # append a no-op — without it the recurrence would rewind to day 9.
    replayed = spark.read.schema(staged.drop("arrival").schema).parquet(
        *epoch_files[0]
    )
    step(replayed, 0)

    final = t.read().withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.col("epoch").desc())
        ),
    ).filter(F.col("rn") == 1)
    return final.select(
        "event_type",
        "n_days",
        F.round(F.col("l"), 6).alias("level"),
        F.round(F.col("b"), 6).alias("trend"),
        F.round(F.col("l") + F.col("b"), 6).alias("forecast_next"),
    ).orderBy("event_type")


@query(
    "qm20_streaming_hll_distinct",
    # the one-shot portable sketch (q32b's construction over user_id) IS
    # the truth: registers are a MAX semilattice, so the incremental
    # merge of per-epoch partials equals it bit-for-bit
    oracle="""
    WITH keys AS (SELECT DISTINCT user_id AS k FROM events),
    h AS (
      SELECT CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
               AS hv
      FROM keys
    ),
    slots AS (SELECT hv % 128 AS j, hv // 128 AS w FROM h),
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
                        AS DOUBLE), 6) AS hll_estimate
    FROM sk, ex
    """,
    tags=("streaming", "sketch", "approx", "incremental", "merge"),
)
def qm20_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DISTINCT-COUNT via the portable HLL (q32b's sketch
    maintained under event arrival) — the fourth member of the
    semilattice streaming family: qm08 proved bit_or, qm13 MAX
    counters, qm17 bottom-k; HLL registers are per-slot MAXes, so the
    SAME discipline carries an approximate-cardinality sketch with a
    FULL value-hash oracle (the one thing engine-native HLL state can
    never have — q32/q36g stay rows-only precisely because their sketch
    bytes are opaque; this one's registers are the contract).

    Per epoch: batch rows hash to (register, rho) and fold to AT MOST
    128 partial-MAX rows, appended to the partials dir — re-delivered
    events and out-of-order batches are absorbed because MAX is
    idempotent/commutative/associative (the arrival script scrambles
    batches by a hash and re-delivers every 9th event to make that
    concrete). Read-side merge: one 128-bounded groupBy-MAX, then
    q32b's scaled-BIGINT assembly — estimate included, bit-reproducible.

    100 TB: <=128 rows cross the wire per micro-batch regardless of
    batch size (the map-side fold does all the work), merge cost is
    O(epochs x 128), and the registers double as per-window sketches by
    bucketing epochs — cardinality-over-time for free.
    """
    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")

    arrivals = scratch_dir("qm20_arrivals")
    for b in range(2):
        ev.filter((F.col("event_id") * 7919) % 2 == b).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)
    ev.filter(F.col("event_id") % 9 == 0).coalesce(1).write.mode("append").parquet(
        arrivals
    )

    partials = scratch_dir("qm20_partials")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    rho = F.when(F.col("w") == 0, F.lit(54)).otherwise(
        54 - F.length(F.conv(F.col("w"), 10, 2))
    )

    def sketch_step(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(
                (h % 128).alias("j"), F.floor(h / 128).cast("long").alias("w")
            )
            .select("j", rho.cast("long").alias("rho"))
            .groupBy("j")
            .agg(F.max("rho").alias("m_j"))
            .coalesce(1)
            .write.mode("append")
            .parquet(partials)
        )

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(sketch_step)
        .option("checkpointLocation", scratch_dir("qm20_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    regs = spark.read.parquet(partials).groupBy("j").agg(
        F.max("m_j").cast("long").alias("m_j")
    )
    sk = regs.agg(
        F.count("*").cast("long").alias("n_present"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(54 - m_j AS INT))"))
        .cast("long")
        .alias("s_present"),
        F.sum((F.col("j") + 1) * F.col("m_j")).cast("long").alias("digest"),
    )
    ex = ev.select("user_id").distinct().agg(
        F.count("*").cast("long").alias("n_exact")
    )
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
    )


@query(
    "qm21_streaming_holt_winters",
    # the BATCH fold (q42l's full-series Holt-Winters) IS the oracle:
    # epoch folds continue from the persisted 14-double state with the
    # shared operators.hw_additive_step, so the final state is
    # bit-identical to the one-shot batch run
    oracle=relational.HW_ORACLE,
    tags=("streaming", "timeseries", "fold"),
)
def qm21_streaming_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HOLT-WINTERS — q42l's additive triple exponential
    smoothing maintained incrementally: the seasonal extension of
    qm19's RECURRENCE-state class. State per key is 14 doubles
    [l, b, s_0..s_11] + bookkeeping — order-sensitive and
    non-mergeable, so the same two exactly-once mechanisms apply:

    1. Per-epoch state rows commit to the ACID txlog under (app_id,
       txn_version=epoch); a replay of a completed epoch (re-delivered
       verbatim below) recomputes deterministically and no-ops on the
       token.
    2. An in-order admission guard rejects any batch whose min month
       does not follow the stored state's last month — a recurrence
       cannot absorb late batches.

    Epoch 0 seeds exactly as the batch fold (first-year mean level,
    year-over-year trend, y_i - l0 seasonals — it must contain the
    first 24 months); later epochs fold their month-sorted batch FROM
    the prior state with the SAME operators.hw_additive_step the batch
    query uses, so the final state is bit-identical to q42l's
    one-shot fold and q42l's DuckDB oracle hash-checks this streaming
    result — the strongest equivalence a streaming operator can claim.

    Scale: per epoch one map-side-combinable (month) aggregate, one
    14-double fold, one O(1) txlog append; no raw history retained.
    The slot index is the GLOBAL month index mod 12, so epoch
    boundaries never disturb seasonal alignment.
    """
    from better_cdc_spark.operators import hw_additive_step
    from better_cdc_spark.txlog import TxLogTable

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
        .agg(F.sum("cents").cast("double").alias("y"))
    )
    epoch_of = (F.dense_rank().over(W.orderBy("t")) - 1)
    staged = m.withColumn("arrival", (epoch_of / 32).cast("int"))
    arrivals = scratch_dir("qm21_arrivals")
    n_epochs = staged.agg(F.max("arrival")).collect()[0][0] + 1  # bounded scalar
    for e in range(n_epochs):
        staged.filter(F.col("arrival") == e).drop("arrival").coalesce(
            1
        ).write.mode("append").parquet(arrivals)

    t = TxLogTable(spark, scratch_dir("qm21_txlog"))
    epoch_files: dict[int, list[str]] = {}

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        epoch_files[e] = [
            r[0]
            for r in batch_df.select(F.input_file_name()).distinct().collect()
        ]
        agg = batch_df.agg(
            F.array_sort(F.collect_list(F.struct("t", "y"))).alias("tys"),
            F.count("*").cast("long").alias("bn"),
            F.min("t").cast("long").alias("min_t"),
            F.max("t").cast("long").alias("max_t"),
        )
        if e > 0:
            prior = (
                t.read()
                .filter(F.col("epoch") == e - 1)
                .select(
                    F.col("l").alias("p_l"),
                    F.col("b").alias("p_b"),
                    F.col("s").alias("p_s"),
                    F.col("n_months").alias("p_n"),
                    F.col("last_t").alias("p_last"),
                )
            )
            joined = agg.crossJoin(F.broadcast(prior))
            bad = joined.filter(F.col("min_t") <= F.col("p_last")).count()
            if bad:
                raise ValueError(
                    f"qm21 epoch {e}: batch arrived out of order — "
                    "a recurrence cannot absorb late months"
                )
            acc0 = F.concat(
                F.array(F.col("p_l"), F.col("p_b")), F.col("p_s")
            )
            elems = F.transform(
                F.col("tys"),
                lambda s: F.array(
                    s["y"], (s["t"] % 12).cast("double")
                ),
            )
            n_new = F.col("p_n") + F.col("bn")
            base = joined
        else:
            ys = F.transform(F.col("tys"), lambda s: s["y"])
            first12 = F.aggregate(
                F.slice(ys, 1, 12), F.lit(0.0), lambda a, b: a + b
            )
            second12 = F.aggregate(
                F.slice(ys, 13, 12), F.lit(0.0), lambda a, b: a + b
            )
            l0 = first12 / 12
            b0 = (second12 - first12) / 144
            acc0 = F.concat(
                F.array(l0, b0),
                F.transform(F.slice(ys, 1, 12), lambda y: y - l0),
            )
            elems = F.transform(
                F.slice(F.col("tys"), 13, F.size("tys") - 12),
                lambda s: F.array(
                    s["y"], (s["t"] % 12).cast("double")
                ),
            )
            n_new = F.col("bn")
            base = agg
        st = F.aggregate(elems, acc0, hw_additive_step)
        state = base.select(
            F.element_at(st, 1).alias("l"),
            F.element_at(st, 2).alias("b"),
            F.slice(st, 3, 12).alias("s"),
            n_new.cast("long").alias("n_months"),
            F.col("max_t").alias("last_t"),
            F.lit(e).cast("long").alias("epoch"),
        )
        t.append(state, app_id="qm21", txn_version=e)

    q = (
        spark.readStream.schema(staged.drop("arrival").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", scratch_dir("qm21_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # checkpoint-recovery replay: epoch 0 re-delivered verbatim. The
    # seed recompute is deterministic and the txn token no-ops the
    # append — without it the recurrence would rewind to month 31.
    replayed = spark.read.schema(staged.drop("arrival").schema).parquet(
        *epoch_files[0]
    )
    step(replayed, 0)

    final = (
        t.read()
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("epoch").desc()))
        )
        .filter(F.col("rn") == 1)
    )
    out = final.select(
        "l",
        "b",
        "n_months",
        F.element_at(
            "s", (F.col("n_months") % 12).cast("int") + 1
        ).alias("s_next"),
        F.posexplode("s").alias("i0", "seas"),
    )
    return out.select(
        F.col("i0").cast("long").alias("slot"),
        F.round("seas", 6).alias("seas"),
        F.round(F.col("l"), 6).alias("level"),
        F.round(F.col("b"), 6).alias("trend"),
        F.round(F.col("l") + F.col("b") + F.col("s_next"), 6).alias(
            "forecast_next"
        ),
        F.col("n_months").alias("n_months"),
    ).orderBy("slot")


@query(
    "qm22_streaming_kalman",
    # the BATCH fold (q42n's full-series Kalman) IS the oracle: epoch
    # folds continue from the persisted 5-double state with the shared
    # operators.kalman_cv_step, so the final state is bit-identical
    oracle=relational.KALMAN_ORACLE,
    tags=("streaming", "timeseries", "fold"),
)
def qm22_streaming_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KALMAN FILTER — q42n's constant-velocity filter
    maintained incrementally: the fourth member of the RECURRENCE-
    state streaming class (qm19 Holt, qm21 Holt-Winters, THIS), and
    the one whose state includes a COVARIANCE that adapts the gain —
    replay corruption would not just shift the estimate but silently
    shrink the uncertainty, so the exactly-once machinery matters
    doubly:

    1. Per-epoch state rows commit under (app_id, txn_version=epoch);
       the verbatim epoch-0 re-delivery below no-ops on the token.
    2. The in-order admission guard rejects batches that do not follow
       the stored last month.

    Epoch 0 seeds exactly as the batch fold (l=y_1, v=y_2-y_1,
    P=diag(100,25)); later epochs fold their month-sorted batch FROM
    the prior state with the SAME operators.kalman_cv_step, so q42n's
    DuckDB oracle hash-checks this streaming result bit-for-bit.

    Scale: per epoch one map-side month aggregate, one 5-double fold,
    one O(1) txlog append; no raw history retained.
    """
    from better_cdc_spark.operators import kalman_cv_step
    from better_cdc_spark.txlog import TxLogTable

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
        .agg(
            (F.sum("cents").cast("double") / 100000000.0).alias("y")
        )
    )
    epoch_of = (F.dense_rank().over(W.orderBy("t")) - 1)
    staged = m.withColumn("arrival", (epoch_of / 27).cast("int"))
    arrivals = scratch_dir("qm22_arrivals")
    n_epochs = staged.agg(F.max("arrival")).collect()[0][0] + 1  # bounded scalar
    for e in range(n_epochs):
        staged.filter(F.col("arrival") == e).drop("arrival").coalesce(
            1
        ).write.mode("append").parquet(arrivals)

    t = TxLogTable(spark, scratch_dir("qm22_txlog"))
    epoch_files: dict[int, list[str]] = {}

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        epoch_files[e] = [
            r[0]
            for r in batch_df.select(F.input_file_name()).distinct().collect()
        ]
        agg = batch_df.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "y"))),
                lambda s: s["y"],
            ).alias("ys"),
            F.count("*").cast("long").alias("bn"),
            F.min("t").cast("long").alias("min_t"),
            F.max("t").cast("long").alias("max_t"),
        )
        if e > 0:
            prior = (
                t.read()
                .filter(F.col("epoch") == e - 1)
                .select(
                    F.col("st").alias("p_st"),
                    F.col("n_months").alias("p_n"),
                    F.col("last_t").alias("p_last"),
                )
            )
            joined = agg.crossJoin(F.broadcast(prior))
            bad = joined.filter(F.col("min_t") <= F.col("p_last")).count()
            if bad:
                raise ValueError(
                    f"qm22 epoch {e}: batch arrived out of order — "
                    "a recurrence cannot absorb late months"
                )
            acc0 = F.col("p_st")
            elems = F.col("ys")
            n_new = F.col("p_n") + F.col("bn")
            base = joined
        else:
            acc0 = F.array(
                F.element_at("ys", 1),
                F.element_at("ys", 2) - F.element_at("ys", 1),
                F.lit(100.0),
                F.lit(0.0),
                F.lit(25.0),
            )
            elems = F.slice("ys", 3, F.size("ys") - 2)
            n_new = F.col("bn")
            base = agg
        st = F.aggregate(elems, acc0, kalman_cv_step)
        state = base.select(
            st.alias("st"),
            n_new.cast("long").alias("n_months"),
            F.col("max_t").alias("last_t"),
            F.lit(e).cast("long").alias("epoch"),
        )
        t.append(state, app_id="qm22", txn_version=e)

    q = (
        spark.readStream.schema(staged.drop("arrival").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", scratch_dir("qm22_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # checkpoint-recovery replay: epoch 0 verbatim; the token no-ops.
    replayed = spark.read.schema(staged.drop("arrival").schema).parquet(
        *epoch_files[0]
    )
    step(replayed, 0)

    final = (
        t.read()
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("epoch").desc()))
        )
        .filter(F.col("rn") == 1)
    )
    p_pred = (
        F.element_at("st", 3)
        + 2 * F.element_at("st", 4)
        + F.element_at("st", 5)
        + 0.0625
    )
    return final.select(
        F.col("n_months").alias("n_months"),
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("velocity"),
        F.round(F.element_at("st", 3), 6).alias("p_level"),
        F.round(p_pred / (p_pred + 4), 6).alias("gain_next"),
        F.round(
            F.element_at("st", 1) + F.element_at("st", 2), 6
        ).alias("forecast_next"),
    )


@query(
    "qm23_streaming_page_hinkley",
    # the BATCH fold (q42o's full-series Page-Hinkley) IS the oracle:
    # epoch folds continue from the persisted 5-double state with the
    # shared operators.page_hinkley_step, so the final state —
    # including the running mean and the first-alarm position — is
    # bit-identical to the batch result
    oracle=relational.PAGE_HINKLEY_ORACLE,
    tags=("streaming", "timeseries", "changepoint", "fold"),
)
def qm23_streaming_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PAGE-HINKLEY — q42o's drift detector maintained
    incrementally: the fifth member of the RECURRENCE-state streaming
    class (qm19 Holt, qm21 Holt-Winters, qm22 Kalman, THIS), and the
    first whose state carries a DECISION (first_alarm_t): replay
    corruption would not just perturb an estimate, it would re-fire or
    suppress the alarm a monitor pages on, so exactly-once matters in
    kind, not just degree:

    1. Per-epoch state rows commit under (app_id, txn_version=epoch);
       the verbatim epoch-0 re-delivery below no-ops on the token.
    2. The in-order admission guard rejects batches that do not follow
       the stored last month — a running-mean recurrence cannot absorb
       late data.

    Every epoch folds its month-sorted batch FROM the prior 5-double
    state [t, sum, m, m_min, first_alarm_t] with the SAME
    operators.page_hinkley_step as the batch query (no seeding special
    case — the all-zero init is the true recurrence start), so q42o's
    DuckDB oracle hash-checks this streaming result bit-for-bit.

    Scale: per epoch one map-side month aggregate, one 5-double fold,
    one O(1) txlog append; no raw history retained.
    """
    from better_cdc_spark.operators import page_hinkley_step
    from better_cdc_spark.txlog import TxLogTable

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
        .agg((F.sum("cents").cast("double") / 100000000.0).alias("y"))
    )
    epoch_of = (F.dense_rank().over(W.orderBy("t")) - 1)
    staged = m.withColumn("arrival", (epoch_of / 27).cast("int"))
    arrivals = scratch_dir("qm23_arrivals")
    n_epochs = staged.agg(F.max("arrival")).collect()[0][0] + 1  # bounded scalar
    for e in range(n_epochs):
        staged.filter(F.col("arrival") == e).drop("arrival").coalesce(
            1
        ).write.mode("append").parquet(arrivals)

    t = TxLogTable(spark, scratch_dir("qm23_txlog"))
    epoch_files: dict[int, list[str]] = {}

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        epoch_files[e] = [
            r[0]
            for r in batch_df.select(F.input_file_name()).distinct().collect()
        ]
        agg = batch_df.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "y"))),
                lambda s: s["y"],
            ).alias("ys"),
            F.count("*").cast("long").alias("bn"),
            F.min("t").cast("long").alias("min_t"),
            F.max("t").cast("long").alias("max_t"),
        )
        if e > 0:
            prior = (
                t.read()
                .filter(F.col("epoch") == e - 1)
                .select(
                    F.col("st").alias("p_st"),
                    F.col("n_months").alias("p_n"),
                    F.col("last_t").alias("p_last"),
                )
            )
            joined = agg.crossJoin(F.broadcast(prior))
            bad = joined.filter(F.col("min_t") <= F.col("p_last")).count()
            if bad:
                raise ValueError(
                    f"qm23 epoch {e}: batch arrived out of order — "
                    "a running-mean recurrence cannot absorb late months"
                )
            acc0 = F.col("p_st")
            n_new = F.col("p_n") + F.col("bn")
            base = joined
        else:
            acc0 = F.array(
                F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(-1.0)
            )
            n_new = F.col("bn")
            base = agg
        st = F.aggregate(F.col("ys"), acc0, page_hinkley_step)
        state = base.select(
            st.alias("st"),
            n_new.cast("long").alias("n_months"),
            F.col("max_t").alias("last_t"),
            F.lit(e).cast("long").alias("epoch"),
        )
        t.append(state, app_id="qm23", txn_version=e)

    q = (
        spark.readStream.schema(staged.drop("arrival").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", scratch_dir("qm23_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # checkpoint-recovery replay: epoch 0 verbatim; the token no-ops —
    # without it the alarm decision itself would rewind.
    replayed = spark.read.schema(staged.drop("arrival").schema).parquet(
        *epoch_files[0]
    )
    step(replayed, 0)

    final = (
        t.read()
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("epoch").desc()))
        )
        .filter(F.col("rn") == 1)
    )
    return final.select(
        F.col("n_months").alias("n_months"),
        F.round(
            F.element_at("st", 3) - F.element_at("st", 4), 6
        ).alias("ph_stat"),
        F.round(F.element_at("st", 3), 6).alias("m_stat"),
        F.round(
            F.element_at("st", 2) / F.element_at("st", 1), 6
        ).alias("mean_level"),
        F.element_at("st", 5).cast("long").alias("first_alarm_t"),
    )


@query(
    "qm24_streaming_croston",
    # the BATCH fold (q42p's full-series Croston) IS the oracle: epoch
    # folds continue from the persisted 4-double state with the shared
    # operators.croston_step, so the final state is bit-identical
    oracle=relational.CROSTON_ORACLE,
    tags=("streaming", "timeseries", "fold"),
)
def qm24_streaming_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CROSTON — q42p's intermittent-demand smoother
    maintained incrementally: the sixth recurrence-state streaming
    operator (qm19 Holt, qm21 Holt-Winters, qm22 Kalman, qm23
    Page-Hinkley, THIS), and the one whose state is mostly IDLE — on
    a sparse series most epochs only bump the interval counter, which
    is exactly when replay corruption is least visible and the
    exactly-once machinery earns its keep (a double-counted zero-run
    silently doubles the forecast interval):

    1. Per-epoch state rows commit under (app_id, txn_version=epoch);
       the verbatim epoch-0 re-delivery below no-ops on the token.
    2. The in-order admission guard rejects out-of-order day batches.

    No seeding special case: the all-zero init IS the recurrence
    start, so every epoch folds its day-sorted batch from the prior
    state with the SAME operators.croston_step and q42p's DuckDB
    oracle hash-checks the streaming result bit-for-bit.

    Scale: per epoch one map-side day aggregate, one 4-double fold,
    one O(1) txlog append; no raw history retained.
    """
    from better_cdc_spark.operators import croston_step
    from better_cdc_spark.txlog import TxLogTable

    tune_for_oracle(spark)
    days = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.dayofmonth("ts").cast("long").alias("t"))
        .agg(
            F.sum(F.when(F.col("value") > 500, 1).otherwise(0))
            .cast("double")
            .alias("y")
        )
    )
    epoch_of = (F.dense_rank().over(W.orderBy("t")) - 1)
    staged = days.withColumn("arrival", (epoch_of / 10).cast("int"))
    arrivals = scratch_dir("qm24_arrivals")
    n_epochs = staged.agg(F.max("arrival")).collect()[0][0] + 1  # bounded scalar
    for e in range(n_epochs):
        staged.filter(F.col("arrival") == e).drop("arrival").coalesce(
            1
        ).write.mode("append").parquet(arrivals)

    t = TxLogTable(spark, scratch_dir("qm24_txlog"))
    epoch_files: dict[int, list[str]] = {}

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        epoch_files[e] = [
            r[0]
            for r in batch_df.select(F.input_file_name()).distinct().collect()
        ]
        agg = batch_df.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "y"))),
                lambda s: s["y"],
            ).alias("ys"),
            F.count("*").cast("long").alias("bn"),
            F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
            .cast("long")
            .alias("bd"),
            F.min("t").cast("long").alias("min_t"),
            F.max("t").cast("long").alias("max_t"),
        )
        if e > 0:
            prior = (
                t.read()
                .filter(F.col("epoch") == e - 1)
                .select(
                    F.col("st").alias("p_st"),
                    F.col("n_days").alias("p_n"),
                    F.col("n_demand").alias("p_d"),
                    F.col("last_t").alias("p_last"),
                )
            )
            joined = agg.crossJoin(F.broadcast(prior))
            bad = joined.filter(F.col("min_t") <= F.col("p_last")).count()
            if bad:
                raise ValueError(
                    f"qm24 epoch {e}: batch arrived out of order — "
                    "an interval recurrence cannot absorb late days"
                )
            acc0 = F.col("p_st")
            n_new = F.col("p_n") + F.col("bn")
            d_new = F.col("p_d") + F.col("bd")
            base = joined
        else:
            acc0 = F.array(
                F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(0.0)
            )
            n_new = F.col("bn")
            d_new = F.col("bd")
            base = agg
        st = F.aggregate(F.col("ys"), acc0, croston_step)
        state = base.select(
            st.alias("st"),
            n_new.cast("long").alias("n_days"),
            d_new.cast("long").alias("n_demand"),
            F.col("max_t").alias("last_t"),
            F.lit(e).cast("long").alias("epoch"),
        )
        t.append(state, app_id="qm24", txn_version=e)

    q = (
        spark.readStream.schema(staged.drop("arrival").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", scratch_dir("qm24_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # checkpoint-recovery replay: epoch 0 verbatim; the token no-ops —
    # without it the zero-run counter would double-count.
    replayed = spark.read.schema(staged.drop("arrival").schema).parquet(
        *epoch_files[0]
    )
    step(replayed, 0)

    final = (
        t.read()
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("epoch").desc()))
        )
        .filter(F.col("rn") == 1)
    )
    return final.select(
        F.col("n_days").alias("n_days"),
        F.col("n_demand").alias("n_demand_days"),
        F.round(F.element_at("st", 1), 6).alias("z_level"),
        F.round(F.element_at("st", 2), 6).alias("q_interval"),
        F.round(
            F.when(F.element_at("st", 2) == 0, F.lit(0.0)).otherwise(
                F.element_at("st", 1) / F.element_at("st", 2)
            ),
            6,
        ).alias("croston_forecast"),
    )


@query(
    "qm25_streaming_ks_drift",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(value * 10) AS BIGINT) AS bucket,
             CAST((event_id * 7919) % 3 AS BIGINT) AS slice
      FROM events
    ),
    ref AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b
      WHERE slice = 0 GROUP BY bucket
    ),
    cur AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b
      WHERE slice <> 0 GROUP BY bucket
    ),
    grid AS (
      SELECT bucket FROM ref UNION SELECT bucket FROM cur
    ),
    cums AS (
      SELECT g.bucket,
             CAST(SUM(COALESCE(r.c, 0)) OVER (ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cr,
             CAST(SUM(COALESCE(u.c, 0)) OVER (ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cc
      FROM grid g
      LEFT JOIN ref r USING (bucket) LEFT JOIN cur u USING (bucket)
    ),
    tot AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM ref) AS nr,
             (SELECT CAST(SUM(c) AS BIGINT) FROM cur) AS nc
    ),
    dev AS (
      SELECT cums.bucket,
             abs(cums.cr * tot.nc - cums.cc * tot.nr) AS num
      FROM cums, tot
    ),
    best AS (
      SELECT bucket, num,
             ROW_NUMBER() OVER (ORDER BY num DESC, bucket ASC) AS rk
      FROM dev
    )
    SELECT tot.nr AS n_ref, tot.nc AS n_cur,
           best.bucket AS d_at_bucket, best.num AS d_num,
           round(CAST(best.num AS DOUBLE) / (tot.nr * tot.nc), 6) AS d_stat,
           (best.num * 20 > tot.nr * tot.nc) AS drift_flag
    FROM best, tot WHERE best.rk = 1
    """,
    tags=("streaming", "statistics", "monitoring"),
)
def qm25_streaming_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KS DRIFT MONITOR — the two-sample Kolmogorov-Smirnov
    distance between a REFERENCE histogram (epoch 0, frozen) and the
    accumulated live histogram (epochs 1+), the data-drift alarm an
    ML-ops pipeline runs beside its feature store: q36q computes the
    same statistic batch-side; this maintains it exactly-once as the
    stream arrives.

    Both histograms are ADDITIVE state (the qm18 lesson: SUM-monoid
    counts are NOT idempotent), so every epoch's bucket partials
    commit to the TxLogTable under (app_id, txn_version=epoch) and
    the verbatim epoch-0 replay below no-ops on the token — without
    it the reference itself would double-count and every subsequent
    drift reading would be corrupt. The supremum is located on EXACT
    INTEGERS (|cumR*nC - cumC*nR| over the shared bucket grid, the
    q36as argmax discipline) and the 0.05 drift flag is an integer
    comparison (num*20 vs nR*nC) — the ALARM can never flake on a
    last-ulp divergence, only the display D is double.

    Scale: per epoch one |buckets|-bounded partial appended O(1); the
    KS evaluation runs over the bucket-bounded merged frame. The
    histogram IS the state — no raw value retained.
    """
    from better_cdc_spark.txlog import TxLogTable

    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    bucketed = ev.select(
        "event_id",
        F.floor(F.col("value") * 10).cast("long").alias("bucket"),
    )
    arrivals = scratch_dir("qm25_arrivals")
    for b in range(3):
        bucketed.filter((F.col("event_id") * 7919) % 3 == b).coalesce(
            1
        ).write.mode("append").parquet(arrivals)

    t = TxLogTable(spark, scratch_dir("qm25_txlog"))
    epoch_files: dict[int, list[str]] = {}

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        epoch_files[e] = [
            r[0]
            for r in batch_df.select(F.input_file_name()).distinct().collect()
        ]
        partial = batch_df.groupBy("bucket").agg(
            F.count("*").cast("long").alias("n")
        ).withColumn("is_ref", F.lit(e == 0))
        t.append(partial, app_id="qm25", txn_version=e)

    q = (
        spark.readStream.schema(bucketed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", scratch_dir("qm25_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # checkpoint-recovery replay: epoch 0 (the REFERENCE) re-delivered
    # verbatim; the token no-ops — else the baseline itself inflates.
    replayed = spark.read.schema(bucketed.schema).parquet(*epoch_files[0])
    step(replayed, 0)

    merged = t.read()
    ref = (
        merged.filter(F.col("is_ref"))
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("cref"))
    )
    cur = (
        merged.filter(~F.col("is_ref"))
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("ccur"))
    )
    grid = ref.select("bucket").union(cur.select("bucket")).distinct()
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    cums = (
        grid.join(ref, "bucket", "left")
        .join(cur, "bucket", "left")
        .select(
            "bucket",
            F.sum(F.coalesce("cref", F.lit(0))).over(wb).cast("long").alias("cr"),
            F.sum(F.coalesce("ccur", F.lit(0))).over(wb).cast("long").alias("cc"),
        )
    )
    tot = ref.agg(F.sum("cref").cast("long").alias("nr")).crossJoin(
        cur.agg(F.sum("ccur").cast("long").alias("nc"))
    )
    dev = cums.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "nr",
        "nc",
        F.abs(F.col("cr") * F.col("nc") - F.col("cc") * F.col("nr"))
        .cast("long")
        .alias("num"),
    )
    best = dev.orderBy(F.col("num").desc(), F.col("bucket").asc()).limit(1)
    return best.select(
        F.col("nr").alias("n_ref"),
        F.col("nc").alias("n_cur"),
        F.col("bucket").alias("d_at_bucket"),
        F.col("num").alias("d_num"),
        F.round(
            F.col("num").cast("double") / (F.col("nr") * F.col("nc")), 6
        ).alias("d_stat"),
        (F.col("num") * 20 > F.col("nr") * F.col("nc")).alias("drift_flag"),
    )


@query(
    "qm26_streaming_confusion_monitor",
    # the BATCH confusion matrix (q36az's full-corpus cells) IS the
    # oracle: additive 2x2 cells merged through the txlog token sum to
    # exactly the batch counts, so MCC/F1 match bit-for-bit
    oracle=relational.MCC_ORACLE,
    tags=("streaming", "statistics", "monitoring", "evaluation"),
)
def qm26_streaming_confusion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CONFUSION-MATRIX MONITOR — q36az's MCC/F1 maintained
    incrementally as predictions arrive: the model-quality sibling of
    qm25's input-drift alarm (drift says the INPUTS moved; this says
    the CLASSIFIER'S AGREEMENT moved), and the third member of the
    ADDITIVE-state streaming class (qm18 histogram, qm25 KS): 2x2
    cell counts are a SUM-monoid, not idempotent, so a re-delivered
    epoch would silently inflate exactly the cells a quality gate
    alerts on.

    Every epoch's four partial cells commit under (app_id,
    txn_version=epoch); the verbatim epoch-0 replay below no-ops on
    the token. The merged cells equal the batch corpus counts
    EXACTLY, so q36az's DuckDB oracle hash-checks the streaming
    result including the derived MCC and F1 doubles (identical
    pinned expressions on identical integers).

    Scale: per epoch one map-side 4-cell fold appended O(1); the
    readout is a scalar frame. The cells ARE the state.
    """
    from better_cdc_spark.txlog import TxLogTable

    tune_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") > 150, 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("b"),
    )
    arrivals = scratch_dir("qm26_arrivals")
    for e in range(3):
        ev.filter((F.col("event_id") * 7919) % 3 == e).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    t = TxLogTable(spark, scratch_dir("qm26_txlog"))
    epoch_files: dict[int, list[str]] = {}

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        epoch_files[e] = [
            r[0]
            for r in batch_df.select(F.input_file_name()).distinct().collect()
        ]
        partial = batch_df.agg(
            F.sum(F.col("a") * F.col("b")).cast("long").alias("tp"),
            F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("fp"),
            F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("fn"),
            F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("tn"),
        ).withColumn("epoch", F.lit(e).cast("long"))
        t.append(partial, app_id="qm26", txn_version=e)

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", scratch_dir("qm26_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # checkpoint-recovery replay: epoch 0 verbatim; the token no-ops —
    # an untokened double-append inflates exactly the alerted cells.
    replayed = spark.read.schema(ev.schema).parquet(*epoch_files[0])
    step(replayed, 0)

    cells = t.read().agg(
        F.sum("tp").cast("long").alias("tp"),
        F.sum("fp").cast("long").alias("fp"),
        F.sum("fn").cast("long").alias("fn"),
        F.sum("tn").cast("long").alias("tn"),
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
