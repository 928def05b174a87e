"""Streaming CDC pipeline tests mirroring the reference's integration suite.

  - commit-boundary atomicity across micro-batches (SURVEY §4.3.1;
    engine.go:203-208 — flush at Commit, never checkpoint mid-tx)
  - no replay after clean stop (cdc_checkpoint_test.go:14-105)
  - at-least-once + dedup = effectively-once (cdc_recovery_test.go:12-122,
    cdc_dedup_test.go:15-163)
  - watermark drops late rows (Q80)
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from better_cdc_spark.streaming.pipeline import CDCStreamPipeline

TS = "2024-01-01T12:00:00.000Z"


def _write_changelog_file(path: str, rows: list[dict], mtime: float) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def _data_row(seq, lsn, action, xid, table="users", cols=None, ident=None):
    return {
        "ingest_seq": seq,
        "lsn": lsn,
        "action": action,
        "xid": xid,
        "timestamp": None,
        "schema": "public",
        "table": table,
        "columns": cols,
        "identity": ident,
    }


def _marker(seq, lsn, action, xid, ts=None):
    return {
        "ingest_seq": seq,
        "lsn": lsn,
        "action": action,
        "xid": xid,
        "timestamp": ts,
        "schema": None,
        "table": None,
        "columns": None,
        "identity": None,
    }


def _cols(i):
    return [{"name": "id", "type": "bigint", "value": str(i)}]


@pytest.fixture()
def changelog_dirs(tmp_path):
    src = tmp_path / "src"
    work = tmp_path / "work"
    src.mkdir()
    now = time.time()
    # file 1: tx 100 complete; tx 200 begun (2 of 3 rows), no commit yet.
    _write_changelog_file(
        str(src / "001.json"),
        [
            _marker(1, "0/A0", "B", 100),
            _data_row(2, "0/A0", "I", 100, cols=_cols(1)),
            _data_row(3, "0/A0", "I", 100, cols=_cols(2)),
            _marker(4, "0/A0", "C", 100, TS),
            _marker(5, "0/B0", "B", 200),
            _data_row(6, "0/B0", "I", 200, cols=_cols(10)),
            _data_row(7, "0/B0", "I", 200, cols=_cols(11)),
        ],
        now - 20,
    )
    # file 2: tx 200 finishes; tx 300 never commits (in-flight forever).
    _write_changelog_file(
        str(src / "002.json"),
        [
            _data_row(8, "0/B0", "I", 200, cols=_cols(12)),
            _marker(9, "0/B0", "C", 200, TS),
            _marker(10, "0/C0", "B", 300),
            _data_row(11, "0/C0", "I", 300, cols=_cols(99)),
        ],
        now - 10,
    )
    return str(src), str(work)


def test_commit_boundary_atomicity_across_batches(spark, changelog_dirs):
    src, work = changelog_dirs
    pipe = CDCStreamPipeline(spark, src, work, allowlist=["public.users"])
    pipe.run_available()
    sink = pipe.sink()

    ids = sorted(r[0] for r in sink.select("event_id").collect())
    # tx100 fully emitted; tx200 emitted only after its commit arrived in
    # batch 2, with seq_in_tx continuous across the batch boundary.
    assert ids == [
        "0/A0:100:INSERT:public.users:0",
        "0/A0:100:INSERT:public.users:1",
        "0/B0:200:INSERT:public.users:0",
        "0/B0:200:INSERT:public.users:1",
        "0/B0:200:INSERT:public.users:2",
    ]
    # tx300 (no commit) is held back, not dropped: it sits in pending state.
    pending = pipe.pending()
    assert pending.filter(F.col("xid") == 300).count() == 2  # B + I rows


def test_e2e_load_shape_lands_every_event(spark, tmp_path):
    """The e2e rig's workload (interleaved txs, commits concentrated in
    the tail file) through the real pipeline: every data row lands, no
    dupes, nothing stranded pending. Guards the ordered-admission
    contract — without strictly increasing file mtimes the commit file
    can jump the queue and strand most of the stream (seen live at 50k
    ops; the rig now stamps mtimes like the test fixtures always have)."""
    from tools.e2e_load import synthetic_ops

    n_ops = 2000
    src = str(tmp_path / "e2e_src")
    synthetic_ops(spark, n_ops).repartitionByRange(
        4, "ingest_seq"
    ).sortWithinPartitions("ingest_seq").write.json(src)
    base = time.time()
    for i, f in enumerate(sorted(os.listdir(src))):
        if f.startswith("part-"):
            t = base - 20 + 2 * i
            os.utime(os.path.join(src, f), (t, t))
    pipe = CDCStreamPipeline(
        spark, src, str(tmp_path / "e2e_work"),
        allowlist=["public.orders", "public.accounts"], max_files_per_trigger=1,
    )
    pipe.run_available()
    sink = pipe.sink()
    assert sink.count() == n_ops
    assert sink.select("event_id").distinct().count() == n_ops
    assert pipe.pending().count() == 0


def test_sink_is_commit_bucket_partitioned(spark, changelog_dirs):
    """The idempotent sink is hive-partitioned by commit-time bucket
    (bucket width = duplicate_window_s), which is what lets every epoch's
    dedup anti-join prune to the batch's own buckets. The partition
    column stays an implementation detail: sink() hides it."""
    src, work = changelog_dirs
    pipe = CDCStreamPipeline(spark, src, work, allowlist=["public.users"])
    pipe.run_available()
    parts = [d for d in os.listdir(pipe.sink_dir) if d.startswith("commit_bucket=")]
    assert parts, "sink must be partitioned by commit_bucket"
    assert "commit_bucket" not in pipe.sink().columns


def test_no_replay_after_clean_stop(spark, changelog_dirs):
    src, work = changelog_dirs
    pipe = CDCStreamPipeline(spark, src, work, allowlist=["public.users"])
    pipe.run_available()
    n1 = pipe.sink().count()

    # Restart with the same checkpoint, no new files → nothing re-emitted.
    pipe2 = CDCStreamPipeline(spark, src, work, allowlist=["public.users"])
    pipe2.run_available()
    assert pipe2.sink().count() == n1


def test_effectively_once_under_full_replay(spark, changelog_dirs, tmp_path):
    src, work = changelog_dirs
    pipe = CDCStreamPipeline(spark, src, work, allowlist=["public.users"])
    pipe.run_available()
    n1 = pipe.sink().count()

    # Hard-kill analog: checkpoint lost → source replays from scratch into
    # the SAME sink. event_id dedup collapses every duplicate.
    pipe3 = CDCStreamPipeline(spark, src, work, allowlist=["public.users"])
    pipe3.checkpoint_dir = str(tmp_path / "fresh_ckpt")
    pipe3.run_available()
    sink = pipe3.sink()
    assert sink.count() == n1
    assert sink.select("event_id").distinct().count() == n1


def test_watermark_drops_late_rows(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    t0 = "2024-01-01 10:{:02d}:00"
    early = [(i, t0.format(m)) for i, m in enumerate([0, 1, 2, 3, 4])]
    df1 = spark.createDataFrame(early, "id long, ts_s string").select(
        "id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    df1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    # f2: an on-time row; f3: a row 90 min late (08:59). Spark filters late
    # rows against the PREVIOUS batch's watermark (so a row arriving in the
    # same batch that advances the watermark is still admitted) — the
    # straggler therefore arrives one batch after the advance.
    df2 = spark.createDataFrame(
        [(100, "2024-01-01 10:30:00")], "id long, ts_s string"
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    df2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    df3 = spark.createDataFrame(
        [(101, "2024-01-01 08:59:00")], "id long, ts_s string"
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    df3.coalesce(1).write.mode("overwrite").parquet(str(src / "f3"))
    for i, d in enumerate(["f1", "f2", "f3"]):
        for f in (src / d).glob("*.parquet"):
            os.utime(f, (time.time() - 30 + i * 10,) * 2)

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").cast("string").alias("ws"), "n")
    )
    out_dir = str(tmp_path / "wm_out")

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(lambda df, _e: df.write.mode("append").parquet(out_dir))
        .option("checkpointLocation", str(tmp_path / "wm_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    emitted = {r["ws"]: r["n"] for r in spark.read.parquet(out_dir).collect()}
    # Windows up to 10:05 finalized once the watermark passed; the 08:59
    # straggler arrived beneath the watermark and was DROPPED — its window
    # never appears.
    assert "2024-01-01 08:55:00" not in emitted
    assert emitted.get("2024-01-01 10:00:00") == 5


def _write_with_corrupt_line(tmp_path):
    src = tmp_path / "csrc"
    src.mkdir()
    now = time.time()
    rows = [
        _marker(1, "0/A0", "B", 100),
        _data_row(2, "0/A0", "I", 100, cols=_cols(1)),
        _marker(3, "0/A0", "C", 100, TS),
    ]
    with open(src / "001.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        f.write("{this is not json\n")
    os.utime(src / "001.json", (now - 10, now - 10))
    return str(src)


def test_decode_error_is_fatal_by_default(spark, tmp_path):
    """Reference parity: undecodable input kills the query (wal2json_test.go:14)."""
    src = _write_with_corrupt_line(tmp_path)
    pipe = CDCStreamPipeline(spark, src, str(tmp_path / "cwork"))
    with pytest.raises(Exception, match="undecodable changelog record"):
        pipe.run_available()


def test_decode_error_quarantined_under_dlq_policy(spark, tmp_path):
    from better_cdc_spark.config import load

    src = _write_with_corrupt_line(tmp_path)
    cfg = load(env={"FAILURE_POLICY": "dlq"})
    pipe = CDCStreamPipeline(spark, src, str(tmp_path / "dwork"), config=cfg)
    pipe.run_available()
    # good rows still flowed to the sink; the bad line is quarantined
    assert pipe.sink().count() == 1
    dlq = spark.read.parquet(pipe.decode_dlq_dir)
    assert dlq.count() == 1
    assert "{this is not json" in dlq.first()["payload_prefix"]


def test_decode_error_dropped_under_skip_policy(spark, tmp_path):
    from better_cdc_spark.config import load

    src = _write_with_corrupt_line(tmp_path)
    cfg = load(env={"FAILURE_POLICY": "skip"})
    pipe = CDCStreamPipeline(spark, src, str(tmp_path / "swork"), config=cfg)
    pipe.run_available()
    assert pipe.sink().count() == 1
    assert not os.path.exists(pipe.decode_dlq_dir)


def _three_file_source(tmp_path, corrupt_in: int | None = None):
    """Three segments, one complete transaction each (xid 100/200/300,
    two inserts apiece), optionally with an undecodable line appended to
    segment ``corrupt_in`` (1-based). Strictly increasing mtimes."""
    src = tmp_path / "src3"
    src.mkdir()
    now = time.time()
    for i in (1, 2, 3):
        xid, seq = 100 * i, 10 * i
        rows = [
            _marker(seq, f"0/{i}0", "B", xid),
            _data_row(seq + 1, f"0/{i}0", "I", xid, cols=_cols(seq + 1)),
            _data_row(seq + 2, f"0/{i}0", "I", xid, cols=_cols(seq + 2)),
            _marker(seq + 3, f"0/{i}0", "C", xid, TS),
        ]
        path = src / f"00{i}.json"
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
            if i == corrupt_in:
                f.write("{this is not json\n")
        os.utime(path, (now - 40 + 10 * i, now - 40 + 10 * i))
    return str(src)


def _sink_xids(pipe):
    return sorted({r[0] for r in pipe.sink().select("txid").collect()})


# Spark jobs one clean micro-batch may launch: the decode checkpoint (1),
# the pending merge (its xid shuffle, then the checkpoint: 2), the envelope
# checkpoint (normalize's commit aggregate and its broadcast, the seq_in_tx
# window shuffle, the checkpoint: 4), the sink's dedup-set broadcast and
# append (2), and the pending snapshot write (1). The corrupt-record count,
# the commit split and the sink's bucket span ride on those jobs; before
# they did, an epoch launched 17-18.
MAX_JOBS_PER_EPOCH = 10


def test_epoch_job_count_is_pinned(spark, tmp_path):
    src = _three_file_source(tmp_path)
    pipe = CDCStreamPipeline(spark, src, str(tmp_path / "jwork"))
    sc = spark.sparkContext
    process, groups = pipe._process_batch, []

    def grouped(batch_df, epoch_id):
        group = f"jobpin-{uuid.uuid4().hex}-e{epoch_id}"
        groups.append(group)
        sc.setJobGroup(group, group)
        try:
            return process(batch_df, epoch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    pipe._process_batch = grouped
    pipe.run_available()
    assert _sink_xids(pipe) == [100, 200, 300]
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert len(jobs) == 3
    assert max(jobs) <= MAX_JOBS_PER_EPOCH, jobs


def test_late_corrupt_line_crash_stops_at_its_epoch(spark, tmp_path):
    src = _three_file_source(tmp_path, corrupt_in=2)
    pipe = CDCStreamPipeline(spark, src, str(tmp_path / "lcwork"))
    with pytest.raises(Exception, match="undecodable changelog record"):
        pipe.run_available()
    # the clean epoch before the corrupt one committed; nothing after ran
    assert _sink_xids(pipe) == [100]


@pytest.mark.parametrize("policy", ["dlq", "skip"])
def test_late_corrupt_line_is_handled_in_its_own_epoch(spark, tmp_path, policy):
    from better_cdc_spark.config import load

    src = _three_file_source(tmp_path, corrupt_in=2)
    cfg = load(env={"FAILURE_POLICY": policy})
    pipe = CDCStreamPipeline(spark, src, str(tmp_path / "lwork"), config=cfg)
    pipe.run_available()
    # clean epochs before and after the corrupt one, and the corrupt
    # epoch's own decodable rows, all reach the sink
    assert _sink_xids(pipe) == [100, 200, 300]
    assert pipe.sink().count() == 6
    if policy == "dlq":
        dlq = spark.read.parquet(pipe.decode_dlq_dir)
        assert dlq.count() == 1
        assert "{this is not json" in dlq.first()["payload_prefix"]
    else:
        assert not os.path.exists(pipe.decode_dlq_dir)


def _batch_df(spark, rows):
    from better_cdc_spark.schemas import CHANGE_LOG_SCHEMA

    return spark.createDataFrame(
        [
            (
                r["ingest_seq"], r["lsn"], r["action"], r["xid"], None,
                r["schema"], r["table"],
                [(c["name"], c["type"], c["value"]) for c in r["columns"]] if r["columns"] else None,
                None,
            )
            for r in rows
        ],
        CHANGE_LOG_SCHEMA,
    )


def test_pending_carryover_idempotent_under_epoch_replay(spark, tmp_path):
    """Crash between pending-store update and checkpoint commit (ADVICE r1
    high): the replayed batch overlaps the already-carried rows. Without
    ingest_seq dedup the duplicates get DISTINCT seq_in_tx → distinct
    event_ids the sink dedup cannot collapse, and later events shift."""
    pipe = CDCStreamPipeline(spark, str(tmp_path / "nosrc"), str(tmp_path / "work"))
    b1 = [
        _marker(1, "0/D0", "B", 400),
        _data_row(2, "0/D0", "I", 400, cols=_cols(1)),
        _data_row(3, "0/D0", "I", 400, cols=_cols(2)),
    ]
    pipe._process_batch(_batch_df(spark, b1), epoch_id=0)
    # simulate the post-crash replay of the SAME epoch: pending already
    # holds b1's rows, and the batch delivers them again
    pipe._process_batch(_batch_df(spark, b1), epoch_id=0)
    assert pipe.pending().count() == 3  # not 6

    pipe._process_batch(_batch_df(spark, [_marker(4, "0/D0", "C", 400, TS)]), epoch_id=1)
    sink = pipe.sink()
    ids = sorted(r[0] for r in sink.select("event_id").collect())
    assert ids == [
        "0/D0:400:INSERT:public.users:0",
        "0/D0:400:INSERT:public.users:1",
    ]


def test_null_xid_rows_never_commit(spark, tmp_path):
    """A null xid matches no commit marker, not even a null-xid one: its
    data row is carried in pending, the marker is dropped, and a complete
    transaction in the same batch is emitted as usual."""
    pipe = CDCStreamPipeline(spark, str(tmp_path / "nosrc"), str(tmp_path / "work"))
    batch = [
        _marker(1, "0/G0", "B", 800),
        _data_row(2, "0/G0", "I", 800, cols=_cols(1)),
        _marker(3, "0/G0", "C", 800, TS),
        _data_row(4, "0/G1", "I", None, cols=_cols(2)),
        _marker(5, "0/G1", "C", None, TS),
    ]
    pipe._process_batch(_batch_df(spark, batch), epoch_id=0)
    assert [r[0] for r in pipe.sink().select("event_id").collect()] == [
        "0/G0:800:INSERT:public.users:0"
    ]
    assert [
        (r["ingest_seq"], r["action"], r["xid"]) for r in pipe.pending().collect()
    ] == [(4, "I", None)]

    # a later null-xid commit marker does not release it either
    pipe._process_batch(
        _batch_df(spark, [_marker(6, "0/G2", "C", None, TS)]), epoch_id=1
    )
    assert pipe.sink().count() == 1
    assert [
        (r["ingest_seq"], r["action"], r["xid"]) for r in pipe.pending().collect()
    ] == [(4, "I", None)]


def test_incomplete_pending_snapshot_is_ignored(spark, tmp_path):
    """A pending epoch dir without _SUCCESS (crash mid-write) must be
    invisible; the previous complete snapshot stays authoritative, and a
    missing store is empty — but never silently empty on other errors."""
    pipe = CDCStreamPipeline(spark, str(tmp_path / "nosrc"), str(tmp_path / "work"))
    assert pipe.pending().count() == 0  # missing store → empty

    b1 = [_marker(1, "0/E0", "B", 500), _data_row(2, "0/E0", "I", 500, cols=_cols(1))]
    pipe._process_batch(_batch_df(spark, b1), epoch_id=0)
    assert pipe.pending().count() == 2

    # fake a torn write of epoch=1: dir exists, no _SUCCESS marker
    torn = os.path.join(pipe.pending_dir, "epoch=1")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "w") as f:
        f.write("garbage")
    assert [e for e, _ in pipe._pending_epoch_dirs()] == [0]
    assert pipe.pending().count() == 2


def test_rate_limited_source_runs_multiple_batches(spark, tmp_path):
    """maxFilesPerTrigger=1 over 4 splits must produce >= 4 micro-batches
    (state demonstrably carried across epochs, not resolved in one)."""
    import uuid

    from pyspark.sql import functions as F
    from better_cdc_spark.streaming.core import drain, events_stream
    from tests.conftest import SF_SMOKE

    agg = (
        events_stream(spark, SF_SMOKE, max_files_per_trigger=1)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    drain(q)
    batches = q.lastProgress["batchId"] + 1
    assert batches >= 4, f"expected >=4 micro-batches, got {batches}"


def test_qm07_ivm_is_arrival_order_independent(spark):
    """The IVM theorem qm07's oracle rests on, pinned directly: folding
    the SAME delta set in a different micro-batch decomposition (and
    reversed arrival order) produces the identical view. Runs the
    retraction algebra on two hand-built decompositions of one
    changelog and hash-compares the merged views."""
    rows = []
    for k in range(300):
        rows.append((k, "INSERT", None, None, str(k % 5), k * 10))
        if k % 10 == 6:
            rows.append((k, "UPDATE", str(k % 5), k * 10, str(k % 5), k * 10 + 250))
        if k % 10 == 7:
            rows.append((k, "UPDATE", str(k % 5), k * 10, "R", k * 10))
        if k % 10 == 9:
            rows.append((k, "DELETE", str(k % 5), k * 10, None, None))
    schema = "okey long, op string, g_old string, v_old long, g_new string, v_new long"
    changelog = spark.createDataFrame(rows, schema)

    def fold(batches):
        from pyspark.sql import functions as F

        partials = []
        for b in batches:
            retract = b.filter(F.col("g_old").isNotNull()).select(
                F.col("g_old").alias("grp"),
                F.lit(-1).cast("long").alias("dn"),
                (-F.col("v_old")).alias("dsum"),
            )
            assert_ = b.filter(F.col("g_new").isNotNull()).select(
                F.col("g_new").alias("grp"),
                F.lit(1).cast("long").alias("dn"),
                F.col("v_new").alias("dsum"),
            )
            partials.append(
                retract.unionByName(assert_)
                .groupBy("grp")
                .agg(F.sum("dn").alias("dn"), F.sum("dsum").alias("dsum"))
            )
        merged = partials[0]
        for p in partials[1:]:
            merged = merged.unionByName(p)
        view = (
            merged.groupBy("grp")
            .agg(F.sum("dn").alias("n_rows"), F.sum("dsum").alias("sum_cents"))
            .filter(F.col("n_rows") > 0)
        )
        return sorted(map(tuple, view.collect()))

    three_fwd = fold([changelog.filter(F.col("okey") % 3 == b) for b in range(3)])
    five_rev = fold(
        [changelog.filter(F.col("okey") % 5 == b) for b in reversed(range(5))]
    )
    one_shot = fold([changelog])
    assert three_fwd == five_rev == one_shot
    # and the view matches the directly-computed final state
    assert ("R", 30, sum(k * 10 for k in range(300) if k % 10 == 7)) in {
        (g, n, s) for g, n, s in one_shot
    }


def test_qm18_sum_state_needs_the_commit_token(spark):
    """Negative control for qm18's exactly-once claim: histogram counts
    are a SUM-monoid, so the SAME double-append WITHOUT the
    (app_id, txn_version) token must inflate the merged counts — i.e.
    the token, not luck, is what absorbs the checkpoint-recovery
    replay."""
    from pyspark.sql import functions as F

    from better_cdc_spark.scratch import scratch_dir
    from better_cdc_spark.txlog import TxLogTable

    part = spark.createDataFrame([(1, 10), (2, 5)], "bucket long, n long")

    guarded = TxLogTable(spark, scratch_dir("qm18_neg_guarded"))
    guarded.append(part, app_id="t", txn_version=0)
    guarded.append(part, app_id="t", txn_version=0)  # replay: no-op
    ok = {r["bucket"]: r["s"] for r in
          guarded.read().groupBy("bucket").agg(F.sum("n").alias("s")).collect()}
    assert ok == {1: 10, 2: 5}

    naked = TxLogTable(spark, scratch_dir("qm18_neg_naked"))
    naked.append(part)
    naked.append(part)  # no token: the replay double-counts
    bad = {r["bucket"]: r["s"] for r in
           naked.read().groupBy("bucket").agg(F.sum("n").alias("s")).collect()}
    assert bad == {1: 20, 2: 10}


def test_qm19_recurrence_state_is_order_sensitive_and_token_guarded(spark):
    """Negative controls for qm19's recurrence-state claims:
    (1) unlike a sum, applying the SAME batches in a different ORDER
    yields a different (l, b) — recurrence state cannot absorb
    out-of-order delivery even in principle; (2) a token-guarded
    re-append of a completed epoch's state is a no-op, while the naked
    double-append leaves two state rows for the epoch (ambiguous
    state)."""
    from pyspark.sql import functions as F

    from better_cdc_spark.scratch import scratch_dir
    from better_cdc_spark.txlog import TxLogTable

    def fold(ys, state=None):
        if state is None:
            l, b = ys[0], ys[1] - ys[0]
            ys = ys[1:]
        else:
            l, b = state
        for y in ys:
            l_new = (y + l + b) / 2
            b = (l_new - l + 3 * b) / 4
            l = l_new
        return l, b

    batch0, batch1 = [1.0, 4.0, 2.0], [8.0, 3.0, 5.0]
    in_order = fold(batch1, fold(batch0))
    swapped = fold(batch0, fold(batch1))
    assert in_order != swapped  # order sensitivity: not a commutative merge

    row = [("click", 1.5, 0.25, 10, 9, 0)]
    schema = "event_type string, l double, b double, n_days long, last_day long, epoch long"

    guarded = TxLogTable(spark, scratch_dir("qm19_neg_guarded"))
    guarded.append(spark.createDataFrame(row, schema), app_id="t", txn_version=0)
    guarded.append(spark.createDataFrame(row, schema), app_id="t", txn_version=0)
    assert guarded.read().count() == 1  # replay no-op: one state row

    naked = TxLogTable(spark, scratch_dir("qm19_neg_naked"))
    naked.append(spark.createDataFrame(row, schema))
    naked.append(spark.createDataFrame(row, schema))
    assert naked.read().count() == 2  # untokened replay: ambiguous state


def test_r11_twin_replay_corruption_modes_are_real(spark):
    """Negative controls for the round-11 recurrence/additive twins —
    each one's docstring claims a SPECIFIC corruption if a completed
    epoch replays without the txn token; prove the corruption is real
    (so the token is load-bearing, not ceremonial):

    - qm23 Page-Hinkley: the state carries a DECISION; replaying a
      quiet prefix shifts the running mean and moves/suppresses the
      first-alarm index.
    - qm24 Croston: replaying a zero-run epoch inflates the
      inter-demand interval (the forecast denominator) silently.
    - qm25 KS drift: double-counting the frozen reference histogram
      changes the integer supremum numerator — the drift alarm input.
    """

    def ph_fold(xs, st=(0.0, 0.0, 0.0, 0.0, -1.0)):
        t, s, m, mmin, alarm = st
        for x in xs:
            t += 1
            s += x
            m = m + x - s / t - 0.0625
            mmin = min(mmin, m)
            if alarm < 0 and m - mmin > 2.0:
                alarm = t
        return t, s, m, mmin, alarm

    quiet, shifted = [1.0, 1.1, 0.9, 1.0], [3.5, 3.6, 3.4, 3.5]
    clean = ph_fold(shifted, ph_fold(quiet))
    corrupt = ph_fold(shifted, ph_fold(quiet, ph_fold(quiet)))
    assert clean[4] != corrupt[4]  # the ALARM INDEX itself moved

    def croston_fold(zs, st=(0.0, 0.0, 1.0, 0.0)):
        z, q, psi, init = st
        for x in zs:
            if x == 0:
                psi += 1
            elif init == 0:
                z, q, psi, init = x, psi, 1.0, 1.0
            else:
                z, q, psi = z / 2 + x / 2, q / 2 + psi / 2, 1.0
        return z, q, psi, init

    zero_run, demands = [0.0, 0.0, 0.0], [2.0, 0.0, 4.0]
    clean_c = croston_fold(demands, croston_fold(zero_run))
    corrupt_c = croston_fold(
        demands, croston_fold(zero_run, croston_fold(zero_run))
    )
    assert corrupt_c[1] > clean_c[1]  # interval silently inflated

    ref = {0: 10, 1: 5}
    cur = {0: 9, 1: 9}
    def ks_num(r, c):
        nr, nc = sum(r.values()), sum(c.values())
        best, cr, cc = 0, 0, 0
        for b in sorted(set(r) | set(c)):
            cr += r.get(b, 0)
            cc += c.get(b, 0)
            best = max(best, abs(cr * nc - cc * nr))
        return best, nr, nc

    clean_k = ks_num(ref, cur)
    doubled = {k: 2 * v for k, v in ref.items()}
    corrupt_k = ks_num(doubled, cur)
    # same true distributions, but the doubled reference changes the
    # exact integer numerator/denominator pair the alarm compares
    assert (clean_k[0], clean_k[1]) != (corrupt_k[0], corrupt_k[1])


def test_replay_of_commit_epoch_reuses_prior_pending_snapshot(spark, tmp_path):
    """Crash between _write_pending(N) and the epoch-N checkpoint commit
    (r14 review): the replay of epoch N must read pending snapshot N-1
    (its INPUT), not its own output snapshot N. Reading N would drop the
    carried-over rows of transactions that committed in batch N, so the
    replayed seq_in_tx window re-numbers from 0 and mints DIFFERENT
    event_ids the sink dedup cannot collapse — a duplicate delivery."""
    pipe = CDCStreamPipeline(spark, str(tmp_path / "nosrc"), str(tmp_path / "work"))
    b1 = [
        _marker(1, "0/F0", "B", 700),
        _data_row(2, "0/F0", "I", 700, table="users", cols=_cols(1)),
    ]
    b2 = [
        # different table than b1's row: the straddling tx's second row
        # would otherwise collide into the first row's event_id on replay
        # and mask the bug
        _data_row(3, "0/F0", "I", 700, table="orders", cols=_cols(2)),
        _marker(4, "0/F0", "C", 700, TS),
    ]
    pipe._process_batch(_batch_df(spark, b1), epoch_id=0)
    pipe._process_batch(_batch_df(spark, b2), epoch_id=1)
    want = [
        "0/F0:700:INSERT:public.orders:1",
        "0/F0:700:INSERT:public.users:0",
    ]
    assert sorted(r[0] for r in pipe.sink().select("event_id").collect()) == want
    # pending_0 must still exist: it is the replay input for epoch 1
    assert [e for e, _ in pipe._pending_epoch_dirs()] == [0, 1]

    # post-crash replay of the commit epoch
    pipe._process_batch(_batch_df(spark, b2), epoch_id=1)
    assert sorted(r[0] for r in pipe.sink().select("event_id").collect()) == want

    # the NEXT epoch prunes the now-safe snapshot 0 and keeps 1
    pipe._process_batch(
        _batch_df(spark, [_marker(5, "0/F1", "C", 701, TS)]), epoch_id=2
    )
    assert [e for e, _ in pipe._pending_epoch_dirs()] == [1, 2]


def test_qc14_keeps_its_dirs_under_the_scratch_root(spark):
    """qc14 stages waves, history and a checkpoint on disk; all of it must
    live under the per-process scratch root, so repeated sweeps leave no
    directory behind in the system temp dir."""
    import tempfile

    from better_cdc_spark.queries import load_all
    from tests.conftest import SF_SMOKE

    def bcs_entries() -> set[str]:
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("bcs_")}

    before = bcs_entries()
    assert load_all()["qc14_streaming_scd2"].fn(spark, SF_SMOKE).count() > 0
    assert bcs_entries() - before - {f"bcs_scratch_{os.getpid()}"} == set()
