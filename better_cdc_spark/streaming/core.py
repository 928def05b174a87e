"""Streaming building blocks (file source, memory/parquet sinks).

The reference's stream is a Go-channel pipeline (engine.go:106-121); here a
streaming DataFrame replaces the channels, micro-batches replace the
size/timeout batching (R10, engine.go:124-220), and Spark's checkpoint
commit log replaces the LSN checkpoint manager (R16, checkpoint.go:17-82).

Local tests drive finite file sources synchronously. One harness is the
drive path for every finite stream in the engine: ``drain`` runs a started
query to completion and always stops it; ``drain_files`` streams a parquet
directory through a foreachBatch step one file per micro-batch (optionally
re-delivering epoch 0 afterwards, the checkpoint-recovery replay);
``stage_waves`` writes the arrival files such a stream admits in order. The
batch/stream unification means every operator here is the same code that
would run against Kafka at scale.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from better_cdc_spark.io import NANOS_AS_LONG, read_parquet
from better_cdc_spark.scratch import scratch_dir
from better_cdc_spark.session import ckpt

def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """The schema the file-stream source must declare: whatever a batch scan
    of events.parquet yields (ts arrives as raw nano-long or TIMESTAMP
    depending on the driver's generator; see io.events_ts_to_timestamp)."""
    spark.conf.set(NANOS_AS_LONG, "true")
    return read_parquet(spark, f"{sf_dir}/events.parquet").schema


def _src_key(sf_dir: str) -> str:
    """Staging-dir key tied to the source file's identity, so regenerated
    testdata invalidates previously staged copies."""
    st = os.stat(f"{sf_dir}/events.parquet")
    return f"{_sf_tag(sf_dir)}_{st.st_size}_{int(st.st_mtime)}"


def _sf_tag(sf_dir: str) -> str:
    return sf_dir.strip("/").replace("/", "_")


def _prune_stale_staging(sf_dir: str, live_key: str) -> None:
    """Remove staged dirs for this sf_dir whose (size, mtime) key no longer
    matches — regenerated testdata would otherwise strand full staged
    copies (including sf0.1 splits) in /tmp across rounds. live_key
    embeds the sf tag, so "same tag, different key" = stale."""
    tmp = tempfile.gettempdir()
    tag = _sf_tag(sf_dir)
    for name in os.listdir(tmp):
        if name.startswith("bcs_events_") and tag in name and live_key not in name:
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)


def _staged_events_dir(sf_dir: str) -> str:
    """The file-stream source requires a directory; stage a symlink to the
    single events.parquet file in a stable per-sf temp dir."""
    key = _src_key(sf_dir)
    _prune_stale_staging(sf_dir, key)
    d = os.path.join(tempfile.gettempdir(), f"bcs_events_src_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        try:
            os.symlink(f"{sf_dir}/events.parquet", link)
        except OSError:
            shutil.copyfile(f"{sf_dir}/events.parquet", link)
    return d


def _staged_events_split_dir(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Stage events as ``n_files`` parquet splits (stable per sf), so a
    maxFilesPerTrigger source delivers a genuinely multi-batch stream."""
    key = _src_key(sf_dir)
    _prune_stale_staging(sf_dir, key)
    d = os.path.join(tempfile.gettempdir(), f"bcs_events_split{n_files}_{key}")
    marker = os.path.join(d, "_SPLIT_DONE")
    if not os.path.exists(marker):
        spark.conf.set(NANOS_AS_LONG, "true")
        spark.read.parquet(f"{sf_dir}/events.parquet").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(d)
        open(marker, "w").close()
    return d


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    n_splits: int = 4,
) -> DataFrame:
    """Streaming read of the events table (file source, Q04).

    At scale this is `readStream.format("kafka")` / a change feed; the file
    source exercises identical semantics (offsets = file positions).

    ``max_files_per_trigger`` turns on rate limiting (the file-source
    analog of Kafka's maxOffsetsPerTrigger): events are staged as
    ``n_splits`` files and each micro-batch admits that many — the stream
    becomes genuinely multi-batch, so stateful operators carry state
    across epochs instead of resolving in one.
    """
    from better_cdc_spark.io import events_ts_to_timestamp

    reader = spark.readStream.schema(_events_raw_schema(spark, sf_dir)).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        src = _staged_events_split_dir(spark, sf_dir, n_splits)
    else:
        src = _staged_events_dir(sf_dir)
    raw = reader.load(src)
    return events_ts_to_timestamp(raw)


def drain(q: StreamingQuery) -> None:
    """Process everything the started query's source holds, then stop it.

    The stop runs even when a micro-batch raises, so a failed query never
    stays active in the session; the failure still propagates."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def drain_files(
    spark: SparkSession,
    schema: T.StructType,
    src: str,
    step: Callable[[DataFrame, int], None],
    ck: str,
    *,
    replay_first: bool = False,
) -> dict[int, list[str]]:
    """Stream the parquet directory ``src`` through the foreachBatch
    ``step``, one file per micro-batch, checkpointing at ``ck``, and drain.

    ``ck`` is a path, so two drains over one checkpoint resume where the
    first stopped. With ``replay_first`` each epoch's input files are
    recorded (a bounded collect of at most maxFilesPerTrigger paths, the
    epoch's first job) and, once the stream has drained, epoch 0 is
    re-delivered verbatim through the same step under epoch id 0 — the
    checkpoint-recovery replay an exactly-once sink must absorb. Returns
    the recorded epoch → files map (empty without ``replay_first``).
    """
    epoch_files: dict[int, list[str]] = {}

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        if replay_first:
            epoch_files[int(epoch_id)] = [
                r[0] for r in batch_df.select(F.input_file_name()).distinct().collect()
            ]
        step(batch_df, epoch_id)

    drain(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(run)
        .option("checkpointLocation", ck)
        .start()
    )
    if replay_first:
        run(spark.read.schema(schema).parquet(*epoch_files[0]), 0)
    return epoch_files


def stage_waves(frames: Iterable[DataFrame], path: str) -> None:
    """Append each frame to the parquet directory ``path`` as one file, in
    order: the arrival files a ``drain_files`` stream admits one per
    micro-batch, in write order (the file source lists by modification
    time)."""
    for df in frames:
        df.coalesce(1).write.mode("append").parquet(path)


def run_to_memory(
    sdf: DataFrame, *, mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Run a finite streaming query to completion into the memory sink and
    return the result table (synchronous — test/bench harness only)."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir("run_to_memory_ck"))
        .start()
    )
    drain(q)
    # Materialize and DROP the sink table: the memory sink holds its rows
    # via a catalog strong reference forever, so a long session running
    # many streaming queries (full sweep ≈ 30+) accumulates every result
    # table. The ckpt copy returned instead is released once the frame is
    # garbage collected: the ContextCleaner drops localCheckpoint blocks
    # (default mode), and deletes reliable-mode checkpoint files only
    # because get_spark sets spark.cleaner.referenceTracking.cleanCheckpoints.
    spark = sdf.sparkSession
    out = spark.table(name).transform(ckpt)
    spark.catalog.dropTempView(name)
    return out


def run_to_parquet(sdf: DataFrame, out_dir: str, *, mode: str = "append") -> None:
    """Run a finite streaming query into a parquet dir via foreachBatch
    (the idempotent-sink scaffold, Q06/Q87)."""

    def write_batch(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    drain(
        sdf.writeStream.outputMode(mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", scratch_dir("run_to_parquet_ck"))
        .start()
    )


def stamp_ordered_mtimes(src_dir: str, pattern: str = "part-*") -> None:
    """Stamp strictly increasing mtimes (oldest first, NAME order) on the
    part files of ``src_dir`` — ordered ADMISSION for file-source streams:
    Spark's file source breaks modification-time ties arbitrarily, so a
    fast multi-file write can let later waves jump the queue.

    NAME order is only meaningful when names encode the intended order:
    part-NNNNN files from ONE write (partition order), or numbered files
    from stage_numbered_file. Files appended across SEPARATE writes get
    random uuid suffixes — name-sorting those scrambles wave order
    (~50%/run), so multi-write stages must go through
    stage_numbered_file first.
    """
    import glob
    import time

    parts = sorted(glob.glob(f"{src_dir}/{pattern}"))
    now = time.time()
    for i, f in enumerate(parts):
        t = now - 2 * (len(parts) - i)
        os.utime(f, (t, t))


def stage_numbered_file(df, src_dir: str, idx: int, fmt: str = "parquet") -> str:
    """Write ``df`` as ONE file named ``wave-{idx:04d}.{fmt}`` in src_dir.

    The deterministic-name staging for multi-wave file-source fixtures:
    each wave lands under a name that encodes its order, so
    stamp_ordered_mtimes(src_dir, "wave-*") yields the intended admission
    sequence regardless of writer-generated uuid part names.
    """
    import glob
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bcs_stage_")
    getattr(df.coalesce(1).write.mode("overwrite"), "parquet" if fmt == "parquet" else fmt)(tmp)
    part = sorted(glob.glob(f"{tmp}/part-*"))[0]
    os.makedirs(src_dir, exist_ok=True)
    dest = os.path.join(src_dir, f"wave-{idx:04d}.{fmt}")
    shutil.move(part, dest)
    shutil.rmtree(tmp, ignore_errors=True)
    return dest
