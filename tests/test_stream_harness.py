"""The file-stream harness every streaming query drives through.

`streaming.core.drain`, `drain_files` and `stage_waves` replace the drive
loop, the epoch-file replay and the arrival-file staging that each
streaming query used to copy; `streaming_q._signup_purchase` is the q88
family's one stream-stream join. These pins run at sf0.001 in the smoke
tier, so a break shows without the full oracle sweep.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from better_cdc_spark.streaming.core import drain, drain_files, run_to_memory, stage_waves
from better_cdc_spark.session import tune_for_oracle
from tests.conftest import SF_SMOKE


def _waves(spark, n: int):
    """``n`` small frames, each tagged with its wave number."""
    return [spark.range(10 * w, 10 * w + 5).withColumn("wave", F.lit(w)) for w in range(n)]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_drain_stops_the_query_and_reraises_when_the_step_raises(spark, tmp_path):
    src = str(tmp_path / "src")
    frames = _waves(spark, 1)
    stage_waves(frames, src)

    def failing_step(batch_df, epoch_id):
        raise RuntimeError("step failed on purpose")

    q = (
        spark.readStream.schema(frames[0].schema)
        .parquet(src)
        .writeStream.foreachBatch(failing_step)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    with pytest.raises(Exception, match="step failed on purpose"):
        drain(q)
    assert not q.isActive
    assert spark.streams.active == []


def test_stage_waves_admits_one_micro_batch_per_frame_in_write_order(spark, tmp_path):
    src = str(tmp_path / "src")
    frames = _waves(spark, 3)
    stage_waves(frames, src)
    seen = []

    def step(batch_df, epoch_id):
        seen.append((epoch_id, {r.wave for r in batch_df.select("wave").collect()}))

    files = drain_files(spark, frames[0].schema, src, step, str(tmp_path / "ck"))
    assert seen == [(0, {0}), (1, {1}), (2, {2})]
    assert files == {}


def test_drain_files_replays_epoch_zero_verbatim(spark, tmp_path):
    src = str(tmp_path / "src")
    frames = _waves(spark, 3)
    stage_waves(frames, src)
    seen = []

    def step(batch_df, epoch_id):
        seen.append((epoch_id, _rows(batch_df)))

    files = drain_files(
        spark, frames[0].schema, src, step, str(tmp_path / "ck"), replay_first=True
    )
    assert [e for e, _ in seen] == [0, 1, 2, 0]
    assert seen[3][1] == seen[0][1] == _rows(frames[0])
    # one file set per epoch, one distinct arrival file in each
    assert sorted(files) == [0, 1, 2]
    assert all(len(paths) == 1 for paths in files.values())
    assert len({paths[0] for paths in files.values()}) == 3


def test_signup_purchase_join_matches_its_oracle(spark, duck):
    from better_cdc_spark.queries.streaming_q import (
        _ORACLE_SIGNUP_PURCHASE,
        _signup_purchase,
    )

    tune_for_oracle(spark)
    joined = _signup_purchase(spark, SF_SMOKE, "inner").select(
        F.col("s_user").alias("user_id"), "signup_id", "purchase_id"
    )
    got = _rows(run_to_memory(joined, mode="append"))
    want = sorted(
        duck.execute(
            f"{_ORACLE_SIGNUP_PURCHASE}\n    _end AS (SELECT 1)\n"
            "SELECT user_id, signup_id, purchase_id FROM matched"
        ).fetchall()
    )
    assert want and got == want
