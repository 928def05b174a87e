"""maintenance.compact_parquet: fewer files, same bytes of truth."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from better_cdc_spark.io import load_table
from better_cdc_spark.maintenance import compact_parquet
from tests.conftest import SF_SMOKE


def _parquet_files(path: str) -> list[str]:
    return glob.glob(f"{path}/*.parquet")


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.repartition(32).write.mode("overwrite").parquet(src)
    assert len(_parquet_files(src)) == 32
    back = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert len(_parquet_files(dst)) == 1  # tiny table, one target file
    assert back.count() == orders.count()
    a = orders.agg(F.sum("o_orderkey"), F.count("*")).collect()
    b = back.agg(F.sum("o_orderkey"), F.count("*")).collect()
    assert a == b


def test_compaction_range_clusters(spark, tmp_path):
    """order_by produces disjoint per-file key ranges (min/max skipping)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.repartition(16).write.mode("overwrite").parquet(src)
    total = _dir_size(src)
    # force ~4 output files, range-clustered on o_orderkey
    back = compact_parquet(
        spark, src, dst, target_file_bytes=max(1, total // 4), order_by=("o_orderkey",)
    )
    per_file = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect()
    )
    assert len(per_file) >= 2
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next  # disjoint ranges => file-level skipping works


def _dir_size(path: str) -> int:
    import os

    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
    )


def test_zorder_boxes_shrink_on_both_dims(spark, tmp_path):
    """Z-order: per-file min/max boxes are small in BOTH dimensions;
    plain round-robin files cover ~the whole range of each."""
    from better_cdc_spark.maintenance import zorder_rewrite

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.repartition(16).write.mode("overwrite").parquet(src)
    total = _dir_size(src)
    back = zorder_rewrite(
        spark, src, dst, ("o_orderkey", "o_custkey"),
        target_file_bytes=max(1, total // 16),
    )
    assert back.count() == orders.count()

    def avg_box_frac(df, col):
        lo, hi = df.agg(F.min(col), F.max(col)).collect()[0]
        span = float(hi - lo) or 1.0
        per_file = (
            df.withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()
        )
        return sum((r.hi - r.lo) / span for r in per_file) / len(per_file)

    plain = spark.read.parquet(src)
    for col in ("o_orderkey", "o_custkey"):
        z_frac = avg_box_frac(back, col)
        p_frac = avg_box_frac(plain, col)
        # round-robin files span ~the full range; z-order boxes must be
        # materially tighter on EVERY clustered dimension
        assert p_frac > 0.9, f"{col}: plain {p_frac}"
        assert z_frac < 0.6 * p_frac, f"{col}: z {z_frac} vs plain {p_frac}"
