"""Driver round-trips in the query layer: the per-file schema memo in
``io.read_parquet``, the one-call array literal, and q96e's job count and
codegen cache hits.

Job counts use a job group per measured call, read back with
``statusTracker().getJobIdsForGroup`` (as the CDC per-epoch pin does).
"""

from __future__ import annotations

import math
import shutil
import struct
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from better_cdc_spark import llmops
from better_cdc_spark.io import load_table
from better_cdc_spark.queries import load_all
from tests.conftest import SF_SMOKE

# q96e at SF_SMOKE, full result, warm session; the form that counted its
# corpus, vocabulary and weights with separate actions launched 29
MAX_Q96E_JOBS = 22


def _jobs(spark, fn):
    """(fn's return value, Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"roundtrip-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_of_a_file_launches_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/orders.parquet", tmp_path / "orders.parquet")
    first, n_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    second, n_second = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert n_first >= 1  # footer schema inference
    assert n_second == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_file_rewritten_with_new_schema_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([7], pa.int64()), "r_name": ["ASIA"]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert [tuple(r) for r in df.collect()] == [(7, "ASIA")]


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_arrives_as_timestamp_on_every_load(spark, tmp_path, unit):
    src = pq.read_table(f"{SF_SMOKE}/events.parquet")
    ts = src.column("ts").cast(pa.timestamp(unit))
    pq.write_table(src.set_column(src.schema.get_field_index("ts"), "ts", ts),
                   tmp_path / "events.parquet")
    loads = [load_table(spark, str(tmp_path), "events") for _ in range(2)]
    for df in loads:
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    first, second = (
        df.agg(F.min("ts"), F.max("ts"), F.count("ts")).first() for df in loads
    )
    assert first == second
    assert first[2] == src.num_rows


def test_warm_query_runs_are_pinned(spark):
    """Warm runs of four query_mix queries (over 100 generated classes
    together, Spark's default codegen cache size) compile no class, and
    q96e launches at most MAX_Q96E_JOBS jobs."""
    registry = load_all()
    names = ["qc01_cdc_normalize", "qh08_market_share", "q96d_semdedup", "q96e_tfidf_cosine"]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(name):
        registry[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    for name in names:  # warm: schema memo, codegen cache and JVM code paths
        run(name)
    before = compiles.getCount()
    for name in names[:-1]:
        run(name)
    _, jobs = _jobs(spark, lambda: run(names[-1]))
    assert jobs <= MAX_Q96E_JOBS, jobs
    assert compiles.getCount() == before


def _per_lit(values):
    """The old model-array form: one F.lit (one py4j call) per element."""
    return F.array(*[_per_lit(v) if isinstance(v, list) else F.lit(v) for v in values])


VECS = [
    [-0.0, 1e-05, -1.5, 0.25],
    [0.0, -1e-05, 1.5, -0.25],
    [3.0, -2.0, 1e-05, -0.0],
    [2.9, -2.1, 0.0, 0.0],
    [-0.3, 0.1, -0.0, 1e-05],
    [1e-05, 1e-05, -1e-05, -1e-05],
    [0.0, 1e-05, 0.0, 0.0],
]
INIT = [[-0.0, 1e-05, -1.0, 0.5], [3.0, -2.0, -0.0, 1e-05], [-1e-05, 0.0, 0.0, -0.0]]
# the last vector sits 2.5e-15 closer (squared) to the second centroid: a
# literal that lost digits would tie them and pick the first
NEAR_TIE = [[0.12345678901235, 1e-05, -0.0, 0.0], [-0.12345678901234, 1e-05, 0.0, -0.0]]


def test_centroid_literal_matches_per_lit_form(spark, monkeypatch):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(VECS)], "vec_id long, u array<double>"
    )

    def model():
        cents = llmops.lloyd_centroids(df, INIT, iters=2, vec_col="u")
        got = df.select(
            "vec_id",
            llmops.nearest_centroid(cents, "u").alias("c"),
            llmops.nearest_centroid(NEAR_TIE, "u").alias("t"),
        )
        return [[struct.pack(">d", x) for x in c] for c in cents], sorted(
            map(tuple, got.collect())
        )

    new = model()
    monkeypatch.setattr(llmops, "array_literal", _per_lit)
    old = model()
    assert new == old
    assert old[1][-1] == (len(VECS) - 1, 2, 1)


def test_array_literal_is_bit_exact(spark):
    vals = [-0.0, 0.0, 1e-05, -1.5, 0.1, 1 / 3, 5e-324, 1.7976931348623157e308]
    got = spark.range(1).select(llmops.array_literal(vals).alias("a")).first()["a"]
    assert [struct.pack(">d", x) for x in got] == [struct.pack(">d", x) for x in vals]
    words = [-(1 << 63), (1 << 63) - 1, 0, 5]
    row = spark.range(1).select(llmops.array_literal(words).alias("a")).first()
    assert row["a"] == words


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_array_literal_rejects_non_finite(bad):
    with pytest.raises(ValueError):
        llmops.array_literal_sql([[0.5, bad]])
