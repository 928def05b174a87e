"""Bench plumbing the driver runs per-round: drift probes, the envelope
rule, the sf1 probe and the compact line.

bench.py's per-class drift probes and the sf1 scaling probe execute only
inside the driver's bench run, so a wiring break would surface as a
missing BENCH block instead of a red test. These smoke the pieces at
sf0.001 (seconds, not the sf0.1 minutes the real bench pays).
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import pytest

import bench
from tools.plan_capture import normalize

SF_DIR = "/root/testdata/sf0.001"
ROOT = Path(bench.__file__).resolve().parent


def test_class_probes_return_positive_walls(spark):
    walls = bench.run_class_probes(spark, SF_DIR)
    assert set(walls) == set(bench.PROBE_ANCHOR) == {"shuffle", "cpu"}
    assert all(isinstance(v, float) and v > 0 for v in walls.values())


SYNTH_ANCHORS = {"a": 1.0, "b": 2.0, "c": 0.5, "d": 4.0}


def _drifted(k: float, **walls: float) -> dict[str, float]:
    """Every synthetic query at k x its anchor, overridden by ``walls``."""
    return {**{n: k * a for n, a in SYNTH_ANCHORS.items()}, **walls}


def test_envelope_passes_uniform_host_drift():
    env = bench.envelope(_drifted(3.0), SYNTH_ANCHORS)
    assert env["ok"] and env["median"] == 3.0 and env["violators"] == []


def test_envelope_fails_one_query_past_twice_the_median():
    env = bench.envelope(_drifted(1.0, b=2.5 * 2.0), SYNTH_ANCHORS)
    assert not env["ok"] and env["violators"] == ["b"]
    # 2x the median is still inside the envelope
    assert bench.envelope(_drifted(1.0, b=2.0 * 2.0), SYNTH_ANCHORS)["ok"]


def test_envelope_caps_raw_ratio_even_under_uniform_drift():
    env = bench.envelope(_drifted(4.5), SYNTH_ANCHORS)
    assert not env["ok"] and sorted(env["violators"]) == sorted(SYNTH_ANCHORS)
    assert bench.envelope(_drifted(4.0), SYNTH_ANCHORS)["ok"]


def test_envelope_ignores_unanchored_queries():
    env = bench.envelope(_drifted(1.0, unanchored=1000.0), SYNTH_ANCHORS)
    assert env["ok"] and "unanchored" not in env["ratios"]


@pytest.mark.slow  # full-tier: `make test-full` (r16 two-tier split)
def test_sf1_scaling_fabricates_and_measures(spark):
    """The sf1 probe fabricates the amplified corpus and produces a
    wall + rows + exponent row per probed query (one fast query here;
    the real run probes all of SF1_QUERIES at sf0.1)."""
    res = bench.run_sf1_scaling(spark, SF_DIR, {"q97h_bm25_topk": 1.0})
    assert res["amplification"] == 10
    row = res["queries"]["q97h_bm25_topk"]
    assert row["sf1_sec"] > 0 and row["rows_sf1"] >= row["rows_sf01"] > 0
    assert "exponent" in row and "rows_ratio" in row
    # the other registry queries were skipped (no base time supplied);
    # extra probe-only twins always run and time their own base
    assert set(res["queries"]) == {"q97h_bm25_topk", "q99q_banded_linear"}
    lin = res["queries"]["q99q_banded_linear"]
    assert lin["sf01_sec"] > 0 and lin["sf1_sec"] > 0
    # constant cluster size: true pair count grows ~linearly (10x data
    # -> ~10x rows), NOT quadratically like q99q's 160-image fixture
    assert lin["rows_ratio"] <= 15, lin
    for name in bench.SF1_QUERIES:
        assert name in bench.HEADLINE, f"{name} probed but not a headline query"
    for name in bench.SF1_EXTRA_PROBES:
        assert name not in bench.HEADLINE  # probe-only, not a headline entry


# one captured execution, as tools/plan_capture.py writes it; the fields
# are the ids that differ between two runs of the same code
_CAPTURE = """== execution 0 ==
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) BroadcastHashJoin [src#{a}L], [node#{b}L], Inner, BuildRight, false
   :- *(3) Project [src#{a}L, filter(w#{c}, lambdafunction(NOT (lambda x_{k}#{d} = ), lambda x_{k}#{d}, false)) AS w#{e}]
   :  +- FileScan parquet [src#{a}L,w#{c}] Location: InMemoryFileIndex [file:{root}/documents.parquet]
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id={p}]
      +- Subquery subquery#{f}, [id=#{g}]
      +- Execute InsertIntoHadoopFsRelationCommand file:{root}/hist, false, Parquet, [path={root}/hist], Overwrite
== execution 1 ==
WriteToDataSourceV2 MicroBatchWrite[epoch: 0, writer: org.apache.spark.sql.execution.streaming.sources.MemoryStreamingWrite@{h}]
+- StateStoreSave [event_type#{a}], state info [ checkpoint = <unknown>, runId = {u}, opId = 0, ver = 0, numPartitions = 8]
   +- Scan ExistingRDD [event_id#{b}L], SQLExecutionRDD[{r}] at start at {site}, `mem_{m}`
"""


def test_plan_capture_normalizer_strips_run_ids_only():
    one = _CAPTURE.format(
        a=1, b=2, c=3, d=4, e=5, f=6, g=7, k=1, p=8, root="/tmp/a", h="58e1e18c",
        u="65659300-68cb-489c-bb03-aba52d232024", r=2206, m="1b929987",
        site="NativeMethodAccessorImpl.java:0",
    )
    two = _CAPTURE.format(
        a=91, b=92, c=93, d=94, e=95, f=96, g=97, k=2, p=98, root="/tmp/bcs_b/x",
        h="10bb2ac4", u="be033a08-ca39-41fe-a1b5-0ec599ce79af", r=2197, m="f1fb4c27",
        site="<unknown>:0",
    )
    assert one != two and normalize(one) == normalize(two)
    smj = one.replace("BroadcastHashJoin", "SortMergeJoin")
    assert normalize(smj) != normalize(one)


def test_compact_line_fits_driver_tail_window():
    """The driver parses bench's LAST stdout line from a 2000-byte tail;
    build_compact_line must stay under that against the committed full
    artifact (and degrade by dropping per-query detail, never clipping)."""
    full = json.loads((ROOT / "bench_full_latest.json").read_text())
    line = bench.build_compact_line(full)
    assert len(line) < 2000, len(line)
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf", "envelope_ok"):
        assert key in parsed, key
    assert parsed["metric"] == "headline_queries_total_wall"
    assert "sf1_exponent_max" in parsed
    # the committed artifact's verdict is the envelope rule on its own walls
    env = bench.envelope(full["queries"], bench.ANCHORS)
    assert parsed["envelope_ok"] == env["ok"]
    # degradation path: an absurdly wide queries dict still fits
    wide = dict(full, queries={f"q{i:03d}_padpadpad": 1.234 for i in range(200)})
    line2 = bench.build_compact_line(wide)
    assert len(line2) < 2000
    assert json.loads(line2)["queries"] == {"_see": "bench_full_latest.json"}


def test_r14_anchor_matches_committed_provenance():
    """bench.ANCHORS is loaded from ANCHORS_R14.json, the committed
    measurement with full provenance; every anchor is the median of its
    three committed rep-mins, and every anchored query is a headline
    query (an anchor for a query bench never times gates nothing)."""
    doc = json.loads((ROOT / "ANCHORS_R14.json").read_text())
    assert doc["_provenance"]["measured_round"] == 14
    assert doc["_provenance"]["solo"] is True
    committed = {n: a["anchor_sec"] for n, a in doc["anchors"].items()}
    assert bench.ANCHORS == committed
    for n, a in doc["anchors"].items():
        assert a["anchor_sec"] == round(statistics.median(a["rep_mins"]), 3), n
    assert set(bench.ANCHORS) <= set(bench.HEADLINE)
