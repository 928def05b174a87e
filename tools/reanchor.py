"""Re-anchor the envelope-tracked headline queries on the CURRENT host
profile: anchors age as the host profile shifts (q97h_bm25_topk's
normalized ratio crept upward for three rounds on byte-identical code —
anchor rot, not a plan defect).

Method — matches bench.py's headline convention exactly so anchor and
future measurement are the same experiment:
  * SOLO, sf0.1, local[32]; one warm-up action before timing
  * per query: min of 3 consecutive runs (steady-state data path)
  * the whole pass repeated in R=3 INDEPENDENT JVMs (fresh SparkSession
    per rep); the committed anchor is the MEDIAN of the three min-of-3
    walls, so one hot/cold rep cannot set the anchor
Rewrites ANCHORS_R14.json (committed with provenance) for the queries it
already anchors; bench.py loads its anchors from that file at import.

Run: PYTHONPATH=. python tools/reanchor.py [sf_dir]  (SOLO — no other
Spark session may run concurrently or walls crater 3-8x.)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

ANCHORS_PATH = REPO / "ANCHORS_R14.json"

_REP_SNIPPET = r"""
import json, sys, time
from better_cdc_spark.session import get_spark
from better_cdc_spark.queries import load_all

sf_dir, names = sys.argv[1], json.loads(sys.argv[2])
spark = get_spark("reanchor", cpus=32)
spark.sparkContext.setLogLevel("ERROR")
reg = load_all()
reg["q30_grouped_agg_tpch_q1"].fn(spark, sf_dir).count()  # warm-up
out = {}
for name in names:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        reg[name].fn(spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
    out[name] = round(best, 3)
print("ANCHOR_REP " + json.dumps(out))
"""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # The anchored set is the committed file's own keys: adding a headline
    # query to the envelope means adding its key there and re-running this.
    anchored = sorted(json.loads(ANCHORS_PATH.read_text())["anchors"])
    reps: list[dict[str, float]] = []
    for rep in range(3):
        proc = subprocess.run(
            [sys.executable, "-c", _REP_SNIPPET, sf_dir, json.dumps(anchored)],
            capture_output=True, text=True, timeout=1800,
            env={**os.environ, "PYTHONPATH": str(REPO)}, cwd=str(REPO),
        )
        line = next(
            (ln for ln in proc.stdout.splitlines() if ln.startswith("ANCHOR_REP ")),
            None,
        )
        if proc.returncode != 0 or line is None:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
            return 1
        walls = json.loads(line[len("ANCHOR_REP "):])
        reps.append(walls)
        print(f"rep {rep + 1}/3: total {round(sum(walls.values()), 2)} s")

    import pyspark

    anchors = {
        n: {
            "anchor_sec": round(statistics.median(r[n] for r in reps), 3),
            "rep_mins": [r[n] for r in reps],
        }
        for n in anchored
    }
    doc = {
        "_provenance": {
            "measured_round": 14,
            "sf_dir": sf_dir,
            "method": "median over 3 independent JVMs of (min of 3 warm runs)",
            "solo": True,
            "cpus": 32,
            "pyspark": pyspark.__version__,
        },
        "anchors": anchors,
    }
    ANCHORS_PATH.write_text(json.dumps(doc, indent=2) + "\n")
    print(f"wrote {ANCHORS_PATH}")
    for n, a in anchors.items():
        print(f"  {n}: {a['anchor_sec']} {a['rep_mins']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
