"""Capture `.explain("formatted")` for headline queries into plans/r<round>/.

Usage:
    PYTHONPATH=. python tools/plan_capture.py <round> before [names...]
    PYTHONPATH=. python tools/plan_capture.py <round> after  [names...]

Run from the repository root.

With no names, captures every bench.HEADLINE query. The formatted plan is
the PRE-EXECUTION plan (AdaptiveSparkPlan isFinalPlan=false) — the shape
the optimizer chose: Exchange count, join strategies, PushedFilters,
ReadSchema, Python eval nodes. sf0.1, local[8] (plan shape does not depend
on core count; join/broadcast thresholds are identical to the bench
session via get_spark).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    from bench import HEADLINE
    from better_cdc_spark.queries import load_all
    from better_cdc_spark.session import get_spark

    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    rnd, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    registry = load_all()
    spark = get_spark(f"plan-capture-r{rnd}", cpus=8)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        if name not in registry:
            print(f"skip {name}: not in registry")
            continue
        df = registry[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
