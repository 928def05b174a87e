"""Capture every plan a query runs, normalized, into plans/r<round>/<before|after>/.

Usage:
    PYTHONPATH=. python tools/plan_capture.py <round> before [names...]
    PYTHONPATH=. python tools/plan_capture.py <round> after  [names...]

Run from the repository root.

With no names, captures every bench.HEADLINE query. For each query the file
holds, in order, the physical plan of every SQL execution the query function
runs (the eager count/ckpt/collect jobs, whose plans a later
`Scan ExistingRDD` hides), then the returned frame's `explain("formatted")`.
Ids that differ between two runs of the same code are stripped (see
`normalize`), so `diff -r plans/r<N>/before plans/r<N>/after` — or the same
diff across two checkouts — is the whole proof that a refactor left every
plan unchanged. sf0.1, local[8] (plan shape does not depend on core count;
join/broadcast thresholds are identical to the bench session via get_spark).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (pattern, replacement), applied in order: the id forms first, then the
# bare expression ids they contain
_VOLATILE = [
    # exchange / subquery ids: [plan_id=123], [id=#45]
    (re.compile(r"\bplan_id=\d+"), "plan_id="),
    (re.compile(r"\bid=#\d+"), "id=#"),
    # PySpark numbers lambda variables per session: x_1, then x_2
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
    # expression ids: doc_id#123L
    (re.compile(r"#\d+"), "#"),
    # scan locations and write targets name per-run scratch and checkout paths
    (re.compile(r"(Location: \w+) \[[^\]\n]*\]"), r"\1 []"),
    (re.compile(r"\bfile:[^\s,\]]+"), "file:"),
    (re.compile(r"\bpath=[^\s,\]]+"), "path="),
    # streaming executions: run ids, the memory sink writer's identity
    # hash, RDD ids and creation call sites (the calling thread decides
    # between NativeMethodAccessorImpl.java:0 and <unknown>:0) and
    # run_to_memory's random sink name (UnsafeArrayData@ is a content
    # hash, so it stays)
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r"\b(MemoryStreamingWrite)@[0-9a-f]+\b"), r"\1@"),
    (re.compile(r"RDD\[\d*\] at (\w+)(?: at [^,\s]+)?"), r"RDD[] at \1"),
    (re.compile(r"\bmem_[0-9a-f]{8}\b"), "mem_"),
]


def normalize(plan: str) -> str:
    """Strip the run-to-run ids from a plan text, keep everything else."""
    for pat, rep in _VOLATILE:
        plan = pat.sub(rep, plan)
    return plan


def _executions(spark) -> list:
    """The session's SQL executions, oldest first."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return sorted(
        (execs.apply(i) for i in range(execs.size())), key=lambda e: e.executionId()
    )


def capture(spark, fn) -> str:
    """Run ``fn()`` and return every plan it ran plus its final plan, normalized."""
    before = _executions(spark)
    last = before[-1].executionId() if before else -1
    df = fn()
    # executions reach the status store through the async listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    parts = [
        f"== execution {k} ==\n{e.physicalPlanDescription()}\n"
        for k, e in enumerate(e for e in _executions(spark) if e.executionId() > last)
    ]
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    parts.append(f"== final ==\n{buf.getvalue()}")
    return normalize("".join(parts))


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
    out_dir = os.path.join(repo, "plans", f"r{rnd}", suffix)
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        if name not in registry:
            print(f"skip {name}: not in registry")
            continue
        text = capture(spark, lambda: registry[name].fn(spark, SF_DIR))
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
