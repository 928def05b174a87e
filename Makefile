# Verification ladder — one committed entry point a fresh clone can run,
# mirroring the reference's four workflows (.github/workflows/lint.yml,
# test.yml, build.yml, integration.yml). CI (.github/workflows/ci.yml)
# calls these same targets; locally `make ci-smoke` reproduces the
# per-round smoke rung and `make ci-full` the full ladder the round's
# endgame runs before handing the tree to the driver.
#
# Spark on local[*] is a single JVM per process: run rungs SEQUENTIALLY
# (never `make -j` the Spark rungs) or wall numbers crater 3-8x.

PYTHON ?= python3
SF_SMOKE ?= /root/testdata/sf0.001
SF_ORACLE ?= /root/testdata/sf0.01
export PYTHONPATH := $(CURDIR)

.PHONY: lint entry-smoke pkg-smoke test-smoke perfbench-test test test-full check-prefix check-full bench-smoke bench ci-smoke ci-full

## lint: ruff when installed (CI installs it); stdlib syntax gate otherwise
lint:
	@$(PYTHON) -m ruff check . 2>/dev/null \
	  || { echo "ruff not installed; falling back to compileall syntax gate"; \
	       $(PYTHON) -m compileall -q better_cdc_spark tools tests bench.py __spark_entry__.py; }

## entry-smoke: the external driver contract (entry/queries/oracle_sql)
entry-smoke:
	@$(PYTHON) -c "\
	from pyspark.sql import SparkSession; \
	import __spark_entry__ as e; \
	spark = SparkSession.builder.master('local[4]').config('spark.ui.enabled','false').getOrCreate(); \
	spark.sparkContext.setLogLevel('ERROR'); \
	assert e.entry(spark).count() >= 0; \
	qs, osql = e.queries(), e.oracle_sql(); \
	assert set(osql) <= set(qs); \
	print('entry ok:', len(qs), 'queries,', len(osql), 'oracles')"

## pkg-smoke: fresh-venv `pip install .` + installed console script drains
## a synthetic corpus (reference build.yml parity; ~3 min)
pkg-smoke:
	$(PYTHON) tools/pkg_smoke.py

## test-smoke: fast non-Spark-heavy suite slice (~1-2 min); includes the
## bench wiring (probes, envelope rule, compact line), the query-layer
## round-trip pins (schema memo, q96e job count) and the shared query
## fragments (Spark builder vs oracle CTE) so a break shows here
test-smoke:
	$(PYTHON) -m pytest -q tests/test_rotation.py tests/test_health.py \
	  tests/test_dashboard.py tests/test_metrics.py tests/test_config.py \
	  tests/test_logging_setup.py tests/test_plans.py tests/test_bench_probes.py \
	  tests/test_query_roundtrips.py tests/test_query_fragments.py

## perfbench-test: the repository benchmark's own tests (generators,
## event-log parser, spans, timed plan; ~20 s)
perfbench-test:
	$(PYTHON) -m pytest -q perfbench/tests

## test: the DEFAULT (driver-verify) tier — correctness-critical pins
## (<10 min solo; pyproject addopts deselect `slow`)
test:
	$(PYTHON) -m pytest tests/ -x -q

## test-full: the complete suite incl. `slow` (~30-40 min, sf0.001 fixtures)
test-full:
	$(PYTHON) -m pytest tests/ -x -q -m ""

## check-prefix: the driver's correctness gate slice (first ~50 registry
## entries vs the DuckDB oracle at sf0.01; ~90 s warm)
check-prefix:
	$(PYTHON) tools/check.py $(SF_ORACLE) --prefix 50

## check-full: every registry entry vs its oracle (~20 min at 505 entries)
check-full:
	$(PYTHON) tools/check.py $(SF_ORACLE)

## bench-smoke: one bench pass at sf0.001 (~3 min; prints the BENCH JSON line)
bench-smoke:
	SPARK_GRAFT_SF_DIR=$(SF_SMOKE) $(PYTHON) bench.py

## bench: the driver-shaped bench at sf0.1 (run SOLO; minutes)
bench:
	$(PYTHON) bench.py

## ci-smoke: the per-commit rung — lint + driver contract + fast tests + benchmark tests + gate slice + bench smoke
ci-smoke: lint entry-smoke test-smoke perfbench-test check-prefix bench-smoke

## ci-full: the endgame rung — everything, full registry sweep, full suite
ci-full: lint entry-smoke test-full check-full bench
