"""R23 config load/validate parity (mirrors internal/config/load_test.go style)."""

from __future__ import annotations

import pytest

from better_cdc_spark.config import ConfigError, EngineConfig, load, with_overrides


def test_defaults_load_and_validate():
    cfg = load(env={})
    assert cfg.database == "testdb"
    assert cfg.batch_size == 500
    assert cfg.checkpoint_interval_s == 1.0
    assert cfg.duplicate_window_s == 120.0
    assert cfg.failure_policy == "dlq"
    assert cfg.table_filter == ()


def test_env_overrides():
    cfg = load(
        env={
            "DATABASE_NAME": "prod",
            "TABLE_FILTER": "public.users, public.orders",
            "BATCH_SIZE": "1000",
            "FAILURE_POLICY": "skip",
        }
    )
    assert cfg.database == "prod"
    assert cfg.table_filter == ("public.users", "public.orders")
    assert cfg.batch_size == 1000
    assert cfg.failure_policy == "skip"


@pytest.mark.parametrize(
    "env,frag",
    [
        ({"FAILURE_POLICY": "explode"}, "failure_policy"),
        ({"BATCH_SIZE": "0"}, "batch_size"),
        ({"BATCH_SIZE": "abc"}, "malformed"),
        ({"DUPLICATE_WINDOW": "-1"}, "duplicate_window_s"),
        ({"TABLE_FILTER": "nodotschema"}, "schema.table"),
        ({"DATABASE_NAME": "bad.name"}, "database"),
        ({"SUBJECT_PREFIX": "cdc", "DLQ_SUBJECT_PREFIX": "cdc"}, "differ"),
        ({"DLQ_SUBJECT_PREFIX": "has space"}, "dlq_subject_prefix"),
        ({"HEALTH_ADDR": "8080"}, "health_addr"),
        ({"HEALTH_ADDR": "host:99999"}, "health_addr"),
        ({"HEALTH_ADDR": "host:"}, "health_addr"),
    ],
)
def test_invalid_configs_rejected(env, frag):
    with pytest.raises(ConfigError, match=frag):
        load(env=env)


def test_health_addr_parses_and_drives_server():
    """HEALTH_ADDR (config.go:26,90; default ':8080') rides EngineConfig:
    host:port splits for HealthServer, a bare ':port' binds all
    interfaces, and a real server comes up on the parsed pair."""
    import urllib.request

    from better_cdc_spark.health import HealthServer

    assert load(env={}).health_addr == ":8080"
    assert load(env={}).health_host_port() == ("0.0.0.0", 8080)
    cfg = load(env={"HEALTH_ADDR": "127.0.0.1:0"})  # ephemeral for the test
    host, port = cfg.health_host_port()
    with HealthServer(host=host, port=port) as srv:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/health", timeout=5
        ) as r:
            assert r.read() == b"ok"


def test_with_overrides_revalidates():
    cfg = EngineConfig().validate()
    assert with_overrides(cfg, batch_size=10).batch_size == 10
    with pytest.raises(ConfigError):
        with_overrides(cfg, failure_policy="nope")


def test_pipeline_accepts_engine_config(spark, tmp_path):
    from better_cdc_spark.streaming.pipeline import CDCStreamPipeline

    cfg = load(
        env={
            "DATABASE_NAME": "proddb",
            "TABLE_FILTER": "public.users",
            "MAX_FILES_PER_TRIGGER": "3",
        }
    )
    pipe = CDCStreamPipeline(
        spark, str(tmp_path / "src"), str(tmp_path / "work"), config=cfg
    )
    assert pipe.database == "proddb"
    assert pipe.allowlist == ["public.users"]
    assert pipe.max_files == 3


def test_subject_cover_grammar():
    """Port-parity with subjectFilterTokensCover (config.go:206-234)."""
    from better_cdc_spark.config import subject_filters_cover as cov

    assert cov(("cdc.>",), "cdc.testdb.*.*")
    assert cov((">",), "anything.at.all")
    assert not cov(("cdc.>",), "dlq.testdb.*.*")
    # '*' in the pattern needs '*' (or '>') in the filter, not a literal
    assert not cov(("cdc.testdb.public.orders",), "cdc.testdb.*.*")
    assert cov(("cdc.*.*.*",), "cdc.testdb.*.*")
    # '>' in the pattern only covered by a tail '>'
    assert not cov(("cdc.*",), "cdc.>")
    assert cov(("cdc.>",), "cdc.>")
    # filter '>' must be terminal
    assert not cov(("cdc.>.x",), "cdc.testdb.*.*")
    # length mismatches
    assert not cov(("cdc.*.*",), "cdc.testdb.*.*")


def test_dlq_cover_validation():
    from better_cdc_spark.config import ConfigError, EngineConfig

    # defaults: disjoint roots, both covered by the default catch-alls
    EngineConfig().validate()
    # explicit subjects that do not cover the DLQ pattern → rejected
    with pytest.raises(ConfigError, match="not covered"):
        EngineConfig(stream_subjects=("cdc.>",)).validate()
    # covering both roots explicitly → accepted
    EngineConfig(stream_subjects=("cdc.>", "dlq.>")).validate()
    # policy != dlq → no DLQ covering requirement
    EngineConfig(failure_policy="crash", stream_subjects=("cdc.>",)).validate()


def test_env_example_in_sync():
    """`.env.example` documents EXACTLY the env vars the engine reads —
    the set scraped from config.py's load() and session.py (verdict r13
    item 3: the committed env reference must not rot as config grows)."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    example = root / ".env.example"
    assert example.exists(), ".env.example missing at repo root"
    documented = set(
        re.findall(r"(?m)^([A-Z][A-Z0-9_]*)=", example.read_text())
    )

    code_vars: set[str] = set()
    for rel in ("better_cdc_spark/config.py", "better_cdc_spark/session.py"):
        src = (root / rel).read_text()
        # load()'s get("NAME", default) and os.environ.get("NAME", ...)
        code_vars |= set(re.findall(r'\bget\(\s*"([A-Z][A-Z0-9_]*)"', src))

    assert code_vars, "env-var scrape found nothing — pattern rotted?"
    missing = code_vars - documented
    stale = documented - code_vars
    assert not missing, f".env.example missing vars read by code: {sorted(missing)}"
    assert not stale, f".env.example documents vars no code reads: {sorted(stale)}"


def test_default_driver_memory_is_half_of_physical_in_whole_gib():
    from better_cdc_spark.session import default_driver_memory

    gib = 2**30
    assert default_driver_memory(int(15.7 * gib)) == "7g"
    assert default_driver_memory(16 * gib) == "8g"
    assert default_driver_memory(1 * gib) == "1g"  # never below 1g
    assert default_driver_memory(64 * gib) == "32g"
    assert default_driver_memory(2048 * gib) == "32g"  # capped


@pytest.mark.parametrize("prev", [None, "123456"])
def test_conf_override_restores_the_previous_value_after_a_raise(spark, prev):
    from better_cdc_spark.session import conf_override

    key = "spark.sql.files.openCostInBytes"
    spark.conf.unset(key)
    if prev is not None:
        spark.conf.set(key, prev)
    with pytest.raises(RuntimeError, match="inside the block"):
        with conf_override(spark, key, str(64 * 1024)):
            assert spark.conf.get(key) == str(64 * 1024)
            raise RuntimeError("inside the block")
    # an unset key comes back unset, not pinned to the override or a default
    assert spark.conf.get(key, None) == prev
    spark.conf.unset(key)
