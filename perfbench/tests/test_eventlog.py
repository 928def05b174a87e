"""The event-log parser against a small committed Spark 4 event log.

The fixture holds three described jobs: ``write#g1`` (a 2,000-row parquet
write), ``scan#g1`` (a filtered scan of it plus a shuffled aggregate) and
``python#g2`` (a Python UDF over 500 rows).
"""

from __future__ import annotations

import os

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "eventlog")


def test_reads_rolling_dir_in_order():
    apps = eventlog.event_files(FIXTURE)
    assert [[os.path.basename(f) for f in files] for files in apps] == [["events_1_local-1"]]


def test_applications_are_read_separately(tmp_path):
    """Job ids restart in each application; none may shadow another's."""
    src = os.path.join(FIXTURE, "eventlog_v2_local-1", "events_1_local-1")
    for app in ("local-1", "local-2"):
        d = tmp_path / f"eventlog_v2_{app}"
        d.mkdir()
        (d / f"events_1_{app}").write_bytes(open(src, "rb").read())
    jobs = eventlog.read_jobs(str(tmp_path))
    assert [j.job_id for j in jobs] == [0, 1, 2, 3, 4] * 2
    assert eventlog.totals(jobs)["scan_bytes"] == 2 * 9686


def test_per_description_totals():
    by = eventlog.by_description(eventlog.read_jobs(FIXTURE))
    assert set(by) == {"write#g1", "scan#g1", "python#g2"}

    write = by["write#g1"]
    assert write["jobs"] == 1 and write["tasks"] == 2
    assert write["output_records"] == 2000
    assert write["executor_run_ms"] == 1414 and write["gc_ms"] == 46

    scan = by["scan#g1"]
    assert scan["jobs"] == 3 and scan["stages"] == 3 and scan["tasks"] == 4
    # the shuffle the aggregate writes is the shuffle it reads back
    assert scan["shuffle_write_bytes"] == scan["shuffle_read_bytes"] == 342
    assert scan["input_records"] == 2000
    # bytes of parquet files the scan read, from the SQL plan's metric
    assert scan["scan_bytes"] == 9686

    python = by["python#g2"]
    assert python["python_bytes"] == 3147
    assert python["scan_bytes"] == 0 and python["spill_bytes"] == 0


def test_jobs_carry_submission_time_and_execution():
    jobs = eventlog.read_jobs(FIXTURE)
    assert [j.job_id for j in jobs] == [0, 1, 2, 3, 4]
    assert all(j.submit_ms > 0 for j in jobs)
    assert [j.execution_id for j in jobs] == [0, None, 1, 1, 2]
    # scan bytes are credited once per SQL execution, to its first job
    assert [j.scan_bytes for j in jobs] == [0, 0, 9686, 0, 0]


def test_compressed_log_is_refused(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    try:
        eventlog.read_jobs(str(tmp_path))
    except ValueError as e:
        assert "compress" in str(e)
    else:
        raise AssertionError("a compressed event log must be refused")
