"""Reference-pipeline semantics: golden SHA-1, quarantine, gates.

The SHA-1 test is the anonymization contract (reference
cloud_function.py:70): F.sha1 must be byte-identical to CPython hashlib
on UTF-8 input — per-buyer analytics depend on digests matching across
re-ingests and engines.
"""

from __future__ import annotations

import csv
import hashlib
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import functions as F

from questdb_etl_jobs_spark.pipeline import (
    anonymize_and_cast,
    is_event_valid,
    is_object_valid,
    run_batch,
    split_quarantine,
)
from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv

from conftest import FIXTURES

SMALL = str(FIXTURES / "purchases_small.csv")
MALFORMED = str(FIXTURES / "purchases_malformed.csv")


def test_sha1_matches_hashlib(spark):
    raw = read_purchases_csv(spark, SMALL)
    got = {
        (r["buyer"], r["item_id"], r["quantity"], r["price"], r["purchase_date"])
        for r in anonymize_and_cast(raw).collect()
    }
    expected = set()
    with open(SMALL, newline="") as fh:
        for email, item_id, quantity, price, ts in csv.reader(fh):
            expected.add(
                (
                    hashlib.sha1(email.encode()).hexdigest(),
                    int(item_id),
                    int(quantity),
                    int(price),
                    datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S"),
                )
            )
    assert got == expected


def test_quarantine_split_matches_cpython(spark):
    raw = read_purchases_csv(spark, MALFORMED)
    good, bad = split_quarantine(anonymize_and_cast(raw))
    n_good_expected = n_bad_expected = 0
    with open(MALFORMED, newline="") as fh:
        for row in csv.reader(fh):
            ok = len(row) == 5
            if ok:
                try:
                    int(row[1]), int(row[2]), int(row[3])
                    datetime.strptime(row[4], "%Y-%m-%dT%H:%M:%S")
                except ValueError:
                    ok = False
            n_good_expected += ok
            n_bad_expected += not ok
    assert good.count() == n_good_expected
    assert bad.count() == n_bad_expected
    # Good rows are fully typed — no NULLs survive the split.
    assert good.filter(
        F.col("buyer").isNull() | F.col("purchase_date").isNull()
    ).count() == 0


def test_event_gates():
    valid = {"bucket": "b", "contentType": "text/csv", "name": "f.csv", "size": "10"}
    assert is_event_valid(valid) and is_object_valid(valid)
    assert not is_event_valid({"bucket": "b"})
    assert not is_object_valid({**valid, "size": "0"})
    assert not is_object_valid({**valid, "contentType": "application/json"})
    assert not is_object_valid({**valid, "size": "notanint"})


def test_run_batch_end_to_end(spark, tmp_path):
    event = {"bucket": "b", "contentType": "text/csv", "name": MALFORMED,
             "size": "1"}
    result = run_batch(
        spark,
        event,
        table_path=str(tmp_path / "table"),
        quarantine_path=str(tmp_path / "quarantine"),
    )
    assert result is not None
    assert result.rows_loaded + result.rows_quarantined == 14
    assert result.rows_quarantined > 0
    table = spark.read.parquet(str(tmp_path / "table"))
    assert table.count() == result.rows_loaded
    quarantined = spark.read.json(str(tmp_path / "quarantine"))
    assert quarantined.count() == result.rows_quarantined


def test_dataframe_side_file_gates(spark, tmp_path):
    # S7/P1/P2 distributed variant: gates evaluated in-plan on _metadata.
    import shutil

    from questdb_etl_jobs_spark.pipeline import gate_files_df

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    shutil.copy(SMALL, input_dir / "good.csv")
    (input_dir / "bad.txt").write_text("x@y.z,1,2,3,2021-03-21T10:00:00\n")
    raw = read_purchases_csv(spark, f"{input_dir}/*", with_file_metadata=True)
    assert raw.count() == 41  # both files scanned
    gated = gate_files_df(raw)
    assert gated.count() == 40  # non-.csv object filtered in-plan
    assert gated.filter(~F.col("_source_file").endswith("good.csv")).count() == 0


def test_run_batch_rejects_bad_event(spark):
    assert run_batch(spark, {"bucket": "b"}) is None
    assert (
        run_batch(
            spark,
            {"bucket": "b", "contentType": "text/plain", "name": SMALL, "size": "1"},
        )
        is None
    )


def test_reference_console_journey(spark, tmp_path):
    """The reference's full user journey, literally: hourly exports run
    through the ETL (reference cloud_function.py entrypoint), then the
    tutorial's console SQL — `SELECT * FROM purchases ORDER BY
    purchase_date` (reference README.md:366) — runs against the loaded
    table via the SQL surface. Anonymization holds (no raw emails) and
    rows arrive time-ordered."""
    from conftest import FIXTURES

    table_path = str(tmp_path / "table")
    for hour in ("11", "12", "13"):
        f = FIXTURES / "purchases" / f"2021-03-21T{hour}.csv"
        run_batch(
            spark,
            {"bucket": "b", "contentType": "text/csv", "name": str(f),
             "size": "1"},
            table_path=table_path,
            quarantine_path=str(tmp_path / "quarantine"),
        )
    spark.read.parquet(table_path).createOrReplaceTempView("purchases")
    rows = spark.sql(
        "SELECT * FROM purchases ORDER BY purchase_date"
    ).collect()
    assert len(rows) == 900
    ts = [r["purchase_date"] for r in rows]
    assert ts == sorted(ts)
    assert all("@" not in r["buyer"] for r in rows)  # SHA-1, not emails
    assert all(len(r["buyer"]) == 40 for r in rows)


def test_jsonl_source_quarantines_malformed(spark, tmp_path):
    """JSONL ingest: numeric tokens arrive as wire strings (CSV parity),
    malformed lines land in _corrupt_record instead of failing the batch."""
    from questdb_etl_jobs_spark.pipeline import (
        anonymize_and_cast,
        split_quarantine,
    )
    from questdb_etl_jobs_spark.sources.json_source import read_purchases_jsonl

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"email":"a@x.io","item_id":1,"quantity":2,"price":3,'
        '"purchase_date":"2021-03-21T11:00:00"}\n'
        "this is not json\n"
        '{"email":"b@x.io","item_id":"oops","quantity":2,"price":3,'
        '"purchase_date":"2021-03-21T12:00:00"}\n'
    )
    raw = read_purchases_jsonl(spark, str(p))
    good, bad = split_quarantine(anonymize_and_cast(raw))
    assert good.count() == 1          # the clean record
    assert bad.count() == 2           # broken JSON + non-int item_id
    row = good.collect()[0]
    assert row["item_id"] == 1 and len(row["buyer"]) == 40  # sha1 hex


def _event_for(path: str) -> dict:
    return {"bucket": "b", "contentType": "text/csv", "name": path, "size": "1"}


def test_run_batch_builds_its_plan_in_few_py4j_calls(spark, tmp_path, monkeypatch):
    """Each column function or Column operator built in Python is its own
    py4j round trip; run_batch passes SQL strings for the JVM to parse
    instead, so one call stays at about a hundred round trips."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        # py4j's finalizer thread frees garbage-collected proxies at any
        # time; those are not round trips of the plan build.
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(command, *args, **kwargs)

    run_batch(spark, _event_for(SMALL), table_path=str(tmp_path / "warm"),
              quarantine_path=str(tmp_path / "warm_q"))
    monkeypatch.setattr(client, "send_command", counting)
    result = run_batch(spark, _event_for(SMALL), table_path=str(tmp_path / "table"),
                       quarantine_path=str(tmp_path / "quarantine"))
    monkeypatch.undo()
    assert result.rows_loaded == 40
    assert len(calls) <= 150, len(calls)


def test_run_batch_jobs_keep_callers_job_group(spark, tmp_path):
    """The quarantine write runs on its own thread; its job must still
    carry the caller's job group, or the UI, the event log and
    cancelJobGroup lose track of it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group: str) -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    try:
        sc.setJobGroup("run-batch-before", "marker")
        spark.range(1).collect()
        sc.setJobGroup("run-batch", "run_batch under a caller's group")
        run_batch(spark, _event_for(MALFORMED), table_path=str(tmp_path / "table"),
                  quarantine_path=str(tmp_path / "quarantine"))
        sc.setJobGroup("run-batch-after", "marker")
        spark.range(1).collect()
    finally:
        sc._jsc.clearJobGroup()
    first = max(jobs_of("run-batch-before")) + 1
    end = min(jobs_of("run-batch-after"))
    launched = set(range(first, end))
    assert len(launched) >= 2  # the table write and the quarantine write
    assert jobs_of("run-batch") == launched


def test_run_batch_raises_quarantine_write_error(spark, tmp_path):
    """A failing quarantine write (its path is a regular file) fails the
    call: the error comes back from the quarantine worker, which is joined
    before run_batch raises."""
    import threading

    import pytest

    before = set(threading.enumerate())
    blocker = tmp_path / "quarantine"
    blocker.write_text("not a directory\n")
    with pytest.raises(Exception, match="ParentNotDirectoryException"):
        run_batch(spark, _event_for(MALFORMED), table_path=str(tmp_path / "table"),
                  quarantine_path=str(blocker))
    assert blocker.read_text() == "not a directory\n"
    assert not set(threading.enumerate()) - before


@contextmanager
def _every_scan_fills_the_cores(spark):
    """Make every source count as large: with a 1-byte open cost Spark
    spreads even a tiny file over every core, so run_batch quarantines
    after the table write instead of beside it."""
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try:
        yield
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")


def test_run_batch_large_source_quarantines_after_the_table(spark, tmp_path):
    """A source whose scan fills the cores gets no parallel quarantine
    scan: a clean batch runs one job and writes no quarantine, a batch with
    bad rows quarantines them after the table write."""
    from questdb_etl_jobs_spark.sources.fs import hadoop_path_exists

    sc = spark.sparkContext
    with _every_scan_fills_the_cores(spark):
        try:
            sc.setJobGroup("run-batch-large-clean", "clean source")
            clean = run_batch(spark, _event_for(SMALL), table_path=str(tmp_path / "t1"),
                              quarantine_path=str(tmp_path / "q1"))
            sc.setJobGroup("run-batch-large-bad", "source with bad rows")
            dirty = run_batch(spark, _event_for(MALFORMED), table_path=str(tmp_path / "t2"),
                              quarantine_path=str(tmp_path / "q2"))
        finally:
            sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert (clean.rows_loaded, clean.rows_quarantined) == (40, 0)
    assert len(tracker.getJobIdsForGroup("run-batch-large-clean")) == 1
    assert not hadoop_path_exists(spark, str(tmp_path / "q1"))
    assert len(tracker.getJobIdsForGroup("run-batch-large-bad")) == 2
    assert spark.read.parquet(str(tmp_path / "t2")).count() == dirty.rows_loaded
    assert spark.read.json(str(tmp_path / "q2")).count() == dirty.rows_quarantined > 0


def test_run_batch_failed_table_write_quarantine(spark, tmp_path):
    """When the table write fails, a small source's quarantine, written
    beside it, is still committed (a retry appends it again); a large
    source's quarantine, written after it, is not written at all."""
    import pytest

    from questdb_etl_jobs_spark.sources.fs import hadoop_path_exists

    blocker = tmp_path / "table"
    blocker.write_text("not a directory\n")
    n_bad = run_batch(spark, _event_for(MALFORMED)).rows_quarantined
    with pytest.raises(Exception):
        run_batch(spark, _event_for(MALFORMED), table_path=str(blocker),
                  quarantine_path=str(tmp_path / "beside"))
    assert spark.read.json(str(tmp_path / "beside")).count() == n_bad
    with _every_scan_fills_the_cores(spark), pytest.raises(Exception):
        run_batch(spark, _event_for(MALFORMED), table_path=str(blocker),
                  quarantine_path=str(tmp_path / "after"))
    assert not hadoop_path_exists(spark, str(tmp_path / "after"))
    assert blocker.read_text() == "not a directory\n"


def test_run_batch_clean_file_leaves_no_quarantine_rows(spark, tmp_path):
    """A clean batch loads every row; its quarantine, if written at all,
    reads back as 0 rows."""
    from questdb_etl_jobs_spark.sources.fs import hadoop_path_exists

    quarantine = str(tmp_path / "quarantine")
    result = run_batch(spark, _event_for(SMALL), table_path=str(tmp_path / "table"),
                       quarantine_path=quarantine)
    assert (result.rows_loaded, result.rows_quarantined) == (40, 0)
    assert spark.read.parquet(str(tmp_path / "table")).count() == 40
    if hadoop_path_exists(spark, quarantine):
        assert spark.read.json(quarantine).count() == 0
