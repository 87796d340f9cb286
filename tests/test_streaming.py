"""Streaming pipeline: hourly-fixture replay, quarantine isolation,
redelivery dedup, null-safe row identity."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from questdb_etl_jobs_spark.functions.hashing import stable_id
from questdb_etl_jobs_spark.streaming.file_stream import run_stream_to_table

from conftest import FIXTURES, SF_SMALL


def _run(spark, tmp_path, input_dir, **kw):
    good_q, bad_q = run_stream_to_table(
        spark,
        str(input_dir),
        table_path=str(tmp_path / "table"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        **kw,
    )
    good_q.awaitTermination(120)
    bad_q.awaitTermination(120)


def test_stream_replays_hourly_fixtures(spark, tmp_path):
    # The reference's accumulate model: 3 hourly exports → one table
    # (reference README.md:373 upload sequence).
    _run(spark, tmp_path, FIXTURES / "purchases")
    table = spark.read.parquet(str(tmp_path / "table"))
    assert table.count() == 900  # 300 + 180 + 420, all clean rows
    # Designated-ts layout: partition dirs by date exist.
    assert table.select("buyer", "item_id", "quantity", "price",
                        "purchase_date").columns == [
        "buyer", "item_id", "quantity", "price", "purchase_date"
    ]


def test_stream_quarantines_malformed(spark, tmp_path):
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    shutil.copy(FIXTURES / "purchases_malformed.csv", input_dir)
    _run(spark, tmp_path, input_dir)
    table = spark.read.parquet(str(tmp_path / "table"))
    quarantine = spark.read.json(str(tmp_path / "quarantine"))
    assert table.count() + quarantine.count() == 14
    assert quarantine.count() >= 2  # wrong arity + bad int at minimum
    # Fault isolation: no NULL-typed rows reached the table.
    assert table.filter(F.col("purchase_date").isNull()).count() == 0


def test_stream_dedups_redelivered_file(spark, tmp_path):
    # At-least-once delivery: the same export lands twice under different
    # object names; content-derived ids must collapse it to one copy.
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    src = FIXTURES / "purchases" / "2021-03-21T11.csv"
    shutil.copy(src, input_dir / "a.csv")
    shutil.copy(src, input_dir / "b.csv")
    _run(spark, tmp_path, input_dir)
    table = spark.read.parquet(str(tmp_path / "table"))
    assert table.count() == 300  # not 600


def _forge_crash_after_batch0_write(ckpt_good):
    """Rewind a good-branch checkpoint to the exact crash window 'batch 0's
    sink write completed, its commit never landed': keep offsets/0, drop
    every later offset entry and ALL commit markers (+ hadoop .crc
    sidecars). On restart Structured Streaming re-executes batch 0 —
    redelivering its rows to the sink — then continues with new input.
    (The latest batch alone won't do: availableNow runs append an empty
    watermark-flush batch after the data batch, so 'delete latest commit'
    would replay nothing.)"""
    import os

    for sub, keep in (("offsets", {"0"}), ("commits", set())):
        d = ckpt_good / sub
        for f in os.listdir(d):
            name = f.lstrip(".").removesuffix(".crc")
            if name not in keep:
                os.remove(d / f)


def test_stream_crash_recovery_upsert_sink_idempotent(spark, tmp_path):
    """Crash-recovery proof for the at-least-once redelivery window (the
    reference's documented gap, SURVEY §1.4.5): a crash BETWEEN the table
    write and the checkpoint commit makes Structured Streaming replay the
    committed-to-table batch on restart. We reproduce that exact state by
    rewinding the checkpoint after a successful run — offsets say "batch 0
    planned", commits say "batch 0 never finished" — then restart with
    more input. The upsert sink must absorb the redelivered batch: final
    table == single-run result, byte-for-row identical."""

    f1 = FIXTURES / "purchases" / "2021-03-21T11.csv"
    f2 = FIXTURES / "purchases" / "2021-03-21T12.csv"

    def rows(path):
        return sorted(
            (r["buyer"], r["item_id"], r["quantity"], r["price"],
             r["purchase_date"])
            for r in spark.read.parquet(path).select(
                "buyer", "item_id", "quantity", "price", "purchase_date"
            ).collect()
        )

    # Reference: both files in one uninterrupted run.
    ref_in = tmp_path / "ref_in"
    ref_in.mkdir()
    shutil.copy(f1, ref_in)
    shutil.copy(f2, ref_in)
    ref_dir = tmp_path / "ref"
    ref_dir.mkdir()
    _run(spark, ref_dir, ref_in, sink="upsert")
    expected = rows(str(ref_dir / "table"))
    assert len(expected) == 480  # 300 + 180 clean fixture rows

    # Crash run: process f1, then forge the crash window, then restart
    # with f2 present — batch 0 (f1) is redelivered to the sink.
    crash_in = tmp_path / "crash_in"
    crash_in.mkdir()
    shutil.copy(f1, crash_in)
    crash_dir = tmp_path / "crash"
    crash_dir.mkdir()
    _run(spark, crash_dir, crash_in, sink="upsert")
    assert len(rows(str(crash_dir / "table"))) == 300

    _forge_crash_after_batch0_write(crash_dir / "ckpt" / "good")
    shutil.copy(f2, crash_in)
    _run(spark, crash_dir, crash_in, sink="upsert")
    assert rows(str(crash_dir / "table")) == expected


def test_stream_crash_append_sink_duplicates_proves_redelivery(spark, tmp_path):
    """Control for the crash-recovery proof: the SAME forged crash window
    with the plain append sink must duplicate the replayed batch — showing
    the redelivery is real (the upsert test isn't passing vacuously) and
    pinning the reference's at-least-once gap as observable behavior."""
    f1 = FIXTURES / "purchases" / "2021-03-21T11.csv"
    f2 = FIXTURES / "purchases" / "2021-03-21T12.csv"
    crash_in = tmp_path / "in"
    crash_in.mkdir()
    shutil.copy(f1, crash_in)
    _run(spark, tmp_path, crash_in, sink="append")
    table_path = str(tmp_path / "table")
    assert spark.read.parquet(table_path).count() == 300

    _forge_crash_after_batch0_write(tmp_path / "ckpt" / "good")
    shutil.copy(f2, crash_in)
    _run(spark, tmp_path, crash_in, sink="append")
    # f1's 300 rows land twice (append), f2's 180 once: the gap, observed.
    assert spark.read.parquet(table_path).count() == 300 + 300 + 180


def test_windowed_aggs_batch_frames(spark):
    # R2/R3 helpers work identically on batch frames (same expressions).
    from datetime import datetime

    from questdb_etl_jobs_spark.streaming.file_stream import (
        session_counts,
        sliding_counts,
        tumbling_counts,
    )

    df = spark.createDataFrame(
        [
            (1, datetime.fromisoformat("2024-01-01 10:05:00")),
            (1, datetime.fromisoformat("2024-01-01 10:20:00")),
            (1, datetime.fromisoformat("2024-01-01 11:05:00")),
            (2, datetime.fromisoformat("2024-01-01 13:00:00")),
        ],
        "user_id long, ts timestamp",
    )
    tumbling = {
        (r["win"]["start"].hour): r["n"]
        for r in tumbling_counts(df, "ts", "1 hour").collect()
    }
    assert tumbling == {10: 2, 11: 1, 13: 1}
    sliding = sliding_counts(df, "ts", "30 minutes", "15 minutes").collect()
    # Each event lands in exactly width/slide = 2 overlapping windows.
    assert sum(r["n"] for r in sliding) == 8
    sessions = session_counts(df, "ts", "user_id", gap="30 minutes").collect()
    # user 1: (10:05,10:20) merge, 11:05 is its own session; user 2: one.
    by_user = sorted((r["user_id"], r["n"]) for r in sessions)
    assert by_user == [(1, 1), (1, 2), (2, 1)]


def test_streaming_tumbling_agg_matches_batch(spark, tmp_path):
    from questdb_etl_jobs_spark.pipeline import anonymize_and_cast
    from questdb_etl_jobs_spark.streaming.file_stream import (
        stream_purchases_csv,
        tumbling_counts,
    )

    stream = stream_purchases_csv(spark, str(FIXTURES / "purchases"))
    typed = anonymize_and_cast(stream).withWatermark("purchase_date", "0 seconds")
    agg = tumbling_counts(typed, "purchase_date", "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["win"]["start"].isoformat(): r["n"]
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    # 300/180/420 rows per hourly export, plus boundary spill: compare to
    # the batch computation over the same files.
    from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv

    batch = anonymize_and_cast(
        read_purchases_csv(spark, str(FIXTURES / "purchases"))
    )
    expected = {
        r["win"]["start"].isoformat(): r["n"]
        for r in tumbling_counts(batch, "purchase_date", "1 hour").collect()
    }
    assert got == expected and sum(got.values()) == 900


def test_stateful_running_totals_matches_batch(spark, tmp_path):
    # Custom per-key state machine (applyInPandasWithState) over the
    # hourly replay must agree with the batch groupBy of the same files.
    from questdb_etl_jobs_spark.pipeline import anonymize_and_cast
    from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv
    from questdb_etl_jobs_spark.streaming.file_stream import stream_purchases_csv
    from questdb_etl_jobs_spark.streaming.stateful import running_user_totals

    stream = stream_purchases_csv(spark, str(FIXTURES / "purchases"))
    totals = running_user_totals(anonymize_and_cast(stream))
    q = (
        totals.writeStream.format("memory")
        .queryName("running_totals_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Update mode appends one row per (key, batch); the final state per key
    # is the row with the max n_purchases.
    got = {
        r["buyer"]: (r["n_purchases"], r["total_spend"])
        for r in spark.sql(
            """
            SELECT buyer, n_purchases, total_spend
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY buyer
                          ORDER BY n_purchases DESC) rn
                  FROM running_totals_test) WHERE rn = 1
            """
        ).collect()
    }
    batch = anonymize_and_cast(
        read_purchases_csv(spark, str(FIXTURES / "purchases"))
    )
    expected = {
        r["buyer"]: (r["n"], r["total"])
        for r in batch.groupBy("buyer")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast("long")).alias("total"),
        )
        .collect()
    }
    assert got == expected


def test_transform_with_state_matches_batch(spark, tmp_path):
    # The transformWithStateInPandas twin (Spark 4.1 StatefulProcessor,
    # named ValueState) must agree with the same batch groupBy — and
    # with the applyInPandasWithState form it supersedes. The state
    # protocol of this API needs google.protobuf, which this sandbox
    # lacks — env-gated like the JDBC sink (COVERAGE.md S4).
    pytest.importorskip(
        "google.protobuf",
        reason="DECISION (transform_state.py docstring, COVERAGE.md R7): "
        "transformWithState's state protocol needs the google.protobuf "
        "RUNTIME, absent in this sandbox; vendoring a stub was evaluated "
        "and rejected. applyInPandasWithState is the executed twin.",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    from questdb_etl_jobs_spark.pipeline import anonymize_and_cast
    from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv
    from questdb_etl_jobs_spark.streaming.file_stream import stream_purchases_csv
    from questdb_etl_jobs_spark.streaming.transform_state import (
        running_user_totals_tws,
    )

    stream = stream_purchases_csv(spark, str(FIXTURES / "purchases"))
    totals = running_user_totals_tws(anonymize_and_cast(stream))
    q = (
        totals.writeStream.format("memory")
        .queryName("tws_totals_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["buyer"]: (r["n_purchases"], r["total_spend"])
        for r in spark.sql(
            """
            SELECT buyer, n_purchases, total_spend
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY buyer
                          ORDER BY n_purchases DESC) rn
                  FROM tws_totals_test) WHERE rn = 1
            """
        ).collect()
    }
    batch = anonymize_and_cast(
        read_purchases_csv(spark, str(FIXTURES / "purchases"))
    )
    expected = {
        r["buyer"]: (r["n"], r["total"])
        for r in batch.groupBy("buyer")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast("long")).alias("total"),
        )
        .collect()
    }
    assert got == expected


def test_hourly_rollup_maintenance(spark, tmp_path):
    # Hypertable-style continuous aggregate: streaming maintenance with
    # per-batch dynamic partition overwrite must converge to the batch
    # rollup of the same files — including with one file per trigger, so
    # buckets are rewritten incrementally across micro-batches.
    from questdb_etl_jobs_spark.pipeline import anonymize_and_cast
    from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv
    from questdb_etl_jobs_spark.streaming.file_stream import stream_purchases_csv
    from questdb_etl_jobs_spark.streaming.rollup import (
        maintain_hourly_rollup,
        read_rollup,
    )

    stream = stream_purchases_csv(
        spark, str(FIXTURES / "purchases"), max_files_per_trigger=1
    )
    q = maintain_hourly_rollup(
        anonymize_and_cast(stream),
        rollup_path=str(tmp_path / "rollup"),
        checkpoint_path=str(tmp_path / "ckpt"),
        ts_col="purchase_date",
        agg_cols={"total_price": "price"},
    )
    q.awaitTermination(180)
    got = {
        r["bucket"]: (r["n"], r["total_price"])
        for r in read_rollup(spark, str(tmp_path / "rollup")).collect()
    }
    batch = anonymize_and_cast(
        read_purchases_csv(spark, str(FIXTURES / "purchases"))
    )
    expected = {
        r["bucket"]: (r["n"], r["total_price"])
        for r in batch.groupBy(
            F.date_format(
                F.date_trunc("hour", "purchase_date"), "yyyy-MM-dd'T'HH"
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast("long")).alias("total_price"),
        )
        .collect()
    }
    assert got == expected and sum(n for n, _ in got.values()) == 900


def test_stable_id_null_patterns_distinct(spark):
    df = spark.createDataFrame(
        [("a", None), (None, "a"), ("a", "a"), (None, None)],
        "x string, y string",
    )
    ids = [r["id"] for r in df.select(stable_id("x", "y").alias("id")).collect()]
    assert len(set(ids)) == 4  # concat_ws would collapse the first two


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """R3 session windows on the STREAMING engine: session_window over the
    hourly fixture stream equals the same expression on a batch read
    (q63 proves the batch face against the DuckDB oracle; this closes
    the loop to readStream)."""
    from questdb_etl_jobs_spark.pipeline import anonymize_and_cast
    from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv
    from questdb_etl_jobs_spark.streaming.file_stream import stream_purchases_csv

    def sessions(df):
        return (
            df.groupBy(
                F.session_window("purchase_date", "10 minutes").alias("w"),
                "buyer",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "buyer",
                F.col("w.start").alias("session_start"),
                "n",
            )
        )

    stream = anonymize_and_cast(
        stream_purchases_csv(spark, str(FIXTURES / "purchases"))
    ).withWatermark("purchase_date", "0 seconds")
    q = (
        sessions(stream)
        .writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM session_test").collect())
    )
    batch = anonymize_and_cast(read_purchases_csv(spark, str(FIXTURES / "purchases")))
    expected = sorted(map(tuple, sessions(batch).collect()))
    assert got == expected and len(got) > 0


def test_watermark_drops_late_rows_in_windowed_agg(spark, tmp_path):
    """R4 negative case: with update-mode windowed aggregation and a
    0-second watermark, a window whose close the watermark has passed
    rejects late rows — a second micro-batch containing only
    older-than-watermark events adds NOTHING to the store."""
    import shutil

    from questdb_etl_jobs_spark.pipeline import anonymize_and_cast
    from questdb_etl_jobs_spark.streaming.file_stream import (
        stream_purchases_csv,
        tumbling_counts,
    )

    src = tmp_path / "in"
    src.mkdir()
    # Batch 1: the 12:00 and 13:00 exports — advances the watermark to the
    # max seen event time (~13:59).
    shutil.copy(FIXTURES / "purchases" / "2021-03-21T12.csv", src)
    shutil.copy(FIXTURES / "purchases" / "2021-03-21T13.csv", src)

    out = tmp_path / "out"

    def run_once():
        # Parquet sink (not memory) so the second run can RESUME the same
        # checkpoint — that's what carries the watermark across runs.
        stream = anonymize_and_cast(stream_purchases_csv(spark, str(src)))
        typed = stream.withWatermark("purchase_date", "0 seconds")
        q = (
            tumbling_counts(typed, "purchase_date", "1 hour")
            .selectExpr("win.start AS win_start", "n")
            .writeStream.format("parquet")
            .outputMode("append")  # append emits only CLOSED windows
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["win_start"].isoformat(): r["n"]
            for r in spark.read.parquet(str(out)).collect()
        }

    first = run_once()
    # Only the 12:00 window is closed (13:00 still open at watermark).
    assert sum(first.values()) == 180 and len(first) == 1
    # Batch 2: the 11:00 export arrives LATE — entirely behind the
    # watermark, so the already-finalized region gains no new windows.
    shutil.copy(FIXTURES / "purchases" / "2021-03-21T11.csv", src)
    second = run_once()
    assert second == first  # late rows dropped; no 11:00 window ever emitted


def test_stream_stream_two_source_range_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join of TWO distinct streams with watermarks +
    event-time range condition (purchase within 30min after click): the
    streaming result over availableNow equals the equivalent batch join.
    (Distinct from the self-join variant below, which exercises
    interval_stream_join.)"""
    import csv as _csv

    from pyspark.sql import functions as F

    a_dir, b_dir = tmp_path / "clicks", tmp_path / "buys"
    a_dir.mkdir(); b_dir.mkdir()
    base = "2024-01-01T10:{:02d}:00"
    clicks = [(i, i % 3, base.format(i)) for i in range(0, 50)]
    buys = [(100 + i, i % 3, base.format(min(i + i % 7, 59))) for i in range(0, 50, 2)]
    for path, rows in ((a_dir / "a.csv", clicks), (b_dir / "b.csv", buys)):
        with open(path, "w", newline="") as fh:
            _csv.writer(fh).writerows(rows)

    schema = "id long, user_id long, ts timestamp"

    def faces(reader):
        a = reader.schema(schema).csv(str(a_dir)).withColumnRenamed("id", "click_id")
        b = (
            reader.schema(schema).csv(str(b_dir))
            .withColumnRenamed("id", "buy_id")
            .withColumnRenamed("user_id", "b_user")
            .withColumnRenamed("ts", "b_ts")
        )
        return a, b

    cond = lambda a, b: (
        (a["user_id"] == b["b_user"])
        & (b["b_ts"] >= a["ts"])
        & (b["b_ts"] <= a["ts"] + F.expr("INTERVAL 30 MINUTES"))
    )

    sa, sb = faces(spark.readStream)
    sa = sa.withWatermark("ts", "1 hour")
    sb = sb.withWatermark("b_ts", "1 hour")
    q = (
        sa.join(sb, cond(sa, sb), "inner")
        .select("click_id", "buy_id")
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["click_id"], r["buy_id"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    )

    ba, bb = faces(spark.read)
    expected = sorted(
        (r["click_id"], r["buy_id"])
        for r in ba.join(bb, cond(ba, bb), "inner").collect()
    )
    assert got == expected and len(got) > 0


def test_streaming_latest_on_updates_and_compacts(spark, tmp_path):
    # Streaming LATEST ON: the continuously maintained latest-row-per-key
    # view must equal the batch operator over everything streamed so far,
    # keep updating as new files land, and survive compaction unchanged.
    import shutil as _sh

    from questdb_etl_jobs_spark.operators.latest import latest_on
    from questdb_etl_jobs_spark.pipeline import anonymize_and_cast
    from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv
    from questdb_etl_jobs_spark.streaming.file_stream import (
        stream_purchases_csv,
    )
    from questdb_etl_jobs_spark.streaming.latest import (
        compact_latest,
        maintain_latest_on,
        read_latest,
    )

    input_dir = tmp_path / "input"
    input_dir.mkdir()
    for f in (FIXTURES / "purchases").glob("*.csv"):
        _sh.copy(f, input_dir)
    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")

    def run_once():
        stream = anonymize_and_cast(
            stream_purchases_csv(spark, str(input_dir))
        ).drop("_corrupt_record")
        q = maintain_latest_on(
            stream, log, ckpt, ts="purchase_date", key=["buyer"],
            tiebreak=["item_id"],
        )
        q.awaitTermination(120)

    def batch_view():
        batch = anonymize_and_cast(
            read_purchases_csv(spark, str(input_dir))
        ).drop("_corrupt_record")
        return latest_on(batch, "purchase_date", ["buyer"], ["item_id"])

    def canon(df):
        return sorted(map(tuple, df.collect()))

    run_once()
    assert canon(read_latest(spark, log, "purchase_date", ["buyer"],
                             ["item_id"])) == canon(batch_view())

    # A newer file lands: the view follows without reprocessing old files.
    (input_dir / "2021-03-21T14.csv").write_text(
        f"late.buyer@example.com,7,2,999,2021-03-21T14:00:01\n"
    )
    run_once()
    view = read_latest(spark, log, "purchase_date", ["buyer"], ["item_id"])
    assert canon(view) == canon(batch_view())

    # Compaction: log shrinks to one row per key; resolved view unchanged.
    before = canon(view)
    compact_latest(spark, log, "purchase_date", ["buyer"], ["item_id"])
    log_df = spark.read.parquet(log)
    assert log_df.count() == log_df.select("buyer").distinct().count()
    assert canon(read_latest(spark, log, "purchase_date", ["buyer"],
                             ["item_id"])) == before


def test_streaming_ohlc_candles_match_batch(spark, tmp_path):
    """OHLC candles maintained over a stream (tumbling window +
    min_by/max_by ordered aggregates) equal the batch q92 aggregation
    over the same rows — the streaming face of the QuestDB candle
    query."""
    import shutil

    from questdb_etl_jobs_spark.operators.sample_by import ohlc_aggs
    from questdb_etl_jobs_spark.sources.tables import load_table

    src_dir = tmp_path / "events_parquet"
    events = load_table(spark, SF_SMALL, "events").filter(
        F.col("ts") < "2024-01-02 00:00:00"
    )
    # replay the day as three files so availableNow sees several batches
    events.withColumn(
        "part", (F.col("event_id") % 3).cast("int")
    ).write.partitionBy("part").parquet(str(src_dir))

    stream = (
        spark.readStream.schema(
            events.schema
        ).parquet(str(src_dir) + "/part=*")
        .withWatermark("ts", "0 seconds")
    )
    candles = stream.groupBy(
        F.window("ts", "1 hour").alias("win"), "event_type"
    ).agg(*ohlc_aggs("value", "ts", tiebreak=["event_id"]))
    q = (
        candles.writeStream.format("memory")
        .queryName("ohlc_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["win"]["start"].isoformat(), r["event_type"]):
            (r["open"], r["high"], r["low"], r["close"], r["n_trades"])
        for r in spark.sql("SELECT * FROM ohlc_stream").collect()
    }
    expected = {
        (r["win"]["start"].isoformat(), r["event_type"]):
            (r["open"], r["high"], r["low"], r["close"], r["n_trades"])
        for r in events.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        ).agg(*ohlc_aggs("value", "ts", tiebreak=["event_id"])).collect()
    }
    assert got == expected and len(got) > 0
    shutil.rmtree(src_dir, ignore_errors=True)


def test_streaming_upsert_table_idempotent_on_redelivery(spark, tmp_path):
    """Redelivered files must not grow the table: each micro-batch
    merges via dedup-upsert on (ts, keys), so replaying the same data —
    even after the watermark/state of a row-dedup would have expired —
    leaves the table unchanged."""
    import shutil

    from questdb_etl_jobs_spark.sources.tables import load_table
    from questdb_etl_jobs_spark.streaming.upsert import maintain_upsert_table

    src = tmp_path / "arrivals"
    src.mkdir()
    events = (
        load_table(spark, SF_SMALL, "events")
        .filter(F.col("ts") < "2024-01-02 00:00:00")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    events.coalesce(1).write.parquet(str(tmp_path / "stage"))
    staged = next((tmp_path / "stage").glob("*.parquet"))
    shutil.copy(staged, src / "delivery1.parquet")

    table = str(tmp_path / "table")

    def run(ckpt):
        q = maintain_upsert_table(
            spark.readStream.schema(events.schema).parquet(str(src)),
            table,
            str(tmp_path / ckpt),
            ts="ts",
            keys=["event_id"],
        )
        q.awaitTermination(120)

    run("ckpt1")
    n1 = spark.read.parquet(table).count()
    assert n1 == events.count()

    # redelivery: same bytes, new object name, FRESH checkpoint (the
    # file-source dedup can't save us) — table must not grow
    shutil.copy(staged, src / "delivery2_redelivered.parquet")
    run("ckpt2")
    got = spark.read.parquet(table).drop("ts_pdate")
    assert got.count() == n1
    # and values are intact
    assert (
        got.exceptAll(events).count() == 0
        and events.exceptAll(got).count() == 0
    )


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    # Stream⋈stream with watermark-bounded state must agree with the
    # batch interval join over the same files (self-join: purchases by
    # the same buyer within 1 hour of each other).
    from questdb_etl_jobs_spark.operators.interval import interval_join
    from questdb_etl_jobs_spark.pipeline import anonymize_and_cast
    from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv
    from questdb_etl_jobs_spark.streaming.file_stream import stream_purchases_csv
    from questdb_etl_jobs_spark.streaming.stream_join import (
        interval_stream_join,
    )

    def sides(df):
        typed = anonymize_and_cast(df)
        left = typed.select(
            "buyer",
            F.col("purchase_date").alias("l_ts"),
            F.col("item_id").alias("l_item"),
        )
        right = typed.select(
            "buyer",
            F.col("purchase_date").alias("r_ts"),
            F.col("item_id").alias("r_item"),
        )
        return left, right

    s_left, s_right = sides(stream_purchases_csv(spark, str(FIXTURES / "purchases")))
    joined = interval_stream_join(
        s_left, s_right, "l_ts", "r_ts", "1 hour", on=["buyer"]
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql(
            "SELECT buyer, l_ts, l_item, r_ts, r_item FROM ssj_test"
        ).collect())
    )
    b_left, b_right = sides(read_purchases_csv(spark, str(FIXTURES / "purchases")))
    expected = sorted(
        map(tuple, interval_join(
            b_left.withColumnRenamed("buyer", "b"),
            b_right,
            left_ts="l_ts",
            right_ts="r_ts",
            tolerance="1 hour",
        ).filter(F.col("b") == F.col("buyer"))
        .select("buyer", "l_ts", "l_item", "r_ts", "r_item")
        .collect())
    )
    assert len(got) > 0 and got == expected


def test_stream_stream_interval_join_left_outer_settles_null_tail(
    spark, tmp_path
):
    """LEFT OUTER stream⋈stream: matched rows appear once per match,
    unmatched left rows appear EXACTLY once with NULL right columns —
    after the watermark settles past their match window (pushed here by
    a sentinel row per side, drained by a second availableNow pass on
    the same checkpoint: eviction acts on the final watermark only in
    the NEXT planned micro-batch). State stays bounded by the mandatory
    tolerance; an unsupported join type still raises."""
    import os

    from questdb_etl_jobs_spark.streaming.stream_join import (
        interval_stream_join,
    )

    ld, rd = tmp_path / "l", tmp_path / "r"
    ld.mkdir(), rd.mkdir()
    # Left: key-1 rows at minutes 0..5, one stranded key-1 row at minute
    # 30, one key-2 row (no right rows for key 2 at all).
    with open(ld / "a.csv", "w") as fh:
        for m in range(6):
            fh.write(f"1,{m},2024-01-01T00:{m:02d}:00\n")
        fh.write("1,30,2024-01-01T00:30:00\n")
        fh.write("2,40,2024-01-01T00:01:00\n")
    # Right: key-1 confirms 100/102/104 at minutes 2/4/6.
    with open(rd / "a.csv", "w") as fh:
        for m in (0, 2, 4):
            fh.write(f"1,{m + 100},2024-01-01T00:{m + 2:02d}:00\n")
    # Sentinels push both watermarks a day past the data.
    for d, row in ((ld, "-1,-1,2024-01-02T00:00:00"),
                   (rd, "-1,-1,2024-01-02T00:00:00")):
        with open(d / "z.csv", "w") as fh:
            fh.write(row + "\n")
    for d in (ld, rd):
        for i, p in enumerate(sorted(os.listdir(d))):
            os.utime(d / p, (1_700_000_000 + i,) * 2)

    left = (
        spark.readStream.schema("item_id int, row_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1).csv(str(ld))
    )
    right = (
        spark.readStream.schema(
            "item_id int, c_row_id bigint, c_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1).csv(str(rd))
    )
    joined = interval_stream_join(
        left, right, "ts", "c_ts", "3 minutes", ["item_id"],
        how="left_outer",
    )

    def run_pass():
        q = (
            joined.select("item_id", "row_id", "c_row_id")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_pass()
    run_pass()
    got = sorted(
        (r.row_id, r.c_row_id)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .filter("item_id >= 0")
        .collect()
    )
    # |left_min - confirm_min| <= 3 over confirm minutes {2, 4, 6}.
    expected = sorted(
        [(0, 100),
         (1, 100), (1, 102),
         (2, 100), (2, 102),
         (3, 100), (3, 102), (3, 104),
         (4, 100), (4, 102), (4, 104),
         (5, 100), (5, 102), (5, 104),
         (30, None), (40, None)],
        key=lambda t: (t[0], t[1] if t[1] is not None else -1),
    )
    assert sorted(
        got, key=lambda t: (t[0], t[1] if t[1] is not None else -1)
    ) == expected

    with pytest.raises(ValueError, match="inner.*left_outer"):
        interval_stream_join(
            left, right, "ts", "c_ts", "3 minutes", ["item_id"],
            how="full_outer",
        )


def test_asof_stream_join_matches_batch_asof(spark, tmp_path):
    """Streaming ASOF TOLERANCE join (join + max_by reduction, two chained
    watermark-evicted stateful ops) equals the batch as-of operator with
    the same tolerance on the same data."""
    import csv as _csv

    from questdb_etl_jobs_spark.operators.asof import asof_join
    from questdb_etl_jobs_spark.streaming.stream_join import asof_stream_join

    e_dir, q_dir = tmp_path / "orders", tmp_path / "quotes"
    e_dir.mkdir(); q_dir.mkdir()
    base = "2024-01-01T10:{:02d}:{:02d}"
    lefts = [(i, i % 3, base.format(i % 60, 30)) for i in range(40)]
    rights = [
        (j % 3, base.format((j * 7) % 60, (j * 13) % 60), 100.0 + j)
        for j in range(60)
    ]
    with open(e_dir / "l.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows(lefts)
    with open(q_dir / "r.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows(rights)

    l_schema = "order_id long, sym long, ts timestamp"
    r_schema = "sym long, r_ts timestamp, px double"

    def run_once():
        sl = spark.readStream.schema(l_schema).csv(str(e_dir))
        sr = spark.readStream.schema(r_schema).csv(str(q_dir))
        out = asof_stream_join(
            sl, sr, left_ts="ts", right_ts="r_ts", tolerance="10 minutes",
            on=["sym"], left_id="order_id", watermark="0 seconds",
        )
        q = (
            out.select("order_id", "px")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # Chained stateful ops run in append mode: the final aggregate flushes
    # a group only once the watermark passes its left ts. Land far-future
    # sentinel rows on BOTH sources (non-matching keys 998/999, so they
    # join with nothing) and rerun against the same checkpoint — the
    # watermark jumps past every real group and the as-of winners emit.
    with open(e_dir / "l2.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows([(9999, 999, "2024-01-02T10:00:00")])
    with open(q_dir / "r2.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows([(998, "2024-01-02T10:00:00", 0.0)])
    run_once()
    got = sorted(
        (r["order_id"], r["px"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )

    bl = spark.read.schema(l_schema).csv(str(e_dir))
    br = (
        spark.read.schema(r_schema).csv(str(q_dir))
        .withColumnRenamed("r_ts", "ts")
    )
    batch = asof_join(
        bl, br, on="ts", by=["sym"], how="inner", tolerance="10 minutes"
    )
    expected = sorted(
        (r["order_id"], r["ts__r"] and r["px"])
        for r in batch.withColumnRenamed("ts_right", "ts__r").collect()
    )
    expected = sorted((oid, px) for oid, px in expected if px is not None)
    assert got == expected and len(got) > 0


def test_stream_jsonl_source_matches_csv_run(spark, tmp_path):
    """Format parity: streaming the JSONL fixture through the same
    pipeline yields the identical table the CSV stream produces."""
    import csv as _csv
    import json as _json

    csv_src = FIXTURES / "purchases" / "2021-03-21T11.csv"
    jsonl_in = tmp_path / "jsonl_in"
    jsonl_in.mkdir()
    with open(csv_src, newline="") as fh, open(
        jsonl_in / "a.jsonl", "w"
    ) as out:
        for email, item_id, quantity, price, ts in _csv.reader(fh):
            out.write(
                _json.dumps(
                    {"email": email, "item_id": int(item_id),
                     "quantity": int(quantity), "price": int(price),
                     "purchase_date": ts}
                )
                + "\n"
            )

    csv_in = tmp_path / "csv_in"
    csv_in.mkdir()
    shutil.copy(csv_src, csv_in)

    csv_dir, jsonl_dir = tmp_path / "csv_run", tmp_path / "jsonl_run"
    csv_dir.mkdir(); jsonl_dir.mkdir()
    _run(spark, csv_dir, csv_in)
    _run(spark, jsonl_dir, jsonl_in, source_format="jsonl")

    def rows(p):
        return sorted(
            map(tuple, spark.read.parquet(str(p / "table")).select(
                "buyer", "item_id", "quantity", "price", "purchase_date"
            ).collect())
        )

    got = rows(jsonl_dir)
    assert got == rows(csv_dir) and len(got) == 300


def test_ema_stream_matches_batch_ema(spark, tmp_path):
    """Streaming EMA (applyInPandasWithState, one double of state per
    key) equals the batch operator on the same data, with the state
    carried across micro-batches (maxFilesPerTrigger=1 forces one
    batch per file)."""
    import csv as _csv
    import os as _os

    from questdb_etl_jobs_spark.operators.ema import ema
    from questdb_etl_jobs_spark.streaming.ema_stream import ema_stream

    src = tmp_path / "ema_src"
    src.mkdir()
    base = "2024-01-01T{:02d}:{:02d}:00"
    rows = [
        (i % 3, i, base.format(i // 60, i % 60), float((i * 37) % 100))
        for i in range(40)
    ]
    # Two time-ordered files -> two micro-batches; distinct mtimes pin
    # the processing order.
    with open(src / "a.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows(rows[:25])
    with open(src / "b.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows(rows[25:])
    _os.utime(src / "a.csv", (1_700_000_000, 1_700_000_000))
    _os.utime(src / "b.csv", (1_700_000_100, 1_700_000_100))

    schema = "k long, rid long, ts timestamp, v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out = ema_stream(stream, key="k", ts="ts", value="v", alpha=0.25,
                     id_col="rid")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["rid"]: r["ema"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }

    batch = spark.read.schema(schema).csv(str(src))
    expected = {
        r["rid"]: r["ema"]
        for r in ema(batch, key="k", ts="ts", value="v", alpha=0.25,
                     order=["rid"]).collect()
    }
    assert len(got) == 40
    for rid, e in expected.items():
        assert abs(got[rid] - e) < 1e-12, rid


def test_counter_increase_stream_matches_batch(spark, tmp_path):
    """Streaming counter increases (one carried baseline per key) equal
    the batch operator, including a reset that spans the micro-batch
    boundary."""
    import csv as _csv
    import os as _os

    from questdb_etl_jobs_spark.operators.counter import counter_increase
    from questdb_etl_jobs_spark.streaming.ema_stream import (
        counter_increase_stream,
    )

    src = tmp_path / "ctr_src"
    src.mkdir()
    base = "2024-01-01T00:{:02d}:00"
    # Monotone counters per key with a deliberate reset at i=30 (value
    # drops) that lands in the SECOND file.
    rows = [
        (i % 2, i, base.format(i), float(5 * i if i != 30 else 3))
        for i in range(40)
    ]
    with open(src / "a.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows(rows[:25])
    with open(src / "b.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows(rows[25:])
    _os.utime(src / "a.csv", (1_700_000_000, 1_700_000_000))
    _os.utime(src / "b.csv", (1_700_000_100, 1_700_000_100))

    schema = "k long, rid long, ts timestamp, v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out = counter_increase_stream(stream, key="k", ts="ts", value="v",
                                  id_col="rid")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "ctr_out"))
        .option("checkpointLocation", str(tmp_path / "ctr_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["rid"]: r["increase"]
        for r in spark.read.parquet(str(tmp_path / "ctr_out")).collect()
    }

    batch = spark.read.schema(schema).csv(str(src))
    expected = {
        r["rid"]: r["increase"]
        for r in counter_increase(
            batch, key="k", ts="ts", value="v", order=["rid"]
        ).collect()
    }
    assert len(got) == 40
    assert got == expected
    assert got[30] == 3.0  # the cross-batch reset counts the new value


def test_streaming_matview_equals_direct_sample_by(spark, tmp_path):
    """File-arrival stream maintaining the materialized SAMPLE BY view:
    after both micro-batches land, the view equals a direct partials
    computation over all rows."""
    import csv as _csv
    import os as _os

    from questdb_etl_jobs_spark.operators.matview import (
        _merge,
        maintain_sample_by_view,
        read_sample_by_view,
        sample_by_partials,
    )

    src = tmp_path / "mv_src"
    src.mkdir()
    rows = [
        (f"2024-01-0{1 + i % 2}T{i % 24:02d}:00:00", "t", float(3 * i + 1))
        for i in range(40)
    ]
    with open(src / "a.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows(rows[:23])
    with open(src / "b.csv", "w", newline="") as fh:
        _csv.writer(fh).writerows(rows[23:])
    _os.utime(src / "a.csv", (1_700_000_000, 1_700_000_000))
    _os.utime(src / "b.csv", (1_700_000_100, 1_700_000_100))

    schema = "ts timestamp, k string, v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = maintain_sample_by_view(
        stream, str(tmp_path / "mv_store"), str(tmp_path / "mv_ckpt"),
        ts="ts", bucket="day", value="v", keys=["k"],
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple,
            read_sample_by_view(spark, str(tmp_path / "mv_store")).collect())
    )
    batch = spark.read.schema(schema).csv(str(src))
    direct = _merge(sample_by_partials(batch, "ts", "day", "v", ["k"]), ["k"])
    expected = sorted(
        map(
            tuple,
            direct.select(
                "bucket_ts", "k", "n",
                F.col("dsum").cast("double").alias("total"),
                (F.col("dsum").cast("double") / F.col("n")).alias("avg"),
                "vmin", "vmax",
                F.col("first.v").alias("first_val"),
                F.col("last.v").alias("last_val"),
            ).collect(),
        )
    )
    assert got == expected and len(got) == 2


def test_tdigest_stream_quantiles_within_bound(spark, tmp_path):
    """Streaming t-digest: per-key digests carried across micro-batches
    (maxFilesPerTrigger=1), the final emitted estimates rank within the
    k1 bound against ALL streamed values, n counts every row, and the
    per-batch emission grows monotonically in n."""
    import csv as _csv
    import os as _os

    import numpy as np

    src = tmp_path / "td_src"
    src.mkdir()
    rows = [(i % 2, ((i * 48271) % 65537) / 655.37) for i in range(4000)]
    for fi in range(2):
        with open(src / f"{fi}.csv", "w", newline="") as fh:
            _csv.writer(fh).writerows(rows[fi * 2000:(fi + 1) * 2000])
        _os.utime(src / f"{fi}.csv",
                  (1_700_000_000 + fi, 1_700_000_000 + fi))

    from questdb_etl_jobs_spark.streaming.tdigest_stream import tdigest_stream

    schema = "k long, v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out = tdigest_stream(stream, key="k", value="v", qs=[0.5, 0.99])
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "td_out"))
        .option("checkpointLocation", str(tmp_path / "td_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "td_out")).collect()
    # One row per (key, micro-batch): 2 keys x 2 batches.
    assert len(got) == 4
    final = {r.k: r for r in got if r.n == 2000}
    assert set(final) == {0, 1}
    for k, r in final.items():
        v = np.sort(np.array([val for kk, val in rows if kk == k]))
        for qq, est in ((0.5, r.q_50), (0.99, r.q_99)):
            lo, hi = (v < est).sum(), (v <= est).sum()
            bound = 4 * len(v) * qq * (1 - qq) / 100 + 1
            assert lo <= qq * len(v) + bound and hi >= qq * len(v) - bound


def test_heavy_hitters_stream_bounds_and_exactness(spark, tmp_path):
    """Streaming MG: the carried sketch's weights bound true counts
    (w <= true <= w + err) across micro-batches, the skewed head is
    exactly right, and with counters >= distinct keys the weights ARE
    the exact counts."""
    import csv as _csv
    import os as _os
    from collections import Counter

    from questdb_etl_jobs_spark.streaming.heavyhitters_stream import (
        heavy_hitters_stream,
    )

    # Zipf-ish: key j appears ~1000/j times, shuffled deterministically.
    rows = []
    for j in range(1, 40):
        rows += [[f"k{j:02d}"]] * (1000 // j)
    rows = [rows[(i * 7919) % len(rows)] for i in range(len(rows))]
    src = tmp_path / "hh_src"
    src.mkdir()
    half = len(rows) // 2
    for fi, chunk in enumerate((rows[:half], rows[half:])):
        with open(src / f"{fi}.csv", "w", newline="") as fh:
            _csv.writer(fh).writerows(chunk)
        _os.utime(src / f"{fi}.csv",
                  (1_700_000_000 + fi, 1_700_000_000 + fi))

    stream = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out = heavy_hitters_stream(stream, "tok", k=5, counters=16)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "hh_out"))
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "hh_out")).collect()
    final_n = max(r.n_total for r in got)
    assert final_n == len(rows)
    truth = Counter(r[0] for r in rows)
    final = [r for r in got if r.n_total == final_n]
    assert len(final) == 5
    for r in final:
        true = truth[r.tok]
        assert r.weight <= true <= r.weight + r.err, (r, true)
    # The unambiguous head survives sketching exactly.
    want_head = [t for t, _ in truth.most_common(3)]
    got_sorted = [r.tok for r in sorted(final, key=lambda r: -r.weight)]
    assert got_sorted[:3] == want_head
    # Exact mode: counters above the vocabulary -> weights == counts.
    stream2 = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out2 = heavy_hitters_stream(stream2, "tok", k=5, counters=64)
    q2 = (
        out2.writeStream.format("parquet")
        .option("path", str(tmp_path / "hh_out2"))
        .option("checkpointLocation", str(tmp_path / "hh_ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = [r for r in spark.read.parquet(str(tmp_path / "hh_out2")).collect()
            if r.n_total == len(rows)]
    for r in got2:
        assert r.weight == truth[r.tok] and r.guaranteed


def test_kmv_stream_equals_batch_sketch(spark, tmp_path):
    """Determinism pays off: the streaming KMV's final per-key state is
    BIT-IDENTICAL to the batch operator over the same rows — the k
    smallest distinct hashes don't care about batch boundaries."""
    import csv as _csv
    import os as _os

    from questdb_etl_jobs_spark.operators.sketch import kmv_distinct
    from questdb_etl_jobs_spark.streaming.kmv_stream import kmv_distinct_stream

    rows = [(i % 4, (i * 7919) % 300) for i in range(2000)]
    src = tmp_path / "kmv_src"
    src.mkdir()
    for fi in range(3):
        with open(src / f"{fi}.csv", "w", newline="") as fh:
            _csv.writer(fh).writerows(rows[fi * 700:(fi + 1) * 700])
        _os.utime(src / f"{fi}.csv",
                  (1_700_000_000 + fi, 1_700_000_000 + fi))

    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        kmv_distinct_stream(stream, "k", "v", k=24)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "kmv_out"))
        .option("checkpointLocation", str(tmp_path / "kmv_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.read.parquet(str(tmp_path / "kmv_out")).collect()
    final = {}
    for r in emitted:
        if r.k not in final or r.n_seen > final[r.k].n_seen:
            final[r.k] = r
    batch = {
        r.k: r
        for r in kmv_distinct(
            spark.read.schema("k long, v long").csv(str(src)),
            ["k"], "v", k=24,
        ).collect()
    }
    assert set(final) == set(batch)
    for k, s in final.items():
        b = batch[k]
        assert (s.kth_hash, s.n_min, s.est_distinct) == (
            b.kth_hash, b.n_min, b.est_distinct
        ), (k, s, b)


def test_cusum_stream_matches_batch_closed_form(spark, tmp_path):
    """Streaming CUSUM (two doubles of state) equals the batch closed
    form across micro-batch boundaries."""
    import csv as _csv
    import os as _os

    from questdb_etl_jobs_spark.operators.cusum import cusum
    from questdb_etl_jobs_spark.streaming.ema_stream import cusum_stream

    rows = [
        (i % 3, i, f"2024-01-01T{i // 60:02d}:{i % 60:02d}:00",
         float(((i * 37) % 100) - 50))
        for i in range(60)
    ]
    src = tmp_path / "cs_src"
    src.mkdir()
    for fi, chunk in enumerate((rows[:35], rows[35:])):
        with open(src / f"{fi}.csv", "w", newline="") as fh:
            _csv.writer(fh).writerows(chunk)
        _os.utime(src / f"{fi}.csv",
                  (1_700_000_000 + fi, 1_700_000_000 + fi))
    schema = "k long, rid long, ts timestamp, v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        cusum_stream(stream, key="k", ts="ts", value="v", target=3.0,
                     id_col="rid", slack=1.0)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "cs_out"))
        .option("checkpointLocation", str(tmp_path / "cs_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.rid: (r.cusum_pos, r.cusum_neg)
        for r in spark.read.parquet(str(tmp_path / "cs_out")).collect()
    }
    batch = spark.read.schema(schema).csv(str(src))
    want = {
        r.rid: (r.cusum_pos, r.cusum_neg)
        for r in cusum(batch, "v", "ts", keys=["k"], target=3.0,
                       slack=1.0, tiebreak=["rid"]).collect()
    }
    assert set(got) == set(want)
    for rid in got:
        assert abs(got[rid][0] - want[rid][0]) < 1e-9
        assert abs(got[rid][1] - want[rid][1]) < 1e-9


def test_maintain_dedup_corpus_admits_only_novel(spark, tmp_path):
    """Streaming near-dup admission gate (streaming/dedup_stream.py):
    within a micro-batch duplicate clusters keep the min-id winner; across
    batches the FIRST admitted document wins — a later near-dup (even of a
    different id range) is rejected against the maintained signature
    index. Novel documents always land in the corpus, and the index rows
    carry (id, signature, shingles) so admitted docs are never
    re-shingled."""
    import json
    import os

    from questdb_etl_jobs_spark.streaming.dedup_stream import (
        maintain_dedup_corpus,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm stone wall near the old oak tree"
    )
    other = (
        "completely different text about spark structured streaming "
        "state stores watermarks and exactly once sinks in pipelines"
    )
    third = (
        "yet another unrelated document mentioning parquet columnar "
        "layouts predicate pushdown and vectorized arrow readers"
    )
    batches = [
        # batch 0: 1 and 2 are exact dups (min-id 1 wins); 3 is novel.
        [(1, base), (2, base), (3, other)],
        # batch 1: 4 near-dups the ADMITTED 1 (first word dropped) →
        # rejected; 5 is novel.
        [(4, base.split(" ", 1)[1]), (5, third)],
        # batch 2: 6 near-dups the REJECTED 2's text → still rejected
        # (1 holds the cluster); 7 re-sends 5's text → rejected.
        [(6, base), (7, third)],
    ]
    feed = tmp_path / "feed"
    feed.mkdir()
    for b, rows in enumerate(batches):
        p = feed / f"batch_{b}.jsonl"
        with open(p, "w") as fh:
            for doc_id, text in rows:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(p, (1_700_000_000 + b,) * 2)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    q = maintain_dedup_corpus(
        stream,
        corpus_path=str(tmp_path / "corpus"),
        index_path=str(tmp_path / "index"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    admitted = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    assert admitted == [1, 3, 5]
    index = spark.read.parquet(str(tmp_path / "index"))
    assert sorted(r.doc_id for r in index.select("doc_id").collect()) == \
        [1, 3, 5]
    # Index rows carry the reusable signature + shingle set.
    row = index.filter("doc_id = 1").head()
    assert len(row.signature) == 32 and len(row["__sh"]) > 0
    # Admitted text survives untouched in the corpus.
    assert corpus.filter("doc_id = 1").head().text == base


def test_admit_batch_unreadable_index_raises(spark, tmp_path):
    """An index that exists but cannot be read (here: a corrupt part
    file) is a storage error, not "no index yet": admit_batch raises
    before writing, instead of admitting the whole batch unchecked."""
    from questdb_etl_jobs_spark.streaming.dedup_stream import admit_batch

    index = tmp_path / "index"
    index.mkdir()
    (index / "part-00000.parquet").write_text("not a parquet file\n")
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    corpus = tmp_path / "corpus"
    with pytest.raises(Exception):
        admit_batch(spark, batch, str(corpus), str(index))
    assert not corpus.exists()
    assert [p.name for p in index.iterdir()] == ["part-00000.parquet"]


def _checkpoint_manager(spark, path) -> str:
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
    return mgr.getClass().getSimpleName()


def test_local_checkpoints_use_filesystem_manager(spark, tmp_path):
    """On a local master, streaming checkpoints go through the
    FileSystem-based manager (no per-rename link-status probe), both for
    the suite's get_spark session and for a session that only went
    through configure()."""
    from questdb_etl_jobs_spark.session import configure

    want = "FileSystemBasedCheckpointFileManager"
    assert _checkpoint_manager(spark, tmp_path) == want
    fresh = spark.newSession()
    assert _checkpoint_manager(fresh, tmp_path) != want  # Spark's default
    assert _checkpoint_manager(configure(fresh), tmp_path) == want


def test_replay_settled_drains_left_outer_null_tail(spark, tmp_path):
    """replay_settled owns q166's drain idiom: after it returns, the
    left-outer interval join's NULL-extended rows — which a single
    availableNow pass leaves stuck in the state store (eviction acts on
    the final watermark only in the NEXT planned batch) — are in the
    sink. A one-pass replay of the same inputs misses them."""
    import csv as _csv
    import os as _os

    import pytest

    from questdb_etl_jobs_spark.streaming.stream_join import (
        interval_stream_join,
        replay_settled,
    )

    def stage_inputs(base):
        left_dir, right_dir = base / "left", base / "right"
        left_dir.mkdir(parents=True), right_dir.mkdir(parents=True)
        # q166's replay shape: one file per micro-batch, sentinel rows
        # in their own FINAL file so the last data-bearing batch's
        # watermark advance is what must get drained.
        # Row 1 has a confirm 5 min later (inside ±30 min); row 2 none.
        lfiles = [
            [(1, 1, "2024-01-01T00:00:00"), (1, 2, "2024-01-01T03:00:00")],
            [(-1, -1, "2024-01-03T00:00:00")],  # sentinel: settle tail
        ]
        rfiles = [
            [(1, 101, "2024-01-01T00:05:00")],
            [(-1, -101, "2024-01-03T00:00:00")],  # sentinel
        ]
        for d, files in ((left_dir, lfiles), (right_dir, rfiles)):
            for i, rows in enumerate(files):
                with open(d / f"in{i}.csv", "w", newline="") as fh:
                    _csv.writer(fh).writerows(rows)
                _os.utime(
                    d / f"in{i}.csv",
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )
        left = (
            spark.readStream.schema("item_id int, row_id int, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .csv(str(left_dir))
        )
        right = (
            spark.readStream.schema(
                "item_id int, c_row_id int, c_ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .csv(str(right_dir))
        )
        return interval_stream_join(
            left, right, left_ts="ts", right_ts="c_ts",
            tolerance="30 minutes", on=["item_id"], how="left_outer",
        ).select("item_id", "row_id", "c_row_id")

    # Settled: both left rows out, row 2 NULL-extended exactly once.
    joined = stage_inputs(tmp_path / "a")
    replay_settled(
        joined, str(tmp_path / "a_out"), str(tmp_path / "a_ckpt")
    )
    got = {
        (r.row_id, r.c_row_id)
        for r in spark.read.parquet(str(tmp_path / "a_out"))
        .filter("item_id >= 0").collect()
    }
    assert got == {(1, 101), (2, None)}

    # Exactly-once on the sink: re-draining the SAME checkpoint plans
    # no new data and appends nothing — the helper is safe to re-run
    # after a crash without duplicating settled rows. (Whether ONE pass
    # happens to drain depends on Spark's no-data-batch scheduling and
    # the input's batch shape — q166 at replay scale needs the second
    # pass — so the helper's contract is post-state, not pass count.)
    replay_settled(
        joined, str(tmp_path / "a_out"), str(tmp_path / "a_ckpt")
    )
    rows_after = (
        spark.read.parquet(str(tmp_path / "a_out"))
        .filter("item_id >= 0").count()
    )
    assert rows_after == len(got)

    with pytest.raises(ValueError):
        replay_settled(joined, "x", "y", passes=0)


def test_replay_settled_passes3_drains_chained_stateful_plan(
    spark, tmp_path
):
    """Backs the replay_settled docstring's deeper-chain claim with an
    actual chain: left-outer interval join → tumbling windowed agg (two
    watermark-holding stateful stages). Each stage releases a
    watermark's worth of state only in the NEXT planned batch, so the
    chain needs an extra pass over the single-stage case; ``passes=3``
    must land the fully-settled, oracle-known answer, and re-draining
    the same checkpoint must append nothing."""
    import csv as _csv
    import os as _os

    from questdb_etl_jobs_spark.streaming.stream_join import (
        interval_stream_join,
        replay_settled,
    )

    left_dir, right_dir = tmp_path / "left", tmp_path / "right"
    left_dir.mkdir(), right_dir.mkdir()
    # Same replay shape as the single-stage test: one file per
    # micro-batch, sentinels in their own final file. Left row at 00:00
    # has a confirm 5 min later; the 03:00 row has none (NULL-extended).
    lfiles = [
        [(1, 1, "2024-01-01T00:00:00"), (1, 2, "2024-01-01T03:00:00")],
        [(-1, -1, "2024-01-03T00:00:00")],
    ]
    rfiles = [
        [(1, 101, "2024-01-01T00:05:00")],
        [(-1, -101, "2024-01-03T00:00:00")],
    ]
    for d, files in ((left_dir, lfiles), (right_dir, rfiles)):
        for i, rows in enumerate(files):
            with open(d / f"in{i}.csv", "w", newline="") as fh:
                _csv.writer(fh).writerows(rows)
            _os.utime(
                d / f"in{i}.csv", (1_700_000_000 + i, 1_700_000_000 + i)
            )
    left = (
        spark.readStream.schema("item_id int, row_id int, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .csv(str(left_dir))
    )
    right = (
        spark.readStream.schema("item_id int, c_row_id int, c_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .csv(str(right_dir))
    )
    joined = interval_stream_join(
        left, right, left_ts="ts", right_ts="c_ts",
        tolerance="30 minutes", on=["item_id"], how="left_outer",
    )
    # NOTE: the sentinel rows must NOT be filtered inside the streaming
    # plan — a deterministic `filter("item_id >= 0")` here gets pushed
    # by Catalyst past the EventTimeWatermark node into the CSV scan,
    # so the watermark tracker never observes the sentinels' event
    # times and the tail never settles. Sentinels flow through join and
    # agg (their own far-future window simply stays unclosed in state)
    # and are excluded when READING the sink.
    hourly = (
        joined.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("c_row_id").alias("n_matched"),
        )
        .select(F.col("w.start").alias("hour_ts"), "n", "n_matched")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    replay_settled(hourly, out, ckpt, passes=3)
    got = {
        (r.hour_ts.isoformat(), r.n, r.n_matched)
        for r in spark.read.parquet(out)
        .filter("hour_ts < '2024-01-02'").collect()
    }
    assert got == {
        ("2024-01-01T00:00:00", 1, 1),
        ("2024-01-01T03:00:00", 1, 0),
    }
    # Exactly-once: a fourth drain of the same checkpoint adds nothing.
    replay_settled(hourly, out, ckpt, passes=1)
    assert (
        spark.read.parquet(out).filter("hour_ts < '2024-01-02'").count() == 2
    )


def test_topk_stream_equals_batch_topk(spark, tmp_path):
    """The streaming leaderboard's final per-key emission is identical
    to the batch per-key top-k over the same rows: max-k-of-a-set is
    batch-boundary independent, values ride through state verbatim, and
    a later batch must EVICT earlier winners (the fixture plants the
    global best rows in the last file). State carries exactly k pairs
    per key; n_seen counts raw rows, not pruned survivors."""
    import csv as _csv
    import os as _os

    from questdb_etl_jobs_spark.streaming.topk_stream import (
        topk_per_key_stream,
    )

    # 3 keys x 300 rows; values permuted so each file holds some of
    # every key's range, and the final file holds the global maxima
    # (ids 880+, values 880+) that must displace earlier state. Ties
    # abound (v = i // 3 duplicates every value 3x) to exercise the
    # (value DESC, id ASC) tiebreak across batches.
    rows = [(i % 3, i, (i // 3 if i < 880 else 10_000 + i)) for i in range(900)]
    # NULL values count toward n_seen but never enter the leaderboard
    # (stated contract); key 2's slice of file 0 is null-heavy so a
    # batch ships null carriers alongside real candidates.
    nulls = {5, 8, 11, 14, 17}
    rows = [(k_, i, None if i in nulls else v) for k_, i, v in rows]
    src = tmp_path / "topk_src"
    src.mkdir()
    for fi in range(3):
        with open(src / f"{fi}.csv", "w", newline="") as fh:
            _csv.writer(fh).writerows(
                (k_, i, "" if v is None else v)
                for k_, i, v in rows[fi * 300:(fi + 1) * 300]
            )
        _os.utime(src / f"{fi}.csv",
                  (1_700_000_000 + fi, 1_700_000_000 + fi))

    stream = (
        spark.readStream.schema("k int, id long, v long")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        topk_per_key_stream(stream, "k", "v", "id", k=4)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "topk_out"))
        .option("checkpointLocation", str(tmp_path / "topk_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.read.parquet(str(tmp_path / "topk_out")).collect()

    # Final emission per key = max n_seen; must equal the Python model.
    best_n = {}
    for r in out:
        best_n[r.k] = max(best_n.get(r.k, 0), r.n_seen)
    got = sorted(
        (r.k, r.rn, r.id, r.v, r.n_seen)
        for r in out
        if r.n_seen == best_n[r.k]
    )
    want = []
    for g in range(3):
        members = [(v, i) for kk, i, v in rows if kk == g and v is not None]
        members.sort(key=lambda t: t[1])
        members.sort(key=lambda t: t[0], reverse=True)
        want.extend(
            (g, rn, i, v, 300) for rn, (v, i) in enumerate(members[:4], 1)
        )
    assert got == sorted(want)
    # Every intermediate emission is k-bounded per (key, batch).
    per_batch = {}
    for r in out:
        per_batch[(r.k, r.n_seen)] = per_batch.get((r.k, r.n_seen), 0) + 1
    assert max(per_batch.values()) <= 4


# ---------------------------------------------------------------------------
# streaming/kmeans_stream.py — sequential (MacQueen) k-means fold
# ---------------------------------------------------------------------------

def test_kmeans_stream_assigns_against_updated_centroids(spark):
    """The sequential contract: a batch-2 point that is closer to seed
    centroid 1 must still land in cluster 0 because batch 1 already
    moved centroid 0 toward it — proving assignment uses the running
    state, not the seeds."""
    from questdb_etl_jobs_spark.streaming.kmeans_stream import (
        absorb_batch,
        init_stream_state,
    )

    state = init_stream_state([[0.0, 0.0], [10.0, 10.0]])
    b1 = spark.createDataFrame(
        [(1, [4.0, 4.0]), (2, [4.0, 4.0]), (3, [4.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    absorb_batch(state, b1)
    assert state.centroids[0] == [4.0, 4.0]
    assert state.centroids[1] == [10.0, 10.0]  # absorbed nothing: seed kept
    # [6,6] is closer to seed c1 (32 < 72) but closer to updated c0 (8).
    b2 = spark.createDataFrame(
        [(4, [6.0, 6.0])], "vec_id bigint, embedding array<double>"
    )
    absorb_batch(state, b2)
    assert state.counts == [4, 0]
    assert state.centroids[0] == [4.5, 4.5]
    assert state.n_batches == 2


def test_kmeans_stream_null_and_mismatched_vectors_skipped(spark):
    """A NULL embedding — or one whose length mismatches the centroid
    dim (zip_with pads with nulls → NULL cluster) — must be excluded
    from the fold, mirroring the batch path's _update_centroids
    contract, not raise a TypeError mid-absorb."""
    from questdb_etl_jobs_spark.streaming.kmeans_stream import (
        absorb_batch,
        init_stream_state,
    )

    state = init_stream_state([[0.0, 0.0], [10.0, 10.0]])
    batch = spark.createDataFrame(
        [
            (1, [4.0, 4.0]),
            (2, None),          # NULL vector
            (3, [1.0]),         # dim mismatch -> NULL cluster
        ],
        "vec_id bigint, embedding array<double>",
    )
    absorb_batch(state, batch)
    assert state.counts == [1, 0]
    assert state.centroids[0] == [4.0, 4.0]
    assert state.centroids[1] == [10.0, 10.0]


def test_kmeans_stream_fit_replays_files_in_arrival_order(spark, tmp_path):
    """End-to-end AvailableNow replay: one file per trigger, ascending
    mtimes; the final state equals the sequential fold of the two
    batches (same numbers as the unit above)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from questdb_etl_jobs_spark.streaming.kmeans_stream import kmeans_stream_fit

    src = tmp_path / "arrivals"
    src.mkdir()
    base = time.time() - 100
    batches = [
        [(1, [4.0, 4.0]), (2, [4.0, 4.0]), (3, [4.0, 4.0])],
        [(4, [6.0, 6.0])],
    ]
    for i, rows in enumerate(batches):
        p = str(src / f"chunk_{i:03d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float64())
                    ),
                }
            ),
            p,
        )
        os.utime(p, (base + i, base + i))
    state = kmeans_stream_fit(
        spark,
        str(src),
        "vec_id bigint, embedding array<double>",
        [[0.0, 0.0], [10.0, 10.0]],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert state.n_batches == 2
    assert state.counts == [4, 0]
    assert state.centroids[0] == [4.5, 4.5]
    assert state.centroids[1] == [10.0, 10.0]


def _write_vec_files(src, batches, base):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, rows in enumerate(batches):
        p = str(src / f"chunk_{i:03d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float64())
                    ),
                }
            ),
            p,
        )
        os.utime(p, (base + i, base + i))


def test_kmeans_stream_fit_kill_and_resume_is_bit_identical(spark, tmp_path):
    """Round-12 task #2 (VERDICT r11): a fit interrupted after absorbing
    a prefix of the stream and re-invoked with the SAME checkpoint dir
    must resume from the journaled sums — Spark's file checkpoint skips
    the absorbed files, the journal restores their contributions — and
    end bit-identical (exact Decimal sums, counts, IEEE centroids) to
    one uninterrupted fit over the whole stream."""
    import time

    from questdb_etl_jobs_spark.streaming.kmeans_stream import (
        kmeans_stream_fit,
    )

    schema = "vec_id bigint, embedding array<double>"
    init = [[0.0, 0.0], [10.0, 10.0]]
    base = time.time() - 100
    batches = [
        [(1, [4.0, 4.0]), (2, [4.0, 4.0]), (3, [4.0, 4.0])],
        [(4, [6.0, 6.0])],
        [(5, [9.5, 9.5]), (6, [0.25, 0.75])],
        [(7, [5.125, 5.0]), (8, [10.5, 9.5])],
    ]

    # Uninterrupted reference run over all four arrivals.
    full_src = tmp_path / "full"
    full_src.mkdir()
    _write_vec_files(full_src, batches, base)
    ref = kmeans_stream_fit(
        spark, str(full_src), schema, init,
        checkpoint_dir=str(tmp_path / "ckpt_full"),
    )

    # "Killed" run: only the first two files exist when the fit runs.
    part_src = tmp_path / "part"
    part_src.mkdir()
    _write_vec_files(part_src, batches[:2], base)
    ckpt = str(tmp_path / "ckpt_resume")
    first = kmeans_stream_fit(spark, str(part_src), schema, init,
                              checkpoint_dir=ckpt)
    assert first.n_batches == 2

    # Restart: the remaining files arrive, same checkpoint dir.
    _write_vec_files(part_src, batches, base)  # files 0/1 identical
    resumed = kmeans_stream_fit(spark, str(part_src), schema, init,
                                checkpoint_dir=ckpt)
    assert resumed.n_batches == ref.n_batches == 4
    assert resumed.counts == ref.counts
    assert resumed.sums == ref.sums          # exact Decimal equality
    assert resumed.centroids == ref.centroids  # bit-identical IEEE

    # Round-13 task #3: the journal is COMPACTED per commit — at most
    # _JOURNAL_RETAIN full snapshots survive regardless of stream
    # length, and the surviving set is the newest versions (the
    # restore-relevant ones).
    from questdb_etl_jobs_spark.streaming.kmeans_stream import (
        _JOURNAL_RETAIN,
        _STATE_RE,
    )

    names = [
        p.name
        for p in (tmp_path / "ckpt_resume" / "_kmeans_state").iterdir()
        if _STATE_RE.match(p.name)
    ]
    versions = sorted(int(_STATE_RE.match(n).group(1)) for n in names)
    assert len(versions) <= _JOURNAL_RETAIN
    assert versions[-1] == 4  # newest snapshot survives
    assert versions == list(range(4 - len(versions) + 1, 5))


def test_kmeans_stream_fit_refuses_checkpoint_without_journal(
    spark, tmp_path
):
    """A checkpoint dir carrying Spark stream progress but no operator
    journal (pre-journal build, or a wiped state dir) must raise — a
    silent restart would fit only the tail of the stream."""
    import shutil
    import time

    import pytest

    from questdb_etl_jobs_spark.streaming.kmeans_stream import (
        kmeans_stream_fit,
    )

    schema = "vec_id bigint, embedding array<double>"
    init = [[0.0, 0.0], [10.0, 10.0]]
    src = tmp_path / "arrivals"
    src.mkdir()
    _write_vec_files(src, [[(1, [4.0, 4.0])]], time.time() - 50)
    ckpt = tmp_path / "ckpt"
    kmeans_stream_fit(spark, str(src), schema, init,
                      checkpoint_dir=str(ckpt))
    shutil.rmtree(ckpt / "_kmeans_state")
    with pytest.raises(RuntimeError, match="no operator-state journal"):
        kmeans_stream_fit(spark, str(src), schema, init,
                          checkpoint_dir=str(ckpt))


def test_kmeans_journal_restores_highest_version(spark, tmp_path):
    """The state journal's version selection: multiple committed
    versions in the checkpoint dir restore the HIGHEST, round-tripping
    Decimal sums and float-hex centroids exactly."""
    from decimal import Decimal

    from questdb_etl_jobs_spark.streaming.kmeans_stream import (
        StreamKMeansState,
        _load_latest_state,
        _save_state,
    )

    ckpt = str(tmp_path / "ckpt")
    s1 = StreamKMeansState(
        centroids=[[1.5, -2.25]], sums=[[Decimal("3.0001"), Decimal("-4.5")]],
        counts=[2], n_batches=1,
    )
    _save_state(spark, ckpt, s1, batch_id=0)
    s2 = StreamKMeansState(
        centroids=[[0.1 + 0.2, 7.0]],  # a value with no short repr
        sums=[[Decimal("6.0002"), Decimal("14.0")]],
        counts=[4], n_batches=2,
    )
    _save_state(spark, ckpt, s2, batch_id=1)
    restored, last_batch = _load_latest_state(spark, ckpt)
    assert last_batch == 1
    assert restored.n_batches == 2
    assert restored.counts == [4]
    assert restored.sums == s2.sums          # exact Decimal round-trip
    assert restored.centroids == s2.centroids  # bit-exact via float hex
