"""Streaming pipeline: the reference's event-driven ETL, as a real stream.

The reference *is* a streaming system in slow motion: a Cloud Function
fires per new GCS object (reference README.md:102-103), each hourly file
is a micro-batch, and event time is globally non-decreasing (reference
README.md:373). Mapping:

- new-object trigger        → Structured Streaming file source (discovers
                              new files per micro-batch; Trigger.AvailableNow
                              for catch-up runs)
- zero out-of-order writes  → ``withWatermark(ts, "0 seconds")`` faithful
                              mode; configurable lateness as the idiomatic
                              relaxation (R4)
- at-least-once delivery    → ``dropDuplicatesWithinWatermark`` on a
                              content-derived id (R5) — watermark-bounded
                              state, never unbounded at 100 TB
- log-and-continue records  → foreachBatch splitter: good rows append to
                              the designated-ts table, bad rows to a
                              quarantine path (R6; intent of reference
                              cloud_function.py:91-95)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from questdb_etl_jobs_spark.schemas import PURCHASES_RAW
from questdb_etl_jobs_spark.pipeline import anonymize_and_cast, split_quarantine
from questdb_etl_jobs_spark.functions.hashing import stable_id
from questdb_etl_jobs_spark.plans.designated import (
    upsert_designated_ts,
    write_designated_ts,
)


def stream_purchases_csv(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of reference-format CSVs landing in ``input_dir``."""
    reader = (
        spark.readStream.schema(PURCHASES_RAW)
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.csv(input_dir)


def stream_purchases_jsonl(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of JSONL purchase exports (sources/json_source.py's
    streaming face): same raw all-string shape as the CSV stream, so the
    whole pipeline downstream is format-agnostic."""
    reader = (
        spark.readStream.schema(PURCHASES_RAW)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(input_dir)


def run_stream_to_table(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    lateness: str = "0 seconds",
    dedup: bool = True,
    available_now: bool = True,
    sink: str = "append",
    upsert_keys: tuple[str, ...] = ("buyer", "item_id", "quantity", "price"),
    source_format: str = "csv",
) -> tuple[StreamingQuery, StreamingQuery]:
    """Run the full streaming pipeline; returns (good_query, bad_query).

    ``sink`` picks the good-branch table write:

    - ``"append"`` (default) — the reference's accumulate model. Exactly-
      once holds ONLY while the checkpoint commit and the table write
      succeed or fail together; a crash in the window between the parquet
      write and the checkpoint commit makes Structured Streaming replay
      the batch on restart and the append duplicates it — the reference's
      own documented at-least-once gap (SURVEY §1.4.5).
    - ``"upsert"`` — idempotent redelivery: each micro-batch goes through
      :func:`upsert_designated_ts` keyed on ``(purchase_date,
      upsert_keys)`` (QuestDB ``DEDUP UPSERT KEYS`` semantics), so a
      replayed batch merges into itself and the table equals the
      single-run result after any crash/restart. This is the sink to pair
      with at-least-once sources in production.

    The quarantine split happens BEFORE the watermark/dedup stage: corrupt
    rows carry a NULL event time and content-collapsing ids, so running
    them through the stateful dedup could silently drop distinct malformed
    rows — breaking per-record fault isolation (the reference's
    log-and-continue contract, cloud_function.py:91-95). Instead two
    streaming queries branch from the same source: the good branch gets
    watermark + stateful dedup + designated-ts append; the bad branch goes
    straight to the quarantine sink (at-least-once; quarantine re-delivery
    is harmless and auditable).

    ``lateness="0 seconds"`` is the faithful mode (the reference forbids
    out-of-order uploads, reference README.md:373); pass e.g. ``"1 hour"``
    to accept late data the idiomatic way.
    """
    if source_format == "csv":
        raw = stream_purchases_csv(spark, input_dir)
    elif source_format == "jsonl":
        raw = stream_purchases_jsonl(spark, input_dir)
    else:
        raise ValueError(f"source_format must be csv or jsonl, got {source_format!r}")
    good, bad = split_quarantine(anonymize_and_cast(raw))
    good = good.withWatermark("purchase_date", lateness)
    if dedup:
        good = (
            good.withColumn(
                "__row_id",
                stable_id("buyer", "item_id", "quantity", "price", "purchase_date"),
            )
            .dropDuplicatesWithinWatermark(["__row_id"])
            .drop("__row_id")
        )

    if sink == "upsert":

        def write_good(batch: DataFrame, batch_id: int) -> None:
            upsert_designated_ts(
                batch.sparkSession, batch, table_path, "purchase_date",
                list(upsert_keys),
            )

    elif sink == "append":

        def write_good(batch: DataFrame, batch_id: int) -> None:
            write_designated_ts(batch, table_path, "purchase_date")

    else:
        raise ValueError(f"sink must be 'append' or 'upsert', got {sink!r}")

    def write_bad(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").json(quarantine_path)

    good_writer = (
        good.writeStream.foreachBatch(write_good)
        .option("checkpointLocation", f"{checkpoint_path}/good")
        .outputMode("append")
    )
    bad_writer = (
        bad.writeStream.foreachBatch(write_bad)
        .option("checkpointLocation", f"{checkpoint_path}/bad")
        .outputMode("append")
    )
    if available_now:
        good_writer = good_writer.trigger(availableNow=True)
        bad_writer = bad_writer.trigger(availableNow=True)
    return good_writer.start(), bad_writer.start()


# ---------------------------------------------------------------------------
# Windowed aggregations (R2/R3) — work on both batch and streaming frames
# ---------------------------------------------------------------------------

def tumbling_counts(df: DataFrame, ts: str, width: str = "1 hour") -> DataFrame:
    return df.groupBy(F.window(F.col(ts), width).alias("win")).agg(
        F.count(F.lit(1)).alias("n")
    )


def sliding_counts(
    df: DataFrame, ts: str, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    return df.groupBy(F.window(F.col(ts), width, slide).alias("win")).agg(
        F.count(F.lit(1)).alias("n")
    )


def session_counts(df: DataFrame, ts: str, key: str, gap: str = "30 minutes") -> DataFrame:
    return df.groupBy(
        F.session_window(F.col(ts), gap).alias("win"), F.col(key)
    ).agg(F.count(F.lit(1)).alias("n"))
