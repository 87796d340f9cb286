"""Continuous time-bucket rollup: a streaming-maintained aggregate table.

The QuestDB-style "hypertable rollup": keep an hourly aggregate of an
event stream as a queryable table that updates as data lands, without
recomputing history. Spark-first realization:

    stream → watermark → tumbling-window agg (update mode)
           → foreachBatch: DYNAMIC partition overwrite of ONLY the hour
             partitions present in the micro-batch

Dynamic partition overwrite (the writer option ``partitionOverwriteMode=
dynamic``, set on each batch's write and never on the session, which the
stream thread shares with every other writer) is what makes maintenance
incremental at 100 TB: a micro-batch touching 2 hours rewrites 2 small
directories, never the table. Readers see complete hours atomically per
partition; time-range queries prune on the bucket partition column like
any designated-ts table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: Partition column: one directory per bucket (e.g. bucket=2021-03-21T11).
BUCKET_COL = "bucket"


def maintain_hourly_rollup(
    events: DataFrame,
    rollup_path: str,
    checkpoint_path: str,
    ts_col: str,
    agg_cols: dict[str, str],
    lateness: str = "0 seconds",
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain an hourly rollup table from a streaming frame.

    ``agg_cols`` maps output column → aggregated input column; count(*) is
    always included as ``n``. Emits update-mode window rows; each batch
    overwrites exactly the hour partitions it touched.
    """
    windowed = (
        events.withWatermark(ts_col, lateness)
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("__win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.col(src).cast("long")).alias(out)
                for out, src in agg_cols.items()
            ],
        )
        .select(
            F.date_format("__win.start", "yyyy-MM-dd'T'HH").alias(BUCKET_COL),
            F.col("__win.start").alias("bucket_ts"),
            "n",
            *agg_cols.keys(),
        )
    )

    def overwrite_buckets(batch: DataFrame, batch_id: int) -> None:
        (
            batch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(rollup_path)
        )

    writer = (
        windowed.writeStream.foreachBatch(overwrite_buckets)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Read the rollup table (time filters prune on the bucket column)."""
    return spark.read.parquet(rollup_path)
