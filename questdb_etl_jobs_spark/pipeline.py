"""The reference ETL pipeline, Spark-first.

Reproduces the dataflow of the reference's Cloud Function
(reference cloud_function.py:98-129) as a declarative plan:

    event gates → CSV scan → anonymize/cast → split good/quarantine
    → designated-ts table append (and/or JDBC append)

Semantic invariants preserved (SURVEY.md §1.4):

1. deterministic anonymization: ``buyer = sha1(email)`` hex — same email,
   same digest, per-buyer analytics survive (reference cloud_function.py:70);
2. per-record fault isolation: malformed rows are quarantined, never fatal
   (intent of reference cloud_function.py:91-95; the reference actually
   crashes on a wrong-arity row at the unpack in cloud_function.py:67 —
   we fix the bug, keep the intent);
3. input gating before any work (reference cloud_function.py:103-115);
4. typed, validated rows only reach the table (reference
   sql/create-table.sql:1).

All transforms are built-in JVM expressions (sha1, try_cast,
try_to_timestamp) — no Python in the row path, so the batch is
whole-stage-codegen'd end to end.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from questdb_etl_jobs_spark.schemas import PURCHASE_TS_PATTERN
from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv
from questdb_etl_jobs_spark.plans.designated import write_designated_ts

#: Required keys of the storage event envelope (reference cloud_function.py:36).
REQUIRED_EVENT_KEYS = ("bucket", "contentType", "name", "size")


def is_event_valid(event: dict) -> bool:
    """Gate 1 — event shape: all required keys present
    (reference cloud_function.py:29-38)."""
    return all(key in event for key in REQUIRED_EVENT_KEYS)


def is_object_valid(event: dict) -> bool:
    """Gate 2 — object content: non-empty and CSV content type
    (reference cloud_function.py:41-50)."""
    try:
        size = int(event["size"])
    except (KeyError, TypeError, ValueError):
        return False
    return size > 0 and event.get("contentType") == "text/csv"


def gate_files_df(df: DataFrame) -> DataFrame:
    """DataFrame-side object gates (SURVEY §2.2 P1/P2 distributed variant).

    The driver-side dict gates (:func:`is_event_valid`/:func:`is_object_valid`)
    mirror the reference's per-event Cloud Function check; when many files
    land in one batch the same predicates belong IN the plan, on the file
    source's ``_metadata`` columns (csv_source.read_purchases_csv
    ``with_file_metadata=True``): non-empty object + CSV name. Catalyst
    evaluates them per file, so invalid objects never produce rows
    downstream.
    """
    return df.filter(
        (F.col("_source_size") > 0) & F.col("_source_file").endswith(".csv")
    )


#: The typed purchases projection, one SQL expression per column so the
#: whole select is a single ``selectExpr`` the JVM parses (one py4j round
#: trip instead of one per column function). The PII column is dropped
#: and replaced by its SHA-1 hex digest (reference cloud_function.py:62-78);
#: positional casts per reference cloud_function.py:74-76; timestamp
#: pattern per cloud_function.py:88, its quotes escaped for the SQL literal.
_TS_PATTERN_SQL = PURCHASE_TS_PATTERN.replace("'", r"\'")
TYPED_COLUMNS_SQL = (
    "sha1(email) AS buyer",
    "try_cast(item_id AS INT) AS item_id",
    "try_cast(quantity AS INT) AS quantity",
    "try_cast(price AS INT) AS price",
    f"try_to_timestamp(purchase_date, '{_TS_PATTERN_SQL}') AS purchase_date",
    "_corrupt_record",
)

#: A row quarantines if the CSV line failed to parse or any required field
#: failed validation/cast (reference sql/create-table.sql:1). The one
#: spelling of the predicate: the batch split, the run_batch counters and
#: the streaming split all use it.
BAD_ROW_SQL = (
    "_corrupt_record IS NOT NULL OR buyer IS NULL OR item_id IS NULL"
    " OR quantity IS NULL OR price IS NULL OR purchase_date IS NULL"
)
GOOD_ROW_SQL = f"NOT ({BAD_ROW_SQL})"


def anonymize_and_cast(raw: DataFrame) -> DataFrame:
    """Transform raw (all-string) rows to the typed purchases shape
    (:data:`TYPED_COLUMNS_SQL`). ``try_``-variants yield NULL (not an
    error) on bad input so invalid values route to quarantine under ANSI
    mode."""
    return raw.selectExpr(*TYPED_COLUMNS_SQL)


def split_quarantine(typed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (good, quarantined) — per-record fault isolation."""
    good = typed.filter(GOOD_ROW_SQL).drop("_corrupt_record")
    bad = typed.filter(BAD_ROW_SQL)
    return good, bad


@dataclass
class BatchResult:
    rows_loaded: int
    rows_quarantined: int


def _scan_leaves_half_the_cores(spark: SparkSession, raw: DataFrame) -> bool:
    """True when a scan of ``raw`` takes at most half the cores, so a
    second scan of it runs beside the first on cores that would sit idle.

    Spark cuts a source smaller than (cores - 1) x
    ``spark.sql.files.openCostInBytes`` into splits of that size (4 MB by
    default) and spreads a larger one over every core; the source size
    is Spark's own estimate of the relation, the listed files' bytes.
    """
    size = raw._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    cores = spark.sparkContext.defaultParallelism
    return size <= (cores // 2) * open_cost


def run_batch(
    spark: SparkSession,
    event: dict,
    csv_path: str | None = None,
    table_path: str | None = None,
    quarantine_path: str | None = None,
) -> BatchResult | None:
    """One pipeline invocation, mirroring entrypoint()
    (reference cloud_function.py:98-129).

    Returns None when the gates reject the event (the reference's early
    return, cloud_function.py:105-115); otherwise loads good rows into the
    designated-ts table and quarantines bad rows, returning counts.

    The table write (or, without a table, a count) carries an Observation
    that computes both returned counts on its own scan; the quarantine
    write is a second scan of the source. How the two run depends on the
    source's size against the cores:

    - A source whose scan takes at most half the cores, such as one
      hourly export, is quarantined at the same time as the table write,
      on a worker thread that inherits the caller's job group and local
      properties. The worker is joined before this returns or raises, and
      its error is re-raised unchanged (if the table write failed too,
      that error is its ``__context__``). This write is unconditional: a
      clean batch pays one extra scan on otherwise idle cores and commits
      one empty part file, as the streaming quarantine sink does for
      every micro-batch. It also commits when the table write fails, so a
      retried call appends the same bad rows again: quarantine delivery
      is at-least-once.
    - A larger source, whose scan fills the cores, is quarantined after
      the table write and only when the Observation counted bad rows; a
      clean batch scans once, and a failed table write quarantines
      nothing.

    Consistency caveat: the returned counts come from the Observation on
    the table-write scan, while quarantined rows are written by a second,
    independent scan of the source CSV — if the file mutates between the
    two scans, the written quarantine rows can disagree with the returned
    count. Source objects are immutable in the reference's bucket model
    (GCS finalize events), so this is a documented non-goal, not a race
    we defend against.
    """
    if not is_event_valid(event) or not is_object_valid(event):
        return None
    path = csv_path if csv_path is not None else event["name"]
    raw = read_purchases_csv(spark, path)
    typed = anonymize_and_cast(raw)

    # The counts ride on the table write's own scan as two counters per
    # task, so nothing is cached (persisting a full batch is a non-plan at
    # 100 TB batch sizes).
    obs = Observation()
    observed = typed.observe(
        obs,
        F.expr("count(1) AS n_total"),
        F.expr(f"sum(CAST(({BAD_ROW_SQL}) AS BIGINT)) AS n_bad"),
    )
    good = observed.filter(GOOD_ROW_SQL).drop("_corrupt_record")
    bad = typed.filter(BAD_ROW_SQL)

    def load() -> dict:
        if table_path is not None:
            write_designated_ts(good, table_path, "purchase_date")
            return obs.get
        # No table sink: the count action itself drives the observation.
        n = good.count()
        metrics = obs.get
        assert metrics["n_total"] - (metrics["n_bad"] or 0) == n
        return metrics

    def quarantine() -> None:
        bad.write.mode("append").json(quarantine_path)

    if quarantine_path is not None and _scan_leaves_half_the_cores(spark, raw):
        with ThreadPoolExecutor(1) as pool:
            quarantined = pool.submit(inheritable_thread_target(spark)(quarantine))
            try:
                metrics = load()
            finally:
                quarantined.result()
    else:
        metrics = load()
        if quarantine_path is not None and metrics["n_bad"]:
            quarantine()
    n_bad = int(metrics["n_bad"] or 0)
    n_good = int(metrics["n_total"]) - n_bad
    return BatchResult(rows_loaded=n_good, rows_quarantined=n_bad)
