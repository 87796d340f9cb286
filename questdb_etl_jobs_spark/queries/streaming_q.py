"""Declared queries: Structured Streaming, driver-verifiable (SURVEY §2.9).

A streaming pipeline's output is a table, so the differential check works
the same way as batch: the callable replays the checked-in hourly fixture
exports (the reference's upload sequence, reference README.md:373) through
``run_stream_to_table`` with ``Trigger.AvailableNow``, then returns an
aggregate over the resulting designated-ts table. The oracle recomputes
the expected table from the same CSVs in CPython (the q02/q09 VALUES
pattern) — so watermarking, stateful dedup, the quarantine branch and the
streaming sink are all under the driver's correctness gate, not just
pytest.
"""

from __future__ import annotations

import csv
import os
import shutil
import tempfile
from collections import defaultdict
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from questdb_etl_jobs_spark.queries import dq
from questdb_etl_jobs_spark.queries._protocol import PURCHASES_HOURLY_DIR


#: 10×-pass skip reason shared by the replay family (tools/
#: verify_local.py prints it): these faces re-process a FIXED arrival
#: sequence — fixture exports or sf0.01-derived chunks, one file per
#: trigger — because the trajectory under test is a function of arrival
#: order, not of data volume. Re-running at another sf would compare
#: the same stream against the same oracle: a pass with no new scale
#: evidence. Their scale posture is covered by the operators' batch
#: twins (EMA/CUSUM/t-digest/KMV/top-k all have sf-scaling batch faces)
#: and the state-size bounds asserted in tests/test_streaming.py.
_REPLAY_PIN = (
    "arrival-order fixture replay — identical at every sf; scale "
    "posture covered by the operator's batch twin"
)


def _pin(fn, reason: str = _REPLAY_PIN):
    fn.sf_pin_reason = reason
    return fn


def _expected_hourly() -> dict[str, tuple[int, int]]:
    """(hour ISO → (n_rows, total_price)) recomputed from the fixtures."""
    out: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for path in sorted(Path(PURCHASES_HOURLY_DIR).glob("*.csv")):
        with open(path, newline="") as fh:
            for _email, _item, _qty, price, ts in csv.reader(fh):
                parsed = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S")
                hour = parsed.replace(minute=0, second=0)
                slot = out[hour.strftime("%Y-%m-%d %H:%M:%S")]
                slot[0] += 1
                slot[1] += int(price)
    return {k: (v[0], v[1]) for k, v in out.items()}


def _q60_oracle() -> str:
    rows = [
        f"(TIMESTAMP '{hour}', {n}, {total})"
        for hour, (n, total) in sorted(_expected_hourly().items())
    ]
    values = ",\n      ".join(rows)
    return f"""
    SELECT hour_ts, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total
    FROM (VALUES
      {values}
    ) AS t(hour_ts, n, total)
    ORDER BY hour_ts
    """


@dq("q60_streaming_replay", oracle=_pin(_q60_oracle), covers="R1,R2,R4,R5,R6,S6,S1,O3")
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the hourly exports through the streaming pipeline, then
    aggregate the landed designated-ts table per hour."""
    from questdb_etl_jobs_spark.streaming.file_stream import run_stream_to_table

    work = tempfile.mkdtemp(prefix="q60_stream_")
    try:
        good_q, bad_q = run_stream_to_table(
            spark,
            PURCHASES_HOURLY_DIR,
            table_path=f"{work}/table",
            quarantine_path=f"{work}/quarantine",
            checkpoint_path=f"{work}/ckpt",
        )
        good_q.awaitTermination(300)
        bad_q.awaitTermination(300)
        table = spark.read.parquet(f"{work}/table")
        # Materialize before the temp dir disappears.
        result = (
            table.groupBy(
                F.date_trunc("hour", "purchase_date").alias("hour_ts")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("price").cast("long")).alias("total"),
            )
            .orderBy("hour_ts")
        )
        rows = result.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, "hour_ts timestamp, n bigint, total bigint")


# ---------------------------------------------------------------------------
# q61 — CSV sink roundtrip (S5): write the reference export shape, read the
#        bytes back; oracle recomputes the exact expected lines in CPython.
# ---------------------------------------------------------------------------

def _q61_expected_rows() -> list[tuple[str, str, str, str, str]]:
    import hashlib

    from questdb_etl_jobs_spark.queries._protocol import PURCHASES_SMALL

    rows = []
    with open(PURCHASES_SMALL, newline="") as fh:
        for email, item_id, quantity, price, ts in csv.reader(fh):
            rows.append(
                (
                    hashlib.sha1(email.encode()).hexdigest(),
                    item_id,
                    quantity,
                    price,
                    ts,
                )
            )
    return rows


def _q61_oracle() -> str:
    values = ",\n      ".join(
        "(" + ", ".join(f"'{v}'" for v in row) + ")"
        for row in _q61_expected_rows()
    )
    return f"""
    SELECT * FROM (VALUES
      {values}
    ) AS t(buyer, item_id, quantity, price, purchase_date)
    ORDER BY buyer, purchase_date, item_id, quantity, price
    """


# Fixture-bound (PURCHASES_SMALL roundtrip): identical at every sf.
_q61_oracle.sf_invariant = True


@dq("q61_csv_sink_roundtrip", oracle=_q61_oracle, covers="S5,F1,O1")
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anonymize the fixture export, write it with the CSV sink (sorted,
    headerless, reference wire timestamp pattern), read the emitted bytes
    back as strings."""
    from questdb_etl_jobs_spark.pipeline import anonymize_and_cast, split_quarantine
    from questdb_etl_jobs_spark.queries._protocol import PURCHASES_SMALL
    from questdb_etl_jobs_spark.sources.csv_source import (
        read_purchases_csv,
        write_sorted_csv,
    )

    work = tempfile.mkdtemp(prefix="q61_csv_sink_")
    try:
        good, _bad = split_quarantine(
            anonymize_and_cast(read_purchases_csv(spark, PURCHASES_SMALL))
        )
        out = f"{work}/export"
        write_sorted_csv(good, out, ts_col="purchase_date", single_file=True)
        emitted = (
            spark.read.schema(
                "buyer string, item_id string, quantity string, "
                "price string, purchase_date string"
            )
            .option("header", "false")
            .csv(out)
        )
        rows = emitted.orderBy(
            "buyer", "purchase_date", "item_id", "quantity", "price"
        ).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "buyer string, item_id string, quantity string, price string, "
        "purchase_date string",
    )


# ---------------------------------------------------------------------------
# q86 — event-metadata source gate (S7): the GCS event envelope as
#        _metadata columns, filtered DataFrame-side
# ---------------------------------------------------------------------------
#
# The reference receives (bucket, contentType, name, size) as a cloud
# event dict and gates in driver Python (reference cloud_function.py:
# 29-50, 109). The distributed face reads the same facts from the file
# source's _metadata struct and gates them as Column predicates — the
# size>0 check becomes a pushable filter on _metadata.file_size, and
# per-file accounting falls out of a groupBy. Oracle: CPython stats the
# same fixture directory.

def _q86_oracle() -> str:
    rows = []
    for path in sorted(Path(PURCHASES_HOURLY_DIR).glob("*.csv")):
        n = sum(1 for _ in open(path, newline=""))
        rows.append(f"('{path.name}', {path.stat().st_size}, {n})")
    values = ",\n      ".join(rows)
    return f"""
    SELECT file_name, CAST(file_size AS BIGINT) AS file_size,
           CAST(n_rows AS BIGINT) AS n_rows
    FROM (VALUES
      {values}
    ) AS t(file_name, file_size, n_rows)
    ORDER BY file_name
    """


# Fixture-bound (PURCHASES_HOURLY_DIR stat walk): identical at every sf.
_q86_oracle.sf_invariant = True


@dq("q86_metadata_source_gate", oracle=_q86_oracle, covers="S7,S2,P1,P2")
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv

    raw = read_purchases_csv(
        spark, PURCHASES_HOURLY_DIR, with_file_metadata=True
    )
    gated = raw.filter(
        (F.col("_source_size") > 0)
        & F.col("_source_file").endswith(".csv")
    )
    return (
        gated.groupBy(
            F.element_at(F.split("_source_file", "/"), -1).alias("file_name"),
            F.col("_source_size").alias("file_size"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("file_name")
    )


# ---------------------------------------------------------------------------
# q145 / q150 — streaming recurrences (R-family stateful ops under the
# oracle): EMA and reset-corrected counter increase
# ---------------------------------------------------------------------------
#
# streaming/ema_stream.py: order-dependent recurrences carried across
# micro-batches as one double of state per key. The hourly fixture files
# replay one-per-trigger (the reference's hourly-export arrival model,
# reference README.md:373), so the state provably survives batch
# boundaries: the oracle recomputes the full per-row trajectory in
# CPython over the same rows in the same replay order — identical IEEE
# expressions term for term (q145 gated at 4 decimals via the
# repr-rounding shim, same protocol as q138's batch face; q150's
# integer-price differences are exact doubles).

def _replay_rows_with_ids() -> list[tuple[int, int, str, float]]:
    """(item_id, row_id, ts_iso, price) in replay order: hourly files in
    name order (= time order), lines in file order, row_id global."""
    out = []
    rid = 0
    for path in sorted(Path(PURCHASES_HOURLY_DIR).glob("*.csv")):
        with open(path, newline="") as fh:
            for _email, item, _qty, price, ts in csv.reader(fh):
                out.append((int(item), rid, ts, float(price)))
                rid += 1
    return out


def _run_replay_stream(spark: SparkSession, op, result_col: str,
                       out_col: str, prefix: str, raw: bool = False):
    """Replay the id-augmented hourly exports one-file-per-trigger
    through a stateful streaming operator, land its output via a parquet
    sink, and return the collected (item_id, row_id, round(result, 4))
    rows — or, with ``raw``, the operator's own output rows unchanged
    (for operators whose emission is per-(key, batch), not per-row)."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        src = Path(work) / "src"
        src.mkdir()
        rid = 0
        for i, path in enumerate(
            sorted(Path(PURCHASES_HOURLY_DIR).glob("*.csv"))
        ):
            rows = []
            with open(path, newline="") as fh:
                for _email, item, _qty, price, ts in csv.reader(fh):
                    rows.append((item, rid, ts, price))
                    rid += 1
            dst = src / path.name
            with open(dst, "w", newline="") as fh:
                csv.writer(fh).writerows(rows)
            # Ascending mtimes pin the file-arrival replay order.
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        stream = (
            spark.readStream.schema(
                "item_id int, row_id bigint, ts timestamp, price double"
            )
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )
        q = (
            op(stream).writeStream.format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if raw:
            rows_out = spark.read.parquet(f"{work}/out").collect()
        else:
            rows_out = (
                spark.read.parquet(f"{work}/out")
                .select(
                    "item_id",
                    "row_id",
                    F.round(result_col, 4).alias(out_col),
                )
                .orderBy("item_id", "row_id")
                .collect()
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if raw:
        return rows_out
    return spark.createDataFrame(
        rows_out, f"item_id int, row_id bigint, {out_col} double"
    )


# ---------------------------------------------------------------------------
# sf-parametric replay (round-13, VERDICT task #6): the EMA/counter
# recurrences replayed over the TIER'S OWN events instead of the fixed
# fixture, so the 10× pass re-fits the trajectory over 10× the rows
# instead of printing a skip line. The tier's events (filtered to a
# deterministic key stratum, globally (ts, event_id)-sorted) are cut
# into _SF_REPLAY_CHUNKS sequential time slices, one file per trigger —
# per-key state provably crosses micro-batch boundaries — and the
# CPython mirror folds the same rows in the same global order (a
# per-key subsequence of a global (ts, id) sort is itself sorted, and
# the streaming operators sort each batch by exactly (ts, id), so the
# sequential fold IS the stream's fold). Rounding stays on the
# established repr-quantize shim (= Spark's BigDecimal-of-toString
# ROUND(x, 4)).
# ---------------------------------------------------------------------------

_SF_REPLAY_CHUNKS = 8
_SF_REPLAY_STRATUM = 7  # user_id % 7 == 0: ~10% of keys, every tier


def _sf_replay_table(sf_dir: str):
    """The replay input as an Arrow table in replay order."""
    import duckdb

    return duckdb.sql(
        f"SELECT user_id, event_id, ts, value "
        f"FROM read_parquet('{sf_dir}/events.parquet') "
        f"WHERE user_id % {_SF_REPLAY_STRATUM} = 0 "
        f"ORDER BY ts, event_id"
    ).arrow()


def _sf_replay_oracle(step, out_col: str, sf_dir: str) -> str:
    """CPython fold over the tier's replay rows in global order."""
    tbl = _sf_replay_table(sf_dir)
    state: dict[int, float] = {}
    out = []
    for uid, eid, val in zip(
        tbl["user_id"].to_pylist(),
        tbl["event_id"].to_pylist(),
        tbl["value"].to_pylist(),
    ):
        st, emitted = step(state.get(uid), float(val))
        state[uid] = st
        out.append((uid, eid, emitted))

    def fmt(v: float | None) -> str:
        return "NULL" if v is None else repr(v)

    values = ",\n      ".join(
        f"({uid}, {eid}, {fmt(v)})" for uid, eid, v in sorted(out)
    )
    return f"""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST({out_col} AS DOUBLE) AS {out_col}
    FROM (VALUES
      {values}
    ) AS t(user_id, event_id, {out_col})
    ORDER BY user_id, event_id
    """


def _run_sf_replay_stream(spark: SparkSession, sf_dir: str, op,
                          result_col: str, out_col: str, prefix: str,
                          raw: bool = False):
    """Replay the tier's stratum one-chunk-per-trigger through a
    stateful streaming operator; returns (user_id, event_id,
    round(result, 4)) rows — or, with ``raw``, the operator's own
    output rows unchanged (for per-(key, batch) emissions)."""
    import math

    import pyarrow.parquet as pq

    tbl = _sf_replay_table(sf_dir)
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        src = Path(work) / "src"
        src.mkdir()
        per = max(1, math.ceil(tbl.num_rows / _SF_REPLAY_CHUNKS))
        for i in range(_SF_REPLAY_CHUNKS):
            chunk = tbl.slice(i * per, per)
            if chunk.num_rows == 0:
                break
            dst = src / f"chunk_{i:03d}.parquet"
            pq.write_table(chunk, str(dst))
            # Ascending mtimes pin the file-arrival replay order.
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        stream = (
            spark.readStream.schema(
                "user_id bigint, event_id bigint, ts timestamp, "
                "value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            op(stream).writeStream.format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if raw:
            rows_out = spark.read.parquet(f"{work}/out").collect()
        else:
            rows_out = (
                spark.read.parquet(f"{work}/out")
                .select(
                    "user_id",
                    "event_id",
                    F.round(result_col, 4).alias(out_col),
                )
                .orderBy("user_id", "event_id")
                .collect()
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if raw:
        return rows_out
    return spark.createDataFrame(
        rows_out, f"user_id bigint, event_id bigint, {out_col} double"
    )


def _ema_step(prev: float | None, x: float) -> tuple[float, float]:
    from decimal import ROUND_HALF_UP, Decimal

    st = x if prev is None else 0.25 * x + 0.75 * prev
    return st, float(
        Decimal(repr(st)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    )


def _counter_step(
    prev: float | None, x: float
) -> tuple[float, float | None]:
    if prev is None:
        inc = None
    elif x - prev < 0:
        inc = x  # reset: the counter restarted from zero
    else:
        inc = x - prev
    return x, inc


def _counter_step_4(
    prev: float | None, x: float
) -> tuple[float, float | None]:
    from decimal import ROUND_HALF_UP, Decimal

    st, inc = _counter_step(prev, x)
    if inc is None:
        return st, None
    return st, float(
        Decimal(repr(inc)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    )


def _q145_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return _sf_replay_oracle(_ema_step, "ema4", sf_dir)


# The CPython mirror is a linear fold over the tier's stratum rows
# (seconds at sf0.1): sf-parametric, not pinned (round-13 task #6).
_q145_oracle.sf_parametric = True


@dq(
    "q145_ema_stream_replay",
    oracle=_q145_oracle,
    covers="R1,R6,U2,W2",
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the tier's events stratum through the stateful streaming
    EMA (streaming/ema_stream.py:35) — one time-slice chunk per
    trigger, per-key state crossing every boundary — and return the
    per-row trajectory."""
    from questdb_etl_jobs_spark.streaming.ema_stream import ema_stream

    return _run_sf_replay_stream(
        spark, sf_dir,
        lambda s: ema_stream(
            s, key="user_id", ts="ts", value="value",
            alpha=0.25, id_col="event_id",
        ),
        result_col="ema", out_col="ema4", prefix="q145_ema_stream_",
    )


def _q150_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return _sf_replay_oracle(_counter_step_4, "inc4", sf_dir)


_q150_oracle.sf_parametric = True


@dq(
    "q150_counter_stream_replay",
    oracle=_q150_oracle,
    covers="R1,R6,U2,W2",
)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the tier's events stratum through the stateful streaming
    counter increase (streaming/ema_stream.py counter twin):
    reset-corrected deltas with one carried baseline per key; the first
    sample per key emits NULL, crossing micro-batch boundaries via the
    state store."""
    from questdb_etl_jobs_spark.streaming.ema_stream import (
        counter_increase_stream,
    )

    return _run_sf_replay_stream(
        spark, sf_dir,
        lambda s: counter_increase_stream(
            s, key="user_id", ts="ts", value="value", id_col="event_id",
        ),
        result_col="increase", out_col="inc4",
        prefix="q150_counter_stream_",
    )


# ---------------------------------------------------------------------------
# q159 — streaming t-digest replay with verified rank bounds
# ---------------------------------------------------------------------------
#
# streaming/tdigest_stream.py under the oracle: per-key digests carried
# across the hourly micro-batches, emitting live p50/p90 estimates each
# trigger. The digest's merge path is order-insensitive only up to its
# accuracy bound, so the gate is the q120/q157 pattern: the FINAL
# estimates are ranked in CPython against every replayed value and the
# result rows carry within_bound booleans the oracle pins TRUE, plus
# the exact absorbed count n (deterministic).

def _q159_oracle() -> str:
    from collections import Counter

    counts = Counter(item for item, _rid, _ts, _p in _replay_rows_with_ids())
    values = ",\n      ".join(
        f"({item}, {n}, TRUE, TRUE)" for item, n in sorted(counts.items())
    )
    return f"""
    SELECT CAST(item_id AS INTEGER) AS item_id,
           CAST(n AS BIGINT) AS n,
           CAST(p50_ok AS BOOLEAN) AS p50_ok,
           CAST(p90_ok AS BOOLEAN) AS p90_ok
    FROM (VALUES
      {values}
    ) AS t(item_id, n, p50_ok, p90_ok)
    ORDER BY item_id
    """


@dq("q159_tdigest_stream_replay", oracle=_pin(_q159_oracle), covers="R1,R6,U2,A3")
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the hourly exports through the streaming t-digest and gate
    its final per-key estimates against the full value set."""
    from questdb_etl_jobs_spark.streaming.tdigest_stream import tdigest_stream

    rows_out = _run_replay_stream(
        spark,
        lambda s: tdigest_stream(s, key="item_id", value="price",
                                 qs=[0.5, 0.9]),
        result_col=None, out_col=None, prefix="q159_tdigest_stream_",
        raw=True,
    )
    # Final digest row per key = the one with the largest absorbed n.
    final: dict[int, tuple[int, float, float]] = {}
    for r in rows_out:
        if r.item_id not in final or r.n > final[r.item_id][0]:
            final[r.item_id] = (r.n, r.q_50, r.q_90)
    by_key: dict[int, list[float]] = {}
    for item, _rid, _ts, price in _replay_rows_with_ids():
        by_key.setdefault(item, []).append(price)
    checked = []
    for item, vals in sorted(by_key.items()):
        vals.sort()
        n, q50, q90 = final[item]
        def ok(q: float, est: float) -> bool:
            lo = sum(1 for v in vals if v < est)
            hi = sum(1 for v in vals if v <= est)
            bound = 4 * len(vals) * q * (1 - q) / 100 + 1
            return lo <= q * len(vals) + bound and hi >= q * len(vals) - bound
        checked.append((item, n, ok(0.5, q50), ok(0.9, q90)))
    return spark.createDataFrame(
        checked, "item_id int, n bigint, p50_ok boolean, p90_ok boolean"
    ).orderBy("item_id")


# ---------------------------------------------------------------------------
# q160 — streaming heavy hitters replay (exact-mode Misra-Gries state)
# ---------------------------------------------------------------------------
#
# streaming/heavyhitters_stream.py under the oracle: the hourly exports
# replay one-per-trigger, the carried global MG sketch absorbs each
# batch's parallel partials, and the FINAL emission must be the exact
# top-10 items by purchase count — counters (64) exceeds the fixture's
# vocabulary, so no sketch ever evicts, err is exactly 0, weights are
# exact counts, and guaranteed must hold (the d_total bookkeeping under
# test). The oracle recomputes the same top-10 (same (-count, str(key))
# tiebreak) in CPython.

def _q160_oracle() -> str:
    from collections import Counter

    counts = Counter(item for item, _rid, _ts, _p in _replay_rows_with_ids())
    total = sum(counts.values())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], str(kv[0])))
    top = ranked[:10]
    # Same strictness as the operator: a TIE at the boundary means the
    # top-10 SET is not unique, so guaranteed is honestly FALSE even in
    # exact mode (err 0).
    next_w = ranked[10][1] if len(ranked) > 10 else 0
    g = "TRUE" if top[-1][1] > next_w else "FALSE"
    values = ",\n      ".join(
        f"({item}, {cnt}, {total}, 0, {g})" for item, cnt in top
    )
    return f"""
    SELECT CAST(item_id AS INTEGER) AS item_id,
           CAST(weight AS BIGINT) AS weight,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(err AS BIGINT) AS err,
           CAST(guaranteed AS BOOLEAN) AS guaranteed
    FROM (VALUES
      {values}
    ) AS t(item_id, weight, n_total, err, guaranteed)
    ORDER BY weight DESC, item_id
    """


@dq("q160_heavy_hitters_stream", oracle=_pin(_q160_oracle), covers="R1,R6,U2,O2")
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the hourly exports through the streaming MG sketch and
    return the final top-10 emission."""
    from questdb_etl_jobs_spark.streaming.heavyhitters_stream import (
        heavy_hitters_stream,
    )

    rows_out = _run_replay_stream(
        spark,
        lambda s: heavy_hitters_stream(s, "item_id", k=10, counters=64),
        result_col=None, out_col=None, prefix="q160_hh_stream_", raw=True,
    )
    final_n = max(r.n_total for r in rows_out)
    final = [
        (r.item_id, r.weight, r.n_total, r.err, r.guaranteed)
        for r in rows_out if r.n_total == final_n
    ]
    return spark.createDataFrame(
        final,
        "item_id int, weight bigint, n_total bigint, err bigint, "
        "guaranteed boolean",
    ).orderBy(F.col("weight").desc(), "item_id")


# ---------------------------------------------------------------------------
# q161 — streaming KMV distinct replay (deterministic sketch state)
# ---------------------------------------------------------------------------
#
# streaming/kmv_stream.py under the oracle — and unlike the t-digest /
# MG gates, this one is VALUE-exact: the k smallest distinct hashes do
# not depend on arrival order or batch boundaries, so the final
# streaming state must equal the CPython XXH64-mirror recomputation
# bit for bit (kth_hash, n_min, and the estimate's IEEE arithmetic —
# the q74 protocol, now across micro-batch state). The hashed value is
# a deterministic derivation of row_id so both small-set exact
# (n_min < k) and frontier-estimate branches occur across the 50 keys.

_Q161_K = 16
_Q161_MULT = 2654435761


def _q161_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    import struct

    from questdb_etl_jobs_spark.queries._xxhash import xxh64_signed

    tbl = _sf_replay_table(sf_dir)
    by_key: dict[int, set[int]] = {}
    counts: dict[int, int] = {}
    for uid, eid in zip(
        tbl["user_id"].to_pylist(), tbl["event_id"].to_pylist()
    ):
        by_key.setdefault(uid, set()).add((eid * _Q161_MULT) % 1000)
        counts[uid] = counts.get(uid, 0) + 1
    out = []
    for uid in sorted(by_key):
        hashes = sorted(
            xxh64_signed(struct.pack("<q", v)) for v in by_key[uid]
        )
        mins = hashes[:_Q161_K]
        kth, n_min = mins[-1], len(mins)
        if n_min < _Q161_K:
            est = float(n_min)
        else:
            est = (_Q161_K - 1) / ((float(kth) + 2.0**63) / 2.0**64)
        # The estimate rides as a QUOTED string: DuckDB parses a bare
        # float literal as DECIMAL, which can drop the last ulp; the
        # string→DOUBLE cast is correctly rounded, hence bit-exact.
        out.append(f"({uid}, {counts[uid]}, {kth}, {n_min}, '{est!r}')")
    values = ",\n      ".join(out)
    return f"""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_seen AS BIGINT) AS n_seen,
           CAST(kth_hash AS BIGINT) AS kth_hash,
           CAST(n_min AS INTEGER) AS n_min,
           CAST(est_distinct AS DOUBLE) AS est_distinct
    FROM (VALUES
      {values}
    ) AS t(user_id, n_seen, kth_hash, n_min, est_distinct)
    ORDER BY user_id
    """


# Pure-Python XXH64 over each key's ≤1000 distinct derived values —
# linear in the stratum: sf-parametric (round-13 task #6).
_q161_oracle.sf_parametric = True


@dq("q161_kmv_stream_replay", oracle=_q161_oracle, covers="R1,R6,U2,A3")
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the tier's events stratum through the streaming KMV
    sketch and return the final per-key state (bit-exact vs the
    XXH64 batch mirror)."""
    from questdb_etl_jobs_spark.streaming.kmv_stream import kmv_distinct_stream

    rows_out = _run_sf_replay_stream(
        spark, sf_dir,
        lambda s: kmv_distinct_stream(
            s.withColumn(
                "val", (F.col("event_id") * F.lit(_Q161_MULT)) % 1000
            ),
            "user_id", "val", k=_Q161_K,
        ),
        result_col=None, out_col=None, prefix="q161_kmv_stream_", raw=True,
    )
    final: dict[int, tuple] = {}
    for r in rows_out:
        if r.user_id not in final or r.n_seen > final[r.user_id][1]:
            final[r.user_id] = (
                r.user_id, r.n_seen, r.kth_hash, r.n_min, r.est_distinct
            )
    return spark.createDataFrame(
        sorted(final.values()),
        "user_id bigint, n_seen bigint, kth_hash bigint, n_min int, "
        "est_distinct double",
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q162 — stream-stream interval join replay (watermark-bounded state)
# ---------------------------------------------------------------------------
#
# streaming/stream_join.py under the oracle: BOTH inputs are unbounded
# file streams (the purchase feed, and a synthesized confirmation feed
# carrying every 3rd purchase delayed 10 minutes), joined on item_id
# with |ts_l − ts_r| ≤ 30 minutes — the only feasible stream-stream
# shape, because the tolerance is what lets the state store evict. The
# oracle brute-forces the same pairing in CPython over the same rows,
# so the join's match set (not just counts) determines the gated
# per-item totals.

def _q162_pairs(sf_dir: str) -> dict[int, int]:
    """user_id -> pair count, brute-forced over the tier's stratum in
    exact integer microseconds (the join's own arithmetic)."""
    tbl = _sf_replay_table(sf_dir)
    rows = list(
        zip(
            tbl["user_id"].to_pylist(),
            tbl["event_id"].to_pylist(),
            tbl["ts"].to_pylist(),
        )
    )
    confirms_by_key: dict[int, list] = {}
    for uid, eid, ts in rows:
        if eid % 3 == 0:
            # The confirm stream's event time is the event ts + 10 min.
            confirms_by_key.setdefault(uid, []).append(
                ts + timedelta(minutes=10)
            )
    n_by_key: dict[int, int] = {}
    for uid, _eid, ts in rows:
        for cts in confirms_by_key.get(uid, ()):
            td = ts - cts
            us = (td.days * 86_400 + td.seconds) * 10**6 + td.microseconds
            # Inclusive 30-minute band on both ends (between).
            if abs(us) <= 1_800_000_000:
                n_by_key[uid] = n_by_key.get(uid, 0) + 1
    return n_by_key


def _q162_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    values = ",\n      ".join(
        f"({uid}, {n})" for uid, n in sorted(_q162_pairs(sf_dir).items())
    )
    return f"""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_pairs AS BIGINT) AS n_pairs
    FROM (VALUES
      {values}
    ) AS t(user_id, n_pairs)
    ORDER BY user_id
    """


# Brute-force pair mirror bounded by per-key row × confirm products —
# ~seconds at sf0.1 on the stratum: sf-parametric (round-13 task #6).
_q162_oracle.sf_parametric = True


@dq("q162_stream_stream_interval_join", oracle=_q162_oracle,
    covers="R1,R3,R4,J6")
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay both feeds — the tier's events stratum, and a confirm
    feed carrying every third event delayed 10 minutes — one
    time-slice chunk per trigger through the watermarked stream-stream
    interval join, and count matches per user."""
    import math

    import pyarrow.parquet as pq

    from questdb_etl_jobs_spark.streaming.stream_join import (
        interval_stream_join,
    )

    work = tempfile.mkdtemp(prefix="q162_ssjoin_")
    try:
        left_dir = Path(work) / "left"
        right_dir = Path(work) / "right"
        left_dir.mkdir(), right_dir.mkdir()
        tbl = _sf_replay_table(sf_dir)
        per = max(1, math.ceil(tbl.num_rows / _SF_REPLAY_CHUNKS))
        for i in range(_SF_REPLAY_CHUNKS):
            chunk = tbl.slice(i * per, per)
            if chunk.num_rows == 0:
                break
            lpath = left_dir / f"chunk_{i:03d}.parquet"
            pq.write_table(chunk, str(lpath))
            import pyarrow as pa

            mask = pa.array(
                [eid % 3 == 0 for eid in chunk["event_id"].to_pylist()]
            )
            confirms = chunk.filter(mask)
            rtbl = pa.table(
                {
                    "user_id": confirms["user_id"],
                    "c_event_id": confirms["event_id"],
                    "c_ts": pa.array(
                        [
                            t + timedelta(minutes=10)
                            for t in confirms["ts"].to_pylist()
                        ],
                        type=pa.timestamp("us"),
                    ),
                }
            )
            rpath = right_dir / f"chunk_{i:03d}.parquet"
            pq.write_table(rtbl, str(rpath))
            for p in (lpath, rpath):
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        left = (
            spark.readStream.schema(
                "user_id bigint, event_id bigint, ts timestamp, "
                "value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(left_dir))
        )
        right = (
            spark.readStream.schema(
                "user_id bigint, c_event_id bigint, c_ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(right_dir))
        )
        joined = interval_stream_join(
            left, right, left_ts="ts", right_ts="c_ts",
            tolerance="30 minutes", on=["user_id"],
        )
        q = (
            joined.select("user_id", "event_id", "c_event_id")
            .writeStream.format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows_out = (
            spark.read.parquet(f"{work}/out")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("user_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows_out, "user_id bigint, n_pairs bigint"
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q165 — streaming CUSUM replay (two doubles of drift state per key)
# ---------------------------------------------------------------------------
#
# The monitoring family's streaming face under the oracle, via the
# shared replay harness: per-item positive CUSUM of price against a
# fixed target, state crossing micro-batch boundaries; the CPython
# trajectory walks the identical recurrence (same IEEE ops, repr-round
# shim as q145).

#: events.value sits around avg≈50/median≈35, so target 50 + slack 5
#: keeps the positive drift non-degenerate: most rows pull the sum back
#: toward the zero floor, spikes push it up — both CUSUM branches and
#: the state reset are exercised at every tier.
_Q165_TARGET = 50.0
_Q165_SLACK = 5.0


def _cusum_step(prev, x: float):
    from decimal import ROUND_HALF_UP, Decimal

    sp = prev if prev is not None else 0.0
    sp = max(0.0, sp + (x - _Q165_TARGET - _Q165_SLACK))
    return sp, float(
        Decimal(repr(sp)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    )


def _q165_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return _sf_replay_oracle(_cusum_step, "cusum4", sf_dir)


_q165_oracle.sf_parametric = True


@dq(
    "q165_cusum_stream_replay",
    oracle=_q165_oracle,
    covers="R1,R6,U2,W3",
)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the tier's events stratum through the streaming CUSUM and
    return the per-row positive-drift trajectory (two doubles of state
    per key crossing every micro-batch boundary)."""
    from questdb_etl_jobs_spark.streaming.ema_stream import cusum_stream

    return _run_sf_replay_stream(
        spark, sf_dir,
        lambda s: cusum_stream(
            s, key="user_id", ts="ts", value="value",
            target=_Q165_TARGET, id_col="event_id", slack=_Q165_SLACK,
        ),
        result_col="cusum_pos", out_col="cusum4",
        prefix="q165_cusum_stream_",
    )


# ---------------------------------------------------------------------------
# q166 — LEFT OUTER stream-stream interval join (settled NULL tail)
# ---------------------------------------------------------------------------
#
# The outer face of q162's join (round-8 verdict task #5): same two
# unbounded feeds, but every purchase row must appear — matched rows
# once per confirm inside the ±30-minute band, unmatched rows exactly
# once with a NULL confirm id. NULL emission is gated on SETTLEDNESS
# (both watermarks past left_ts + tolerance), so the replay appends one
# sentinel row per side dated a day beyond the last real event to push
# the watermark across the whole tail, and drains eviction through
# stream_join.replay_settled (which owns the same-checkpoint double
# pass: the first pass's final watermark is only acted on by the next
# planned micro-batch).
# The CPython oracle brute-forces per-item matched-pair and unmatched-
# row counts over the same rows, so both faces of the outer semantics
# (multiplicity AND the NULL tail) are value-checked.

def _q166_counts() -> dict[int, tuple[int, int]]:
    """item_id -> (n_pairs, n_unmatched_left_rows), brute-forced."""
    rows = _replay_rows_with_ids()
    confirms = [
        (item, rid, ts) for item, rid, ts, _p in rows if rid % 3 == 0
    ]
    out: dict[int, list[int]] = {}
    for item, _rid, ts, _p in rows:
        t = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S")
        n = 0
        for citem, _crid, cts in confirms:
            if citem != item:
                continue
            ct = datetime.strptime(cts, "%Y-%m-%dT%H:%M:%S")
            # Confirm event time = its purchase ts + 10 minutes;
            # inclusive 30-minute band on both ends (between).
            if abs((t - ct).total_seconds() - 600) <= 1800:
                n += 1
        e = out.setdefault(item, [0, 0])
        e[0] += n
        if n == 0:
            e[1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


def _q166_oracle() -> str:
    values = ",\n      ".join(
        f"({item}, {np}, {nu})"
        for item, (np, nu) in sorted(_q166_counts().items())
    )
    return f"""
    SELECT CAST(item_id AS INTEGER) AS item_id,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_unmatched AS BIGINT) AS n_unmatched
    FROM (VALUES
      {values}
    ) AS t(item_id, n_pairs, n_unmatched)
    ORDER BY item_id
    """


@dq("q166_stream_interval_left_join", oracle=_pin(_q166_oracle),
    covers="R1,R3,R4,J3,J6")
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay both feeds through the LEFT OUTER watermarked interval
    join; count matched pairs and settled NULL rows per item."""
    from questdb_etl_jobs_spark.streaming.stream_join import (
        interval_stream_join,
        replay_settled,
    )

    work = tempfile.mkdtemp(prefix="q166_ssleft_")
    try:
        left_dir = Path(work) / "left"
        right_dir = Path(work) / "right"
        left_dir.mkdir(), right_dir.mkdir()
        rid = 0
        max_ts = None
        files = sorted(Path(PURCHASES_HOURLY_DIR).glob("*.csv"))
        for i, path in enumerate(files):
            lrows, rrows = [], []
            with open(path, newline="") as fh:
                for _email, item, _qty, price, ts in csv.reader(fh):
                    lrows.append((item, rid, ts, price))
                    t = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S")
                    max_ts = t if max_ts is None else max(max_ts, t)
                    if rid % 3 == 0:
                        cts = (t + timedelta(minutes=10)).strftime(
                            "%Y-%m-%dT%H:%M:%S"
                        )
                        rrows.append((item, rid, cts))
                    rid += 1
            for d, rows in ((left_dir, lrows), (right_dir, rrows)):
                with open(d / path.name, "w", newline="") as fh:
                    csv.writer(fh).writerows(rows)
                os.utime(
                    d / path.name, (1_700_000_000 + i, 1_700_000_000 + i)
                )
        # Sentinel flush rows: one per side, a day past the last real
        # event, so the tail's NULL results settle (filtered below).
        flush_ts = (max_ts + timedelta(days=1)).strftime(
            "%Y-%m-%dT%H:%M:%S"
        )
        for d, row in (
            (left_dir, (-1, -1, flush_ts, 0.0)),
            (right_dir, (-1, -1, flush_ts)),
        ):
            with open(d / "zz_flush.csv", "w", newline="") as fh:
                csv.writer(fh).writerow(row)
            os.utime(
                d / "zz_flush.csv",
                (1_700_000_000 + len(files), 1_700_000_000 + len(files)),
            )
        left = (
            spark.readStream.schema(
                "item_id int, row_id bigint, ts timestamp, price double"
            )
            .option("maxFilesPerTrigger", 1)
            .csv(str(left_dir))
        )
        right = (
            spark.readStream.schema(
                "item_id int, c_row_id bigint, c_ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .csv(str(right_dir))
        )
        joined = interval_stream_join(
            left, right, left_ts="ts", right_ts="c_ts",
            tolerance="30 minutes", on=["item_id"], how="left_outer",
        )

        # replay_settled owns the two-pass drain: the first pass's
        # final watermark is only acted on by the next planned batch.
        replay_settled(
            joined.select("item_id", "row_id", "c_row_id"),
            out_path=f"{work}/out",
            checkpoint_path=f"{work}/ckpt",
        )
        rows_out = (
            spark.read.parquet(f"{work}/out")
            .filter(F.col("item_id") >= 0)
            .groupBy("item_id")
            .agg(
                F.count("c_row_id").alias("n_pairs"),
                F.count_if(F.col("c_row_id").isNull()).alias("n_unmatched"),
            )
            .orderBy("item_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows_out, "item_id int, n_pairs bigint, n_unmatched bigint"
    ).orderBy("item_id")


# ---------------------------------------------------------------------------
# q167 — streaming near-dup admission gate (incremental corpus dedup)
# ---------------------------------------------------------------------------
#
# The online form of q47's batch near-dup dedup: the mutated corpus
# (each document + a first-word-dropped near-twin, q47's construction)
# arrives as THREE file micro-batches, and streaming/dedup_stream.py
# admits a document only if it is novel — within a batch duplicate
# clusters keep the min id, across batches the first admitted document
# wins against the maintained (id, signature, shingles) index. Batch
# assignment is doc_id % 3, so a mutated twin (id+100000 ≡ id+1 mod 3)
# lands one batch AFTER its original except for ids ≡ 2 (mod 3), whose
# twin wraps to batch 0 and is admitted FIRST — the replay exercises
# first-admitted-wins in both directions.
#
# Oracle protocol = q47's: a CPython mirror brute-forces EXACT all-pairs
# Jaccard over word shingles (no LSH, no hashing) and replays the same
# batch admission model; the Spark face's banded-LSH candidate pruning
# and 64-bit hashed shingle sets are the (documented, ~1e-7
# deterministic-risk) approximations under test — a recall miss or hash
# collision would surface as a differential failure, not be absorbed.

def _q167_batches() -> list[list[tuple[int, str]]]:
    import duckdb

    from questdb_etl_jobs_spark.queries.llm import ORACLE_SF_DIR

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{ORACLE_SF_DIR}/documents.parquet'"
        " ORDER BY doc_id"
    ).fetchall()
    corpus = []
    for doc_id, text in rows:
        corpus.append((doc_id, text))
        idx = text.find(" ")
        corpus.append((doc_id + 100000, text[idx + 1:] if idx >= 0 else text))
    batches: list[list[tuple[int, str]]] = [[], [], []]
    for doc_id, text in corpus:
        batches[doc_id % 3].append((doc_id, text))
    return batches


def _q167_admitted() -> list[int]:
    """CPython replay of the admission semantics (exact Jaccard ≥ 4/5)."""
    from questdb_etl_jobs_spark.queries.llm import _py_shingles

    def near(a: frozenset, b: frozenset) -> bool:
        inter = len(a & b)
        return 5 * inter >= 4 * (len(a) + len(b) - inter)

    admitted: list[tuple[int, frozenset]] = []
    for rows in _q167_batches():
        sh = {i: _py_shingles(t) for i, t in rows}
        # Within-batch clusters (union-find over verified pairs) → min id.
        parent = {i: i for i in sh}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        ids = sorted(sh)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if near(sh[a], sh[b]):
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        survivors = [i for i in ids if find(i) == i]
        # Cross-batch: reject any survivor near-dupping an admitted doc.
        for i in survivors:
            if not any(near(sh[i], ash) for _a, ash in admitted):
                admitted.append((i, sh[i]))
    return sorted(i for i, _s in admitted)


def _q167_oracle() -> str:
    values = ",\n      ".join(f"({i})" for i in _q167_admitted())
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id
    FROM (VALUES
      {values}
    ) AS t(doc_id)
    ORDER BY doc_id
    """


@dq("q167_stream_dedup_admit", oracle=_pin(_q167_oracle),
    covers="R1,R5,R6,U4,J4,EXT")
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the mutated corpus through the streaming admission gate;
    return the admitted doc_ids (docstring above for semantics)."""
    import json

    from questdb_etl_jobs_spark.queries.llm import ORACLE_SF_DIR
    from questdb_etl_jobs_spark.streaming.dedup_stream import (
        maintain_dedup_corpus,
    )

    if os.path.realpath(sf_dir) != os.path.realpath(ORACLE_SF_DIR):
        # The batch split is defined over the oracle tier's doc_ids; the
        # replay (like q02/q09's fixture replays) is tier-pinned.
        sf_dir = ORACLE_SF_DIR

    work = tempfile.mkdtemp(prefix="q167_dedup_admit_")
    try:
        feed = Path(work) / "feed"
        feed.mkdir()
        for b, rows in enumerate(_q167_batches()):
            p = feed / f"batch_{b}.jsonl"
            with open(p, "w") as fh:
                for doc_id, text in rows:
                    fh.write(
                        json.dumps({"doc_id": doc_id, "text": text}) + "\n"
                    )
            os.utime(p, (1_700_000_000 + b,) * 2)
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(feed))
        )
        q = maintain_dedup_corpus(
            stream,
            corpus_path=f"{work}/corpus",
            index_path=f"{work}/index",
            checkpoint_path=f"{work}/ckpt",
        )
        q.awaitTermination(600)
        admitted = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{work}/corpus")
            .select("doc_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [(i,) for i in admitted], "doc_id bigint"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q176 — streaming exact top-k per key replay (bounded leaderboard state)
# ---------------------------------------------------------------------------
#
# streaming/topk_stream.py under the oracle: the hourly exports replay
# one-per-trigger, each key's state carries exactly k (row_id, price)
# pairs plus the absorbed-row count, and the FINAL emission per key must
# be the exact top-3 purchases by (price DESC, row_id) over the whole
# fixture — VALUE-exact (the q161 protocol: values ride through state
# verbatim, max-k-of-a-set is batch-boundary independent, so the oracle
# recomputes in CPython and prices compare bit-for-bit via the quoted
# repr → DOUBLE cast).

_Q176_K = 3


def _q176_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    tbl = _sf_replay_table(sf_dir)
    by_key: dict[int, list[tuple[float, int]]] = {}
    counts: dict[int, int] = {}
    for uid, eid, val in zip(
        tbl["user_id"].to_pylist(),
        tbl["event_id"].to_pylist(),
        tbl["value"].to_pylist(),
    ):
        by_key.setdefault(uid, []).append((float(val), eid))
        counts[uid] = counts.get(uid, 0) + 1
    rows = []
    for uid in sorted(by_key):
        best = sorted(by_key[uid], key=lambda t: t[1])
        best.sort(key=lambda t: t[0], reverse=True)
        for rn, (val, eid) in enumerate(best[:_Q176_K], 1):
            rows.append(f"({uid}, {rn}, {eid}, '{val!r}', {counts[uid]})")
    values = ",\n      ".join(rows)
    return f"""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(rn AS INTEGER) AS rn,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(value AS DOUBLE) AS value,
           CAST(n_seen AS BIGINT) AS n_seen
    FROM (VALUES
      {values}
    ) AS t(user_id, rn, event_id, value, n_seen)
    ORDER BY user_id, rn
    """


# Per-key sort of the stratum rows — linear-log in the tier:
# sf-parametric (round-13 task #6).
_q176_oracle.sf_parametric = True


@dq("q176_topk_stream_replay", oracle=_q176_oracle, covers="R1,R6,U2,O2,W1")
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the tier's events stratum through the streaming per-key
    top-k and return each key's final leaderboard emission."""
    from questdb_etl_jobs_spark.streaming.topk_stream import (
        topk_per_key_stream,
    )

    rows_out = _run_sf_replay_stream(
        spark, sf_dir,
        lambda s: topk_per_key_stream(
            s, "user_id", "value", "event_id", _Q176_K
        ),
        result_col=None, out_col=None, prefix="q176_topk_stream_", raw=True,
    )
    # Final emission per key = the rows stamped with its largest
    # n_seen (n_seen strictly grows with every batch that touches the
    # key, and emission only happens on touched batches).
    best_n: dict[int, int] = {}
    for r in rows_out:
        best_n[r.user_id] = max(best_n.get(r.user_id, 0), r.n_seen)
    final = [
        (r.user_id, r.rn, r.event_id, r.value, r.n_seen)
        for r in rows_out
        if r.n_seen == best_n[r.user_id]
    ]
    return spark.createDataFrame(
        final, "user_id bigint, rn int, event_id bigint, value double, "
        "n_seen bigint"
    ).orderBy("user_id", "rn")


# ---------------------------------------------------------------------------
# q179 — streaming sequential k-means replay (EXT clustering, streaming twin)
# ---------------------------------------------------------------------------
#
# The clustering family's streaming face (batch Lloyd: q177): embeddings
# arrive in five vec_id-ordered parquet files replayed one per trigger
# (ascending mtimes), and streaming/kmeans_stream.py folds each
# micro-batch MacQueen-style — assign against the CURRENT centroids,
# move every centroid to the running mean of everything it has absorbed
# so far. State is k × dim decimal sums + k counts; per-batch cost is
# one zero-shuffle assignment projection + a partitions × k × dim
# exchange. The oracle replays the identical fold sequentially in
# CPython (same decimal protocol, same array-order distance folds, same
# lowest-index tie-break), so batch boundaries, state carry-over, and
# the final corpus assignment are all value-gated bit-for-bit.

_Q179_K = 4
_Q179_FILES = 5


def _q179_chunks(
    sf_dir: str = "/root/testdata/sf0.01",
) -> list[list[tuple[int, list[float]]]]:
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    vecs = [(int(vid), [float(x) for x in v]) for vid, v in rows]
    per = -(-len(vecs) // _Q179_FILES)  # ceil
    return [vecs[i * per : (i + 1) * per] for i in range(_Q179_FILES)]


def _q179_mirror(
    sf_dir: str = "/root/testdata/sf0.01",
) -> list[tuple[int, int, str]]:
    """(vec_id, cluster, sq_dist4) after the sequential replay — exact
    CPython twin of kmeans_stream_fit + the final assignment."""
    from decimal import ROUND_HALF_UP, Decimal

    q4 = Decimal("0.0001")
    chunks = _q179_chunks(sf_dir)
    allv = [x for ch in chunks for x in ch]
    dim = len(allv[0][1])

    def sqd(vec: list[float], cen: list[float]) -> float:
        acc = 0.0
        for a, b in zip(vec, cen):
            acc = acc + (a - b) * (a - b)
        return acc

    centroids = [list(v) for _vid, v in allv[:_Q179_K]]
    sums = [[Decimal(0)] * dim for _ in range(_Q179_K)]
    counts = [0] * _Q179_K
    for chunk in chunks:
        # assign the whole batch against the centroids current at entry
        batch_assign = []
        for vid, v in chunk:
            dists = [sqd(v, c) for c in centroids]
            batch_assign.append(dists.index(min(dists)))
        for (vid, v), cl in zip(chunk, batch_assign):
            counts[cl] += 1
            for p, x in enumerate(v):
                sums[cl][p] += Decimal(repr(x)).quantize(q4, ROUND_HALF_UP)
        for c in range(_Q179_K):
            if counts[c] > 0:
                centroids[c] = [
                    float(sums[c][p]) / counts[c] for p in range(dim)
                ]
    out = []
    for vid, v in allv:
        dists = [sqd(v, c) for c in centroids]
        best = dists.index(min(dists))
        out.append(
            (
                vid,
                best,
                str(Decimal(repr(dists[best])).quantize(q4, ROUND_HALF_UP)),
            )
        )
    return out


def _q179_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    values = ",\n      ".join(
        f"({vid}, {cl}, {d4})" for vid, cl, d4 in _q179_mirror(sf_dir)
    )
    return f"""
    SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cluster AS INT) AS cluster,
           CAST(sq_dist4 AS DOUBLE) AS sq_dist4
    FROM (VALUES
      {values}
    ) AS t(vec_id, cluster, sq_dist4)
    ORDER BY vec_id
    """


# The MacQueen mirror is a linear fold over the tier's own embeddings
# (seconds at sf0.1) and the arrival files are BUILT from those same
# rows — both faces re-derive per tier: sf-parametric, not pinned
# (round-14; previously carried the fixed-arrival pin).
_q179_oracle.sf_parametric = True


@dq("q179_kmeans_stream_replay", oracle=_q179_oracle,
    covers="R1,R6,U1,EXT")
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from questdb_etl_jobs_spark.operators.clustering import assign_clusters
    from questdb_etl_jobs_spark.streaming.kmeans_stream import kmeans_stream_fit

    chunks = _q179_chunks(sf_dir)
    seed = [list(v) for _vid, v in (chunks[0])[:_Q179_K]]

    work = tempfile.mkdtemp(prefix="q179_kmeans_stream_")
    try:
        src = f"{work}/arrivals"
        os.makedirs(src)
        base = time.time() - 1000
        for i, chunk in enumerate(chunks):
            path = f"{src}/chunk_{i:03d}.parquet"
            pq.write_table(
                pa.table(
                    {
                        "vec_id": pa.array(
                            [vid for vid, _v in chunk], type=pa.int64()
                        ),
                        "embedding": pa.array(
                            [v for _vid, v in chunk],
                            type=pa.list_(pa.float64()),
                        ),
                    }
                ),
                path,
            )
            os.utime(path, (base + i, base + i))  # pin arrival order
        state = kmeans_stream_fit(
            spark,
            src,
            "vec_id bigint, embedding array<double>",
            seed,
            checkpoint_dir=f"{work}/ckpt",
        )
        if state.n_batches != _Q179_FILES:
            raise AssertionError(
                f"q179 expected {_Q179_FILES} micro-batches, "
                f"got {state.n_batches}"
            )
        corpus = spark.read.parquet(src)
        final = assign_clusters(
            corpus, state.centroids, dist_col="sq_dist"
        )
        rows = (
            final.select(
                "vec_id",
                F.col("cluster").cast("int").alias("cluster"),
                F.round("sq_dist", 4).alias("sq_dist4"),
            )
            .orderBy("vec_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "vec_id bigint, cluster int, sq_dist4 double"
    )


# ---------------------------------------------------------------------------
# q192 — streaming deterministic reservoir (exactly-k per stratum, round 13)
# ---------------------------------------------------------------------------
#
# The streaming twin of functions/sampling.fixed_size_sample: maintain
# an exactly-k-per-stratum sample LIVE as data arrives — eval-set /
# human-review reservoirs over an unbounded feed. Composition of
# existing certified pieces: the content-keyed Knuth bucket (the
# sampler family's priority) rides the stream as a projection, and
# streaming/topk_stream.topk_per_key_stream keeps each stratum's k
# smallest buckets (negated: its contract is top-k DESC) across
# micro-batches — state is exactly k (id, priority) pairs per stratum
# no matter how long the stream runs. Max-k-of-a-set is batch-boundary
# independent, so the FINAL reservoir equals the batch sampler over
# the same rows — and the oracle is plain SQL arithmetic over the
# tier's events (valid at any sf: the 10× pass re-fits it wholesale).

_Q192_K = 4
_Q192_STRATA = 5
_Q192_KNUTH = 2654435761
_Q192_RES = 10_000

_Q192_ORACLE = f"""
WITH s AS (
  SELECT user_id % {_Q192_STRATA} AS strata, event_id,
         (event_id * {_Q192_KNUTH}) % {_Q192_RES} AS bucket
  FROM events
  WHERE user_id % 7 = 0
), r AS (
  SELECT strata, event_id, bucket,
         ROW_NUMBER() OVER (PARTITION BY strata
                            ORDER BY bucket, event_id) AS rn
  FROM s
)
SELECT CAST(strata AS BIGINT) AS strata,
       CAST(event_id AS BIGINT) AS event_id,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(rn AS INTEGER) AS rn
FROM r WHERE rn <= {_Q192_K}
ORDER BY strata, rn
"""


@dq("q192_stream_reservoir", oracle=_Q192_ORACLE, covers="R1,R6,U2,O2,EXT")
def q192(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the tier's events stratum through the live reservoir and
    return each stratum's FINAL sample (the q176 largest-n_seen
    emission pattern), mapped back to (bucket, rank)."""
    from questdb_etl_jobs_spark.streaming.topk_stream import (
        topk_per_key_stream,
    )

    def op(s):
        staged = s.select(
            F.pmod(F.col("user_id"), F.lit(_Q192_STRATA)).alias("strata"),
            "event_id",
            (
                -F.pmod(
                    F.col("event_id") * F.lit(_Q192_KNUTH),
                    F.lit(_Q192_RES),
                )
            ).alias("negb"),
        )
        return topk_per_key_stream(
            staged, "strata", "negb", "event_id", _Q192_K
        )

    rows_out = _run_sf_replay_stream(
        spark, sf_dir, op,
        result_col=None, out_col=None, prefix="q192_reservoir_", raw=True,
    )
    best_n: dict[int, int] = {}
    for r in rows_out:
        best_n[r.strata] = max(best_n.get(r.strata, 0), r.n_seen)
    final = [
        (int(r.strata), int(r.event_id), int(-r.negb), int(r.rn))
        for r in rows_out
        if r.n_seen == best_n[r.strata]
    ]
    return spark.createDataFrame(
        final, "strata bigint, event_id bigint, bucket bigint, rn int"
    ).orderBy("strata", "rn")
