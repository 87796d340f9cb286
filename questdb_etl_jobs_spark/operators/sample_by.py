"""SAMPLE BY: time-bucketed aggregation over a designated timestamp.

QuestDB's time-bucket aggregation idiom (time-series surface per reference
README.md:70-71; the tutorial's trend chart README.md:369-371 is an hourly
rollup of the loaded table). Maps to a plain groupBy over a truncated
timestamp — partial aggregation (map-side combine) and whole-stage codegen
come from Catalyst; one shuffle keyed by (bucket, keys…).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from questdb_etl_jobs_spark.operators.asof import _over, _q

#: Buckets accepted as date_trunc units (calendar-aligned, matches the
#: DuckDB oracle's date_trunc semantics).
_TRUNC_UNITS = {
    "year", "quarter", "month", "week", "day", "hour", "minute", "second",
}

#: Fixed-width units where calendar truncation equals an epoch-µs floor:
#: second/minute always (every modern tz offset is a whole number of
#: minutes), hour only when the session runs UTC (a ±hh:30/:45 offset
#: shifts local hour boundaries off the UTC grid). Integer floor is pure
#: codegen arithmetic; date_trunc routes through calendar logic that
#: measured ~1.6× slower over a 10M-row scan (tools/sf1_differential.py,
#: dq25).
_FIXED_WIDTH_US = {
    # Sub-second units (QuestDB SAMPLE BY T/U strides) are pure epoch
    # arithmetic by definition — no tz offset is finer than a minute.
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
}


#: Units legal in an "<n> <unit>s" stride via the epoch-µs floor. The
#: single-unit date_trunc forms are CALENDAR-aligned (local-tz hour/day
#: boundaries — hence the tz gate below), but Spark's ``window()`` —
#: the path multi-unit strides took before — aligns to the UTC epoch
#: unconditionally, so the integer floor is value-identical to
#: ``window(...).start`` for EVERY fixed-width stride while staying in
#: whole-stage codegen (no per-row struct construction).
_STRIDE_UNIT_US = {
    **_FIXED_WIDTH_US,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}

def _stride_width_us(bucket: str) -> int | None:
    import re

    m = re.match(r"^(\d+)\s+([a-z]+?)s?$", bucket.strip())
    if not m:
        return None
    unit = m.group(2)
    if unit not in _STRIDE_UNIT_US:
        return None
    return int(m.group(1)) * _STRIDE_UNIT_US[unit]


def _bucket_expr(spark_tz_utc: bool, ts: str, bucket: str) -> Column:
    width = _FIXED_WIDTH_US.get(bucket)
    if width is not None and (bucket != "hour" or spark_tz_utc):
        us = F.unix_micros(F.col(ts))
        # pmod (not %) so pre-epoch timestamps still floor downward.
        return F.timestamp_micros(us - F.pmod(us, F.lit(width)))
    if bucket in _TRUNC_UNITS:
        return F.date_trunc(bucket, F.col(ts))
    stride = _stride_width_us(bucket)
    if stride is not None:
        # "15 minutes" / "250 milliseconds" / "2 days": epoch-aligned by
        # definition (window()'s own semantics) — integer floor, not the
        # per-row window-struct path.
        us = F.unix_micros(F.col(ts))
        return F.timestamp_micros(us - F.pmod(us, F.lit(stride)))
    return F.window(F.col(ts), bucket).getField("start")


def sample_by(
    df: DataFrame,
    ts: str,
    bucket: str,
    aggs: list[Column],
    keys: list[str] | None = None,
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Aggregate ``df`` into calendar buckets of ``ts``.

    ``bucket`` is a date_trunc unit (``"hour"``) or an arbitrary interval
    like ``"15 minutes"`` (aligned to the epoch via ``window``).
    """
    tz_utc = (
        df.sparkSession.conf.get("spark.sql.session.timeZone", "") == "UTC"
    )
    grouped = df.groupBy(
        _bucket_expr(tz_utc, ts, bucket).alias(bucket_col), *(keys or [])
    )
    return grouped.agg(*aggs)


def sample_by_first_observation(
    df: DataFrame,
    ts: str,
    bucket: str,
    aggs: list[Column],
    keys: list[str] | None = None,
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """SAMPLE BY with first-observation alignment.

    QuestDB (pre-7.4 default; later versions default to ``ALIGN TO
    CALENDAR`` and keep this as the explicit ``ALIGN TO FIRST
    OBSERVATION`` form) anchors buckets at the table's first row;
    :func:`sample_by` is the calendar form. Here bucket i covers
    ``[t0 + i·w, t0 + (i+1)·w)`` with ``t0 = min(ts)`` over the whole
    input (not per key — QuestDB semantics), computed as a one-row
    broadcast aggregate: integer-µs arithmetic against the anchor, no
    window function, still one shuffle keyed by (bucket, keys…).
    ``bucket`` is an interval string: ``"<unit>"`` or ``"<n> <unit>"``
    (``"2 hours"``); anything else raises.
    """
    parts = bucket.split()
    if len(parts) not in (1, 2):
        raise ValueError(
            f"bucket must be '<unit>' or '<n> <unit>', got {bucket!r}"
        )
    qty = int(parts[0]) if len(parts) == 2 else 1
    unit = parts[-1].rstrip("s")
    per_unit_us = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }
    if unit not in per_unit_us:
        raise ValueError(f"unsupported first-observation bucket {bucket!r}")
    width_us = qty * per_unit_us[unit]
    anchor = df.agg(F.min(ts).alias("__t0"))
    us = F.unix_micros(F.col(ts))
    t0 = F.unix_micros(F.col("__t0"))
    idx = F.floor((us - t0) / F.lit(width_us))
    bucket_expr = F.timestamp_micros(
        (t0 + idx * F.lit(width_us)).cast("long")
    )
    with_anchor = df.join(F.broadcast(anchor))
    grouped = with_anchor.groupBy(
        bucket_expr.alias(bucket_col), *(keys or [])
    )
    return grouped.agg(*aggs)


def _width_us(bucket: str) -> int:
    """Micro-second width of a fixed-width bucket spec (``"hour"``,
    ``"15 minutes"``). Calendar units (week/month/…) raise: they have no
    fixed width, so anchored-origin bucketing is undefined for them."""
    parts = bucket.split()
    if len(parts) not in (1, 2):
        raise ValueError(
            f"bucket must be '<unit>' or '<n> <unit>', got {bucket!r}"
        )
    qty = int(parts[0]) if len(parts) == 2 else 1
    unit = parts[-1].rstrip("s")
    per_unit_us = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }
    if unit not in per_unit_us:
        raise ValueError(f"no fixed width for bucket {bucket!r}")
    return qty * per_unit_us[unit]


def _parse_utc_us(literal: str) -> int:
    """Epoch-µs of an ISO timestamp literal, read as UTC (the engine's
    session timezone contract; see session.py)."""
    import datetime

    dt = datetime.datetime.fromisoformat(literal.replace("T", " "))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    return (dt - epoch) // datetime.timedelta(microseconds=1)


def sample_by_from_to(
    df: DataFrame,
    ts: str,
    bucket: str,
    aggs: list[Column],
    from_ts: str,
    to_ts: str,
    keys: list[str] | None = None,
    fill: dict[str, object] | None = None,
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """QuestDB ``SAMPLE BY <w> FROM <from> TO <to> [FILL(...)]``.

    QuestDB 8's explicit-range sampling (public SAMPLE BY docs): FROM/TO
    bound the query — rows land in ``[from, to)`` (lower inclusive,
    upper exclusive, like every interval in the engine) — and the
    sampling ORIGIN moves from the calendar grid to ``from``: bucket *i*
    covers ``[from + i·w, from + (i+1)·w)``, so a ``FROM '..T00:30'``
    produces half-past-aligned hourly buckets. With ``fill``, the output
    is prefilled across the whole ``[from, to)`` range — including empty
    leading/trailing buckets a data-derived grid could never see, which
    is the reason the clause exists (dashboards want the full axis).
    Without ``fill`` only non-empty buckets return.

    Scale: the range predicate is a pushed-down scan filter; bucketing is
    integer-µs codegen arithmetic off the anchored origin (no calendar
    logic); the prefill grid is ``(range/w) × keys`` rows of AGGREGATE
    space built from literals — input-size-independent.

    Fixed-width buckets only (s/m/h/d): a month has no fixed width, so
    QuestDB itself rejects calendar units with FROM-TO alignment.
    """
    width = _width_us(bucket)
    lo_us, hi_us = _parse_utc_us(from_ts), _parse_utc_us(to_ts)
    if hi_us <= lo_us:
        raise ValueError(f"empty FROM-TO range: {from_ts!r} .. {to_ts!r}")
    c = F.col(ts)
    filtered = df.filter(
        (c >= F.timestamp_micros(F.lit(lo_us)))
        & (c < F.timestamp_micros(F.lit(hi_us)))
    )
    us = F.unix_micros(c)
    idx = F.floor((us - F.lit(lo_us)) / F.lit(width))
    bucket_expr = F.timestamp_micros(
        (F.lit(lo_us) + idx * F.lit(width)).cast("long")
    )
    agg = filtered.groupBy(
        bucket_expr.alias(bucket_col), *(keys or [])
    ).agg(*aggs)
    if fill is None:
        return agg
    last_bucket_us = lo_us + ((hi_us - lo_us - 1) // width) * width
    return fill_gaps(
        agg, bucket_col, f"{width} microseconds", keys, fill,
        lo_us=lo_us, hi_us=last_bucket_us,
    )


def parse_hhmm_offset_us(offset: str) -> int:
    """``'[±]hh:mm'`` → signed µs (QuestDB's WITH OFFSET literal)."""
    import re as _re

    m = _re.fullmatch(r"([+-]?)(\d{2}):(\d{2})", offset.strip())
    if not m:
        raise ValueError(f"offset must be '[±]hh:mm', got {offset!r}")
    sign = -1 if m.group(1) == "-" else 1
    return sign * (int(m.group(2)) * 3600 + int(m.group(3)) * 60) * 1_000_000


def sample_by_offset(
    df: DataFrame,
    ts: str,
    bucket: str,
    aggs: list[Column],
    offset: str,
    keys: list[str] | None = None,
    fill: dict[str, object] | None = None,
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """QuestDB ``SAMPLE BY … ALIGN TO CALENDAR WITH OFFSET '[±]hh:mm'``:
    calendar buckets shifted off the UTC grid by a fixed hh:mm — the
    business-day-boundary idiom (a ledger whose day rolls at 02:30).

    Fixed-width units only; the bucket is integer-µs floor arithmetic
    against the shifted origin (``floor((t−off)/w)·w + off``), pure
    codegen like the other anchored faces. FILL densifies over the
    aggregate's own [min, max] shifted grid.
    """
    width = _width_us(bucket)
    off = parse_hhmm_offset_us(offset)
    us = F.unix_micros(F.col(ts))
    idx = F.floor((us - F.lit(off)) / F.lit(width))
    bucket_expr = F.timestamp_micros(
        (F.lit(off) + idx * F.lit(width)).cast("long")
    )
    agg = df.groupBy(bucket_expr.alias(bucket_col), *(keys or [])).agg(*aggs)
    if fill is None:
        return agg
    return fill_gaps(agg, bucket_col, f"{width} microseconds", keys, fill)


def _sql_number(v: object) -> str:
    """A FILL(value) constant as a SQL literal of its own type: an int,
    or a double (cast from its repr, so NaN and the infinities work)."""
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, int):
        return str(int(v))
    raise ValueError(f"FILL value must be a number, got {v!r}")


def fill_gaps(
    agg: DataFrame,
    bucket_col: str,
    step: str,
    keys: list[str] | None = None,
    fill: dict[str, object] | None = None,
    lo_us: int | None = None,
    hi_us: int | None = None,
) -> DataFrame:
    """QuestDB ``SAMPLE BY … FILL(…)``: densify a bucketed aggregate.

    Emits every bucket of the grid spanning the aggregate's global
    [min, max] bucket range (for each distinct ``keys`` value when
    grouped, a NULL key included) with the aggregate's values where it
    has the bucket, and fills each gap per ``fill[col]``:

    - ``"null"``  — leave the gap NULL (QuestDB FILL(NULL); the default);
    - ``("value", v)`` — constant (FILL(value));
    - ``"prev"``  — carry the previous non-null value forward (FILL(PREV));
    - ``"linear"`` — interpolate between the surrounding non-null values
      by bucket-timestamp fraction (FILL(LINEAR)); leading/trailing gaps
      stay NULL, matching QuestDB.

    One pass, no join: one aggregate over the aggregate collects each
    key's buckets into a map (bucket → struct of values) beside its
    [min, max]; ``explode`` over ``sequence(min, max, step)`` zipped
    with that map then yields the dense rows. ``map_zip_with`` matches
    the grid to the map through a hash of the keys, so a key's
    densify is linear in its buckets (an ``element_at`` per grid bucket
    scans the map's keys, which is quadratic: one key of 160k buckets,
    one task, took 7.2 s that way and 0.3 s zipped, on a 4-core VM).
    With ``keys``, the global bounds come from a one-row broadcast
    min/max. The map holds one entry per
    non-NULL bucket: ``agg`` must have at most one row per (bucket,
    keys), which every SAMPLE BY aggregate has, and a row whose bucket
    is NULL is dropped (a map key cannot be NULL).

    Scale: operates on AGGREGATE space, not input space — the output is
    ``n_buckets × n_keys`` rows regardless of input rows, and one key's
    buckets travel as one row. The map aggregate shuffles by ``keys``
    and the fill windows reuse that partitioning. With no keys it is a
    single partition — bounded by the time span / bucket, not by data.
    Nothing runs until the caller's action.

    ``lo_us``/``hi_us`` (epoch-µs, both inclusive bucket starts) pin the
    grid to an explicit range instead of the aggregate's own [min, max] —
    the FROM-TO prefill (:func:`sample_by_from_to`), where empty edge
    buckets must still appear.
    """
    keys = keys or []
    fill = fill or {}
    step = step if " " in step else f"1 {step}"
    values = [c for c in agg.columns if c != bucket_col and c not in keys]
    unknown = sorted(set(fill) - set(values))
    if unknown:
        raise ValueError(f"FILL names no aggregate column: {unknown}")
    b, ks = _q(bucket_col), [_q(k) for k in keys]
    entries = F.expr(
        f"map_from_entries(collect_list(IF({b} IS NULL, NULL, "
        f"struct({b}, struct({', '.join(map(_q, values))}))))) AS __m"
    )
    if lo_us is not None and hi_us is not None:
        lo, hi = f"timestamp_micros({lo_us})", f"timestamp_micros({hi_us})"
        series = agg.groupBy(*keys).agg(entries)
    else:
        lo, hi = "__lo", "__hi"
        bounds = [F.expr(f"min({b}) AS __lo"), F.expr(f"max({b}) AS __hi")]
        if keys:
            series = agg.groupBy(*keys).agg(entries).crossJoin(
                F.broadcast(agg.agg(*bounds))
            )
        else:
            series = agg.agg(entries, *bounds)
    # The grid's own buckets are the zip's first map, so a bucket of the
    # aggregate that is off the grid (g NULL) is dropped.
    dense = (
        series.selectExpr(
            *ks, f"sequence({lo}, {hi}, INTERVAL {step}) AS __g", "__m"
        )
        .selectExpr(
            *ks,
            "explode(map_zip_with(map_from_arrays(__g, __g), __m, "
            f"(k, g, v) -> named_struct('g', g, 'v', v))) AS ({b}, __e)",
        )
        .filter("__e.g IS NOT NULL")
    )

    prev = _over(keys, b)
    nxt = _over(keys, b, "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING")
    cols = []
    for col in values:
        c, mode = f"__e.v.{_q(col)}", fill.get(col, "null")
        if mode == "null":
            cols.append(f"{c} AS {_q(col)}")
        elif isinstance(mode, tuple) and mode[0] == "value":
            # Cast the fill literal to the COLUMN's type: the dialect
            # parses FILL(0) as a float, which would otherwise coerce a
            # count column long→double (QuestDB keeps the aggregate's
            # own type; round 16).
            dtype = agg.schema[col].dataType.simpleString()
            cols.append(
                f"coalesce({c}, CAST({_sql_number(mode[1])} AS {dtype})) "
                f"AS {_q(col)}"
            )
        elif mode == "prev":
            cols.append(f"last({c}, true) {prev} AS {_q(col)}")
        elif mode == "linear":
            at = f"CASE WHEN {c} IS NOT NULL THEN {b} END"
            v0, v1 = f"last({c}, true) {prev}", f"first({c}, true) {nxt}"
            t0 = f"unix_micros(last({at}, true) {prev})"
            t1 = f"unix_micros(first({at}, true) {nxt})"
            frac = (
                f"(CAST(unix_micros({b}) - {t0} AS DOUBLE) "
                f"/ CAST({t1} - {t0} AS DOUBLE))"
            )
            cols.append(
                f"coalesce({c}, {v0} + ({v1} - {v0}) * {frac}) AS {_q(col)}"
            )
        else:  # pragma: no cover - guard against typos in callers
            raise ValueError(f"unknown fill mode {mode!r} for {col}")
    return dense.selectExpr(b, *ks, *cols)


def sample_by_fill(
    df: DataFrame,
    ts: str,
    bucket: str,
    aggs: list[Column],
    keys: list[str] | None = None,
    fill: dict[str, object] | None = None,
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """``SAMPLE BY bucket FILL(...)`` — aggregate then densify."""
    agg = sample_by(df, ts, bucket, aggs, keys, bucket_col)
    return fill_gaps(agg, bucket_col, bucket, keys, fill)


#: Precision of a QuestDB interval literal → timestamp format + step.
_INTERVAL_FORMS = (
    ("%Y-%m-%dT%H:%M:%S", 19, "second"),
    ("%Y-%m-%dT%H:%M", 16, "minute"),
    ("%Y-%m-%dT%H", 13, "hour"),
    ("%Y-%m-%d", 10, "day"),
    ("%Y-%m", 7, "month"),
    ("%Y", 4, "year"),
)


def interval_bounds(literal: str) -> tuple[str, str]:
    """[start, end) bounds of a QuestDB interval literal.

    QuestDB's interval search idiom ``WHERE ts IN '2024-01'`` (time-series
    surface per reference README.md:70-71) names a calendar span by its
    prefix: ``'2024'`` a year, ``'2024-01'`` a month, ``'2024-01-15'`` a
    day, ``'2024-01-15T10'`` an hour, ``'2024-01-15T10:30'`` a minute,
    ``'2024-01-15T10:30:00'`` a second (round 17 — seconds used to
    raise), and — round 18 — the SUB-SECOND ladder down to QuestDB's
    native microsecond resolution: each fractional digit narrows the
    span 10× (``'…00.1'`` = [.100000, .200000), ``'…00.123456'`` = one
    microsecond). Fractional bounds are formatted with ``.%f`` —
    ``TIMESTAMP '… .123000'`` literals are exact µs values in Spark and
    DuckDB alike, so the range predicate still pushes down to the scan;
    second-resolution literals keep the plain format (plan-stable).
    More than 6 fractional digits refuses: beyond µs is below the
    engine's (and QuestDB's) timestamp resolution.
    """
    import datetime

    frac_m = re.fullmatch(
        r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})\.(\d+)", literal
    )
    if frac_m:
        digits = frac_m.group(2)
        if len(digits) > 6:
            raise ValueError(
                f"sub-microsecond interval prefix {literal!r} — QuestDB "
                "timestamps are microsecond-resolution (max 6 "
                "fractional digits)"
            )
        base = datetime.datetime.strptime(
            frac_m.group(1), "%Y-%m-%dT%H:%M:%S"
        )
        start = base + datetime.timedelta(
            microseconds=int(digits.ljust(6, "0"))
        )
        end = start + datetime.timedelta(
            microseconds=10 ** (6 - len(digits))
        )
        iso_us = "%Y-%m-%d %H:%M:%S.%f"
        return start.strftime(iso_us), end.strftime(iso_us)
    for fmt, width, step in _INTERVAL_FORMS:
        if len(literal) == width:
            start = datetime.datetime.strptime(literal, fmt)
            if step == "year":
                end = start.replace(year=start.year + 1)
            elif step == "month":
                end = (start.replace(day=28) + datetime.timedelta(days=4)).replace(
                    day=1
                )
            else:
                end = start + datetime.timedelta(
                    **{step + "s": 1}
                )
            iso = "%Y-%m-%d %H:%M:%S"
            return start.strftime(iso), end.strftime(iso)
    raise ValueError(f"unrecognized interval literal: {literal!r}")


def _shift_months(dt, months: int):
    """Calendar month shift, day-of-month clamped to the target month."""
    import calendar

    y, m0 = divmod((dt.year * 12 + dt.month - 1) + months, 12)
    return dt.replace(
        year=y, month=m0 + 1,
        day=min(dt.day, calendar.monthrange(y, m0 + 1)[1]),
    )


_DURATION_RE_UNITS = {
    "s": "seconds", "m": "minutes", "h": "hours", "d": "days", "w": "weeks",
}


def _shift(dt, qty: int, unit: str):
    import datetime

    if unit in _DURATION_RE_UNITS:
        return dt + datetime.timedelta(**{_DURATION_RE_UNITS[unit]: qty})
    if unit == "M":
        return _shift_months(dt, qty)
    if unit == "y":
        return _shift_months(dt, 12 * qty)
    raise ValueError(f"unknown interval duration unit {unit!r}")


def interval_bounds_multi(literal: str) -> list[tuple[str, str]]:
    """All [start, end) spans of a QuestDB interval expression.

    QuestDB's full interval syntax (public interval-search docs) extends
    the plain prefix with modifiers separated by ``;``:

    - ``'<prefix>;<duration>'`` — the prefix's span with its END pushed
      out by the duration (``'2024-01-15T10;30m'`` = that hour plus 30
      minutes);
    - ``'<prefix>;<duration>;<period>;<count>'`` — that span repeated
      ``count`` times, each occurrence shifted by ``period``
      (``'2024-01-01;1d;1y;3'`` = Jan 1-2 of 2024, 2025, 2026).

    Durations/periods are ``<n><unit>`` with unit one of s/m/h/d/w/M/y
    (calendar-aware for M/y). Returns one (start, end) per occurrence,
    ISO-formatted like :func:`interval_bounds`.
    """
    import datetime
    import re as _re

    parts = literal.split(";")
    if len(parts) not in (1, 2, 4):
        raise ValueError(f"malformed interval expression: {literal!r}")
    s0, e0 = interval_bounds(parts[0])
    # Sub-second prefixes carry microsecond bounds (.%f); the output
    # keeps whichever resolution the prefix named, so second-resolution
    # spans stay byte-identical to their pre-round-18 strings
    # (plan-stable).
    iso = (
        "%Y-%m-%d %H:%M:%S.%f" if "." in s0 else "%Y-%m-%d %H:%M:%S"
    )
    start = datetime.datetime.strptime(s0, iso)
    end = datetime.datetime.strptime(e0, iso)

    def parse_dur(text: str) -> tuple[int, str]:
        m = _re.fullmatch(r"(\d+)([smhdwMy])", text.strip())
        if not m:
            raise ValueError(f"malformed interval duration: {text!r}")
        return int(m.group(1)), m.group(2)

    if len(parts) >= 2:
        qty, unit = parse_dur(parts[1])
        end = _shift(end, qty, unit)
    occurrences = [(start, end)]
    if len(parts) == 4:
        pqty, punit = parse_dur(parts[2])
        count = int(parts[3])
        if count < 1:
            raise ValueError(f"interval repeat count must be >= 1: {literal!r}")
        for k in range(1, count):
            occurrences.append(
                (_shift(start, k * pqty, punit), _shift(end, k * pqty, punit))
            )
    return [(s.strftime(iso), e.strftime(iso)) for s, e in occurrences]


def ts_in(ts: Column | str, literal: str) -> Column:
    """Predicate for ``ts IN '<interval>'`` — plain half-open range
    comparisons (OR-ed per occurrence for repeating intervals), so it
    pushes down to the parquet scan (PushedFilters) and prunes
    designated-ts partitions; no UDF, no expression barrier.
    (On the driver's TIMESTAMP(NANOS)-shimmed events table the filter
    evaluates post-conversion in the scan stage instead — plan-asserted
    both ways in tests/test_plans.py.)
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    pred = None
    for start, end in interval_bounds_multi(literal):
        one = (c >= F.lit(start).cast("timestamp")) & (
            c < F.lit(end).cast("timestamp")
        )
        pred = one if pred is None else (pred | one)
    return pred


def ohlc_aggs(
    price: str,
    ts: str,
    tiebreak: list[str] | None = None,
) -> list[Column]:
    """OHLC candle aggregates for :func:`sample_by` — QuestDB's
    ``first()``/``last()`` designated-ts aggregates as ordered
    ``min_by``/``max_by`` (one hash aggregate, partial+final; no window,
    no self-join).

    ``tiebreak`` columns extend the ordering key (struct ordering) so
    open/close stay deterministic when two rows share a timestamp —
    pass the table's unique id.
    """
    order: Column = (
        F.struct(F.col(ts), *[F.col(c) for c in tiebreak])
        if tiebreak
        else F.col(ts)
    )
    p = F.col(price)
    return [
        F.min_by(p, order).alias("open"),
        F.max(p).alias("high"),
        F.min(p).alias("low"),
        F.max_by(p, order).alias("close"),
        F.count(p).alias("n_trades"),
    ]
