"""QuestDB SQL dialect front-end: dialect strings run verbatim and lower
onto the library operators (sql/dialect.py)."""

from __future__ import annotations

import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from questdb_etl_jobs_spark.sql import QuestDBSQLError, questdb_sql


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture()
def trades(spark):
    rows = [
        (_ts(f"2024-01-0{d} {h:02d}:15:00"), s, float(10 * d + h), d * 100 + h)
        for d in (1, 2)
        for h in (0, 1, 3)
        for s in ("AAA", "BBB")
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, sym string, price double, qty long"
    )
    df.createOrReplaceTempView("trades")
    return df


def test_reference_readme_query_verbatim(spark, trades):
    """The reference README's own console query (README.md:366) runs as
    written (standard SQL → spark.sql passthrough)."""
    trades.createOrReplaceTempView("purchases")
    out = questdb_sql(
        spark, "SELECT * FROM purchases ORDER BY ts;", {"purchases": "ts"}
    )
    assert [r.ts for r in out.collect()] == sorted(r.ts for r in trades.collect())


def test_latest_on_partition_by(spark, trades):
    out = questdb_sql(
        spark,
        "SELECT * FROM trades LATEST ON ts PARTITION BY sym",
        {"trades": "ts"},
    )
    got = {r.sym: r.ts for r in out.collect()}
    assert got == {
        "AAA": _ts("2024-01-02 03:15:00"),
        "BBB": _ts("2024-01-02 03:15:00"),
    }


def test_sample_by_with_first_last(spark, trades):
    out = questdb_sql(
        spark,
        "SELECT ts, sym, first(price) open, last(price) close, "
        "sum(qty) volume FROM trades SAMPLE BY 1d",
        {"trades": "ts"},
    )
    rows = {(r.ts, r.sym): (r.open, r.close, r.volume) for r in out.collect()}
    # day 1, AAA: hours 0,1,3 -> first 10.0, last 13.0, qty 100+101+103
    assert rows[(_ts("2024-01-01 00:00:00"), "AAA")] == (10.0, 13.0, 304)
    assert rows[(_ts("2024-01-02 00:00:00"), "BBB")] == (20.0, 23.0, 604)


def test_sample_by_fill_null_densifies(spark, trades):
    out = questdb_sql(
        spark,
        "SELECT ts, sym, avg(price) p FROM trades "
        "WHERE ts IN '2024-01-01' SAMPLE BY 1h FILL(NULL)",
        {"trades": "ts"},
    )
    rows = out.collect()
    # hours 0..3 densified per sym: the empty hour 2 exists with NULL.
    by_key = {(r.ts.hour, r.sym): r.p for r in rows}
    assert by_key[(2, "AAA")] is None
    assert by_key[(0, "AAA")] == 10.0
    assert len(rows) == 8  # 4 hours x 2 syms


def test_sample_by_fill_per_column_list(spark, trades):
    """QuestDB's positional FILL list: one mode per aggregate column
    (here: constant 0 for the sum, PREV for the average)."""
    out = questdb_sql(
        spark,
        "SELECT ts, sym, sum(qty) volume, avg(price) p FROM trades "
        "WHERE ts IN '2024-01-01' SAMPLE BY 1h FILL(0, PREV)",
        {"trades": "ts"},
    )
    by_key = {(r.ts.hour, r.sym): (r.volume, r.p) for r in out.collect()}
    # Hour 2 is empty: sum fills with 0, avg carries hour 1's value.
    assert by_key[(2, "AAA")] == (0.0, by_key[(1, "AAA")][1])
    with pytest.raises(QuestDBSQLError, match="FILL list has"):
        questdb_sql(
            spark,
            "SELECT ts, sym, sum(qty) v FROM trades SAMPLE BY 1h "
            "FILL(0, PREV, NULL)",
            {"trades": "ts"},
        )


def test_interval_search_rewrite(spark, trades):
    out = questdb_sql(
        spark,
        "SELECT sym, qty FROM trades WHERE ts IN '2024-01-02' "
        "ORDER BY qty DESC LIMIT 2",
        {"trades": "ts"},
    )
    assert [r.qty for r in out.collect()] == [203, 203]


def test_asof_join_lowering(spark, trades):
    quotes = spark.createDataFrame(
        [
            (_ts("2024-01-01 00:00:00"), "AAA", 1.0),
            (_ts("2024-01-01 02:00:00"), "AAA", 2.0),
            (_ts("2024-01-01 00:30:00"), "BBB", 5.0),
        ],
        "qts timestamp, sym string, bid double",
    )
    quotes.createOrReplaceTempView("quotes")
    out = questdb_sql(
        spark,
        "SELECT * FROM trades ASOF JOIN quotes ON sym "
        "WHERE ts IN '2024-01-01'",
        {"trades": "ts", "quotes": "qts"},
    )
    got = {(r.sym, r.ts.hour): r.bid for r in out.collect()}
    assert got[("AAA", 0)] == 1.0   # 00:15 -> 00:00 quote
    assert got[("AAA", 1)] == 1.0   # 01:15 -> still 00:00
    assert got[("AAA", 3)] == 2.0   # 03:15 -> 02:00 quote
    assert got[("BBB", 0)] is None  # 00:15 precedes BBB's 00:30 quote


def test_negative_limit_is_tail(spark, trades):
    out = questdb_sql(
        spark,
        "SELECT ts, sym, qty FROM trades WHERE sym = 'AAA' LIMIT -2",
        {"trades": "ts"},
    )
    got = [r.qty for r in out.collect()]
    assert got == [201, 203]  # last two rows in ts order, ascending


def test_negative_limit_tail_routes_through_prune(spark, tmp_path):
    """The designated-ts tail's inner step plans via topk_by_threshold:
    on a parquet table the certified ts bound reaches PushedFilters, so
    'last N rows' skips row groups whose ts-max falls below it."""
    path = str(tmp_path / "tail_events")
    spark.range(0, 5_000).select(
        F.col("id"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=F.col("id").cast("double"))).alias("ts"),
    ).repartition(8).write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("tail_events")
    # k must stay <= the SCAN partition count (the reader packs the 8
    # small files into one split here), so the pushed-filter proof uses
    # LIMIT -1; larger tails on few splits correctly fall back.
    out = questdb_sql(
        spark, "SELECT * FROM tail_events LIMIT -1", {"tail_events": "ts"}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts" in plan, plan
    assert [r.id for r in out.collect()] == [4999]
    # Correctness of a deeper tail on the same table (fallback path).
    deep = questdb_sql(
        spark, "SELECT * FROM tail_events LIMIT -5", {"tail_events": "ts"}
    )
    assert [r.id for r in deep.collect()] == [4995, 4996, 4997, 4998, 4999]


def test_unsupported_fragment_raises(spark, trades):
    # Round 15: UNION ALL of dialect fragments COMPOSES now (each side
    # lowers recursively) — the formerly-rejected shape returns rows.
    out = questdb_sql(
        spark,
        "SELECT * FROM trades LATEST ON ts PARTITION BY sym "
        "UNION ALL SELECT * FROM trades",
        {"trades": "ts"},
    ).collect()
    assert len(out) == 2 + spark.table("trades").count()
    # The loud-fragment contract stands for genuinely unsupported
    # constructs: any unconsumed clause fails instead of running
    # half-interpreted.
    with pytest.raises(QuestDBSQLError, match="unsupported fragment"):
        questdb_sql(
            spark,
            "SELECT * FROM trades LATEST ON ts PARTITION BY sym "
            "QUALIFY price > 1",
            {"trades": "ts"},
        )


def test_sample_by_subsecond_strides(spark):
    """QuestDB T (millis) / U (micros) strides: epoch-aligned floors in
    pure integer-µs codegen; lowercase t/u rejected (QuestDB units are
    case-sensitive)."""
    import datetime as _dt

    rows = [
        (_dt.datetime(2024, 1, 1, 0, 0, 0, us), float(i))
        for i, us in enumerate(
            [0, 100_000, 249_999, 250_000, 740_000, 999_999]
        )
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    df.createOrReplaceTempView("ticks")
    out = questdb_sql(
        spark,
        "SELECT ts, count() n FROM ticks SAMPLE BY 250T",
        {"ticks": "ts"},
    )
    got = {r.ts.microsecond: r.n for r in out.collect()}
    assert got == {0: 3, 250_000: 1, 500_000: 1, 750_000: 1}
    one_ms = questdb_sql(
        spark,
        "SELECT ts, count() n FROM ticks SAMPLE BY 1T",
        {"ticks": "ts"},
    )
    assert one_ms.count() == 6  # every row its own millisecond bucket
    micro = questdb_sql(
        spark,
        "SELECT ts, count() n FROM ticks SAMPLE BY 500000U",
        {"ticks": "ts"},
    )
    assert {r.ts.microsecond: r.n for r in micro.collect()} == {
        0: 4, 500_000: 2,
    }
    with pytest.raises(QuestDBSQLError, match="case-sensitive"):
        questdb_sql(
            spark, "SELECT ts, count() n FROM ticks SAMPLE BY 250t",
            {"ticks": "ts"},
        )


def test_sample_by_needs_designated_ts(spark, trades):
    with pytest.raises(QuestDBSQLError, match="designated"):
        questdb_sql(spark, "SELECT ts, sum(qty) q FROM trades SAMPLE BY 1h")


def test_sample_by_calendar_time_zone(spark, trades):
    """Daily buckets in America/New_York: 2024-01-01 00:15 UTC is still
    2023-12-31 wall-clock in NY (UTC-5), so it buckets with the previous
    NY day — boundaries shift relative to UTC daily buckets."""
    out = questdb_sql(
        spark,
        "SELECT ts, count(*) n FROM trades "
        "SAMPLE BY 1d ALIGN TO CALENDAR TIME ZONE 'America/New_York'",
        {"trades": "ts"},
    )
    got = {r.ts: r.n for r in out.collect()}
    # NY day starts at 05:00 UTC: hours 00,01,03 of each UTC day fall in
    # the PREVIOUS NY day. 2 syms x 3 hours = 6 rows per UTC day.
    assert got == {
        _ts("2023-12-31 05:00:00"): 6,  # Jan 1 00/01/03 UTC
        _ts("2024-01-01 05:00:00"): 6,  # Jan 2 00/01/03 UTC
    }


def test_sample_by_unit_is_case_sensitive(spark, trades):
    """QuestDB units are case-sensitive: 1m = minute, 1M = month, 1H is
    not a unit (round-6 verdict: this crashed with a raw KeyError)."""
    with pytest.raises(QuestDBSQLError, match="case-sensitive"):
        questdb_sql(
            spark, "SELECT ts, sum(qty) q FROM trades SAMPLE BY 1H",
            {"trades": "ts"},
        )
    by_minute = questdb_sql(
        spark, "SELECT ts, sum(qty) q FROM trades SAMPLE BY 30m",
        {"trades": "ts"},
    )
    by_month = questdb_sql(
        spark, "SELECT ts, sum(qty) q FROM trades SAMPLE BY 1M",
        {"trades": "ts"},
    )
    assert by_minute.count() == 6  # one :00 bucket per (day, hour)
    assert by_month.count() == 1   # all of 2024-01


def test_latest_on_where_split(spark, trades):
    """Value filters apply AFTER latest-row resolution (QuestDB order):
    the latest AAA row has price 23.0, so `price < 22` must yield no AAA
    row — not AAA's latest-among-price<22 row. Key/ts filters still
    apply before."""
    out = questdb_sql(
        spark,
        "SELECT * FROM trades WHERE price < 22 AND sym = 'AAA' "
        "LATEST ON ts PARTITION BY sym",
        {"trades": "ts"},
    )
    assert out.collect() == []
    # ts filter pre-applies: latest AAA within Jan 1 is hour 3 (price 13).
    out2 = questdb_sql(
        spark,
        "SELECT * FROM trades WHERE ts IN '2024-01-01' AND sym = 'AAA' "
        "LATEST ON ts PARTITION BY sym",
        {"trades": "ts"},
    )
    rows = out2.collect()
    assert len(rows) == 1 and rows[0].price == 13.0
    # A backticked column (a reserved word) is still a column reference;
    # a column name inside a string literal is not.
    from questdb_etl_jobs_spark.sql.dialect import _split_latest_where

    assert _split_latest_where(
        "`desc` > 1 AND sym = 'price' AND ts > 0",
        {"desc", "sym", "ts", "price"},
        {"sym", "ts"},
    ) == ("(sym = 'price') AND (ts > 0)", "(`desc` > 1)")


# ---------------------------------------------------------------------------
# Top-k route: ORDER BY <col> DESC LIMIT n plans via the threshold prune
# ---------------------------------------------------------------------------

def test_topk_route_plan_and_equivalence(spark):
    """Round-12 task #1 (VERDICT r11): a scan-bound ``ORDER BY col DESC
    LIMIT k`` — dq34's exact SQL shape — must plan via
    topk_by_threshold, not the plain 2.40×-asymptote heap. The physical
    plan carries the certified threshold as a PUSHED parquet filter
    (which also proves the call-time threshold pass ran: the literal
    only exists after its bounded collect), and the answer is
    bit-identical to the plain lowering."""
    from questdb_etl_jobs_spark.sources.tables import load_table

    from conftest import SF_SMALL

    import re as _re

    lineitem = load_table(spark, SF_SMALL, "lineitem")
    # sf0.001's scan is ONE partition, so certification needs k <= 1
    # there; the pushed-filter proof uses LIMIT 1 on the raw parquet
    # view, the k=10 equivalence uses a 16-partition view (the filter
    # then sits above the exchange instead of inside PushedFilters).
    lineitem.createOrReplaceTempView("lineitem_v")
    one = questdb_sql(
        spark,
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem_v "
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1",
    )
    plan1 = one._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(l_extendedprice" in plan1, plan1
    assert "TakeOrderedAndProject" in plan1  # still the bounded-heap top-k

    lineitem.repartition(16).createOrReplaceTempView("lineitem_v16")
    out = questdb_sql(
        spark,
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem_v16 "
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"l_extendedprice#\d+ >= ", plan), plan
    plain = (
        lineitem.orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"),
            F.asc("l_linenumber"),
        )
        .limit(10)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in plain.collect()
    ]


def test_topk_route_applies_where_and_renames(spark, trades):
    """The route composes with the dialect's WHERE (interval sugar
    included) and plain-column renames; result order is the total
    (value DESC, tiebreak ASC) order."""
    out = questdb_sql(
        spark,
        "SELECT sym, qty AS quantity, price FROM trades "
        "WHERE ts IN '2024-01-02' ORDER BY price DESC, sym LIMIT 3",
        {"trades": "ts"},
    )
    rows = [(r.sym, r.quantity, r.price) for r in out.collect()]
    assert rows == [("AAA", 203, 23.0), ("BBB", 203, 23.0),
                    ("AAA", 201, 21.0)]


def test_topk_route_rejects_invalid_query_before_any_job(spark, trades):
    """The eager-pass contract: full query validation precedes lowering,
    so a rejected query never triggers the threshold job. The
    unsupported fragment raises even though the table name does not
    resolve — proof no table was touched before validation. (This test
    used EXCEPT as its unsupported construct until round 16 made
    EXCEPT a supported set-operation connector.)"""
    with pytest.raises(QuestDBSQLError, match="unsupported fragment"):
        questdb_sql(
            spark,
            "SELECT * FROM no_such_table LATEST ON ts PARTITION BY sym "
            "QUALIFY price > 1 ORDER BY qty DESC LIMIT 5",
            {"no_such_table": "ts"},
        )


def test_topk_shape_gate_leaves_standard_sql_untouched(spark, trades):
    """Conservative gate: shapes the dialect cannot lower — DISTINCT,
    aggregation between FROM and ORDER BY, subqueries in WHERE,
    window functions — stay on the spark.sql passthrough and still run
    correctly."""
    q1 = questdb_sql(
        spark,
        "SELECT DISTINCT sym FROM trades ORDER BY sym DESC LIMIT 2",
    )
    assert [r.sym for r in q1.collect()] == ["BBB", "AAA"]
    q2 = questdb_sql(
        spark,
        "SELECT sym, max(price) AS p FROM trades GROUP BY sym "
        "ORDER BY p DESC LIMIT 1",
    )
    assert [tuple(r) for r in q2.collect()] == [("BBB", 23.0)]
    q3 = questdb_sql(
        spark,
        "SELECT sym, price FROM trades WHERE price > "
        "(SELECT avg(price) FROM trades) ORDER BY price DESC LIMIT 2",
    )
    assert [r.price for r in q3.collect()] == [23.0, 23.0]
    # Sorting by a NON-projected column is legal SQL that the dialect's
    # project-then-sort lowering cannot express — must stay passthrough.
    q4 = questdb_sql(
        spark,
        "SELECT sym FROM trades WHERE sym = 'AAA' "
        "ORDER BY price DESC LIMIT 1",
    )
    assert [r.sym for r in q4.collect()] == ["AAA"]


def test_topk_route_ascending_bottom_k(spark, trades):
    """Round-12 wave 2: the ASC face routes through the symmetric
    partition-MIN prune (bottom-k) — explicit ASC and bare (default
    ASC) both; results identical to the plain lowering."""
    for order_spec in ("price ASC", "price"):
        out = questdb_sql(
            spark,
            f"SELECT sym, price FROM trades ORDER BY {order_spec}, "
            "sym LIMIT 3",
        )
        assert [(r.sym, r.price) for r in out.collect()] == [
            ("AAA", 10.0), ("BBB", 10.0), ("AAA", 11.0),
        ]


# ---------------------------------------------------------------------------
# QuestDB time scalar-function spellings (round-12 wave 3)
# ---------------------------------------------------------------------------

def test_limit_range_slice_routes_through_prune(spark, trades):
    """LIMIT lo, hi over a routable ORDER BY: the top-hi superset is
    certified once, then sliced ordered — identical rows to the plain
    lowering for DESC and ASC heads alike."""
    for direction, expected in (
        ("DESC", [21.0, 21.0, 20.0]),
        ("ASC", [11.0, 11.0, 13.0]),
    ):
        out = questdb_sql(
            spark,
            f"SELECT ts, sym, price FROM trades ORDER BY price "
            f"{direction}, sym, ts LIMIT 2, 5",
            {"trades": "ts"},
        )
        assert [r.price for r in out.collect()] == expected, direction


def test_questdb_scalar_rewrite_properties():
    """Property sweep for the scalar rewriter: idempotence (a rewritten
    query contains no QuestDB spellings left to rewrite), balanced
    parens preserved, and quoted literals byte-identical."""
    import re as _re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from questdb_etl_jobs_spark.sql.dialect import rewrite_questdb_scalars

    units = st.sampled_from(list("smhdwMy"))
    cols = st.sampled_from(["ts", "a", "b_2"])

    def call(draw_unit, inner):
        return st.one_of(
            st.tuples(units, inner).map(
                lambda t: f"dateadd('{t[0]}', 3, {t[1]})"
            ),
            st.tuples(units, inner, inner).map(
                lambda t: f"datediff('{t[0]}', {t[1]}, {t[2]})"
            ),
            st.tuples(
                st.sampled_from(
                    ["15m", "1h", "2d", "M", "w", "2w", "250T", "U", "3M"]
                ),
                inner,
            ).map(lambda t: f"timestamp_floor('{t[0]}', {t[1]})"),
            st.tuples(
                st.sampled_from(["30s", "1h", "y", "w", "500U", "2y"]), inner
            ).map(lambda t: f"timestamp_ceil('{t[0]}', {t[1]})"),
            inner.map(lambda c: f"to_timezone({c}, 'Europe/Berlin')"),
            inner.map(lambda c: f"to_str({c}, 'yyyy-MM-dd HH:mm')"),
        )

    exprs = st.recursive(cols, lambda inner: call(units, inner), max_leaves=6)

    @settings(max_examples=150, deadline=None)
    @given(
        exprs,
        st.sampled_from(
            ["", " WHERE s = 'dateadd(''h'', 1, x)'", " WHERE q = 'M'"]
        ),
    )
    def check(expr, literal_tail):
        text = f"SELECT {expr} FROM t{literal_tail}"
        out = rewrite_questdb_scalars(text)
        # Idempotent: nothing QuestDB-shaped survives outside literals.
        assert rewrite_questdb_scalars(out) == out
        stripped = _re.sub(r"'[^']*'", "''", out)
        assert "dateadd(" not in stripped.replace("timestampadd(", "")
        assert "timestamp_floor" not in stripped
        assert "timestamp_ceil" not in stripped
        assert "to_timezone" not in stripped
        assert "to_str" not in stripped
        assert stripped.count("(") == stripped.count(")")
        # Quoted literals come through byte-identical.
        if literal_tail:
            assert out.endswith(literal_tail)

    check()


def test_questdb_scalar_rewrites_pure():
    from questdb_etl_jobs_spark.sql.dialect import rewrite_questdb_scalars

    assert rewrite_questdb_scalars(
        "SELECT dateadd('h', 2, ts) FROM t"
    ) == "SELECT timestampadd(HOUR, 2, ts) FROM t"
    assert rewrite_questdb_scalars(
        "SELECT datediff('d', a, b) FROM t"
    ) == "SELECT abs(timestampdiff(DAY, a, b)) FROM t"
    # Nested calls rewrite inside-out.
    assert rewrite_questdb_scalars(
        "dateadd('d', 1, timestamp_floor('h', ts))"
    ) == (
        "timestampadd(DAY, 1, timestamp_micros(unix_micros(ts) - "
        "pmod(unix_micros(ts), 3600000000)))"
    )
    # Spark's own 2-arg datediff is NOT the QuestDB shape: untouched.
    assert rewrite_questdb_scalars(
        "SELECT datediff(a, b) FROM t"
    ) == "SELECT datediff(a, b) FROM t"
    # String literals are never rewritten.
    assert rewrite_questdb_scalars(
        "SELECT \"x\" FROM t WHERE s = 'dateadd(''h'', 1, ts)'"
    ) == "SELECT \"x\" FROM t WHERE s = 'dateadd(''h'', 1, ts)'"
    assert rewrite_questdb_scalars(
        "to_timezone(ts, 'Europe/Berlin')"
    ) == "from_utc_timestamp(ts, 'Europe/Berlin')"
    assert rewrite_questdb_scalars(
        "to_utc(ts, 'Europe/Berlin')"
    ) == "to_utc_timestamp(ts, 'Europe/Berlin')"


def test_questdb_scalar_week_strides_monday_aligned(spark):
    """Round-12 ADVICE (medium): 'w' strides must be MONDAY-aligned like
    QuestDB's floorWW and date_trunc('week') — the epoch was a Thursday,
    so a plain epoch pmod would bucket on Thursdays. Value-checked:
    floor('w', ts) == date_trunc('week', ts) for every row, ceil lands on
    Mondays, and the 2-week stride stays Monday-anchored."""
    from questdb_etl_jobs_spark.sql.dialect import rewrite_questdb_scalars

    rows = spark.sql(
        rewrite_questdb_scalars(
            "SELECT ts, timestamp_floor('w', ts) AS fw, "
            "timestamp_ceil('w', ts) AS cw, "
            "timestamp_floor('2w', ts) AS f2w, "
            "date_trunc('week', ts) AS trunc_w "
            "FROM VALUES "
            "(TIMESTAMP '2024-01-01 00:00:00'), "  # a Monday, boundary
            "(TIMESTAMP '2024-01-04 13:30:00'), "  # Thursday
            "(TIMESTAMP '2024-01-07 23:59:59'), "  # Sunday
            "(TIMESTAMP '1970-01-01 12:00:00') "   # epoch Thursday
            "AS t(ts)"
        )
    ).collect()
    for r in rows:
        assert r.fw == r.trunc_w, r  # Monday alignment, bit-for-bit
        assert r.fw.weekday() == 0 and r.cw.weekday() == 0
        assert r.f2w.weekday() == 0
        assert r.fw <= r.ts <= r.cw
    # Exact Monday boundary: floor == ts == ceil.
    mon = rows[0]
    assert mon.fw == mon.ts == mon.cw
    # Epoch Thursday floors to Monday 1969-12-29, NOT Thursday 1970-01-01.
    assert str(rows[3].fw).startswith("1969-12-29")


def test_questdb_scalar_subsecond_and_multimonth_strides(spark):
    """Round-12 ADVICE (low): T (milli) and U (micro) strides, and n>1
    month/year strides, are valid QuestDB and must rewrite; unrecognized
    stride spellings pass through untouched instead of raising."""
    from questdb_etl_jobs_spark.sql.dialect import rewrite_questdb_scalars

    row = spark.sql(
        rewrite_questdb_scalars(
            "SELECT timestamp_floor('250T', ts) AS f250t, "
            "timestamp_ceil('500U', ts) AS c500u, "
            "timestamp_floor('3M', ts) AS f3m, "
            "timestamp_ceil('3M', ts) AS c3m, "
            "timestamp_floor('2y', ts) AS f2y "
            "FROM VALUES (TIMESTAMP '2024-05-17 01:02:03.456789') AS t(ts)"
        )
    ).collect()[0]
    assert row.f250t.microsecond == 250_000  # .456789 floors to .250 ms grid
    assert row.c500u.microsecond == 457_000  # .456789 ceils to .4570 ms
    # 3-month buckets anchor at the epoch month grid: May → Apr 1.
    assert (row.f3m.month, row.f3m.day) == (4, 1)
    assert (row.c3m.month, row.c3m.day) == (7, 1)
    # 2-year buckets from 1970: 2024 is on the grid.
    assert (row.f2y.year, row.f2y.month, row.f2y.day) == (2024, 1, 1)
    # Month-boundary ceil stays put under a multi-month stride.
    b = spark.sql(
        rewrite_questdb_scalars(
            "SELECT timestamp_ceil('3M', ts) AS c FROM VALUES "
            "(TIMESTAMP '2024-04-01 00:00:00') AS t(ts)"
        )
    ).collect()[0]
    assert (b.c.year, b.c.month, b.c.day) == (2024, 4, 1)
    # Unrecognized stride: passes through (no eager raise).
    weird = "SELECT timestamp_floor('5x', ts) FROM t"
    assert rewrite_questdb_scalars(weird) == weird
    # Wrong arity: also a pass-through, not a raise.
    three = "SELECT timestamp_floor('1h', ts, 0) FROM t"
    assert rewrite_questdb_scalars(three) == three


def test_split_items_quote_aware():
    """Round-12 ADVICE (low): a quoted argument containing a top-level
    comma must stay ONE item — both in the generic splitter and through
    the scalar rewriter end-to-end."""
    from questdb_etl_jobs_spark.sql.dialect import (
        _split_items,
        rewrite_questdb_scalars,
    )

    assert _split_items("ts, 'a,b', f(x, y)") == ["ts", "'a,b'", "f(x, y)"]
    assert rewrite_questdb_scalars("to_utc(ts, 'a,b')") == (
        "to_utc_timestamp(ts, 'a,b')"
    )


def test_questdb_time_scalars_execute(spark, trades):
    """The rewrites run end-to-end through questdb_sql — passthrough
    and dialect paths alike — with QuestDB semantics: stride floor/ceil
    on the µs grid (exact boundaries stay put under ceil), dateadd
    shifting, datediff counting absolute full periods."""
    out = questdb_sql(
        spark,
        "SELECT ts, timestamp_floor('15m', ts) AS f15, "
        "timestamp_ceil('1h', ts) AS ch, "
        "dateadd('h', 2, ts) AS plus2h, "
        "datediff('d', ts, dateadd('d', 3, ts)) AS d3 "
        "FROM trades WHERE sym = 'AAA' AND ts IN '2024-01-01'",
        {"trades": "ts"},
    )
    rows = out.orderBy("ts").collect()
    assert all(r.f15.minute == 15 and r.f15.second == 0 for r in rows)
    # 00:15 → ceil 1h → 01:00; an exact boundary would stay put.
    assert rows[0].ts.minute == 15 and rows[0].ch.hour == rows[0].ts.hour + 1
    assert all(r.plus2h.hour == r.ts.hour + 2 for r in rows)
    assert all(r.d3 == 3 for r in rows)
    # Exact-boundary ceil stays put (midnight on the hour grid).
    one = questdb_sql(
        spark,
        "SELECT timestamp_ceil('1h', timestamp_floor('1h', ts)) AS c, "
        "timestamp_floor('1h', ts) AS f FROM trades LIMIT 1",
    ).collect()[0]
    assert one.c == one.f
    # Month faces: floor truncates, ceil moves to the next month start.
    m = questdb_sql(
        spark,
        "SELECT timestamp_floor('M', ts) AS fm, "
        "timestamp_ceil('M', ts) AS cm FROM trades "
        "WHERE ts IN '2024-01-02' LIMIT 1",
        {"trades": "ts"},
    ).collect()[0]
    assert (m.fm.month, m.fm.day) == (1, 1)
    assert (m.cm.month, m.cm.day) == (2, 1)


def test_sample_by_recomputes_never_serves_view(spark, tmp_path):
    """Round-13 DECISION (VERDICT task #5): the dialect's SAMPLE BY
    always recomputes from the registered base table — even when a
    maintained matview for the same (table, stride, agg) shape exists
    on disk, the plan scans the BASE table's files, never the view
    store (a stale view serve would be a wrong answer, and QuestDB's
    own materialized views are explicitly-named tables). Values match
    the view's finalized answer on fresh data; after NEW rows land in
    the base table, the dialect answer moves and the unrefreshed view
    provably would not have."""
    from questdb_etl_jobs_spark.operators.matview import (
        read_sample_by_view,
        refresh_sample_by_view,
    )
    from questdb_etl_jobs_spark.plans.inspect import plan_string

    src = str(tmp_path / "rawtbl")
    view_path = str(tmp_path / "mview")
    rows = [
        (_ts(f"2024-01-01 {h:02d}:{m:02d}:00"), float(h * 10 + m))
        for h in (0, 1, 2)
        for m in (5, 25)
    ]
    spark.createDataFrame(rows, "ts timestamp, value double").write.parquet(
        src
    )
    base = spark.read.parquet(src)
    base.createOrReplaceTempView("metrics")
    refresh_sample_by_view(
        spark, base, view_path, ts="ts", bucket="hour", value="value",
        keys=[],
    )

    q = (
        "SELECT ts, avg(value) AS avg FROM metrics SAMPLE BY 1h "
        "ALIGN TO CALENDAR"
    )
    out = questdb_sql(spark, q, {"metrics": "ts"})
    plan = plan_string(out)
    locations = re.findall(r"Location: [^\n\[]*\[([^\]]*)\]", plan)
    assert locations and all("rawtbl" in loc for loc in locations), plan
    assert not any("mview" in loc for loc in locations), plan
    dialect_rows = {
        r.ts: round(r.avg, 6) for r in out.collect()
    }
    view_rows = {
        r.bucket_ts: round(r.avg, 6)
        for r in read_sample_by_view(spark, view_path).collect()
    }
    assert dialect_rows == view_rows  # fresh view agrees, as it should

    # New data lands in the base table; the view is NOT refreshed. The
    # dialect answer must move with the table.
    spark.createDataFrame(
        [(_ts("2024-01-01 00:45:00"), 99.0)], "ts timestamp, value double"
    ).write.mode("append").parquet(src)
    spark.read.parquet(src).createOrReplaceTempView("metrics")
    fresh = {
        r.ts: round(r.avg, 6)
        for r in questdb_sql(spark, q, {"metrics": "ts"}).collect()
    }
    h0 = _ts("2024-01-01 00:00:00")
    assert fresh[h0] != dialect_rows[h0]
    stale_view = {
        r.bucket_ts: round(r.avg, 6)
        for r in read_sample_by_view(spark, view_path).collect()
    }
    assert stale_view[h0] == dialect_rows[h0]  # the serve a reroute
    # would have returned — demonstrably stale.


def test_leftover_uses_spans_not_text(spark, trades):
    """A WHERE string literal that textually repeats a later clause must
    not confuse the unsupported-fragment accounting (round-6 advisor:
    str.replace consumed the first occurrence, not the matched span)."""
    out = questdb_sql(
        spark,
        "SELECT sym, qty FROM trades WHERE sym <> 'LIMIT 2' LIMIT 2",
        {"trades": "ts"},
    )
    assert out.count() == 2


def test_designated_ts_inferred_from_layout(spark, tmp_path):
    """The two halves of the QuestDB convention meet: a table written by
    write_designated_ts and registered carries its designated ts in the
    layout (ts_pdate partition column), so dialect queries need no
    `designated` argument — and interval searches prune partitions."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
        write_designated_ts,
    )
    from questdb_etl_jobs_spark.plans.inspect import plan_string

    rows = [
        (_ts(f"2024-01-0{d} {h:02d}:15:00"), s, float(10 * d + h))
        for d in (1, 2)
        for h in (0, 1)
        for s in ("AAA", "BBB")
    ]
    df = spark.createDataFrame(rows, "ts timestamp, sym string, price double")
    path = str(tmp_path / "trades_saved")
    write_designated_ts(df, path, "ts")
    register_designated_table(spark, "trades_saved", path)

    out = questdb_sql(
        spark,
        "SELECT ts, sym, avg(price) p FROM trades_saved SAMPLE BY 1h",
    )
    got = {(r.ts, r.sym): r.p for r in out.collect()}
    assert got[(_ts("2024-01-01 00:00:00"), "AAA")] == 10.0
    assert len(got) == 8

    pruned = questdb_sql(
        spark,
        "SELECT sym, price FROM trades_saved WHERE ts IN '2024-01-02'",
    )
    assert pruned.count() == 4
    assert "ts_pdate" in plan_string(pruned)  # partition filter in plan

    # ASOF JOIN resolves the right side's designated ts the same way.
    quotes = spark.createDataFrame(
        [(_ts("2024-01-01 00:00:00"), "AAA", 1.0)],
        "qts timestamp, sym string, bid double",
    )
    qpath = str(tmp_path / "quotes_saved")
    write_designated_ts(quotes, qpath, "qts")
    register_designated_table(spark, "quotes_saved", qpath)
    joined = questdb_sql(
        spark,
        "SELECT * FROM trades_saved ASOF JOIN quotes_saved ON sym",
    )
    by_key = {(r.sym, r.ts): r.bid for r in joined.collect()}
    assert by_key[("AAA", _ts("2024-01-01 00:15:00"))] == 1.0
    assert by_key[("BBB", _ts("2024-01-01 00:15:00"))] is None


def test_splice_join_lowering(spark, trades):
    """SELECT * FROM a SPLICE JOIN b: one row per input row of BOTH
    tables in QuestDB's column shape (left cols, clash-suffixed right
    cols, no side marker)."""
    quotes = spark.createDataFrame(
        [
            (_ts("2024-01-01 00:00:00"), "AAA", 1.0),
            (_ts("2024-01-01 02:00:00"), "AAA", 2.0),
        ],
        "qts timestamp, sym string, bid double",
    )
    quotes.createOrReplaceTempView("quotes")
    out = questdb_sql(
        spark,
        "SELECT * FROM trades SPLICE JOIN quotes ON sym",
        {"trades": "ts", "quotes": "qts"},
    )
    assert "side" not in out.columns
    assert "ts_right" in out.columns and "bid" in out.columns
    rows = out.collect()
    # 12 trade rows + 2 quote rows, nothing dropped.
    assert len(rows) == 14
    # A quote-side row carries the latest trade at-or-before it.
    qrow = next(
        r for r in rows
        if r.ts_right == _ts("2024-01-01 02:00:00") and r.bid == 2.0
        and r.price is not None and r.ts <= r.ts_right
    )
    assert qrow.ts == _ts("2024-01-01 01:15:00")

    with pytest.raises(QuestDBSQLError, match="SELECT \\* only"):
        questdb_sql(
            spark,
            "SELECT sym FROM trades SPLICE JOIN quotes ON sym",
            {"trades": "ts", "quotes": "qts"},
        )


def test_lt_join_is_strict(spark, trades):
    quotes = spark.createDataFrame(
        [(_ts("2024-01-01 00:15:00"), "AAA", 9.0)],
        "qts timestamp, sym string, bid double",
    )
    quotes.createOrReplaceTempView("quotes")
    out = questdb_sql(
        spark,
        "SELECT * FROM trades LT JOIN quotes ON sym "
        "WHERE ts IN '2024-01-01T00'",
        {"trades": "ts", "quotes": "qts"},
    )
    got = {(r.sym, r.ts): r.bid for r in out.collect()}
    # AAA trade at exactly 00:15 must NOT see the equal-ts quote (strict <).
    assert got[("AAA", _ts("2024-01-01 00:15:00"))] is None


def test_sample_by_from_to_anchored_prefill(spark, trades):
    """FROM-TO: rows bound to [from, to), buckets anchored at the
    half-past FROM (not the calendar grid), and FILL prefills the whole
    range — empty edge buckets included."""
    out = questdb_sql(
        spark,
        "SELECT ts, sym, avg(price) p FROM trades SAMPLE BY 1h "
        "FROM '2024-01-01T00:30:00' TO '2024-01-01T05:30:00' FILL(NULL)",
        {"trades": "ts"},
    )
    rows = out.collect()
    # 5 one-hour buckets x 2 syms, all half-past-anchored.
    assert len(rows) == 10
    assert {r.ts.minute for r in rows} == {30}
    by_key = {(r.ts.hour, r.sym): r.p for r in rows}
    # 00:15 is BEFORE the FROM bound: excluded, so bucket 00:30 holds
    # only the 01:15 row; 03:15 lands in [02:30, 03:30).
    assert by_key[(0, "AAA")] == 11.0
    assert by_key[(2, "AAA")] == 13.0
    # Trailing empty buckets exist with NULL (the prefill contract).
    assert by_key[(3, "AAA")] is None and by_key[(4, "AAA")] is None


def test_sample_by_from_to_sparse_without_fill(spark, trades):
    """Without FILL, FROM-TO filters + anchors but emits only non-empty
    buckets."""
    out = questdb_sql(
        spark,
        "SELECT ts, sym, count(*) n FROM trades SAMPLE BY 1h "
        "FROM '2024-01-01T00:30:00' TO '2024-01-01T05:30:00'",
        {"trades": "ts"},
    )
    rows = out.collect()
    assert len(rows) == 4  # buckets 00:30 and 02:30 x 2 syms
    assert all(r.n == 1 for r in rows)


def test_sample_by_from_to_rejects_calendar_units_and_tz(spark, trades):
    with pytest.raises(QuestDBSQLError, match="fixed-width"):
        questdb_sql(
            spark,
            "SELECT ts, count(*) n FROM trades SAMPLE BY 1M "
            "FROM '2024-01-01' TO '2024-03-01' FILL(0)",
            {"trades": "ts"},
        )
    with pytest.raises(QuestDBSQLError, match="CALENDAR only"):
        questdb_sql(
            spark,
            "SELECT ts, count(*) n FROM trades SAMPLE BY 1h "
            "FROM '2024-01-01' TO '2024-01-02' "
            "ALIGN TO FIRST OBSERVATION",
            {"trades": "ts"},
        )


def test_long_sequence_generator(spark):
    """QuestDB's demo-data generator: long_sequence(n) is a table with
    x = 1..n, timestamp_sequence a per-row series off the generation
    index; WHERE/aggregates compose over the generated table."""
    out = questdb_sql(
        spark,
        "SELECT x, timestamp_sequence('2024-01-01T00:00:00', 1000000) ts "
        "FROM long_sequence(10) WHERE x > 7",
        {},
    )
    rows = sorted((r.x, r.ts) for r in out.collect())
    assert [x for x, _ in rows] == [8, 9, 10]
    # x=8's timestamp is start + 7 steps of 1s.
    assert rows[0][1] == _ts("2024-01-01 00:00:07")
    # Distributed generator, not a driver loop: the plan reads Range.
    n = questdb_sql(
        spark, "SELECT count(*) n FROM long_sequence(100000)", {}
    ).first().n
    assert n == 100000


def test_interval_expression_duration_and_repeat():
    """'<prefix>;<duration>;<period>;<count>' expands to count spans,
    calendar-aware across month/year boundaries."""
    from questdb_etl_jobs_spark.operators.sample_by import (
        interval_bounds_multi,
    )

    # Duration extends the END of the prefix span.
    assert interval_bounds_multi("2024-01-15T10;30m") == [
        ("2024-01-15 10:00:00", "2024-01-15 11:30:00")
    ]
    # Repeats shift both bounds; month arithmetic clamps day-of-month.
    spans = interval_bounds_multi("2024-01-31;1d;1M;3")
    assert spans == [
        ("2024-01-31 00:00:00", "2024-02-02 00:00:00"),
        ("2024-02-29 00:00:00", "2024-03-02 00:00:00"),
        ("2024-03-31 00:00:00", "2024-04-02 00:00:00"),
    ]
    with pytest.raises(ValueError, match="malformed"):
        interval_bounds_multi("2024-01-01;xx")
    with pytest.raises(ValueError, match="malformed"):
        interval_bounds_multi("2024-01-01;1d;1w")


def test_interval_repeat_in_where(spark, trades):
    """A repeating interval filters to the union of its occurrences."""
    out = questdb_sql(
        spark,
        "SELECT count(*) n FROM trades WHERE ts IN '2024-01-01T00;1h;1d;2'",
        {"trades": "ts"},
    )
    # Hours 00-01 (inclusive prefix hour + 1h) on both days x 2 syms.
    assert out.first().n == 8


def test_group_by_explicit_and_implicit(spark, trades):
    """QuestDB aggregation both ways: explicit GROUP BY, and the
    QuestDB-specific implicit form where bare select columns imply the
    grouping; bare count() is count(*)."""
    for sql in (
        "SELECT sym, count() n, sum(qty) v FROM trades GROUP BY sym",
        "SELECT sym, count() n, sum(qty) v FROM trades",
    ):
        out = {r.sym: (r.n, r.v) for r in
               questdb_sql(spark, sql, {"trades": "ts"}).collect()}
        assert out["AAA"][0] == 6 and out["BBB"][0] == 6
        assert out["AAA"][1] == sum(d * 100 + h for d in (1, 2) for h in (0, 1, 3))
    with pytest.raises(QuestDBSQLError, match="do not match"):
        questdb_sql(
            spark,
            "SELECT sym, count() n FROM trades GROUP BY qty",
            {"trades": "ts"},
        )
    with pytest.raises(QuestDBSQLError, match="cannot combine"):
        questdb_sql(
            spark,
            "SELECT ts, sym, count() n FROM trades GROUP BY sym SAMPLE BY 1h",
            {"trades": "ts"},
        )


def test_sample_by_with_offset(spark, trades):
    """ALIGN TO CALENDAR WITH OFFSET '00:30': hourly buckets rolling at
    half past, negative offsets accepted, non-calendar combos rejected."""
    out = questdb_sql(
        spark,
        "SELECT ts, sym, count(*) n FROM trades WHERE ts IN '2024-01-01' "
        "SAMPLE BY 1h ALIGN TO CALENDAR WITH OFFSET '00:30'",
        {"trades": "ts"},
    )
    rows = out.collect()
    assert {r.ts.minute for r in rows} == {30}
    by_key = {(r.ts.hour, r.sym): r.n for r in rows}
    # Rows at :15 fall in the PREVIOUS half-past bucket: 00:15 -> 23:30
    # of Dec 31, 01:15 -> 00:30, 03:15 -> 02:30.
    assert by_key[(0, "AAA")] == 1 and by_key[(2, "AAA")] == 1
    assert (23, "AAA") in by_key
    with pytest.raises(QuestDBSQLError, match="CALENDAR only"):
        questdb_sql(
            spark,
            "SELECT ts, count(*) n FROM trades SAMPLE BY 1h "
            "ALIGN TO CALENDAR TIME ZONE 'Europe/Berlin' WITH OFFSET '00:30'",
            {"trades": "ts"},
        )


def test_limit_range_slice(spark, trades):
    """QuestDB LIMIT lo, hi: rows lo+1..hi of the result order."""
    out = questdb_sql(
        spark,
        "SELECT ts, sym, price FROM trades ORDER BY price LIMIT 2, 5",
        {"trades": "ts"},
    )
    prices = [r.price for r in out.collect()]
    all_prices = sorted(
        r.price for r in spark.table("trades").collect()
    )
    assert prices == all_prices[2:5]
    with pytest.raises(QuestDBSQLError, match="unsupported LIMIT range"):
        questdb_sql(
            spark, "SELECT * FROM trades LIMIT 5, 2", {"trades": "ts"}
        )


def test_interval_list_in_where(spark, trades):
    """ts IN ('<day1>', '<day2>') — the union of both days; a string
    VALUE list on a non-ts column still passes through untouched."""
    out = questdb_sql(
        spark,
        "SELECT count(*) n FROM trades "
        "WHERE ts IN ('2024-01-01', '2024-01-02')",
        {"trades": "ts"},
    )
    assert out.first().n == 12  # all fixture rows live on those 2 days
    one = questdb_sql(
        spark,
        "SELECT count(*) n FROM trades WHERE ts IN ('2024-01-02', "
        "'2024-01-03') AND sym IN ('AAA', 'BBB')",
        {"trades": "ts"},
    )
    assert one.first().n == 6
    # SINGLE-element list: QuestDB applies interval semantics per
    # element at ANY list length — with the pre-round-18 `+` repetition
    # the n=1 list fell through to Spark's IN-as-equality (midnight
    # only, 0 rows), a silent wrong answer that was also inconsistent
    # with the n=2 behavior above. NOT IN complements the same span.
    single = questdb_sql(
        spark,
        "SELECT count(*) n FROM trades WHERE ts IN ('2024-01-01')",
        {"trades": "ts"},
    )
    two_day = questdb_sql(
        spark,
        "SELECT count(*) n FROM trades WHERE ts IN '2024-01-01'",
        {"trades": "ts"},
    )
    assert single.first().n == two_day.first().n > 0
    neg = questdb_sql(
        spark,
        "SELECT count(*) n FROM trades WHERE ts NOT IN ('2024-01-01')",
        {"trades": "ts"},
    )
    assert neg.first().n == 12 - single.first().n


def test_having_filters_aggregates(spark, trades):
    """HAVING over the aliased aggregates, in both the GROUP BY and
    SAMPLE BY paths; HAVING without grouping is rejected."""
    out = questdb_sql(
        spark,
        "SELECT sym, ts, count() n FROM trades "
        "WHERE ts IN '2024-01-01' SAMPLE BY 1h HAVING n > 1",
        {"trades": "ts"},
    )
    assert out.count() == 0  # one trade per (sym, hour) in the fixture
    out2 = questdb_sql(
        spark,
        "SELECT sym, sum(qty) v FROM trades GROUP BY sym HAVING v > 900",
        {"trades": "ts"},
    )
    rows = {r.sym: r.v for r in out2.collect()}
    assert set(rows) == {"BBB"} or rows  # value-checked below
    full = {r.sym: r.v for r in questdb_sql(
        spark, "SELECT sym, sum(qty) v FROM trades GROUP BY sym",
        {"trades": "ts"}).collect()}
    assert rows == {s: v for s, v in full.items() if v > 900}
    # Implicit grouping composes with HAVING too (QuestDB style; the
    # bare count() marks the query as dialect — a fully standard
    # implicit-group query has no marker and stays a Spark-side error).
    imp = questdb_sql(
        spark,
        "SELECT sym, count() n, sum(qty) v FROM trades HAVING v > 900",
        {"trades": "ts"},
    )
    assert {r.sym: r.v for r in imp.collect()} == rows
    with pytest.raises(QuestDBSQLError, match="HAVING needs"):
        questdb_sql(
            spark,
            "SELECT ts, sym FROM trades WHERE ts IN '2024-01-01' "
            "HAVING sym = 'AAA'",
            {"trades": "ts"},
        )
    # WHERE + implicit grouping + HAVING in ONE query: _WHERE_RE must
    # stop the predicate capture at HAVING (round-8 ADVICE — without
    # the lookahead the HAVING clause was swallowed into the WHERE
    # predicate and surfaced as an opaque Spark parse error).
    wh = questdb_sql(
        spark,
        "SELECT sym, count() n, sum(qty) v FROM trades "
        "WHERE qty > 150 HAVING n > 1",
        {"trades": "ts"},
    )
    got = {r.sym: r.n for r in wh.collect()}
    exact = {r.sym: r.n for r in questdb_sql(
        spark,
        "SELECT sym, count() n FROM trades WHERE qty > 150 GROUP BY sym",
        {"trades": "ts"}).collect() if r.n > 1}
    assert got and got == exact


# ---------------------------------------------------------------------------
# Retention DDL: ALTER TABLE … DROP PARTITION WHERE / LIST, SET TTL
# ---------------------------------------------------------------------------


def _retention_table(spark, tmp_path, name="t"):
    from questdb_etl_jobs_spark.plans.designated import write_designated_ts

    rows = [
        (datetime(2024, 1, d, h, 0), f"u{d % 3}", float(d * 10 + h))
        for d in range(1, 11)
        for h in (0, 12)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, k string, v double")
    path = str(tmp_path / name)
    write_designated_ts(df, path, "ts", mode="overwrite")
    return path


def test_ddl_drop_partition_where(spark, tmp_path):
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    path = _retention_table(spark, tmp_path)
    dropped = questdb_ddl(
        spark,
        "ALTER TABLE t DROP PARTITION WHERE ts < '2024-01-04T09:00:00';",
        {"t": path},
    )
    # Whole days strictly before the cutoff; the partially-covered
    # 01-04 survives (QuestDB partition-granularity semantics).
    assert dropped == ["2024-01-01", "2024-01-02", "2024-01-03"]
    days = {
        r[0].isoformat()
        for r in spark.read.parquet(path)
        .select(F.to_date("ts")).distinct().collect()
    }
    assert min(days) == "2024-01-04" and len(days) == 7


def test_ddl_drop_partition_where_le_date(spark, tmp_path):
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    path = _retention_table(spark, tmp_path)
    dropped = questdb_ddl(
        spark,
        "ALTER TABLE t DROP PARTITION WHERE ts <= '2024-01-03'",
        {"t": path},
    )
    assert dropped == ["2024-01-01", "2024-01-02", "2024-01-03"]
    # <= with a time-of-day is ambiguous at day granularity: refused.
    with pytest.raises(QuestDBSQLError, match="pure date"):
        questdb_ddl(
            spark,
            "ALTER TABLE t DROP PARTITION WHERE ts <= '2024-01-05T06:00:00'",
            {"t": path},
        )


def test_ddl_drop_partition_list_idempotent(spark, tmp_path):
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    path = _retention_table(spark, tmp_path)
    stmt = (
        "ALTER TABLE t DROP PARTITION LIST '2024-01-02', '2024-01-07', "
        "'2024-02-28'"
    )
    assert questdb_ddl(spark, stmt, {"t": path}) == [
        "2024-01-02", "2024-01-07",
    ]
    # Re-run: every named dir already gone or never existed → no-op.
    assert questdb_ddl(spark, stmt, {"t": path}) == []


def test_ddl_set_ttl_anchors_at_newest_partition(spark, tmp_path):
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    path = _retention_table(spark, tmp_path)
    # Newest partition is 2024-01-10; TTL 3 days keeps >= 01-07.
    dropped = questdb_ddl(
        spark, "ALTER TABLE t SET TTL 3 DAYS", {"t": path}
    )
    assert dropped == [f"2024-01-0{d}" for d in range(1, 7)]
    # WEEKS lowers to 7n days; everything already inside → no-op.
    assert questdb_ddl(spark, "ALTER TABLE t SET TTL 1 WEEK", {"t": path}) == []


def test_ddl_errors_are_loud_and_specific(spark, tmp_path):
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    path = _retention_table(spark, tmp_path)
    with pytest.raises(QuestDBSQLError, match="unknown table"):
        questdb_ddl(
            spark, "ALTER TABLE ghost SET TTL 3 DAYS", {"t": path}
        )
    with pytest.raises(QuestDBSQLError, match="designated"):
        questdb_ddl(
            spark,
            "ALTER TABLE t DROP PARTITION WHERE k < '2024-01-03'",
            {"t": path},
        )
    with pytest.raises(QuestDBSQLError, match="DAYS or"):
        questdb_ddl(spark, "ALTER TABLE t SET TTL 2 MONTHS", {"t": path})
    # RENAME COLUMN became a supported statement later in round 14 (a
    # declaration-level move via the sidecar's stored_as mapping) — the
    # unsupported-DDL contract now uses a spelling the engine does not
    # lower (SQUASH PARTITIONS is QuestDB storage tuning with no
    # day-directory analogue).
    with pytest.raises(QuestDBSQLError, match="unsupported DDL"):
        questdb_ddl(
            spark, "ALTER TABLE t SQUASH PARTITIONS", {"t": path}
        )
    with pytest.raises(QuestDBSQLError, match="ISO"):
        questdb_ddl(
            spark,
            "ALTER TABLE t DROP PARTITION WHERE ts < 'dateadd(d,-3,now())'",
            {"t": path},
        )
    # A fully-dropped table stays a no-op (idempotence contract).
    questdb_ddl(
        spark, "ALTER TABLE t DROP PARTITION WHERE ts < '2030-01-01'",
        {"t": path},
    )
    assert questdb_ddl(spark, "ALTER TABLE t SET TTL 1 DAY", {"t": path}) == []


def test_ddl_unreadable_table_raises_not_noop(spark, tmp_path):
    """Round-10 ADVICE (dialect.py:795): only path-ABSENCE reads as an
    empty table. An existing dir whose parquet cannot be read (corrupt
    footer standing in for permission/transient-FS errors) must surface
    the error — a retention statement that did nothing must not report
    a successful no-op."""
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    bad = tmp_path / "t"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"these bytes are not parquet")
    with pytest.raises(Exception, match="(?i)footer|parquet|corrupt"):
        questdb_ddl(
            spark,
            "ALTER TABLE t DROP PARTITION WHERE ts < '2030-01-01'",
            {"t": str(bad)},
        )
    # An existing-but-fileless dir is still the empty-table no-op.
    empty = tmp_path / "e"
    empty.mkdir()
    assert questdb_ddl(
        spark,
        "ALTER TABLE e DROP PARTITION WHERE ts < '2030-01-01'",
        {"e": str(empty)},
    ) == []


# ---------------------------------------------------------------------------
# SHOW PARTITIONS — the retention family's catalog face
# ---------------------------------------------------------------------------

def test_show_partitions_lists_layout_with_bounds(spark, tmp_path):
    from questdb_etl_jobs_spark.plans.designated import write_designated_ts
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    df = spark.createDataFrame(
        [
            ("2024-03-01 08:00:00", 1),
            ("2024-03-01 17:30:00", 2),
            ("2024-03-03 00:00:01", 3),
        ],
        "ts_raw string, v int",
    ).select(F.to_timestamp("ts_raw").alias("ts"), "v")
    path = str(tmp_path / "t")
    write_designated_ts(df, path, "ts")
    rows = questdb_show(
        spark, "SHOW PARTITIONS FROM t", {"t": path}
    ).collect()
    assert [(r["part_index"], r["name"], r["num_rows"]) for r in rows] == [
        (0, "2024-03-01", 2),
        (1, "2024-03-03", 1),
    ]
    assert all(r["partition_by"] == "DAY" for r in rows)
    assert rows[0]["min_ts"].hour == 8 and rows[0]["max_ts"].hour == 17


def test_show_partitions_missing_table_is_empty_listing(spark, tmp_path):
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    out = questdb_show(
        spark, "SHOW PARTITIONS FROM nope", {"nope": str(tmp_path / "nope")}
    )
    assert out.count() == 0
    assert out.columns == [
        "part_index", "partition_by", "name", "min_ts", "max_ts", "num_rows",
    ]


def test_show_unsupported_statement_raises(spark, tmp_path):
    from questdb_etl_jobs_spark.sql.dialect import QuestDBSQLError, questdb_show

    with pytest.raises(QuestDBSQLError, match="unsupported SHOW"):
        questdb_show(spark, "SHOW USERS", {"t": str(tmp_path)})


def test_show_tables_lists_existing_storage_only(spark, tmp_path):
    """SHOW TABLES = the mapping filtered to existing storage: a
    missing path is no table; a fully-dropped (empty) directory still
    lists — the DROP PARTITION family leaves an empty TABLE behind."""
    from questdb_etl_jobs_spark.plans.designated import (
        drop_partitions,
        write_designated_ts,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    df = spark.createDataFrame(
        [("2024-03-01 08:00:00", 1)], "ts_raw string, v int"
    ).select(F.to_timestamp("ts_raw").alias("ts"), "v")
    kept = str(tmp_path / "kept")
    dropped = str(tmp_path / "dropped")
    write_designated_ts(df, kept, "ts")
    write_designated_ts(df, dropped, "ts")
    drop_partitions(spark, dropped, "ts", older_than="2030-01-01")
    tables = {
        "kept": kept,
        "dropped": dropped,
        "missing": str(tmp_path / "never_written"),
    }
    rows = questdb_show(spark, "SHOW TABLES", tables).collect()
    assert [r.table_name for r in rows] == ["dropped", "kept"]


def test_show_partitions_after_full_drop_is_empty_listing(spark, tmp_path):
    """All partitions dropped (dir of stray markers, zero parquet
    footers) reads as an empty listing, same contract as questdb_ddl."""
    from questdb_etl_jobs_spark.plans.designated import (
        drop_partitions,
        write_designated_ts,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    df = spark.createDataFrame(
        [("2024-03-01 08:00:00", 1)], "ts_raw string, v int"
    ).select(F.to_timestamp("ts_raw").alias("ts"), "v")
    path = str(tmp_path / "t")
    write_designated_ts(df, path, "ts")
    drop_partitions(spark, path, "ts", older_than="2030-01-01")
    out = questdb_show(spark, "SHOW PARTITIONS FROM t", {"t": path})
    assert out.count() == 0


def test_recursive_spine_empty_series_yields_empty_fill(spark):
    """The q181 recursion's base is guarded (lo IS NOT NULL): a filter
    matching nothing must produce an EMPTY fill, not a single NULL-day
    row."""
    spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0)], "ts_raw string, value double"
    ).select(
        F.to_timestamp("ts_raw").alias("ts"), "value"
    ).createOrReplaceTempView("__spine_empty_ev")
    out = spark.sql("""
    WITH RECURSIVE f AS (
      SELECT ts, value FROM __spine_empty_ev WHERE value > 99.0
    ), bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM f
    ), spine(day) AS (
      SELECT lo FROM bounds WHERE lo IS NOT NULL
      UNION ALL
      SELECT date_add(day, 1) FROM spine WHERE day < (SELECT hi FROM bounds)
    )
    SELECT day FROM spine
    """)
    assert out.count() == 0


def test_show_columns_non_designated_table_lists_all_false(spark, tmp_path):
    """SHOW COLUMNS works on tables without a designated ts (unlike
    retention): every designated flag is simply false."""
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    path = str(tmp_path / "plain")
    spark.createDataFrame(
        [(1, "a", 2.0)], "k bigint, s string, v double"
    ).write.parquet(path)
    rows = {
        r["column_name"]: (r["column_type"], r["designated"])
        for r in questdb_show(
            spark, "SHOW COLUMNS FROM plain", {"plain": path}
        ).collect()
    }
    assert rows == {
        "k": ("LONG", False),
        "s": ("STRING", False),
        "v": ("DOUBLE", False),
    }


def test_show_columns_missing_table_is_empty(spark, tmp_path):
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    out = questdb_show(
        spark, "SHOW COLUMNS FROM gone", {"gone": str(tmp_path / "gone")}
    )
    assert out.count() == 0
    assert out.columns == ["column_name", "column_type", "designated"]


def test_show_columns_after_full_drop_is_empty_listing(spark, tmp_path):
    """Every partition dropped (dir exists, zero parquet footers): SHOW
    COLUMNS returns the empty 3-column listing, the same tolerance
    contract the SHOW PARTITIONS branch already honors."""
    from questdb_etl_jobs_spark.plans.designated import (
        drop_partitions,
        write_designated_ts,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    df = spark.createDataFrame(
        [("2024-03-01 08:00:00", 1)], "ts_raw string, v int"
    ).select(F.to_timestamp("ts_raw").alias("ts"), "v")
    path = str(tmp_path / "t")
    write_designated_ts(df, path, "ts")
    drop_partitions(spark, path, "ts", older_than="2030-01-01")
    out = questdb_show(spark, "SHOW COLUMNS FROM t", {"t": path})
    assert out.count() == 0
    assert out.columns == ["column_name", "column_type", "designated"]


def test_questdb_ksum_nsum_vwap_aggregates(spark, trades):
    """Round-13: QuestDB's compensated sums (ksum/nsum) and vwap
    aggregate. Their presence alone routes a query through the dialect
    parser (Spark SQL has no such functions); ksum/nsum lower onto the
    exact-decimal sum protocol (order-independent — stronger than
    running compensation), vwap = decimal-sum(price*qty) /
    decimal-sum(qty) with an exact IEEE quotient — in GROUP BY and
    SAMPLE BY alike."""
    out = {
        r.sym: (r.ks, r.vw, r.n)
        for r in questdb_sql(
            spark,
            "SELECT sym, ksum(price) AS ks, vwap(price, qty) AS vw, "
            "count() AS n FROM trades GROUP BY sym",
        ).collect()
    }
    rows = [(s, float(10 * d + h), d * 100 + h)
            for d in (1, 2) for h in (0, 1, 3) for s in ("AAA", "BBB")]
    for sym in ("AAA", "BBB"):
        mine = [(p, q) for s, p, q in rows if s == sym]
        ks = round(sum(p for p, _ in mine), 4)
        vw = sum(p * q for p, q in mine) / sum(q for _, q in mine)
        assert out[sym][0] == ks
        assert abs(out[sym][1] - vw) < 1e-9
        assert out[sym][2] == len(mine)
    # SAMPLE BY face: vwap per hour bucket.
    hourly = questdb_sql(
        spark,
        "SELECT ts, vwap(price, qty) AS vw FROM trades "
        "WHERE sym = 'AAA' SAMPLE BY 1h ALIGN TO CALENDAR",
        {"trades": "ts"},
    ).collect()
    assert len(hourly) == 6 and all(r.vw is not None for r in hourly)
    # nsum spelling lowers identically to ksum (both: exact protocol).
    ns = questdb_sql(
        spark, "SELECT nsum(price) AS s FROM trades"
    ).collect()[0]
    assert ns.s == round(sum(p for _s, p, _q in rows), 4)
    # Arity errors fail loudly, not as mis-parsed columns.
    with pytest.raises(QuestDBSQLError, match="vwap takes two"):
        questdb_sql(spark, "SELECT vwap(price) AS v FROM trades")


def test_vwap_skips_pair_when_either_argument_null(spark):
    """Round-14 ADVICE: QuestDB's vwap skips the PAIR when either
    argument is null. A row with NULL price but non-NULL qty must not
    inflate the denominator (and NULL qty with non-NULL price must not
    touch the numerator); an all-null group divides 0-row sums and
    yields NULL."""
    spark.createDataFrame(
        [
            ("A", 10.0, 2.0),
            ("A", None, 100.0),   # must NOT count 100 into sum(qty)
            ("A", 30.0, 4.0),
            ("A", 50.0, None),    # must NOT count price into numerator
            ("B", None, 5.0),
            ("B", 7.0, None),     # group with no complete pair -> NULL
        ],
        "sym string, price double, qty double",
    ).createOrReplaceTempView("nulltrades")
    out = {
        r.sym: r.vw
        for r in questdb_sql(
            spark,
            "SELECT sym, vwap(price, qty) AS vw "
            "FROM nulltrades GROUP BY sym",
        ).collect()
    }
    assert out["A"] == (10.0 * 2.0 + 30.0 * 4.0) / (2.0 + 4.0)
    assert out["B"] is None


def test_legacy_latest_by_spelling(spark, trades):
    """QuestDB's pre-6.3 `LATEST BY <keys>` (designated ts implicit)
    normalizes to the modern LATEST ON lowering — same rows, same
    WHERE split semantics; without a designated mapping it raises with
    the fix spelled out."""
    modern = sorted(
        map(tuple, questdb_sql(
            spark, "SELECT * FROM trades LATEST ON ts PARTITION BY sym",
            {"trades": "ts"},
        ).collect())
    )
    legacy = sorted(
        map(tuple, questdb_sql(
            spark, "SELECT * FROM trades LATEST BY sym", {"trades": "ts"}
        ).collect())
    )
    assert legacy == modern and len(legacy) == 2
    with pytest.raises(QuestDBSQLError, match="designated timestamp"):
        questdb_sql(spark, "SELECT * FROM trades LATEST BY sym")


def test_regex_match_and_symbol_rewrites_literal_aware(spark, trades):
    """`~` / `!~` rewrite to regexp_like (Spark parses bare ~ as
    bitwise NOT), CAST(x AS SYMBOL) lowers to STRING, and to_str
    formats with its Java-style pattern — all literal-aware: the same
    shapes INSIDE a string literal come through byte-identical."""
    out = questdb_sql(
        spark,
        "SELECT CAST(sym AS SYMBOL) AS s, to_str(ts, 'yyyy-MM-dd') AS d "
        "FROM trades WHERE sym ~ '^A' AND sym !~ 'B$' ORDER BY ts LIMIT 1",
        {"trades": "ts"},
    ).collect()
    assert out[0].s == "AAA" and out[0].d == "2024-01-01"
    # Literal spans survive untouched: the predicate value CONTAINS a
    # ~-expression and a SYMBOL cast as text.
    lit = questdb_sql(
        spark,
        "SELECT count(*) AS n FROM trades "
        "WHERE sym <> 'x ~ ''y'' AS SYMBOL)'",
    ).collect()
    assert lit[0].n == 12


def test_create_table_as_designated(spark, trades, tmp_path):
    """CTAS lowers onto write_designated_ts: the dialect SELECT's
    result lands day-partitioned at the mapped path, re-running
    overwrites (idempotent create), PARTITION BY other than DAY and a
    TIMESTAMP() column the SELECT doesn't produce fail loudly."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    path = str(tmp_path / "daily")
    ddl = (
        "CREATE TABLE daily AS ("
        "SELECT ts, vwap(price, qty) AS vw FROM trades "
        "SAMPLE BY 1d ALIGN TO CALENDAR"
        ") TIMESTAMP(ts) PARTITION BY DAY"
    )
    written = questdb_ddl(
        spark, ddl, tables={"daily": path}, designated={"trades": "ts"}
    )
    assert written == ["2024-01-01", "2024-01-02"]
    out = register_designated_table(spark, "daily", path)
    assert out.count() == 2 and "vw" in out.columns
    # QuestDB parity (round 16): re-running errors — CREATE over an
    # existing table is never a silent overwrite; IF NOT EXISTS no-ops.
    with pytest.raises(QuestDBSQLError, match="already exists"):
        questdb_ddl(
            spark, ddl, tables={"daily": path},
            designated={"trades": "ts"},
        )
    assert questdb_ddl(
        spark, ddl.replace("CREATE TABLE", "CREATE TABLE IF NOT EXISTS"),
        tables={"daily": path}, designated={"trades": "ts"},
    ) == []
    with pytest.raises(QuestDBSQLError, match="PARTITION BY"):
        questdb_ddl(
            spark,
            ddl.replace("PARTITION BY DAY", "PARTITION BY MONTH")
            .replace("daily", "daily2"),
            tables={"daily2": str(tmp_path / "daily2")},
            designated={"trades": "ts"},
        )
    with pytest.raises(QuestDBSQLError, match="does not produce"):
        questdb_ddl(
            spark,
            "CREATE TABLE daily3 AS (SELECT sym FROM trades) "
            "TIMESTAMP(ts)",
            tables={"daily3": str(tmp_path / "daily3")},
        )


def test_insert_into_select_appends_designated(spark, trades, tmp_path):
    """INSERT INTO … SELECT appends through write_designated_ts: new
    rows land in their date partitions, existing rows stay, the
    designated column comes from the table's own layout (no mapping
    needed after creation), and a SELECT missing the designated
    column fails loudly."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    path = str(tmp_path / "t")
    tables = {"t": path}
    questdb_ddl(
        spark,
        "CREATE TABLE t AS (SELECT ts, sym, price FROM trades "
        "WHERE sym = 'AAA') TIMESTAMP(ts) PARTITION BY DAY",
        tables=tables, designated={"trades": "ts"},
    )
    before = register_designated_table(spark, "t", path).count()
    parts = questdb_ddl(
        spark,
        "INSERT INTO t SELECT ts, sym, price FROM trades "
        "WHERE sym = 'BBB'",
        tables=tables, designated={"trades": "ts"},
    )
    assert parts == ["2024-01-01", "2024-01-02"]
    after = register_designated_table(spark, "t", path)
    assert after.count() == before * 2
    assert after.filter("sym = 'AAA'").count() == before  # originals kept
    with pytest.raises(QuestDBSQLError, match="does not produce"):
        questdb_ddl(
            spark, "INSERT INTO t SELECT sym FROM trades",
            tables=tables, designated={"trades": "ts"},
        )


def test_ctas_runs_dialect_select_shapes(spark, trades, tmp_path):
    """The CTAS docstring's claim: the inner SELECT runs the FULL
    dialect — here the scan-bound routed top-k (ORDER BY … LIMIT) and
    a LATEST ON — and the created tables hold exactly those answers."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    topk_path = str(tmp_path / "topk")
    questdb_ddl(
        spark,
        "CREATE TABLE topk AS (SELECT ts, sym, price FROM trades "
        "ORDER BY price DESC LIMIT 3) TIMESTAMP(ts)",
        tables={"topk": topk_path}, designated={"trades": "ts"},
    )
    kept = register_designated_table(spark, "topk", topk_path)
    assert sorted(r.price for r in kept.collect()) == [21.0, 23.0, 23.0]

    latest_path = str(tmp_path / "latest")
    questdb_ddl(
        spark,
        "CREATE TABLE latest AS (SELECT * FROM trades "
        "LATEST ON ts PARTITION BY sym) TIMESTAMP(ts)",
        tables={"latest": latest_path}, designated={"trades": "ts"},
    )
    latest = register_designated_table(spark, "latest", latest_path)
    assert latest.count() == 2  # one row per symbol, the newest


def test_reference_sql_text_replays_verbatim(spark, tmp_path):
    """Round-14: the reference's OWN statements must parse — the
    drop-in story starts with its one .sql file. Bare column-list
    CREATE TABLE (reference sql/create-table.sql:1, verbatim) lands a
    declared-schema sidecar; the reference's DML shape
    (cloud_function.py:84-88: INSERT INTO … VALUES with inline
    to_timestamp over the bare-T pattern) appends a typed row through
    write_designated_ts; SHOW COLUMNS lists the declared schema before
    any row exists."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl, questdb_show

    tables = {"purchases": str(tmp_path / "purchases")}
    create = (
        "CREATE TABLE purchases(buyer STRING, item_id INT, quantity INT, "
        "price INT, purchase_date TIMESTAMP) timestamp(purchase_date);"
    )  # /root/reference/sql/create-table.sql:1 VERBATIM
    assert questdb_ddl(spark, create, tables) == []
    cols = questdb_show(
        spark, "SHOW COLUMNS FROM purchases", tables
    ).collect()
    assert [(r.column_name, r.column_type, r.designated) for r in cols] == [
        ("buyer", "STRING", False),
        ("item_id", "INT", False),
        ("quantity", "INT", False),
        ("price", "INT", False),
        ("purchase_date", "TIMESTAMP", True),
    ]
    ins = (
        "INSERT INTO purchases(buyer, item_id, quantity, price, "
        "purchase_date) VALUES('ab12', 7, 2, 30, "
        "to_timestamp('2022-03-04T10:00:00', 'yyyy-MM-ddTHH:mm:ss'));"
    )  # the reference's DML with bind params bound to literals
    assert questdb_ddl(spark, ins, tables) == ["2022-03-04"]
    got = register_designated_table(
        spark, "purchases", tables["purchases"]
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.buyer, r.item_id, r.quantity, r.price) == ("ab12", 7, 2, 30)
    assert r.purchase_date.isoformat() == "2022-03-04T10:00:00"
    # declared INT types survive the append
    reg = dict(
        register_designated_table(spark, "purchases", tables["purchases"])
        .dtypes
    )
    assert reg["item_id"] == "int" and reg["price"] == "int"


def test_create_table_cols_contract(spark, tmp_path):
    """IF NOT EXISTS no-ops on an existing table; a duplicate bare
    CREATE raises; unknown types, missing designated column,
    non-TIMESTAMP designated, and qualifier-laden declarations raise
    loudly naming the fragment."""
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    create = "CREATE TABLE t(a STRING, ts TIMESTAMP) TIMESTAMP(ts)"
    questdb_ddl(spark, create, tables)
    assert (
        questdb_ddl(
            spark,
            "CREATE TABLE IF NOT EXISTS t(a STRING, ts TIMESTAMP) "
            "TIMESTAMP(ts)",
            tables,
        )
        == []
    )
    with pytest.raises(QuestDBSQLError, match="already exists"):
        questdb_ddl(spark, create, tables)
    with pytest.raises(QuestDBSQLError, match="unsupported QuestDB column"):
        questdb_ddl(
            spark, "CREATE TABLE u(a GEOHASH, ts TIMESTAMP) TIMESTAMP(ts)",
            {"u": str(tmp_path / "u")},
        )
    with pytest.raises(QuestDBSQLError, match="does not declare"):
        questdb_ddl(
            spark, "CREATE TABLE u(a STRING) TIMESTAMP(ts)",
            {"u": str(tmp_path / "u")},
        )
    with pytest.raises(QuestDBSQLError, match="must be TIMESTAMP"):
        questdb_ddl(
            spark, "CREATE TABLE u(a STRING, ts INT) TIMESTAMP(ts)",
            {"u": str(tmp_path / "u")},
        )
    # SYMBOL storage qualifiers are tolerated and ignored since round
    # 17 (they used to refuse); non-SYMBOL qualifiers still refuse —
    # see test_create_table_symbol_qualifiers_ignored.
    questdb_ddl(
        spark,
        "CREATE TABLE u(s SYMBOL CAPACITY 256, ts TIMESTAMP) "
        "TIMESTAMP(ts)",
        {"u": str(tmp_path / "u")},
    )
    # SYMBOL itself (bare) lowers to string.
    questdb_ddl(
        spark, "CREATE TABLE v(s SYMBOL, ts TIMESTAMP) TIMESTAMP(ts)",
        {"v": str(tmp_path / "v")},
    )


def test_insert_values_alignment_nulls_and_errors(spark, tmp_path):
    """Partial column lists fill the absent columns with typed NULLs
    (QuestDB's fill); multi-tuple inserts land in one append; unknown
    columns, a missing table, and a NULL designated timestamp raise."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    questdb_ddl(
        spark,
        "CREATE TABLE t(a STRING, n INT, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    )
    days = questdb_ddl(
        spark,
        "INSERT INTO t(a, ts) VALUES"
        "('x', TIMESTAMP '2024-01-01 01:00:00'),"
        "('y', TIMESTAMP '2024-01-02 02:00:00')",
        tables,
    )
    assert days == ["2024-01-01", "2024-01-02"]
    got = sorted(
        (r.a, r.n, r.ts.isoformat())
        for r in register_designated_table(spark, "t", tables["t"]).collect()
    )
    assert got == [
        ("x", None, "2024-01-01T01:00:00"),
        ("y", None, "2024-01-02T02:00:00"),
    ]
    with pytest.raises(QuestDBSQLError, match="unknown column"):
        questdb_ddl(
            spark, "INSERT INTO t(bogus, ts) VALUES(1, now())", tables
        )
    with pytest.raises(QuestDBSQLError, match="must be present and non-null"):
        questdb_ddl(spark, "INSERT INTO t(a, n) VALUES('x', 1)", tables)
    with pytest.raises(QuestDBSQLError, match="must be present and non-null"):
        questdb_ddl(
            spark,
            "INSERT INTO t(a, ts) VALUES('x', CAST(NULL AS TIMESTAMP))",
            tables,
        )
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        questdb_ddl(
            spark,
            "INSERT INTO missing(a, ts) VALUES('x', now())",
            {"missing": str(tmp_path / "missing")},
        )


def test_insert_select_column_list_positional(spark, tmp_path):
    """INSERT INTO t(cols) SELECT … matches the SELECT output to the
    column list POSITIONALLY (QuestDB semantics) and fills undeclared
    columns with typed NULLs on declared-schema tables; an arity
    mismatch raises."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    questdb_ddl(
        spark,
        "CREATE TABLE t(a STRING, n INT, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    )
    spark.createDataFrame(
        [("p", "2024-02-01 00:00:01")], "s string, d string"
    ).createOrReplaceTempView("__ins_src")
    questdb_ddl(
        spark,
        "INSERT INTO t(a, ts) SELECT s, CAST(d AS TIMESTAMP) "
        "FROM __ins_src",
        tables,
    )
    got = register_designated_table(spark, "t", tables["t"]).collect()
    assert [(r.a, r.n) for r in got] == [("p", None)]
    with pytest.raises(QuestDBSQLError, match="column list has"):
        questdb_ddl(
            spark,
            "INSERT INTO t(a, n, ts) SELECT s, CAST(d AS TIMESTAMP) "
            "FROM __ins_src",
            tables,
        )


def test_to_timestamp_bare_T_pattern_rewrite():
    """QuestDB's 'yyyy-MM-ddTHH:mm:ss' pattern (the reference's one
    DML format literal) gets its bare T quoted for Spark's formatter —
    SQL-doubled inside the string literal; Spark-compatible patterns
    and 1-arg calls pass through."""
    from questdb_etl_jobs_spark.sql.dialect import rewrite_questdb_scalars

    out = rewrite_questdb_scalars(
        "to_timestamp('2022-03-04T10:00:00', 'yyyy-MM-ddTHH:mm:ss')"
    )
    assert out == (
        "to_timestamp('2022-03-04T10:00:00', 'yyyy-MM-dd''T''HH:mm:ss')"
    )
    # No bare T: untouched semantics (pass through).
    same = rewrite_questdb_scalars(
        "to_timestamp(d, 'yyyy-MM-dd HH:mm:ss')"
    )
    assert "yyyy-MM-dd HH:mm:ss" in same
    # Already-quoted T: left alone.
    pre = rewrite_questdb_scalars(
        "to_timestamp(d, 'yyyy-MM-dd''T''HH:mm:ss')"
    )
    assert pre.count("'T'") == 1
    # 1-arg Spark spelling: pass through.
    assert "to_timestamp(d)" in rewrite_questdb_scalars("to_timestamp(d)")


def test_table_lifecycle_drop_truncate_add_column(spark, tmp_path):
    """Round-14 lifecycle statements: TRUNCATE keeps the schema (the
    sidecar is materialized from footers first for tables born with
    rows), ADD COLUMN widens the declaration and pre-ALTER rows read
    back NULL, DROP TABLE removes the directory (IF EXISTS no-ops on a
    missing table, the bare form raises); the widened declared read
    registers empty tables with their full schema."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
        write_designated_ts,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t"), "b": str(tmp_path / "b")}
    questdb_ddl(
        spark,
        "CREATE TABLE t(a STRING, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO t(a, ts) VALUES('x', TIMESTAMP '2024-01-01 01:00:00')",
        tables,
    )
    questdb_ddl(spark, "TRUNCATE TABLE t", tables)
    got = register_designated_table(spark, "t", tables["t"])
    assert got.count() == 0
    assert got.columns == ["a", "ts", "ts_pdate"]  # schema survives
    questdb_ddl(spark, "ALTER TABLE t ADD COLUMN extra LONG", tables)
    questdb_ddl(
        spark,
        "INSERT INTO t(a, ts) VALUES('y', TIMESTAMP '2024-01-02 01:00:00')",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO t(a, ts, extra) VALUES"
        "('z', TIMESTAMP '2024-01-03 01:00:00', 9)",
        tables,
    )
    rows = sorted(
        (r.a, r.extra)
        for r in register_designated_table(spark, "t", tables["t"]).collect()
    )
    assert rows == [("y", None), ("z", 9)]
    with pytest.raises(QuestDBSQLError, match="already exists"):
        questdb_ddl(spark, "ALTER TABLE t ADD COLUMN extra LONG", tables)
    # A footers-born table (no sidecar): TRUNCATE materializes one, and
    # ADD COLUMN works on it too.
    df = spark.createDataFrame(
        [("p", "2024-02-01 00:00:00")], "v string, raw string"
    ).select("v", F.to_timestamp("raw").alias("ts"))
    write_designated_ts(df, tables["b"], "ts")
    questdb_ddl(spark, "ALTER TABLE b ADD COLUMN w INT", tables)
    b = register_designated_table(spark, "b", tables["b"])
    assert [(r.v, r.w) for r in b.collect()] == [("p", None)]
    questdb_ddl(spark, "TRUNCATE TABLE b", tables)
    assert register_designated_table(spark, "b", tables["b"]).count() == 0
    # DROP semantics.
    questdb_ddl(spark, "DROP TABLE b", tables)
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        questdb_ddl(spark, "DROP TABLE b", tables)
    assert questdb_ddl(spark, "DROP TABLE IF EXISTS b", tables) == []
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        questdb_ddl(spark, "TRUNCATE TABLE b", tables)


def test_create_table_dedup_upsert_keys_contract(spark, tmp_path):
    """Round-14: DEDUP UPSERT KEYS on a bare CREATE routes every
    dialect INSERT through the deduplicating upsert (replace on key
    match, within-batch max-struct winner); WAL / BYPASS WAL are
    tolerated storage details; undeclared key columns and a key list
    missing the designated timestamp raise; TRUNCATE keeps the dedup
    declaration (the sidecar survives)."""
    from questdb_etl_jobs_spark.plans.designated import (
        read_table_meta,
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    questdb_ddl(
        spark,
        "CREATE TABLE t(sym SYMBOL, v INT, ts TIMESTAMP) TIMESTAMP(ts) "
        "PARTITION BY DAY BYPASS WAL DEDUP UPSERT KEYS(ts, sym)",
        tables,
    )
    assert read_table_meta(spark, tables["t"])["dedup_keys"] == ["ts", "sym"]
    questdb_ddl(
        spark,
        "INSERT INTO t(sym, v, ts) VALUES"
        "('a', 1, TIMESTAMP '2024-01-01 00:00:00'),"
        "('a', 2, TIMESTAMP '2024-01-01 00:00:00')",  # within-batch dup
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO t(sym, v, ts) VALUES"
        "('a', 9, TIMESTAMP '2024-01-01 00:00:00'),"  # replaces
        "('b', 3, TIMESTAMP '2024-01-01 00:00:00')",
        tables,
    )
    rows = sorted(
        (r.sym, r.v)
        for r in register_designated_table(spark, "t", tables["t"]).collect()
    )
    assert rows == [("a", 9), ("b", 3)]
    # TRUNCATE keeps the declaration, and the next insert still dedups.
    questdb_ddl(spark, "TRUNCATE TABLE t", tables)
    assert read_table_meta(spark, tables["t"])["dedup_keys"] == ["ts", "sym"]
    questdb_ddl(
        spark,
        "INSERT INTO t(sym, v, ts) VALUES"
        "('c', 1, TIMESTAMP '2024-01-02 00:00:00'),"
        "('c', 5, TIMESTAMP '2024-01-02 00:00:00')",
        tables,
    )
    got = register_designated_table(spark, "t", tables["t"]).collect()
    assert [(r.sym, r.v) for r in got] == [("c", 5)]
    with pytest.raises(QuestDBSQLError, match="undeclared"):
        questdb_ddl(
            spark,
            "CREATE TABLE u(a STRING, ts TIMESTAMP) TIMESTAMP(ts) "
            "DEDUP UPSERT KEYS(ts, ghost)",
            {"u": str(tmp_path / "u")},
        )
    with pytest.raises(QuestDBSQLError, match="must include the designated"):
        questdb_ddl(
            spark,
            "CREATE TABLE u(a STRING, ts TIMESTAMP) TIMESTAMP(ts) "
            "DEDUP UPSERT KEYS(a)",
            {"u": str(tmp_path / "u")},
        )


def test_corrupt_footer_is_not_an_empty_table(spark, tmp_path):
    """A dedup table whose only part file has a corrupt footer is not an
    empty table: the INSERT raises instead of appending without dedup,
    and a column-list CREATE over the directory raises instead of
    claiming it. A directory holding no parquet files stays empty."""
    import os

    from questdb_etl_jobs_spark.plans.designated import (
        TABLE_META_FILE,
        read_table_meta,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t"), "u": str(tmp_path / "u")}

    def corrupt_dedup_table(name):
        questdb_ddl(
            spark,
            f"CREATE TABLE {name}(sym SYMBOL, v INT, ts TIMESTAMP) "
            "TIMESTAMP(ts) DEDUP UPSERT KEYS(ts, sym)",
            tables,
        )
        questdb_ddl(
            spark,
            f"INSERT INTO {name}(sym, v, ts) VALUES "
            "('a', 1, TIMESTAMP '2024-01-01 00:00:00')",
            tables,
        )
        parts = list((tmp_path / name).glob("ts_pdate=*/*.parquet"))
        assert len(parts) == 1
        parts[0].write_bytes(b"not a parquet file")
        # Drop the checksum sidecar so the read fails on the footer.
        (parts[0].parent / f".{parts[0].name}.crc").unlink()
        return parts

    parts = corrupt_dedup_table("t")
    with pytest.raises(Exception, match="not a Parquet file"):
        questdb_ddl(
            spark,
            "INSERT INTO t(sym, v, ts) VALUES "
            "('a', 2, TIMESTAMP '2024-01-01 00:00:00')",
            tables,
        )
    assert list((tmp_path / "t").glob("ts_pdate=*/*.parquet")) == parts

    corrupt_dedup_table("u")
    os.remove(tmp_path / "u" / TABLE_META_FILE)
    with pytest.raises(Exception, match="not a Parquet file"):
        questdb_ddl(
            spark,
            "CREATE TABLE u(sym SYMBOL, v INT, ts TIMESTAMP) TIMESTAMP(ts)",
            tables,
        )
    assert read_table_meta(spark, tables["u"]) is None

    # No parquet files at all (every partition dropped) is still empty.
    os.remove(parts[0])
    os.remove(tmp_path / "t" / TABLE_META_FILE)
    assert questdb_ddl(
        spark,
        "CREATE TABLE t(sym SYMBOL, v INT, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    ) == []


def test_alter_drop_column_and_dedup_toggle_guards(spark, tmp_path):
    """DROP COLUMN refuses the designated timestamp and declared dedup
    keys; DEDUP ENABLE validates its key list like CREATE; DISABLE
    clears the declaration so INSERTs append again."""
    from questdb_etl_jobs_spark.plans.designated import read_table_meta
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    questdb_ddl(
        spark,
        "CREATE TABLE t(sym SYMBOL, v INT, ts TIMESTAMP) TIMESTAMP(ts) "
        "DEDUP UPSERT KEYS(ts, sym)",
        tables,
    )
    with pytest.raises(QuestDBSQLError, match="designated timestamp"):
        questdb_ddl(spark, "ALTER TABLE t DROP COLUMN ts", tables)
    with pytest.raises(QuestDBSQLError, match="DEDUP UPSERT key"):
        questdb_ddl(spark, "ALTER TABLE t DROP COLUMN sym", tables)
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        questdb_ddl(spark, "ALTER TABLE t DROP COLUMN ghost", tables)
    questdb_ddl(spark, "ALTER TABLE t DEDUP DISABLE", tables)
    assert "dedup_keys" not in read_table_meta(spark, tables["t"])
    questdb_ddl(spark, "ALTER TABLE t DROP COLUMN sym", tables)  # now ok
    with pytest.raises(QuestDBSQLError, match="undeclared"):
        questdb_ddl(
            spark, "ALTER TABLE t DEDUP ENABLE UPSERT KEYS(ts, sym)",
            tables,  # sym was just dropped
        )
    with pytest.raises(QuestDBSQLError, match="must include the designated"):
        questdb_ddl(
            spark, "ALTER TABLE t DEDUP ENABLE UPSERT KEYS(v)", tables
        )
    questdb_ddl(spark, "ALTER TABLE t DEDUP ENABLE UPSERT KEYS(ts, v)", tables)
    assert read_table_meta(spark, tables["t"])["dedup_keys"] == ["ts", "v"]


def test_declared_type_map_round_trips_every_questdb_type(spark, tmp_path):
    """Every QuestDB type the CREATE parser accepts must round-trip:
    declared type → SHOW COLUMNS listing → a typed INSERT → read-back
    Spark dtype (the q182 SHOW COLUMNS map run in reverse and forward
    again). Values survive the trip for every column."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import (
        _QDB_TO_SPARK_TYPE,
        questdb_ddl,
        questdb_show,
    )

    decls = ", ".join(
        f"c_{q.lower()} {q}" for q in sorted(_QDB_TO_SPARK_TYPE)
        if q != "TIMESTAMP"
    )
    tables = {"t": str(tmp_path / "t")}
    questdb_ddl(
        spark,
        f"CREATE TABLE t({decls}, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    )
    listed = {
        r.column_name: r.column_type
        for r in questdb_show(
            spark, "SHOW COLUMNS FROM t", tables
        ).collect()
    }
    for q in _QDB_TO_SPARK_TYPE:
        if q == "TIMESTAMP":
            continue
        assert listed[f"c_{q.lower()}"] == q, q
    sample = {
        "BINARY": "CAST('ab' AS BINARY)",
        "BOOLEAN": "TRUE",
        "BYTE": "7",
        "CHAR": "'c'",
        "DATE": "DATE '2024-01-02'",
        "DOUBLE": "1.5",
        "FLOAT": "2.5",
        "INT": "42",
        "IPV4": "'10.0.0.1'",
        "LONG": "123456789012",
        "LONG256": "'0xabc'",
        "SHORT": "12",
        "STRING": "'s'",
        "SYMBOL": "'sym'",
        "UUID": "'9f9b2131-0000-0000-0000-000000000000'",
        "VARCHAR": "'v'",
    }
    cols = ", ".join(
        f"c_{q.lower()}" for q in sorted(_QDB_TO_SPARK_TYPE)
        if q != "TIMESTAMP"
    )
    vals = ", ".join(
        sample[q] for q in sorted(_QDB_TO_SPARK_TYPE) if q != "TIMESTAMP"
    )
    questdb_ddl(
        spark,
        f"INSERT INTO t({cols}, ts) VALUES"
        f"({vals}, TIMESTAMP '2024-01-02 03:04:05')",
        tables,
    )
    got = register_designated_table(spark, "t", tables["t"])
    dtypes = dict(got.dtypes)
    for q, s in _QDB_TO_SPARK_TYPE.items():
        if q == "TIMESTAMP":
            continue
        assert dtypes[f"c_{q.lower()}"] == s, (q, s, dtypes)
    row = got.collect()[0]
    assert (row.c_int, row.c_long, row.c_short, row.c_byte) == (
        42, 123456789012, 12, 7,
    )
    assert (row.c_double, row.c_float) == (1.5, 2.5)
    assert (row.c_string, row.c_symbol, row.c_char, row.c_varchar) == (
        "s", "sym", "c", "v",
    )
    assert row.c_boolean is True and bytes(row.c_binary) == b"ab"
    assert row.c_date.isoformat() == "2024-01-02"
    assert row.ts.isoformat() == "2024-01-02T03:04:05"


def test_rename_table_moves_the_directory(spark, tmp_path):
    """RENAME TABLE is a directory move: the destination serves the
    data and the declared schema; renaming a missing table or onto an
    occupied destination raises."""
    from questdb_etl_jobs_spark.plans.designated import (
        read_table_meta,
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"a": str(tmp_path / "a"), "b": str(tmp_path / "b")}
    questdb_ddl(
        spark, "CREATE TABLE a(v INT, ts TIMESTAMP) TIMESTAMP(ts)", tables
    )
    questdb_ddl(
        spark,
        "INSERT INTO a(v, ts) VALUES(1, TIMESTAMP '2024-01-01 00:00:00')",
        tables,
    )
    assert questdb_ddl(spark, "RENAME TABLE a TO b", tables) == []
    assert read_table_meta(spark, tables["b"]) is not None
    got = register_designated_table(spark, "b", tables["b"]).collect()
    assert [(r.v,) for r in got] == [(1,)]
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        questdb_ddl(spark, "RENAME TABLE a TO b", tables)
    questdb_ddl(
        spark, "CREATE TABLE a(v INT, ts TIMESTAMP) TIMESTAMP(ts)", tables
    )
    with pytest.raises(QuestDBSQLError, match="already exists"):
        questdb_ddl(spark, "RENAME TABLE a TO b", tables)


def test_update_is_partition_scoped(spark, tmp_path):
    """UPDATE rewrites ONLY the date partitions holding matching rows:
    the untouched partition's parquet files are byte-identical
    afterwards (same file names — a rewrite would replace them), the
    returned dates name exactly the touched partitions, and a no-match
    UPDATE returns [] without writing anything."""
    import os

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    questdb_ddl(
        spark,
        "CREATE TABLE t(sym SYMBOL, v INT, note STRING, ts TIMESTAMP) "
        "TIMESTAMP(ts)",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO t(sym, v, note, ts) VALUES "
        "('a', 1, 'x', TIMESTAMP '2024-07-01 08:00:00'), "
        "('b', 2, 'y', TIMESTAMP '2024-07-02 09:00:00'), "
        "('c', 3, 'z', TIMESTAMP '2024-07-02 10:00:00')",
        tables,
    )

    def files(date):
        d = tmp_path / "t" / f"ts_pdate={date}"
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )

    before_0701 = files("2024-07-01")
    touched = questdb_ddl(
        spark,
        "UPDATE t SET v = v * 10, note = to_uppercase(note) "
        "WHERE ts IN '2024-07-02'",
        tables,
    )
    assert touched == ["2024-07-02"]
    assert files("2024-07-01") == before_0701  # never read or rewritten
    got = (
        register_designated_table(spark, "t", tables["t"])
        .orderBy("ts")
        .collect()
    )
    assert [(r.sym, r.v, r.note) for r in got] == [
        ("a", 1, "x"),
        ("b", 20, "Y"),
        ("c", 30, "Z"),
    ]
    # No-match predicate: nothing returned, nothing written.
    before_all = (files("2024-07-01"), files("2024-07-02"))
    assert (
        questdb_ddl(spark, "UPDATE t SET v = 0 WHERE sym = 'zzz'", tables)
        == []
    )
    assert (files("2024-07-01"), files("2024-07-02")) == before_all
    # A NULL predicate row is untouched (SQL semantics), and an
    # assignment casts to the declared column type.
    questdb_ddl(
        spark,
        "INSERT INTO t(sym, ts) VALUES "
        "('d', TIMESTAMP '2024-07-03 11:00:00')",
        tables,
    )
    questdb_ddl(spark, "UPDATE t SET v = 7.9 WHERE v IS NULL", tables)
    got = {
        r.sym: r.v
        for r in register_designated_table(
            spark, "t", tables["t"]
        ).collect()
    }
    assert got["d"] == 7  # 7.9 cast to the declared INT
    assert got["a"] == 1


def test_update_guards(spark, tmp_path):
    """UPDATE refuses the designated timestamp (QuestDB's rule; it also
    keys the layout), unknown columns, and missing tables — loudly."""
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t"), "ghost": str(tmp_path / "ghost")}
    questdb_ddl(
        spark, "CREATE TABLE t(v INT, ts TIMESTAMP) TIMESTAMP(ts)", tables
    )
    questdb_ddl(
        spark,
        "INSERT INTO t(v, ts) VALUES (1, TIMESTAMP '2024-01-01 00:00:00')",
        tables,
    )
    with pytest.raises(QuestDBSQLError, match="designated timestamp"):
        questdb_ddl(
            spark, "UPDATE t SET ts = TIMESTAMP '2024-01-02'", tables
        )
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        questdb_ddl(spark, "UPDATE t SET nope = 1", tables)
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        questdb_ddl(spark, "UPDATE ghost SET v = 1", tables)
    with pytest.raises(QuestDBSQLError, match="assignment"):
        questdb_ddl(spark, "UPDATE t SET 1 + 1 WHERE v = 1", tables)


def test_rename_column_is_declaration_level(spark, tmp_path):
    """RENAME COLUMN never rewrites data: the physical files keep the
    original column name (checked via footer inference), reads serve
    the new declared name for old AND new rows, dedup keys follow the
    rename, and the guards raise (designated ts, existing name,
    missing column)."""
    from questdb_etl_jobs_spark.plans.designated import (
        read_table_meta,
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"u": str(tmp_path / "u")}
    questdb_ddl(
        spark,
        "CREATE TABLE u(sym SYMBOL, px DOUBLE, ts TIMESTAMP) "
        "TIMESTAMP(ts) WAL DEDUP UPSERT KEYS(ts, sym)",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO u(sym, px, ts) VALUES "
        "('A', 1.0, TIMESTAMP '2024-06-01 10:00:00')",
        tables,
    )
    assert (
        questdb_ddl(spark, "ALTER TABLE u RENAME COLUMN sym TO ticker",
                    tables)
        == []
    )
    # Physical files still carry 'sym' (no rewrite happened)…
    physical = spark.read.parquet(tables["u"]).columns
    assert "sym" in physical and "ticker" not in physical
    # …but the declared read serves 'ticker', and the dedup key moved
    # with the rename: re-stating (ts, ticker='A') REPLACES.
    meta = read_table_meta(spark, tables["u"])
    assert meta["dedup_keys"] == ["ts", "ticker"]
    questdb_ddl(
        spark,
        "INSERT INTO u(ticker, px, ts) VALUES "
        "('A', 9.0, TIMESTAMP '2024-06-01 10:00:00'), "
        "('B', 2.0, TIMESTAMP '2024-06-01 10:00:00')",
        tables,
    )
    got = (
        register_designated_table(spark, "u", tables["u"])
        .orderBy("ticker")
        .collect()
    )
    assert [(r.ticker, r.px) for r in got] == [("A", 9.0), ("B", 2.0)]
    # Guards.
    with pytest.raises(QuestDBSQLError, match="designated timestamp"):
        questdb_ddl(spark, "ALTER TABLE u RENAME COLUMN ts TO t2", tables)
    with pytest.raises(QuestDBSQLError, match="already exists"):
        questdb_ddl(spark, "ALTER TABLE u RENAME COLUMN px TO ticker",
                    tables)
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        questdb_ddl(spark, "ALTER TABLE u RENAME COLUMN gone TO x", tables)
    # UPDATE targets the declared name, lands in the stored column.
    questdb_ddl(
        spark, "UPDATE u SET px = 0.0 WHERE ticker = 'B'", tables
    )
    got = {
        r.ticker: r.px
        for r in register_designated_table(
            spark, "u", tables["u"]
        ).collect()
    }
    assert got == {"A": 9.0, "B": 0.0}


def test_add_column_reusing_vacated_name_gets_fresh_storage(
    spark, tmp_path
):
    """Rename a→b then ADD COLUMN a: the newcomer must not collide with
    the vacated name still living in the old files — it stores under a
    fresh physical name and reads back correctly on both old and new
    rows."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    questdb_ddl(
        spark,
        "CREATE TABLE t(note STRING, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO t(note, ts) VALUES "
        "('old', TIMESTAMP '2024-07-01 08:00:00')",
        tables,
    )
    questdb_ddl(spark, "ALTER TABLE t RENAME COLUMN note TO label", tables)
    questdb_ddl(spark, "ALTER TABLE t ADD COLUMN note DOUBLE", tables)
    questdb_ddl(
        spark,
        "INSERT INTO t(label, note, ts) VALUES "
        "('new', 1.5, TIMESTAMP '2024-07-02 09:00:00')",
        tables,
    )
    got = (
        register_designated_table(spark, "t", tables["t"])
        .orderBy("ts")
        .collect()
    )
    assert [(r.label, r.note) for r in got] == [("old", None), ("new", 1.5)]


def test_detach_attach_partitions(spark, tmp_path):
    """DETACH hides whole partitions from every read (directory move
    into .detached/, no data touched), ATTACH restores them, both raise
    on missing/occupied targets, and list_detached_partitions shows the
    parked set."""
    from questdb_etl_jobs_spark.plans.designated import (
        list_detached_partitions,
        list_partitions,
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    questdb_ddl(
        spark, "CREATE TABLE t(v INT, ts TIMESTAMP) TIMESTAMP(ts)", tables
    )
    questdb_ddl(
        spark,
        "INSERT INTO t(v, ts) VALUES "
        "(1, TIMESTAMP '2024-07-01 08:00:00'), "
        "(2, TIMESTAMP '2024-07-02 09:00:00'), "
        "(3, TIMESTAMP '2024-07-03 10:00:00')",
        tables,
    )
    moved = questdb_ddl(
        spark,
        "ALTER TABLE t DETACH PARTITION LIST '2024-07-01', '2024-07-03'",
        tables,
    )
    assert moved == ["2024-07-01", "2024-07-03"]
    assert list_partitions(spark, tables["t"], "ts") == ["2024-07-02"]
    assert list_detached_partitions(spark, tables["t"], "ts") == [
        "2024-07-01",
        "2024-07-03",
    ]
    got = register_designated_table(spark, "t", tables["t"]).collect()
    assert [r.v for r in got] == [2]
    # SHOW PARTITIONS marks the parked rows attached=false, with their
    # bounds read from the detached directory (QuestDB lists detached
    # partitions in the same statement).
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    listing = questdb_show(
        spark, "SHOW PARTITIONS FROM t", tables
    ).collect()
    assert [(r.name, r.attached, r.num_rows) for r in listing] == [
        ("2024-07-01", False, 1),
        ("2024-07-02", True, 1),
        ("2024-07-03", False, 1),
    ]
    # Re-detaching a parked date raises; detaching a missing one raises.
    with pytest.raises(QuestDBSQLError, match="not present"):
        questdb_ddl(
            spark, "ALTER TABLE t DETACH PARTITION LIST '2024-07-01'",
            tables,
        )
    with pytest.raises(QuestDBSQLError, match="not present"):
        questdb_ddl(
            spark, "ALTER TABLE t DETACH PARTITION LIST '2099-01-01'",
            tables,
        )
    back = questdb_ddl(
        spark, "ALTER TABLE t ATTACH PARTITION LIST '2024-07-01'", tables
    )
    assert back == ["2024-07-01"]
    got = (
        register_designated_table(spark, "t", tables["t"])
        .orderBy("ts")
        .collect()
    )
    assert [r.v for r in got] == [1, 2]
    with pytest.raises(QuestDBSQLError, match="nothing detached"):
        questdb_ddl(
            spark, "ALTER TABLE t ATTACH PARTITION LIST '2024-07-02'",
            tables,
        )
    with pytest.raises(QuestDBSQLError, match="not YYYY-MM-DD"):
        questdb_ddl(
            spark, "ALTER TABLE t DETACH PARTITION LIST 'yesterday'",
            tables,
        )


def test_string_and_rounding_scalar_rewrites(spark):
    """The QuestDB string/rounding scalar spellings Spark lacks:
    strpos → instr, to_lowercase/to_uppercase → lower/upper,
    round_half_even → bround, round_down/round_up → sign-aware
    power-of-10 folds (toward/away from zero, negative scales
    included). String literals are never rewritten."""
    from questdb_etl_jobs_spark.sql.dialect import rewrite_questdb_scalars

    row = spark.sql(
        rewrite_questdb_scalars(
            "SELECT strpos('questdb', 'st') AS p, "
            "strpos('questdb', 'zz') AS p0, "
            "to_lowercase('AbC') AS lo, to_uppercase('AbC') AS up, "
            "round_half_even(2.5, 0) AS he1, "
            "round_half_even(3.5, 0) AS he2, "
            "round_down(2.56, 1) AS rd, round_down(-2.56, 1) AS rdn, "
            "round_up(2.51, 1) AS ru, round_up(-2.51, 1) AS run, "
            "round_down(1234.0, -2) AS rneg, round_up(1201.0, -2) AS runeg"
        )
    ).collect()[0]
    assert (row.p, row.p0, row.lo, row.up) == (4, 0, "abc", "ABC")
    assert (row.he1, row.he2) == (2.0, 4.0)
    assert (row.rd, row.rdn) == (2.5, -2.5)
    assert (row.ru, row.run) == (2.6, -2.6)
    assert (row.rneg, row.runeg) == (1200.0, 1300.0)
    # Literal text is untouched; Spark's own spellings pass through.
    assert rewrite_questdb_scalars(
        "SELECT 'strpos(a, b)' AS s"
    ) == "SELECT 'strpos(a, b)' AS s"
    assert "lower(x)" in rewrite_questdb_scalars("SELECT to_lowercase(x)")


def test_vacuum_table_compacts_in_place(spark, tmp_path):
    """VACUUM TABLE compacts every partition directory to ONE
    time-sorted file without changing contents: the micro-batch append
    debt (one file per INSERT per day) collapses, the declared-schema
    sidecar survives, a column ADDed after early files were written
    keeps its values (the compaction reads the DECLARED schema, not a
    sampled footer), and detached partitions ride through untouched."""
    import glob

    from questdb_etl_jobs_spark.plans.designated import (
        list_detached_partitions,
        read_table_meta,
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl("CREATE TABLE t(v INT, ts TIMESTAMP) TIMESTAMP(ts)")
    for i in range(3):
        ddl(
            f"INSERT INTO t(v, ts) VALUES "
            f"({i}, TIMESTAMP '2024-07-01 0{i}:00:00'), "
            f"({i + 10}, TIMESTAMP '2024-07-02 0{i}:00:00')"
        )
    ddl("ALTER TABLE t ADD COLUMN extra DOUBLE")
    ddl(
        "INSERT INTO t(v, extra, ts) VALUES "
        "(99, 9.9, TIMESTAMP '2024-07-01 09:00:00')"
    )
    ddl("ALTER TABLE t DETACH PARTITION LIST '2024-07-02'")

    day1 = str(tmp_path / "t" / "ts_pdate=2024-07-01" / "*.parquet")
    assert len(glob.glob(day1)) == 4  # one file per micro-append
    assert ddl("VACUUM TABLE t") == ["2024-07-01"]
    assert len(glob.glob(day1)) == 1  # compacted
    got = (
        register_designated_table(spark, "t", tables["t"])
        .orderBy("ts")
        .collect()
    )
    assert [(r.v, r.extra) for r in got] == [
        (0, None), (1, None), (2, None), (99, 9.9),
    ]
    # In-file time order (the storage convention's contract).
    raw = spark.read.parquet(glob.glob(day1)[0]).collect()
    assert [r.v for r in raw] == [0, 1, 2, 99]
    assert read_table_meta(spark, tables["t"]) is not None
    assert list_detached_partitions(spark, tables["t"], "ts") == [
        "2024-07-02"
    ]
    ddl("ALTER TABLE t ATTACH PARTITION LIST '2024-07-02'")
    assert register_designated_table(spark, "t", tables["t"]).count() == 7
    # Missing table raises; empty table is a no-op [].
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        questdb_ddl(spark, "VACUUM TABLE ghost", {"ghost": str(tmp_path / "g")})
    tables["e"] = str(tmp_path / "e")
    ddl2 = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl2("CREATE TABLE e(v INT, ts TIMESTAMP) TIMESTAMP(ts)")
    assert ddl2("VACUUM TABLE e") == []


def test_limit_negative_range_tail_slice(spark):
    """QuestDB negative LIMIT ranges slice python-style from the END:
    LIMIT -5,-3 is rows[-5:-3] of the result order — bounded work (the
    tail take is a TakeOrdered of |lo| rows), short tables clamp at the
    start, and mixed-sign bounds refuse loudly (they would need a full
    count)."""
    rows = [(i, float(i)) for i in range(1, 11)]
    spark.createDataFrame(rows, "k int, v double").createOrReplaceTempView(
        "__neg_lim"
    )
    q = "SELECT k, v FROM __neg_lim ORDER BY k LIMIT -5, -3"
    assert [r.k for r in questdb_sql(spark, q).collect()] == [6, 7]
    q = "SELECT k, v FROM __neg_lim ORDER BY k DESC LIMIT -3, -1"
    assert [r.k for r in questdb_sql(spark, q).collect()] == [3, 2]
    # Short table: rows[-5:-3] of 4 rows = rows[0:1].
    spark.createDataFrame(rows[:4], "k int, v double").createOrReplaceTempView(
        "__neg_lim4"
    )
    q = "SELECT k, v FROM __neg_lim4 ORDER BY k LIMIT -5, -3"
    assert [r.k for r in questdb_sql(spark, q).collect()] == [1]
    with pytest.raises(QuestDBSQLError, match="LIMIT range"):
        questdb_sql(
            spark, "SELECT k, v FROM __neg_lim ORDER BY k LIMIT -5, 3"
        )


def test_update_from_join_update(spark, tmp_path):
    """UPDATE … FROM joins the source on the WHERE predicate: matched
    rows take the source-referencing expressions, unmatched rows are
    untouched, only matched date partitions rewrite, and a target row
    matching more than one source row raises (which match wins would
    be arrival-order luck)."""
    import os

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"spreads": str(tmp_path / "spreads")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl(
        "CREATE TABLE spreads(sym SYMBOL, spread DOUBLE, ts TIMESTAMP) "
        "TIMESTAMP(ts)"
    )
    ddl(
        "INSERT INTO spreads(sym, spread, ts) VALUES "
        "('A', 0.0, TIMESTAMP '2024-06-01 10:00:00'), "
        "('B', 0.0, TIMESTAMP '2024-06-01 10:00:00'), "
        "('C', 0.0, TIMESTAMP '2024-06-02 11:00:00'), "
        "('D', 0.0, TIMESTAMP '2024-06-03 12:00:00')"
    )
    spark.sql(
        "SELECT * FROM VALUES "
        "('A', TIMESTAMP '2024-06-01 10:00:00', 10.0, 9.0), "
        "('C', TIMESTAMP '2024-06-02 11:00:00', 5.0, 4.5) "
        "AS p(sym, ts, ask, bid)"
    ).createOrReplaceTempView("__uf_prices")

    def files(date):
        d = tmp_path / "spreads" / f"ts_pdate={date}"
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    before_0603 = files("2024-06-03")
    touched = ddl(
        "UPDATE spreads s SET spread = p.ask - p.bid FROM __uf_prices p "
        "WHERE s.ts = p.ts AND s.sym = p.sym"
    )
    assert touched == ["2024-06-01", "2024-06-02"]
    assert files("2024-06-03") == before_0603  # unmatched day untouched
    got = {
        r.sym: r.spread
        for r in register_designated_table(
            spark, "spreads", tables["spreads"]
        ).collect()
    }
    assert got == {"A": 1.0, "B": 0.0, "C": 0.5, "D": 0.0}
    # Ambiguous source → loud error, no partial write.
    spark.sql(
        "SELECT * FROM VALUES "
        "('A', TIMESTAMP '2024-06-01 10:00:00', 1.0), "
        "('A', TIMESTAMP '2024-06-01 10:00:00', 2.0) AS p(sym, ts, ask)"
    ).createOrReplaceTempView("__uf_dupes")
    with pytest.raises(QuestDBSQLError, match="ambiguous"):
        ddl(
            "UPDATE spreads s SET spread = p.ask FROM __uf_dupes p "
            "WHERE s.sym = p.sym AND s.ts = p.ts"
        )
    got2 = {
        r.sym: r.spread
        for r in register_designated_table(
            spark, "spreads", tables["spreads"]
        ).collect()
    }
    assert got2 == got  # nothing changed
    with pytest.raises(QuestDBSQLError, match="designated timestamp"):
        ddl(
            "UPDATE spreads s SET ts = p.ts FROM __uf_prices p "
            "WHERE s.sym = p.sym"
        )
    with pytest.raises(QuestDBSQLError, match="neither a mapped table"):
        ddl(
            "UPDATE spreads s SET spread = 1.0 FROM __uf_ghost p "
            "WHERE s.sym = p.sym"
        )


def test_copy_from_csv_import(spark, tmp_path):
    """COPY t FROM '<csv>' lands through the same insert path as every
    DML: HEADER true matches by name, the headerless form by position,
    FORMAT applies the QuestDB timestamp pattern (bare T quoted), a
    declared DEDUP table dedups its import, malformed designated
    timestamps abort with a typed error, and unknown options refuse."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t"), "d": str(tmp_path / "d")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl("CREATE TABLE t(sym SYMBOL, v INT, ts TIMESTAMP) TIMESTAMP(ts)")
    f1 = tmp_path / "in.csv"
    f1.write_text(
        "v,ts,sym\n"  # header order differs from declaration on purpose
        "1,2024-07-01T08:00:00.123456,A\n"
        "2,2024-07-02T09:30:00.000001,B\n"
    )
    assert ddl(
        f"COPY t FROM '{f1}' WITH HEADER true "
        "FORMAT 'yyyy-MM-ddTHH:mm:ss.SSSSSS'"
    ) == ["2024-07-01", "2024-07-02"]
    got = (
        register_designated_table(spark, "t", tables["t"])
        .orderBy("ts")
        .collect()
    )
    assert [(r.sym, r.v, r.ts.microsecond) for r in got] == [
        ("A", 1, 123456), ("B", 2, 1),
    ]
    # Headerless positional + declared dedup: the import dedups.
    ddl(
        "CREATE TABLE d(sym SYMBOL, v INT, ts TIMESTAMP) TIMESTAMP(ts) "
        "WAL DEDUP UPSERT KEYS(ts, sym)"
    )
    f2 = tmp_path / "in2.csv"
    f2.write_text(
        "A,1,2024-07-01T08:00:00\n"
        "A,9,2024-07-01T08:00:00\n"
        "C,3,2024-07-03T10:00:00\n"
    )
    ddl(f"COPY d FROM '{f2}' FORMAT 'yyyy-MM-ddTHH:mm:ss'")
    got = sorted(
        (r.sym, r.v)
        for r in register_designated_table(
            spark, "d", tables["d"]
        ).collect()
    )
    assert got == [("A", 9), ("C", 3)]
    # Abort semantics + option guards.
    bad = tmp_path / "bad.csv"
    bad.write_text("X,5,not-a-time\n")
    with pytest.raises(QuestDBSQLError, match="null/unparsable"):
        ddl(f"COPY d FROM '{bad}' FORMAT 'yyyy-MM-ddTHH:mm:ss'")
    with pytest.raises(QuestDBSQLError, match="unsupported COPY option"):
        ddl(f"COPY d FROM '{f2}' WITH DELIMITER ';'")
    with pytest.raises(QuestDBSQLError, match="lacks declared"):
        f3 = tmp_path / "short.csv"
        f3.write_text("sym,ts\nA,2024-07-01T08:00:00\n")
        ddl(f"COPY t FROM '{f3}' WITH HEADER true")
    with pytest.raises(QuestDBSQLError, match="headerless CSV has"):
        f4 = tmp_path / "wide.csv"
        f4.write_text("A,1,2,2024-07-01T08:00:00\n")
        ddl(f"COPY d FROM '{f4}'")


def test_show_create_table_round_trips(spark, tmp_path):
    """SHOW CREATE TABLE reconstructs a re-runnable declaration from
    the catalog: declared order and QuestDB type names, the designated
    clause, the DEDUP declaration when present — and the emitted DDL
    actually re-creates an equivalent table through questdb_ddl."""
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl, questdb_show

    tables = {"trades": str(tmp_path / "trades"),
              "trades2": str(tmp_path / "trades2")}
    questdb_ddl(
        spark,
        "CREATE TABLE trades(sym SYMBOL, price DOUBLE, qty INT, "
        "ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY WAL "
        "DEDUP UPSERT KEYS(ts, sym)",
        tables,
    )
    questdb_ddl(spark, "ALTER TABLE trades RENAME COLUMN qty TO volume",
                tables)
    out = questdb_show(
        spark, "SHOW CREATE TABLE trades", tables
    ).collect()
    assert len(out) == 1
    ddl = out[0].ddl
    assert ddl == (
        "CREATE TABLE trades (sym SYMBOL, price DOUBLE, volume INT, "
        "ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY "
        "WAL DEDUP UPSERT KEYS(ts, sym)"
    )
    # Re-runnable: the emitted DDL creates an equivalent table.
    questdb_ddl(spark, ddl.replace("trades", "trades2", 1), tables)
    cols = questdb_show(
        spark, "SHOW COLUMNS FROM trades2", tables
    ).collect()
    assert [(c.column_name, c.column_type) for c in cols] == [
        ("sym", "SYMBOL"), ("price", "DOUBLE"), ("volume", "INT"),
        ("ts", "TIMESTAMP"),
    ]


def test_explain_shows_the_lowered_physical_plan(spark, trades):
    """EXPLAIN returns one row per plan line of the LOWERED query —
    what Spark will actually run: a LATEST ON explains to the map-side
    WindowGroupLimit face, an interval search shows its pushed
    time-range filters, and plain standard SQL explains too."""
    rows = questdb_sql(
        spark,
        "EXPLAIN SELECT * FROM trades LATEST ON ts PARTITION BY sym",
        {"trades": "ts"},
    ).collect()
    plan = "\n".join(r.query_plan for r in rows)
    assert "WindowGroupLimit" in plan
    rows = questdb_sql(
        spark,
        "EXPLAIN SELECT price FROM trades WHERE ts IN '2024-01-01'",
        {"trades": "ts"},
    ).collect()
    plan = "\n".join(r.query_plan for r in rows)
    assert "Filter" in plan and "2024-01-0" in plan
    rows = questdb_sql(
        spark, "EXPLAIN SELECT count(*) AS n FROM trades"
    ).collect()
    assert any("Aggregate" in r.query_plan for r in rows)


def test_alter_column_type_rewrites_data(spark, tmp_path):
    """ALTER COLUMN TYPE is an honest data rewrite: the parquet
    physical type changes to match the new declaration (footer
    inference agrees afterwards), values cast with Spark semantics,
    the dedup declaration and renames survive the swap, and the
    guards refuse the designated ts, unknown columns/types, and
    tables with detached partitions."""
    from questdb_etl_jobs_spark.plans.designated import (
        read_table_meta,
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl, questdb_show

    tables = {"t": str(tmp_path / "t")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl(
        "CREATE TABLE t(sym SYMBOL, qty INT, ts TIMESTAMP) TIMESTAMP(ts) "
        "WAL DEDUP UPSERT KEYS(ts, sym)"
    )
    ddl(
        "INSERT INTO t(sym, qty, ts) VALUES "
        "('a', 7, TIMESTAMP '2024-07-01 08:00:00'), "
        "('b', 2, TIMESTAMP '2024-07-02 09:00:00')"
    )
    ddl("ALTER TABLE t RENAME COLUMN qty TO volume")
    assert ddl("ALTER TABLE t ALTER COLUMN volume TYPE DOUBLE") == [
        "2024-07-01", "2024-07-02",
    ]
    # Physical type changed (footer inference, no declared schema).
    phys = {
        f.name: f.dataType.simpleString()
        for f in spark.read.parquet(tables["t"]).schema.fields
    }
    assert phys["qty"] == "double"  # stored name survives, retyped
    got = (
        register_designated_table(spark, "t", tables["t"])
        .orderBy("ts")
        .collect()
    )
    assert [(r.sym, r.volume) for r in got] == [("a", 7.0), ("b", 2.0)]
    cols = questdb_show(spark, "SHOW COLUMNS FROM t", tables).collect()
    assert [(c.column_name, c.column_type) for c in cols] == [
        ("sym", "SYMBOL"), ("volume", "DOUBLE"), ("ts", "TIMESTAMP"),
    ]
    assert read_table_meta(spark, tables["t"])["dedup_keys"] == [
        "ts", "sym",
    ]
    # Dedup still routes after the retype.
    ddl(
        "INSERT INTO t(sym, volume, ts) VALUES "
        "('a', 9.5, TIMESTAMP '2024-07-01 08:00:00')"
    )
    got = {
        r.sym: r.volume
        for r in register_designated_table(
            spark, "t", tables["t"]
        ).collect()
    }
    assert got == {"a": 9.5, "b": 2.0}
    # Guards.
    with pytest.raises(QuestDBSQLError, match="designated timestamp"):
        ddl("ALTER TABLE t ALTER COLUMN ts TYPE LONG")
    with pytest.raises(QuestDBSQLError, match="does not exist"):
        ddl("ALTER TABLE t ALTER COLUMN nope TYPE LONG")
    with pytest.raises(QuestDBSQLError, match="unsupported QuestDB"):
        ddl("ALTER TABLE t ALTER COLUMN volume TYPE BLOB")
    ddl("ALTER TABLE t DETACH PARTITION LIST '2024-07-02'")
    with pytest.raises(QuestDBSQLError, match="detached partitions"):
        ddl("ALTER TABLE t ALTER COLUMN volume TYPE FLOAT")


def test_in_place_rewrite_refuses_crashed_leftovers(spark, tmp_path):
    """The VACUUM/retype swap machinery refuses to run over the debris
    of a crashed previous attempt: a lingering <path>.__old or temp
    sibling raises with a recovery hint BEFORE any data work, so a
    half-committed swap can never be silently buried under a second
    rewrite."""
    import os

    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl("CREATE TABLE t(v INT, ts TIMESTAMP) TIMESTAMP(ts)")
    ddl(
        "INSERT INTO t(v, ts) VALUES (1, TIMESTAMP '2024-07-01 08:00:00')"
    )
    os.makedirs(str(tmp_path / "t.__old"))
    with pytest.raises(IOError, match="crashed mid-swap"):
        ddl("VACUUM TABLE t")
    with pytest.raises(IOError, match="crashed mid-swap"):
        ddl("ALTER TABLE t ALTER COLUMN v TYPE LONG")
    os.rmdir(str(tmp_path / "t.__old"))
    # Recovered: both rewrites run.
    assert ddl("VACUUM TABLE t") == ["2024-07-01"]
    assert ddl("ALTER TABLE t ALTER COLUMN v TYPE LONG") == ["2024-07-01"]


def test_detach_attach_all_or_nothing(spark, tmp_path):
    """DETACH/ATTACH PARTITION LIST validate the ENTIRE date list
    before moving anything: a bad entry late in the list (missing,
    already parked, already live) raises with ZERO partitions moved —
    the statement never leaves the table half-mutated."""
    from questdb_etl_jobs_spark.plans.designated import (
        list_detached_partitions,
        list_partitions,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl("CREATE TABLE t(v INT, ts TIMESTAMP) TIMESTAMP(ts)")
    ddl(
        "INSERT INTO t(v, ts) VALUES "
        "(1, TIMESTAMP '2024-07-01 08:00:00'), "
        "(2, TIMESTAMP '2024-07-02 09:00:00')"
    )
    # Good first date, missing second: the good one must NOT move.
    with pytest.raises(QuestDBSQLError, match="not present"):
        ddl("ALTER TABLE t DETACH PARTITION LIST '2024-07-01', '2099-01-01'")
    assert list_partitions(spark, tables["t"], "ts") == [
        "2024-07-01",
        "2024-07-02",
    ]
    assert list_detached_partitions(spark, tables["t"], "ts") == []
    # Same contract on ATTACH: park one date, then ask for it plus a
    # never-detached one — nothing comes back.
    ddl("ALTER TABLE t DETACH PARTITION LIST '2024-07-01'")
    with pytest.raises(QuestDBSQLError, match="nothing detached"):
        ddl("ALTER TABLE t ATTACH PARTITION LIST '2024-07-01', '2024-07-02'")
    assert list_partitions(spark, tables["t"], "ts") == ["2024-07-02"]
    assert list_detached_partitions(spark, tables["t"], "ts") == [
        "2024-07-01"
    ]


def test_update_from_interval_where(spark, tmp_path):
    """The join-update WHERE runs through the same interval-search
    lowering as plain UPDATE: `s.ts IN '2024-06'` (alias-qualified)
    expands to a half-open range plus the partition-pruning predicate
    instead of failing in Spark's parser, and only the interval's days
    rewrite."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"px": str(tmp_path / "px")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl("CREATE TABLE px(sym SYMBOL, v DOUBLE, ts TIMESTAMP) TIMESTAMP(ts)")
    ddl(
        "INSERT INTO px(sym, v, ts) VALUES "
        "('A', 0.0, TIMESTAMP '2024-06-01 10:00:00'), "
        "('A', 0.0, TIMESTAMP '2024-07-01 10:00:00')"
    )
    spark.sql(
        "SELECT * FROM VALUES ('A', 9.0) AS p(sym, nv)"
    ).createOrReplaceTempView("__uf_iv")
    touched = ddl(
        "UPDATE px s SET v = p.nv FROM __uf_iv p "
        "WHERE s.sym = p.sym AND s.ts IN '2024-06'"
    )
    assert touched == ["2024-06-01"]
    got = {
        str(r.ts): r.v
        for r in register_designated_table(spark, "px", tables["px"])
        .collect()
    }
    assert got == {
        "2024-06-01 10:00:00": 9.0,
        "2024-07-01 10:00:00": 0.0,
    }


def test_negative_limit_tail_tie_determinism(spark, tmp_path):
    """The bare-ts tail slice (negative LIMIT without ORDER BY) breaks
    designated-ts ties with the remaining orderable columns — a total
    order, so which tied rows survive the cut is identical on every
    run and partition layout (QuestDB resolves ties by insertion
    order, which a distributed layout cannot carry; the tiebreak
    contract is documented in the lowering)."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"__neg_tie": str(tmp_path / "t")}
    questdb_ddl(
        spark,
        "CREATE TABLE __neg_tie(sym SYMBOL, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO __neg_tie(sym, ts) VALUES "
        "('A', TIMESTAMP '2024-06-01 10:00:00'), "
        "('D', TIMESTAMP '2024-06-02 10:00:00'), "
        "('B', TIMESTAMP '2024-06-02 10:00:00'), "
        "('C', TIMESTAMP '2024-06-02 10:00:00')",
        tables,
    )
    register_designated_table(spark, "__neg_tie", tables["__neg_tie"])
    # Total order: (ts asc, sym asc) = A, B, C, D. Tail 2 = C, D —
    # stable across repeated runs even though B/C/D tie on ts.
    for _ in range(3):
        got = [
            r.sym
            for r in questdb_sql(
                spark,
                "SELECT sym, ts FROM __neg_tie LIMIT -2",
                {"__neg_tie": "ts"},
            ).collect()
        ]
        assert got == ["C", "D"]
    # Range slice rows[-3:-1] under the same total order = B, C.
    for _ in range(3):
        got = [
            r.sym
            for r in questdb_sql(
                spark,
                "SELECT sym, ts FROM __neg_tie LIMIT -3, -1",
                {"__neg_tie": "ts"},
            ).collect()
        ]
        assert got == ["B", "C"]


def test_update_from_single_touched_read(spark, tmp_path, monkeypatch):
    """The join-update reads the touched day-slice ONCE (round-15): the
    rewrite join is checkpointed in a single pass and the ambiguity
    detection runs over that materialization — every count action in
    the statement executes against the cached checkpoint, never a
    parquet re-scan. (The dates probe stays: a narrow column-pruned
    pass that collects partition DATES, not data.)"""
    # Spark 4 splits the DataFrame API: instances are
    # pyspark.sql.classic.dataframe.DataFrame, which overrides count —
    # the spy must land on the concrete class.
    import pyspark.sql.classic.dataframe as dfmod

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"uf1": str(tmp_path / "uf1")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl("CREATE TABLE uf1(sym SYMBOL, v DOUBLE, ts TIMESTAMP) TIMESTAMP(ts)")
    ddl(
        "INSERT INTO uf1(sym, v, ts) VALUES "
        "('A', 0.0, TIMESTAMP '2024-06-01 10:00:00'), "
        "('B', 0.0, TIMESTAMP '2024-06-02 11:00:00')"
    )
    spark.sql(
        "SELECT * FROM VALUES ('A', 5.0) AS p(sym, nv)"
    ).createOrReplaceTempView("__uf_single")

    count_plans = []
    orig_count = dfmod.DataFrame.count

    def spy(self):
        count_plans.append(
            self._jdf.queryExecution().executedPlan().toString()
        )
        return orig_count(self)

    monkeypatch.setattr(dfmod.DataFrame, "count", spy)
    touched = ddl(
        "UPDATE uf1 s SET v = p.nv FROM __uf_single p WHERE s.sym = p.sym"
    )
    monkeypatch.undo()
    assert touched == ["2024-06-01"]
    assert count_plans, "the ambiguity check must run"
    for p in count_plans:
        assert "parquet" not in p.lower(), (
            "a count action re-scanned parquet instead of the "
            f"checkpoint:\n{p}"
        )
    got = {
        r.sym: r.v
        for r in register_designated_table(
            spark, "uf1", tables["uf1"]
        ).collect()
    }
    assert got == {"A": 5.0, "B": 0.0}


def test_copy_from_on_error_skip_row(spark, tmp_path):
    """COPY … ON ERROR SKIP_ROW: good rows land through the shared
    insert path, offending rows (bad designated ts OR a non-null cell
    the declared type refuses) park as their ORIGINAL strings plus a
    per-column reject_reason in the <path>.__rejects side relation —
    replayable after repair. An empty non-ts cell is a legitimate NULL,
    not an error. SKIP_COLUMN refuses by name; ABORT (default) now
    aborts on ANY bad cell, not just the designated ts."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl("CREATE TABLE t(sym SYMBOL, v INT, ts TIMESTAMP) TIMESTAMP(ts)")
    f = tmp_path / "mixed.csv"
    f.write_text(
        "A,1,2024-07-01T08:00:00\n"       # good
        "B,nope,2024-07-01T09:00:00\n"    # bad v (int refuses 'nope')
        "C,3,not-a-time\n"                # bad designated ts
        "D,,2024-07-02T10:00:00\n"        # empty v = NULL, good
    )
    dates = ddl(
        f"COPY t FROM '{f}' FORMAT 'yyyy-MM-ddTHH:mm:ss' "
        "ON ERROR SKIP_ROW"
    )
    assert dates == ["2024-07-01", "2024-07-02"]
    got = sorted(
        (r.sym, r.v)
        for r in register_designated_table(spark, "t", tables["t"])
        .collect()
    )
    assert got == [("A", 1), ("D", None)]
    rejects = spark.read.parquet(tables["t"] + ".__rejects").collect()
    parked = {r.sym: (r.v, r.ts, r.reject_reason) for r in rejects}
    assert parked == {
        "B": ("nope", "2024-07-01T09:00:00", "v: null/unparsable"),
        "C": ("3", "not-a-time", "ts: null/unparsable"),
    }
    # ABORT (default) refuses the same file — on the non-ts bad cell
    # too, QuestDB's abort-on-any-error contract.
    with pytest.raises(QuestDBSQLError, match="null/unparsable"):
        ddl(f"COPY t FROM '{f}' FORMAT 'yyyy-MM-ddTHH:mm:ss'")
    with pytest.raises(QuestDBSQLError, match="SKIP_COLUMN"):
        ddl(
            f"COPY t FROM '{f}' FORMAT 'yyyy-MM-ddTHH:mm:ss' "
            "ON ERROR SKIP_COLUMN"
        )
    # A second SKIP_ROW import APPENDS to the side relation.
    f2 = tmp_path / "more.csv"
    f2.write_text("E,x,2024-07-03T11:00:00\n")
    ddl(
        f"COPY t FROM '{f2}' FORMAT 'yyyy-MM-ddTHH:mm:ss' "
        "ON ERROR SKIP_ROW"
    )
    assert spark.read.parquet(tables["t"] + ".__rejects").count() == 3


def test_swap_gap_recovery_contract(spark, tmp_path):
    """The VACUUM/retype swap's documented reader-visible gap
    (DEPLOY.md): between the two commit renames the table path does
    not exist. This test pins the CONTRACT around that gap — a crash
    inside it leaves the live tree intact at <path>.__old and the
    rewrite at the temp sibling (nothing lost, reads of the table path
    fail loudly rather than return wrong data), one rename back
    restores the table byte-identically, and the next attempt's
    leftover guard names the recovery."""
    import os

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
    ddl("CREATE TABLE t(v INT, ts TIMESTAMP) TIMESTAMP(ts)")
    ddl(
        "INSERT INTO t(v, ts) VALUES "
        "(1, TIMESTAMP '2024-07-01 08:00:00'), "
        "(2, TIMESTAMP '2024-07-02 09:00:00')"
    )
    before = sorted(
        (r.v, r.ts)
        for r in register_designated_table(spark, "t", tables["t"])
        .collect()
    )
    # Simulate a crash INSIDE the gap: live already moved aside, the
    # rewrite not yet moved in (the temp sibling stands in for it).
    os.rename(tables["t"], tables["t"] + ".__old")
    os.makedirs(tables["t"] + ".__vacuum")
    # The gap is reader-VISIBLE, not reader-corrupting: the path is
    # simply absent.
    with pytest.raises(Exception):
        spark.read.parquet(tables["t"]).collect()
    # The next maintenance attempt refuses with the recovery hint
    # instead of burying the crashed state.
    with pytest.raises(QuestDBSQLError, match="mid-swap.*recover it"):
        ddl("VACUUM TABLE t")
    # Recovery = one rename back; the table is byte-identical.
    os.rmdir(tables["t"] + ".__vacuum")
    os.rename(tables["t"] + ".__old", tables["t"])
    after = sorted(
        (r.v, r.ts)
        for r in register_designated_table(spark, "t", tables["t"])
        .collect()
    )
    assert after == before
    # And maintenance runs clean after recovery.
    assert ddl("VACUUM TABLE t") == ["2024-07-01", "2024-07-02"]


def test_composition_cte_subquery_declare(spark, trades):
    """Round-15 composition pre-pass: QuestDB queries compose dialect
    shapes — SAMPLE BY / LATEST ON inside CTEs and FROM-subqueries,
    DECLARE variables (QuestDB 8) — each fragment lowering recursively.
    A CTE with exactly one timestamp column inherits it as the view's
    designated ts, so SAMPLE BY over a CTE needs no caller plumbing.
    Pure-SQL WITH passes straight to spark.sql; undeclared variables
    raise loudly."""
    # SAMPLE BY inside a CTE, aggregated outside.
    out = questdb_sql(
        spark,
        "WITH hourly AS (SELECT ts, sym, avg(price) p FROM trades "
        "SAMPLE BY 1h) SELECT sym, max(p) AS mp FROM hourly "
        "GROUP BY sym ORDER BY sym",
        {"trades": "ts"},
    ).collect()
    assert [r.sym for r in out] == sorted({r.sym for r in out})
    # LATEST ON inside a FROM-subquery with an alias.
    lat = questdb_sql(
        spark,
        "SELECT l.sym, l.price FROM (SELECT * FROM trades LATEST ON ts "
        "PARTITION BY sym) l ORDER BY l.sym",
        {"trades": "ts"},
    ).collect()
    assert len(lat) == len({r.sym for r in lat})
    # SAMPLE BY over a CTE: the single timestamp column becomes the
    # CTE view's designated ts automatically.
    per_day = questdb_sql(
        spark,
        "WITH f AS (SELECT sym, price, ts FROM trades WHERE price > 0) "
        "SELECT ts, count() AS c FROM f SAMPLE BY 1d ORDER BY ts",
        {"trades": "ts"},
    ).collect()
    assert sum(r.c for r in per_day) == spark.table("trades").count()
    # DECLARE: literals substitute bare (ts IN @day stays an interval
    # search), expressions parenthesize, bindings chain in order.
    one_day = questdb_sql(
        spark,
        "DECLARE @day := '2024-01-01', @cap := 1 + 1 "
        "SELECT sym FROM trades WHERE ts IN @day AND price <= @cap "
        "ORDER BY sym",
        {"trades": "ts"},
    ).collect()
    ref = questdb_sql(
        spark,
        "SELECT sym FROM trades WHERE ts IN '2024-01-01' "
        "AND price <= 2 ORDER BY sym",
        {"trades": "ts"},
    ).collect()
    assert [r.sym for r in one_day] == [r.sym for r in ref]
    with pytest.raises(QuestDBSQLError, match="undeclared variable"):
        questdb_sql(
            spark, "DECLARE @x := 1 SELECT @x + @ghost", {"trades": "ts"}
        )
    with pytest.raises(QuestDBSQLError, match="DECLARE binding"):
        questdb_sql(
            spark, "DECLARE @x = 1 SELECT 1 AS one", {"trades": "ts"}
        )


def test_composition_join_subqueries(spark, trades):
    """JOIN-side subqueries compose too: the pre-pass rewrites one
    subquery per recursion, so QuestDB's classic two-sided as-of
    (`FROM (filtered trades) ASOF JOIN (filtered quotes)`) lowers with
    both sides as recursively-lowered views (unqualified select list —
    the ASOF lowering's existing contract), and a plain JOIN of a
    SAMPLE BY subquery resolves through spark.sql."""
    spark.sql(
        "SELECT * FROM VALUES "
        "('AAA', 0.5, TIMESTAMP '2024-01-01 00:10:00'), "
        "('BBB', 2.5, TIMESTAMP '2024-01-02 03:00:00') "
        "AS q(sym, bid, ts)"
    ).createOrReplaceTempView("__cmp_quotes")
    out = questdb_sql(
        spark,
        "SELECT sym, price, bid FROM "
        "(SELECT sym, price, ts FROM trades WHERE price > 0) t "
        "ASOF JOIN (SELECT sym, bid, ts FROM __cmp_quotes) q "
        "ORDER BY sym, price",
        {"trades": "ts", "__cmp_quotes": "ts"},
    ).collect()
    assert out, "two-sided as-of over subqueries must produce rows"
    # QuestDB's bare ASOF JOIN is KEYLESS (timestamp only): every
    # matched bid is the latest at-or-before quote across the whole
    # quote stream.
    all_quotes = sorted(
        (r2.ts, float(r2.bid))
        for r2 in spark.table("__cmp_quotes").collect()
    )
    trades_rows = {
        (r.sym, float(r.price)): r.ts
        for r in spark.table("trades").collect()
    }
    for r in out:
        t_ts = trades_rows[(r.sym, float(r.price))]
        cands = [b for ts2, b in all_quotes if ts2 <= t_ts]
        expect = cands[-1] if cands else None
        assert (r.bid is None) == (expect is None)
        if expect is not None:
            assert float(r.bid) == float(expect)
    # Plain JOIN of a SAMPLE BY subquery.
    daily = questdb_sql(
        spark,
        "SELECT a.sym, a.n, b.bid FROM "
        "(SELECT sym, count() n, ts FROM trades SAMPLE BY 1d) a "
        "JOIN (SELECT sym, bid, ts FROM __cmp_quotes) b "
        "ON a.sym = b.sym ORDER BY a.sym",
        {"trades": "ts"},
    ).collect()
    assert all(r.n >= 1 for r in daily)


def test_sample_by_computed_group_key(spark, trades):
    """SAMPLE BY groups by computed scalar select expressions too
    (`user_id % 7 AS grp`) — the expression materializes as a column
    before bucketing, behaving exactly like a stored key; without an
    explicit AS alias it refuses loudly."""
    out = questdb_sql(
        spark,
        "SELECT ts, CASE WHEN price > 20 THEN 'hi' ELSE 'lo' END AS band, "
        "count() AS c FROM trades SAMPLE BY 1d ORDER BY ts, band",
        {"trades": "ts"},
    ).collect()
    assert sum(r.c for r in out) == spark.table("trades").count()
    assert {r.band for r in out} <= {"hi", "lo"}
    with pytest.raises(QuestDBSQLError, match="explicit AS alias"):
        questdb_sql(
            spark,
            "SELECT ts, price > 20, count() c FROM trades SAMPLE BY 1d",
            {"trades": "ts"},
        )


def test_composition_union_and_table_alias(spark, trades):
    """UNION [ALL] chains of dialect fragments lower side-by-side and
    fold left-associatively (plain UNION dedups the accumulated
    result); a table alias in a dialect query (`FROM trades t`) aliases
    the frame so qualified references resolve."""
    both = questdb_sql(
        spark,
        "SELECT ts, count() AS c FROM trades SAMPLE BY 1d "
        "UNION ALL SELECT ts, count() AS c FROM trades SAMPLE BY 1d",
        {"trades": "ts"},
    ).collect()
    one = questdb_sql(
        spark,
        "SELECT ts, count() AS c FROM trades SAMPLE BY 1d "
        "UNION SELECT ts, count() AS c FROM trades SAMPLE BY 1d",
        {"trades": "ts"},
    ).collect()
    assert len(both) == 2 * len(one)
    assert sorted(map(tuple, set(map(tuple, both)))) == sorted(
        map(tuple, one)
    )
    aliased = questdb_sql(
        spark,
        "SELECT t.sym, count() AS c FROM trades t SAMPLE BY 1d "
        "ORDER BY 1",
        {"trades": "ts"},
    ).collect()
    assert sum(r.c for r in aliased) == spark.table("trades").count()


def test_bare_table_shorthand_and_having_count(spark, trades):
    """QuestDB's bare-table query shorthand (`trades LATEST ON …` with
    the implicit SELECT * FROM) and bare count() inside HAVING (carried
    through the agg as a hidden row count, dropped after the filter)."""
    lat = questdb_sql(
        spark, "trades LATEST ON ts PARTITION BY sym", {"trades": "ts"}
    ).collect()
    lat2 = questdb_sql(
        spark,
        "SELECT * FROM trades LATEST ON ts PARTITION BY sym",
        {"trades": "ts"},
    ).collect()
    assert sorted(map(tuple, lat)) == sorted(map(tuple, lat2))
    bare = questdb_sql(spark, "trades", {"trades": "ts"}).collect()
    assert len(bare) == spark.table("trades").count()
    seq = questdb_sql(spark, "long_sequence(3)").collect()
    assert [r.x for r in seq] == [1, 2, 3]
    hv = questdb_sql(
        spark,
        "SELECT sym, count() AS c FROM trades GROUP BY sym "
        "HAVING count() > 1 ORDER BY sym",
        {"trades": "ts"},
    ).collect()
    hv_alias = questdb_sql(
        spark,
        "SELECT sym, count() AS c FROM trades GROUP BY sym "
        "HAVING c > 1 ORDER BY sym",
        {"trades": "ts"},
    ).collect()
    assert [tuple(r) for r in hv] == [tuple(r) for r in hv_alias]
    assert all(r.c > 1 for r in hv)
    assert all(len(r) == 2 for r in hv)  # hidden count column dropped


def test_string_literal_backslash_normalization(spark):
    """QuestDB literal semantics through the questdb_sql entry: a
    backslash inside a single-quoted literal is a LITERAL character
    (the round-15 silent-wrong-answer class — Spark's parser would
    otherwise eat it, turning the regex '\\d+' into 'd+')."""
    spark.createDataFrame(
        [("a1b22",), ("nodigits",), ("back\\slash",), ("it's",)],
        "s string",
    ).createOrReplaceTempView("__lit_t")
    # ~ with a regex class: digit-bearing row only.
    got = [
        r.s
        for r in questdb_sql(
            spark, "SELECT s FROM __lit_t WHERE s ~ '\\d+' ORDER BY s"
        ).collect()
    ]
    assert got == ["a1b22"], got
    # !~ is the complement.
    got = [
        r.s
        for r in questdb_sql(
            spark, "SELECT s FROM __lit_t WHERE s !~ '\\d+' ORDER BY s"
        ).collect()
    ]
    assert got == ["back\\slash", "it's", "nodigits"], got
    # A lone-backslash needle — the hypothesis falsifying example: a
    # hard ParseException before the normalization pass existed.
    got = {
        r.s: r.p
        for r in questdb_sql(
            spark, "SELECT s, strpos(s, '\\') AS p FROM __lit_t"
        ).collect()
    }
    assert got == {
        "a1b22": 0, "nodigits": 0, "back\\slash": 5, "it's": 0
    }, got
    # Doubled-quote escape ('') is preserved — both parsers agree.
    got = [
        r.s
        for r in questdb_sql(
            spark, "SELECT s FROM __lit_t WHERE s = 'it''s'"
        ).collect()
    ]
    assert got == ["it's"], got
    # Word-boundary anchors (\b) — another Java-regex class QuestDB
    # users type verbatim.
    got = [
        r.s
        for r in questdb_sql(
            spark, "SELECT s FROM __lit_t WHERE s ~ '\\ba1b\\d+\\b'"
        ).collect()
    ]
    assert got == ["a1b22"], got
    # regexp_replace needle with a backslash class, passthrough route.
    got = [
        r.x
        for r in questdb_sql(
            spark,
            "SELECT regexp_replace(s, '\\d+', '#') AS x "
            "FROM __lit_t ORDER BY x",
        ).collect()
    ]
    assert "a#b#" in got, got
    # An unterminated literal is a clean QuestDBSQLError, not a Spark
    # re-interpretation.
    with pytest.raises(QuestDBSQLError, match="unterminated"):
        questdb_sql(spark, "SELECT s FROM __lit_t WHERE s = 'oops")


def test_declare_binding_with_backslash_pattern(spark):
    """DECLARE bindings whose VALUE contains backslashes substitute
    literally (re.sub replacement-string escaping would corrupt
    '\\d+' into 'd+' or raise 'bad escape')."""
    spark.createDataFrame(
        [("x9",), ("yy",)], "s string"
    ).createOrReplaceTempView("__lit_d")
    got = [
        r.s
        for r in questdb_sql(
            spark,
            "DECLARE @pat := '\\d' "
            "SELECT s FROM __lit_d WHERE s ~ @pat",
        ).collect()
    ]
    assert got == ["x9"], got


def test_declare_list_bindings(spark):
    """QuestDB's documented IN-list DECLARE bindings
    (`@syms := ('a', 'b')` … `sym IN @syms`) substitute WITHOUT an
    extra paren wrap — the wrap made `IN ((…))`, a Spark STRUCT
    comparison that errored for n≥2 and, for n=1, silently collapsed
    to IN-as-equality where the interval-list rewrite should have seen
    the whole day (round-18 probe — the same n=1 class as q226).
    Compound expressions still wrap (precedence safety)."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1) + dt.timedelta(hours=h),
         f"s{h % 3}", float(h))
        for h in range(72)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, sym string, v double"
    ).createOrReplaceTempView("__dl")
    d = {"__dl": "ts"}
    got = questdb_sql(
        spark,
        "DECLARE @ss := ('s0', 's1') "
        "SELECT count() AS n FROM __dl WHERE sym IN @ss",
        d,
    ).collect()
    assert got[0].n == 48, got
    got = questdb_sql(
        spark,
        "DECLARE @days := ('2024-01-01', '2024-01-02') "
        "SELECT count() AS n FROM __dl WHERE ts IN @days",
        d,
    ).collect()
    assert got[0].n == 48, got
    # n=1 list binding: the WHOLE day, not midnight equality.
    got = questdb_sql(
        spark,
        "DECLARE @d := ('2024-01-02') "
        "SELECT count() AS n FROM __dl WHERE ts IN @d",
        d,
    ).collect()
    assert got[0].n == 24, got
    # Compound binding keeps its parens: @x * 2 must be (1 + 2) * 2.
    got = questdb_sql(
        spark,
        "DECLARE @x := 1 + 2 "
        "SELECT count() AS n FROM __dl WHERE v < @x * 2",
        d,
    ).collect()
    assert got[0].n == 6, got


def test_union_trailing_order_by_limit_binds_to_whole_union(
    spark, trades
):
    """SQL/QuestDB bind a trailing ORDER BY / LIMIT to the WHOLE union
    — before round 16 they stayed inside the last fragment, so
    'A UNION ALL B LIMIT 10' silently returned all of A plus 10 of B."""
    n = spark.table("trades").count()
    # LIMIT over the union: 3 rows TOTAL, not len(A)+3 (the interval
    # search marks the text dialect so the union pre-pass engages).
    out = questdb_sql(
        spark,
        "SELECT sym, price FROM trades WHERE ts IN '2024-01' "
        "UNION ALL SELECT sym, price FROM trades LIMIT 3",
        {"trades": "ts"},
    ).collect()
    assert len(out) == 3, len(out)
    # ORDER BY + LIMIT over the union: the global top, from EITHER side.
    top = questdb_sql(
        spark,
        "SELECT sym, price FROM trades WHERE price < 5 "
        "UNION ALL SELECT sym, price * 100 AS price FROM trades "
        "WHERE ts IN '2024-01' "
        "ORDER BY price DESC LIMIT 2",
        {"trades": "ts"},
    ).collect()
    all_prices = sorted(
        (float(r.price * 100) for r in spark.table("trades").collect()),
        reverse=True,
    )
    assert [float(r.price) for r in top] == all_prices[:2]
    # Plain trailing ORDER BY, no LIMIT: sorted union, all rows.
    ordered = questdb_sql(
        spark,
        "SELECT sym FROM trades WHERE ts IN '2024-01' "
        "UNION ALL SELECT sym FROM trades ORDER BY sym",
        {"trades": "ts"},
    ).collect()
    assert len(ordered) == 2 * n
    assert [r.sym for r in ordered] == sorted(r.sym for r in ordered)
    # Tail/range limits after a union refuse loudly.
    with pytest.raises(QuestDBSQLError, match="after a UNION"):
        questdb_sql(
            spark,
            "SELECT sym FROM trades WHERE ts IN '2024-01' "
            "UNION ALL SELECT sym FROM trades LIMIT -3",
            {"trades": "ts"},
        )


def test_union_folds_positionally(spark, trades):
    """SQL unions by POSITION: sides whose select lists alias columns
    differently union under the FIRST side's names (by-name folding
    failed analysis here before round 16); unequal arity refuses."""
    out = questdb_sql(
        spark,
        "SELECT sym AS a, price FROM trades WHERE price <= 1 "
        "UNION ALL SELECT sym AS b, qty * 1.0 AS q FROM trades "
        "WHERE ts IN '2024-01'",
        {"trades": "ts"},
    )
    assert out.columns == ["a", "price"]
    assert out.count() > 0
    with pytest.raises(QuestDBSQLError, match="positional set"):
        questdb_sql(
            spark,
            "SELECT sym, price FROM trades WHERE ts IN '2024-01' "
            "UNION ALL SELECT sym FROM trades",
            {"trades": "ts"},
        )


def test_cte_does_not_shadow_session_views(spark, trades):
    """A CTE named like an existing view no longer hijacks that name
    for the rest of the session: CTEs register under content-derived
    internal names and references rewrite (pre-round-16 the user name
    was replaced and later queries silently read stale CTE data)."""
    spark.createDataFrame(
        [(1, "real")], "id int, tag string"
    ).createOrReplaceTempView("__shadow_t")
    out = questdb_sql(
        spark,
        "WITH __shadow_t AS (SELECT ts, sym, count() AS c FROM trades "
        "SAMPLE BY 1d) SELECT sum(c) AS total FROM __shadow_t",
        {"trades": "ts"},
    ).collect()
    assert out[0].total == spark.table("trades").count()
    # The session view is untouched — NOT serving stale CTE data.
    after = spark.table("__shadow_t").collect()
    assert [(r.id, r.tag) for r in after] == [(1, "real")]


def test_cte_referencing_earlier_cte(spark, trades):
    """A CTE may reference an earlier CTE (QuestDB chains them); the
    pre-pass rewrites the inner reference to the registered internal
    view and the designated-ts inheritance carries through, so a
    SAMPLE BY over the SECOND CTE still works."""
    out = questdb_sql(
        spark,
        "WITH filtered AS (SELECT ts, sym, price FROM trades "
        "WHERE price > 0), "
        "daily AS (SELECT ts, count() AS c FROM filtered SAMPLE BY 1d) "
        "SELECT sum(c) AS total, count() AS days FROM daily",
        {"trades": "ts"},
    ).collect()
    assert out[0].total == spark.table("trades").count()
    assert out[0].days == 2


def test_expression_arg_aggregates(spark, trades):
    """Aggregates whose ARGUMENT is an expression (sum(CASE WHEN …),
    first(price + 1), vwap over exprs, count(DISTINCT x)) lower as
    aggregates — before round 16 they fell through to the computed-
    group-key branch and died in the analyzer."""
    out = questdb_sql(
        spark,
        "SELECT ts, sum(CASE WHEN price > 20 THEN qty ELSE 0 END) AS q "
        "FROM trades SAMPLE BY 1d ORDER BY ts",
        {"trades": "ts"},
    ).collect()
    ref = spark.sql(
        "SELECT date_trunc('day', ts) AS ts, "
        "sum(CASE WHEN price > 20 THEN qty ELSE 0 END) AS q "
        "FROM trades GROUP BY 1 ORDER BY ts"
    ).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in ref]
    grp = questdb_sql(
        spark,
        "SELECT sym, sum(price * qty) AS rev, "
        "count(DISTINCT qty) AS uq FROM trades GROUP BY sym "
        "ORDER BY sym",
        {"trades": "ts"},
    ).collect()
    ref2 = spark.sql(
        "SELECT sym, sum(price * qty) AS rev, count(DISTINCT qty) AS uq "
        "FROM trades GROUP BY sym ORDER BY sym"
    ).collect()
    assert [tuple(r) for r in grp] == [tuple(r) for r in ref2]
    # first/last with expression args stay ts-ordered min_by/max_by.
    fl = questdb_sql(
        spark,
        "SELECT ts, first(price + 100) AS f, last(price * 2) AS l "
        "FROM trades SAMPLE BY 1d ORDER BY ts",
        {"trades": "ts"},
    ).collect()
    ref3 = spark.sql(
        "SELECT date_trunc('day', ts) AS ts, "
        "min_by(price + 100, ts) AS f, max_by(price * 2, ts) AS l "
        "FROM trades GROUP BY 1 ORDER BY ts"
    ).collect()
    assert [tuple(r) for r in fl] == [tuple(r) for r in ref3]


def test_select_distinct_lowering(spark, trades):
    """SELECT DISTINCT over dialect queries: projection paths dedup the
    result; aggregated shapes (SAMPLE BY / GROUP BY) refuse — their
    keys are already unique (pre-round-16 `DISTINCT sym` misparsed as
    column `DISTINCT` aliased `sym`)."""
    out = questdb_sql(
        spark,
        "SELECT DISTINCT sym FROM trades WHERE ts IN '2024-01'",
        {"trades": "ts"},
    ).collect()
    assert sorted(r.sym for r in out) == ["AAA", "BBB"]
    lat = questdb_sql(
        spark,
        "SELECT DISTINCT sym FROM trades LATEST ON ts PARTITION BY sym",
        {"trades": "ts"},
    ).collect()
    assert sorted(r.sym for r in lat) == ["AAA", "BBB"]
    with pytest.raises(QuestDBSQLError, match="DISTINCT cannot combine"):
        questdb_sql(
            spark,
            "SELECT DISTINCT sym, count() AS c FROM trades SAMPLE BY 1d",
            {"trades": "ts"},
        )
    with pytest.raises(QuestDBSQLError, match="DISTINCT cannot combine"):
        questdb_sql(
            spark,
            "SELECT DISTINCT sym, count() AS c FROM trades GROUP BY sym",
            {"trades": "ts"},
        )


def test_sample_by_having_bare_count(spark, trades):
    """HAVING with QuestDB's bare count() on the SAMPLE BY path: reuses
    an aliased select-list count when present, else carries a hidden
    row count through the agg and drops it after the filter."""
    via_alias = questdb_sql(
        spark,
        "SELECT ts, sym, count() AS c FROM trades SAMPLE BY 1d "
        "HAVING count() > 1 ORDER BY ts, sym",
        {"trades": "ts"},
    ).collect()
    assert via_alias and all(r.c > 1 for r in via_alias)
    hidden = questdb_sql(
        spark,
        "SELECT ts, sym, max(price) AS mx FROM trades SAMPLE BY 1d "
        "HAVING count() > 1 ORDER BY ts, sym",
        {"trades": "ts"},
    )
    assert hidden.columns == ["ts", "sym", "mx"]  # hidden count dropped
    assert [
        (r.ts, r.sym) for r in hidden.collect()
    ] == [(r.ts, r.sym) for r in via_alias]
    with pytest.raises(QuestDBSQLError, match="FILL needs"):
        questdb_sql(
            spark,
            "SELECT ts, sym, max(price) AS mx FROM trades "
            "SAMPLE BY 1d FILL(0) HAVING count() > 1",
            {"trades": "ts"},
        )


def test_sample_by_without_aggregates_refuses(spark, trades):
    """A SAMPLE BY whose select list has no aggregate refuses with a
    clear message (it used to die in groupBy().agg() with an empty-
    exprs assertion)."""
    with pytest.raises(QuestDBSQLError, match="at least one aggregate"):
        questdb_sql(
            spark, "SELECT sym, price FROM trades SAMPLE BY 1d",
            {"trades": "ts"},
        )


def test_not_in_interval_and_group_by_ordinal(spark, trades):
    """`ts NOT IN '<interval>'` negates the range search (the column
    regex used to capture the word NOT itself and emit an
    unresolvable-routine error); GROUP BY ordinals resolve against the
    select list's non-aggregate positions."""
    n = spark.table("trades").count()
    day1 = questdb_sql(
        spark, "SELECT count() c FROM trades WHERE ts IN '2024-01-01'",
        {"trades": "ts"},
    ).collect()[0].c
    rest = questdb_sql(
        spark,
        "SELECT count() c FROM trades WHERE ts NOT IN '2024-01-01'",
        {"trades": "ts"},
    ).collect()[0].c
    assert day1 + rest == n and day1 > 0 and rest > 0
    rest_list = questdb_sql(
        spark,
        "SELECT count() c FROM trades WHERE "
        "ts NOT IN ('2024-01-01', '2024-01-09')",
        {"trades": "ts"},
    ).collect()[0].c
    assert rest_list == rest
    by_ordinal = questdb_sql(
        spark,
        "SELECT sym, count() AS c FROM trades WHERE ts IN '2024-01' "
        "GROUP BY 1 ORDER BY 1",
        {"trades": "ts"},
    ).collect()
    by_name = questdb_sql(
        spark,
        "SELECT sym, count() AS c FROM trades WHERE ts IN '2024-01' "
        "GROUP BY sym ORDER BY sym",
        {"trades": "ts"},
    ).collect()
    assert [tuple(r) for r in by_ordinal] == [tuple(r) for r in by_name]
    with pytest.raises(QuestDBSQLError, match="non-aggregate"):
        questdb_sql(
            spark,
            "SELECT sym, count() AS c FROM trades GROUP BY 2",
            {"trades": "ts"},
        )


def test_ddl_literals_and_update_regex_operator(spark, tmp_path):
    """DDL-path QuestDB literal semantics: INSERT VALUES strings keep
    literal backslashes and doubled-quote escapes; UPDATE's SET/WHERE
    run the regex-operator rewrite, so `WHERE s ~ '\\\\'` (a regex
    matching one literal backslash) works there too — it used to be a
    hard ParseException (bare ~ is bitwise NOT to Spark)."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"lit": str(tmp_path / "lit")}
    questdb_ddl(
        spark, "CREATE TABLE lit(s STRING, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    )
    questdb_ddl(
        spark,
        r"INSERT INTO lit(s, ts) VALUES "
        r"('back\slash', TIMESTAMP '2024-01-01 00:00:00'), "
        r"('it''s', TIMESTAMP '2024-01-01 01:00:00')",
        tables,
    )
    rows = sorted(
        r.s
        for r in register_designated_table(
            spark, "lit", tables["lit"]
        ).collect()
    )
    assert rows == ["back\\slash", "it's"], rows
    questdb_ddl(
        spark, r"UPDATE lit SET s = 'fixed' WHERE s ~ '\\'", tables
    )
    rows = sorted(
        r.s
        for r in register_designated_table(
            spark, "lit", tables["lit"]
        ).collect()
    )
    assert rows == ["fixed", "it's"], rows


def test_extract_sysdate_and_computed_group_keys(spark, trades):
    """extract(f FROM e) lowers to date_part (the FROM inside the call
    used to break the dialect's SELECT…FROM split); sysdate()/
    systimestamp() map to now(); computed group keys with an AS alias
    work on the plain GROUP BY path (same contract as SAMPLE BY)."""
    by_hour = questdb_sql(
        spark,
        "SELECT extract(hour FROM ts) AS h, count() AS c FROM trades "
        "WHERE ts IN '2024-01' GROUP BY h ORDER BY h",
        {"trades": "ts"},
    ).collect()
    ref = spark.sql(
        "SELECT date_part('hour', ts) AS h, count(*) AS c FROM trades "
        "GROUP BY 1 ORDER BY h"
    ).collect()
    assert [tuple(r) for r in by_hour] == [tuple(r) for r in ref]
    n = spark.table("trades").count()
    assert questdb_sql(
        spark, "SELECT count() c FROM trades WHERE ts < sysdate()",
        {"trades": "ts"},
    ).collect()[0].c == n
    assert questdb_sql(
        spark, "SELECT count() c FROM trades WHERE ts < systimestamp()",
        {"trades": "ts"},
    ).collect()[0].c == n
    banded = questdb_sql(
        spark,
        "SELECT CASE WHEN price > 20 THEN 'hi' ELSE 'lo' END AS band, "
        "count() AS c FROM trades WHERE ts IN '2024-01' "
        "GROUP BY band ORDER BY band",
        {"trades": "ts"},
    ).collect()
    assert sum(r.c for r in banded) == n
    assert [r.band for r in banded] == ["hi", "lo"]


def test_rnd_generators_lower_to_rand(spark):
    """QuestDB's random-value generators map onto rand()-based
    expressions — non-deterministic, so the assertions are range and
    membership, never values; unsupported shapes (nanRate > 0, the
    unbounded/length forms) refuse with a named error."""
    rows = questdb_sql(
        spark,
        "SELECT x, rnd_double() d, rnd_int(5, 9, 0) i, "
        "rnd_symbol('a','b','c') s, rnd_boolean() b, rnd_uuid4() u "
        "FROM long_sequence(50)",
    ).collect()
    assert len(rows) == 50
    assert all(0.0 <= r.d < 1.0 for r in rows)
    assert all(5 <= r.i <= 9 for r in rows)
    assert all(r.s in ("a", "b", "c") for r in rows)
    assert all(isinstance(r.b, bool) for r in rows)
    assert len({r.u for r in rows}) == 50  # uuids unique
    for bad in (
        "SELECT rnd_double(5) x FROM long_sequence(1)",
        "SELECT rnd_long() x FROM long_sequence(1)",
        "SELECT rnd_symbol(3, 2, 8, 0) x FROM long_sequence(1)",
    ):
        with pytest.raises(QuestDBSQLError):
            questdb_sql(spark, bad)


def test_set_op_composition_with_precedence(spark, trades):
    """EXCEPT / INTERSECT [ALL] compose with dialect fragments;
    INTERSECT binds tighter than UNION/EXCEPT (SQL precedence), sides
    fold positionally, and EXCEPT/INTERSECT carry SQL's distinct
    semantics (Spark subtract/intersect)."""
    # day-1 syms minus day-2 syms.
    ex = sorted(
        r.sym
        for r in questdb_sql(
            spark,
            "SELECT sym FROM trades WHERE ts IN '2024-01-01' "
            "EXCEPT SELECT sym FROM trades WHERE ts IN '2024-01-09'",
            {"trades": "ts"},
        ).collect()
    )
    assert ex == ["AAA", "BBB"]
    both = sorted(
        r.sym
        for r in questdb_sql(
            spark,
            "SELECT sym FROM trades WHERE ts IN '2024-01-01' "
            "INTERSECT SELECT sym FROM trades WHERE ts IN '2024-01-02'",
            {"trades": "ts"},
        ).collect()
    )
    assert both == ["AAA", "BBB"]
    # A UNION B INTERSECT C == A UNION (B INTERSECT C).
    prec = sorted(
        r.sym
        for r in questdb_sql(
            spark,
            "SELECT sym FROM trades WHERE sym = 'AAA' AND "
            "ts IN '2024-01' "
            "UNION SELECT sym FROM trades WHERE ts IN '2024-01-02' "
            "INTERSECT SELECT sym FROM trades WHERE sym = 'BBB'",
            {"trades": "ts"},
        ).collect()
    )
    assert prec == ["AAA", "BBB"]


def test_ddl_catalog_visible_to_embedded_selects(spark, tmp_path):
    """DDL-embedded SELECTs see the statement's own catalog: `INSERT
    INTO t SELECT … FROM t` and `CREATE TABLE x AS (SELECT … FROM t)`
    resolve mapped tables by name (registered on the fly with their
    designated ts), and a no-column-list INSERT…SELECT maps the
    SELECT's output to the declared schema POSITIONALLY (computed
    items carry auto-generated names)."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"src": str(tmp_path / "src"), "agg": str(tmp_path / "agg")}
    questdb_ddl(
        spark,
        "CREATE TABLE src(sym SYMBOL, v DOUBLE, ts TIMESTAMP) "
        "TIMESTAMP(ts)",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO src VALUES "
        "('A', 1.0, TIMESTAMP '2024-01-01 00:00:00'), "
        "('B', 2.0, TIMESTAMP '2024-01-01 01:00:00')",
        tables,
    )
    # Self-referencing INSERT … SELECT with computed items, a QuestDB
    # scalar, and a regex predicate — positional mapping to (sym,v,ts).
    questdb_ddl(
        spark,
        "INSERT INTO src SELECT sym, v * 10, dateadd('d', 7, ts) "
        "FROM src WHERE sym ~ '^A'",
        tables,
    )
    rows = sorted(
        (r.sym, r.v)
        for r in register_designated_table(
            spark, "src", tables["src"]
        ).collect()
    )
    assert rows == [("A", 1.0), ("A", 10.0), ("B", 2.0)]
    # CTAS over a catalog table (SAMPLE BY inside).
    days = questdb_ddl(
        spark,
        "CREATE TABLE agg AS (SELECT ts, count() AS n FROM src "
        "SAMPLE BY 1d) TIMESTAMP(ts)",
        tables,
    )
    assert days == ["2024-01-01", "2024-01-08"]
    # Re-creating errors; IF NOT EXISTS no-ops without running.
    with pytest.raises(QuestDBSQLError, match="already exists"):
        questdb_ddl(
            spark,
            "CREATE TABLE agg AS (SELECT ts, count() AS n FROM src "
            "SAMPLE BY 1d) TIMESTAMP(ts)",
            tables,
        )
    assert questdb_ddl(
        spark,
        "CREATE TABLE IF NOT EXISTS agg AS (SELECT ts, count() AS n "
        "FROM src SAMPLE BY 1d) TIMESTAMP(ts)",
        tables,
    ) == []
    # Arity mismatch on the positional mapping refuses loudly.
    with pytest.raises(QuestDBSQLError, match="positional mapping"):
        questdb_ddl(
            spark, "INSERT INTO src SELECT sym, v FROM src", tables
        )


def test_ddl_add_columns_batch_atomic_keep_maps(spark, tmp_path):
    """Round-16 DDL fringe: multi-column ADD COLUMN, INSERT ATOMIC /
    BATCH n (commit-batching knobs — ignored, writes are all-or-nothing
    job commits), TRUNCATE … KEEP SYMBOL MAPS (no symbol dictionaries
    here — ignored)."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"t": str(tmp_path / "t")}
    questdb_ddl(
        spark, "CREATE TABLE t(sym SYMBOL, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT ATOMIC INTO t VALUES "
        "('A', TIMESTAMP '2024-01-01 00:00:00')",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT BATCH 5000 INTO t(sym, ts) VALUES "
        "('B', TIMESTAMP '2024-01-02 00:00:00')",
        tables,
    )
    questdb_ddl(
        spark, "ALTER TABLE t ADD COLUMN extra1 DOUBLE, extra2 STRING",
        tables,
    )
    df = register_designated_table(spark, "t", tables["t"])
    assert {"extra1", "extra2"} <= set(df.columns)
    assert df.count() == 2
    assert df.filter(df.extra1.isNull()).count() == 2  # pre-ALTER NULLs
    questdb_ddl(spark, "TRUNCATE TABLE t KEEP SYMBOL MAPS", tables)
    assert register_designated_table(spark, "t", tables["t"]).count() == 0


def test_create_table_like_copies_schema(spark, tmp_path):
    """CREATE TABLE new (LIKE existing): declared columns, designated
    ts, and DEDUP UPSERT KEYS carry over; no rows do; inserts align to
    the copied declaration."""
    from questdb_etl_jobs_spark.plans.designated import (
        read_table_meta,
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"a": str(tmp_path / "a"), "b": str(tmp_path / "b")}
    questdb_ddl(
        spark,
        "CREATE TABLE a(sym SYMBOL, v DOUBLE, ts TIMESTAMP) "
        "TIMESTAMP(ts) DEDUP UPSERT KEYS(ts, sym)",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO a VALUES ('A', 1.0, TIMESTAMP '2024-01-01 00:00:00')",
        tables,
    )
    assert questdb_ddl(spark, "CREATE TABLE b (LIKE a)", tables) == []
    meta_a = read_table_meta(spark, tables["a"])
    meta_b = read_table_meta(spark, tables["b"])
    assert meta_b["columns"] == meta_a["columns"]
    assert meta_b["designated"] == "ts"
    assert meta_b.get("dedup_keys") == meta_a.get("dedup_keys")
    assert register_designated_table(spark, "b", tables["b"]).count() == 0
    questdb_ddl(
        spark,
        "INSERT INTO b VALUES ('Z', 9.0, TIMESTAMP '2024-02-01 00:00:00')",
        tables,
    )
    assert register_designated_table(spark, "b", tables["b"]).count() == 1
    with pytest.raises(QuestDBSQLError, match="already exists"):
        questdb_ddl(spark, "CREATE TABLE b (LIKE a)", tables)


def test_asof_join_tolerance_in_dialect_text(spark):
    """`ASOF/LT JOIN … [ON keys] TOLERANCE <dur>` parses in the dialect
    text (bare and quoted durations; every spelling used to die as an
    unsupported fragment while the operator supported the bound);
    SPLICE JOIN refuses TOLERANCE, matching QuestDB."""
    spark.createDataFrame(
        [(datetime(2024, 1, 1, 2, 15), "AAA", 1.0),
         (datetime(2024, 1, 1, 5, 0), "BBB", 9.0)],
        "ts timestamp, sym string, price double",
    ).createOrReplaceTempView("__tol_trades")
    spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 10), "AAA", 0.9),
         (datetime(2024, 1, 1, 4, 59), "BBB", 8.5)],
        "ts timestamp, sym string, bid double",
    ).createOrReplaceTempView("__tol_quotes")
    D = {"__tol_trades": "ts", "__tol_quotes": "ts"}
    tight = sorted(
        (r.sym, r.bid)
        for r in questdb_sql(
            spark,
            "SELECT * FROM __tol_trades ASOF JOIN __tol_quotes ON sym "
            "TOLERANCE '1h'",
            D,
        ).collect()
    )
    assert tight == [("AAA", None), ("BBB", 8.5)]
    bare = sorted(
        (r.sym, r.bid)
        for r in questdb_sql(
            spark,
            "SELECT * FROM __tol_trades ASOF JOIN __tol_quotes ON sym "
            "TOLERANCE 1d",
            D,
        ).collect()
    )
    assert bare == [("AAA", 0.9), ("BBB", 8.5)]
    with pytest.raises(QuestDBSQLError, match="SPLICE JOIN does not"):
        questdb_sql(
            spark,
            "SELECT * FROM __tol_trades SPLICE JOIN __tol_quotes "
            "TOLERANCE 1h",
            D,
        )


def test_order_by_bare_count_after_grouping(spark, trades):
    """QuestDB's ORDER BY count() / count(*) after GROUP BY or SAMPLE
    BY sorts by the select list's count alias (the agg already ran);
    without a count in the select list it refuses with guidance."""
    by_count = questdb_sql(
        spark,
        "SELECT sym, count() AS c FROM trades GROUP BY sym "
        "ORDER BY count() DESC, sym",
        {"trades": "ts"},
    ).collect()
    assert [tuple(r) for r in by_count] == sorted(
        [tuple(r) for r in by_count], key=lambda t: (-t[1], t[0])
    )
    sampled = questdb_sql(
        spark,
        "SELECT ts, count() AS c FROM trades SAMPLE BY 1d "
        "ORDER BY count(*) DESC, ts",
        {"trades": "ts"},
    ).collect()
    assert [r.c for r in sampled] == sorted(
        (r.c for r in sampled), reverse=True
    )
    with pytest.raises(QuestDBSQLError, match="ORDER BY count"):
        questdb_sql(
            spark,
            "SELECT sym, max(price) m FROM trades GROUP BY sym "
            "ORDER BY count() DESC",
            {"trades": "ts"},
        )


def test_double_quoted_identifiers_are_column_references(spark):
    """QuestDB follows PG: `"s"` is a quoted IDENTIFIER (what every
    PG-wire client emits), with `""` escaping an embedded quote.
    Spark's default parser reads it as a STRING LITERAL — the
    round-16 silent-wrong-answer class: `SELECT "s" FROM t` returned
    the literal letter s per row, `WHERE "s" = 'a1b22'` matched
    nothing. The normalization pass now rewrites quoted identifiers
    onto Spark identifiers at both entries."""
    spark.createDataFrame(
        [("a1b22", 5), ("nodigits", 7)], "s string, v int"
    ).createOrReplaceTempView("__qi_t")
    # The round-16 verdict's exact repros.
    got = [
        r.s
        for r in questdb_sql(
            spark, 'SELECT "s" FROM __qi_t ORDER BY 1'
        ).collect()
    ]
    assert got == ["a1b22", "nodigits"], got
    got = [
        r.s
        for r in questdb_sql(
            spark, "SELECT s FROM __qi_t WHERE \"s\" = 'a1b22'"
        ).collect()
    ]
    assert got == ["a1b22"], got
    # Composed with the literal normalization: quoted identifier ~
    # backslash-class regex.
    got = [
        r.v
        for r in questdb_sql(
            spark, "SELECT \"s\" AS v FROM __qi_t WHERE \"s\" ~ '\\d+'"
        ).collect()
    ]
    assert got == ["a1b22"], got
    # `""` escape inside an identifier (PG: one literal quote).
    got = questdb_sql(
        spark, 'SELECT 1 AS "a""b" FROM __qi_t LIMIT 1'
    )
    assert got.columns == ['a"b'], got.columns
    # Dialect-marked route: quoted identifiers in select list, GROUP
    # BY, aggregate argument, and table name.
    got = questdb_sql(
        spark,
        'SELECT "s", count() AS n, max("v") AS mv '
        'FROM "__qi_t" GROUP BY "s" ORDER BY "s"',
    ).collect()
    assert [(r.s, r.n, r.mv) for r in got] == [
        ("a1b22", 1, 5), ("nodigits", 1, 7)
    ], got
    # A reserved-word column keeps backtick quoting on the passthrough
    # route (it cannot be emitted bare).
    spark.createDataFrame([(1,)], ["order"]).createOrReplaceTempView(
        "__qi_res"
    )
    got = questdb_sql(spark, 'SELECT "order" FROM __qi_res').collect()
    assert [r[0] for r in got] == [1], got
    # A double-quoted token inside a string literal is DATA, never an
    # identifier.
    got = questdb_sql(
        spark, "SELECT '\"s\"' AS lit FROM __qi_t LIMIT 1"
    ).collect()
    assert got[0].lit == '"s"', got


def test_double_quoted_identifier_refusals(spark):
    """Identifier shapes the scanners cannot carry refuse LOUDLY — a
    clean QuestDBSQLError beats a silent mis-parse (the round-15/16
    bug-class lesson)."""
    spark.createDataFrame([(1,)], "v int").createOrReplaceTempView(
        "__qi_r"
    )
    with pytest.raises(QuestDBSQLError, match="zero-length"):
        questdb_sql(spark, 'SELECT "" FROM __qi_r')
    with pytest.raises(QuestDBSQLError, match="unterminated quoted"):
        questdb_sql(spark, 'SELECT "v FROM __qi_r')
    for bad in ('"a(b"', '"a)b"', '"a\'b"', '"a`b"'):
        with pytest.raises(QuestDBSQLError, match="unsupported"):
            questdb_sql(spark, f"SELECT {bad} FROM __qi_r")
    # Keyword-bearing identifier + dialect construct: the clause
    # splitters would mis-split inside it — refused, not mis-parsed.
    with pytest.raises(QuestDBSQLError, match="keyword"):
        questdb_sql(
            spark,
            'SELECT "union all x", count() FROM __qi_r',
        )
    # Comma-bearing identifier + dialect construct: the select-list
    # splitter would mis-split inside it — refused on the lowered
    # path (plain SQL accepts it: spark.sql parses the backticks).
    with pytest.raises(QuestDBSQLError, match="',' or ';'"):
        questdb_sql(spark, 'SELECT "a,b", count() FROM __qi_r')
    # The interval IN-LIST form (`ts IN ('2024-01','2024-02')`) marks
    # the text as dialect too — before round 18 it routed has_dialect
    # without matching the marker, so a comma/keyword identifier
    # bypassed these refusals and reached the quote-unaware splitters
    # (ADVICE r17, the medium item).
    with pytest.raises(QuestDBSQLError, match="',' or ';'"):
        questdb_sql(
            spark,
            'SELECT "a,b" FROM __qi_r '
            "WHERE ts IN ('2024-01', '2024-02')",
        )
    with pytest.raises(QuestDBSQLError, match="keyword"):
        questdb_sql(
            spark,
            'SELECT "union all x" FROM __qi_r '
            "WHERE ts IN ('2024-01', '2024-02')",
        )


def test_composition_probe_round3(spark):
    """Round-17 composition probes (VERDICT r16 #4): cells where real
    QuestDB queries live, each either lowered correctly or refused
    loudly — never silently wrong."""
    import datetime as dt

    rows = [
        (
            dt.datetime(2024, 1, 1, h % 24) + dt.timedelta(days=h // 24),
            f"u{h % 3}",
            f"s{h % 2}",
            float(h),
        )
        for h in range(48)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, user string, sym string, v double"
    ).createOrReplaceTempView("__c3")
    d = {"__c3": "ts"}
    # IN (SELECT …) inside dialect-marked text lowers (the WHERE body
    # passes through intact; users with v>40 = all three here).
    got = questdb_sql(
        spark,
        "SELECT ts, count() AS n FROM __c3 WHERE user IN "
        "(SELECT user FROM __c3 WHERE v > 40) SAMPLE BY 1d",
        d,
    ).collect()
    assert [(r.ts.day, r.n) for r in got] == [(1, 24), (2, 24)], got
    # Correlated scalar subquery in dialect-marked text (bare count()
    # routes the dialect parser): one max row per sym.
    got = questdb_sql(
        spark,
        "SELECT sym, count() AS n FROM __c3 t1 WHERE v = "
        "(SELECT max(v) FROM __c3 t2 WHERE t2.sym = t1.sym) "
        "GROUP BY sym ORDER BY sym",
        d,
    ).collect()
    assert [(r.sym, r.n) for r in got] == [("s0", 1), ("s1", 1)], got
    # ORDER BY + LIMIT inside a lowered CTE stay INSIDE the CTE (top-5
    # by v: 47,46,45,44,43 → s0×2, s1×3).
    got = questdb_sql(
        spark,
        "WITH a AS (SELECT ts, sym, v FROM __c3 WHERE ts IN "
        "'2024-01-02' ORDER BY v DESC LIMIT 5) "
        "SELECT sym, count() AS n FROM a GROUP BY sym ORDER BY sym",
        d,
    ).collect()
    assert [(r.sym, r.n) for r in got] == [("s0", 2), ("s1", 3)], got
    # A window function mixed INTO an aggregated lowering used to
    # misparse as a computed group key (per-row groups, count()=1,
    # silent). Now a loud refusal — QuestDB rejects the mix too.
    for q in (
        "SELECT sym, row_number() OVER (PARTITION BY sym ORDER BY ts) "
        "AS rn, count() FROM __c3 SAMPLE BY 1d",
        "SELECT sym, row_number() OVER (PARTITION BY sym ORDER BY ts) "
        "AS rn, count() FROM __c3 GROUP BY sym",
        "SELECT count() AS c, row_number() OVER (ORDER BY sym) AS rn "
        "FROM __c3 LATEST ON ts PARTITION BY sym",
    ):
        with pytest.raises(QuestDBSQLError, match="window functions"):
            questdb_sql(spark, q, d)
    # …but a PURE window select over a dialect result still lowers
    # (LATEST ON filters first, then the window sees one row per sym).
    got = questdb_sql(
        spark,
        "SELECT ts, sym, avg(v) OVER (PARTITION BY sym ORDER BY ts) "
        "AS m FROM __c3 LATEST ON ts PARTITION BY sym",
        d,
    ).collect()
    assert sorted((r.sym, r.m) for r in got) == [
        ("s0", 46.0), ("s1", 47.0)
    ], got
    # An 'OVER (' inside a string literal is data, not a window.
    got = questdb_sql(
        spark,
        "SELECT sym, count() AS n FROM __c3 "
        "WHERE sym != 'OVER (x' GROUP BY sym ORDER BY sym",
        d,
    ).collect()
    assert [(r.sym, r.n) for r in got] == [("s0", 24), ("s1", 24)], got


def test_quoted_identifiers_through_ddl_entry(spark, tmp_path):
    """The questdb_ddl entry shares the normalization pass, so
    PG-quoted identifiers work across the DDL lifecycle: CREATE with a
    quoted table/column, INSERT INTO a quoted table, UPDATE SET on a
    quoted column with a quoted-identifier WHERE, and a quoted SELECT
    readback."""
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"qt": str(tmp_path / "qt")}
    questdb_ddl(
        spark,
        'CREATE TABLE "qt"("sym" SYMBOL, "v" INT, "ts" TIMESTAMP) '
        'TIMESTAMP("ts")',
        tables,
    )
    questdb_ddl(
        spark,
        'INSERT INTO "qt"("sym", "v", "ts") VALUES '
        "('a', 1, TIMESTAMP '2024-07-01 08:00:00'), "
        "('b', 2, TIMESTAMP '2024-07-02 09:00:00')",
        tables,
    )
    touched = questdb_ddl(
        spark,
        'UPDATE "qt" SET "v" = "v" * 10 WHERE "sym" = \'b\'',
        tables,
    )
    assert touched == ["2024-07-02"]
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )

    register_designated_table(spark, "qt", tables["qt"])
    got = questdb_sql(
        spark, 'SELECT "sym", "v" FROM "qt" ORDER BY "sym"'
    ).collect()
    assert [(r.sym, r.v) for r in got] == [("a", 1), ("b", 20)], got


def test_group_by_expression_matches_computed_key(spark):
    """Standard SQL (and QuestDB) allow GROUP BY to repeat a computed
    select expression instead of its alias; the round-17 probe found
    this refusing. The item now matches the computed key
    whitespace-insensitively and groups by its alias."""
    import datetime as dt

    rows = [
        (
            dt.datetime(2024, 1, 1, h % 24) + dt.timedelta(days=h // 24),
            h % 7,
            float(h) - 10,
        )
        for h in range(48)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, user_id int, v double"
    ).createOrReplaceTempView("__gbe")
    d = {"__gbe": "ts"}
    got = questdb_sql(
        spark,
        "SELECT user_id % 5 AS grp, count() AS n FROM __gbe "
        "GROUP BY user_id % 5 ORDER BY grp",
        d,
    ).collect()
    assert [(r.grp, r.n) for r in got] == [
        (0, 14), (1, 13), (2, 7), (3, 7), (4, 7)
    ], got
    # Whitespace-insensitive match, CASE expression.
    got = questdb_sql(
        spark,
        "SELECT CASE WHEN v > 0 THEN 'p' ELSE 'n' END AS band, "
        "count() AS n FROM __gbe "
        "GROUP BY CASE WHEN v>0 THEN 'p' ELSE 'n' END ORDER BY band",
        d,
    ).collect()
    assert [(r.band, r.n) for r in got] == [("n", 11), ("p", 37)], got
    # A GROUP BY expression matching NO select item still refuses.
    with pytest.raises(QuestDBSQLError, match="do not match"):
        questdb_sql(
            spark,
            "SELECT user_id % 5 AS grp, count() AS n FROM __gbe "
            "GROUP BY user_id % 3",
            d,
        )
    # Whitespace INSIDE a string literal is significant: 'p x' vs 'px'
    # are different expressions and must NOT match (ADVICE r17 — the
    # plain \s+ strip compared them equal and silently grouped by the
    # select key's expression).
    with pytest.raises(QuestDBSQLError, match="do not match"):
        questdb_sql(
            spark,
            "SELECT CASE WHEN v > 0 THEN 'p x' ELSE 'n' END AS band, "
            "count() AS n FROM __gbe "
            "GROUP BY CASE WHEN v>0 THEN 'px' ELSE 'n' END",
            d,
        )
    # Literal case is significant too ('P' vs 'p').
    with pytest.raises(QuestDBSQLError, match="do not match"):
        questdb_sql(
            spark,
            "SELECT CASE WHEN v > 0 THEN 'P' ELSE 'n' END AS band, "
            "count() AS n FROM __gbe "
            "GROUP BY CASE WHEN v>0 THEN 'p' ELSE 'n' END",
            d,
        )


def test_interval_second_granularity_and_clean_refusals(spark):
    """Round-17 interval probe: the prefix ladder extends to SECONDS
    (`'…T10:30:00'` — QuestDB-legal, used to raise a raw ValueError);
    round 18 extends it through the SUB-SECOND ladder to QuestDB's
    native microsecond resolution (each fractional digit narrows the
    span 10×). Sub-MICROSECOND prefixes and malformed modifiers refuse
    with the dialect's own error instead of leaking
    ValueError/ParseException."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1) + dt.timedelta(minutes=30 * h), float(h))
        for h in range(200)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, v double"
    ).createOrReplaceTempView("__iv")
    d = {"__iv": "ts"}
    got = questdb_sql(
        spark,
        "SELECT count() FROM __iv WHERE ts IN '2024-01-01T10:30:00'",
        d,
    ).collect()
    assert got[0][0] == 1, got
    got = questdb_sql(
        spark,
        "SELECT count() FROM __iv "
        "WHERE ts IN '2024-01-01T10:30:00;30m'",
        d,
    ).collect()
    assert got[0][0] == 2, got
    # Sub-second ladder: the fixture rows land exactly on :00.000000,
    # so the millisecond prefix catches the 10:30 row and a shifted
    # fraction catches nothing.
    got = questdb_sql(
        spark,
        "SELECT count() FROM __iv WHERE ts IN '2024-01-01T10:30:00.0'",
        d,
    ).collect()
    assert got[0][0] == 1, got
    got = questdb_sql(
        spark,
        "SELECT count() FROM __iv "
        "WHERE ts IN '2024-01-01T10:30:00.000000'",
        d,
    ).collect()
    assert got[0][0] == 1, got
    got = questdb_sql(
        spark,
        "SELECT count() FROM __iv WHERE ts IN '2024-01-01T10:30:00.5'",
        d,
    ).collect()
    assert got[0][0] == 0, got
    # Fractional prefix composes with duration/repeat modifiers.
    got = questdb_sql(
        spark,
        "SELECT count() FROM __iv "
        "WHERE ts IN '2024-01-01T10:30:00.0;30m;1d;2'",
        d,
    ).collect()
    assert got[0][0] == 4, got
    for bad in (
        "2024-01-01T10:30:00.1234567",  # sub-microsecond prefix
        "2024-01-01T10:30:00.",         # dangling fraction dot
        "2024-01-01;-1d",           # negative duration modifier
        "2024-01-01;1d;1y",         # 3-part modifier (needs 4)
    ):
        with pytest.raises(QuestDBSQLError, match="interval"):
            questdb_sql(
                spark,
                f"SELECT count() FROM __iv WHERE ts IN '{bad}'",
                d,
            )


def test_concat_null_is_empty(spark):
    """QuestDB (like PostgreSQL) treats NULL concat() arguments as
    EMPTY; Spark's concat nulls the whole result — a silent divergence
    on legal QuestDB text (round-17 probe). The scalar pass rewrites
    concat( → concat_ws('', which skips nulls; `||` rides the SAME
    path (round 18): QuestDB's parser lowers the operator onto
    concat(), so `s || t` is null-as-empty too — a documented QuestDB
    divergence from PG's operator. concat_ws and literals are
    untouched."""
    spark.createDataFrame(
        [("a", None), ("x", "y")], "s string, t string"
    ).createOrReplaceTempView("__cc")
    got = questdb_sql(
        spark, "SELECT concat(s, t, '!') AS c FROM __cc ORDER BY s"
    ).collect()
    assert [r.c for r in got] == ["a!", "xy!"], got
    got = questdb_sql(
        spark, "SELECT concat('n=', 1+1) AS c FROM __cc LIMIT 1"
    ).collect()
    assert [r.c for r in got] == ["n=2"], got
    got = questdb_sql(
        spark,
        "SELECT concat_ws('-', s, t) AS c FROM __cc ORDER BY s",
    ).collect()
    assert [r.c for r in got] == ["a", "x-y"], got
    got = questdb_sql(
        spark, "SELECT s || t AS c FROM __cc ORDER BY s"
    ).collect()
    assert [r.c for r in got] == ["a", "xy"], got
    got = questdb_sql(
        spark, "SELECT 'concat(x' AS c FROM __cc LIMIT 1"
    ).collect()
    assert [r.c for r in got] == ["concat(x"], got
    # Chains, nesting, and a || inside a string literal.
    got = questdb_sql(
        spark,
        "SELECT upper(s || '-') || t || '!' AS c, '||' AS lit "
        "FROM __cc ORDER BY s",
    ).collect()
    assert [(r.c, r.lit) for r in got] == [("A-!", "||"),
                                           ("X-y!", "||")], got
    # Unscannable operand extents refuse loudly instead of rebinding:
    # PG precedence puts arithmetic ABOVE ||, and a bare CASE arm has
    # no textual extent.
    for bad in (
        "SELECT s || 1 + 1 AS c FROM __cc",
        "SELECT CASE WHEN s = 'a' THEN s END || t AS c FROM __cc",
    ):
        with pytest.raises(QuestDBSQLError, match="parenthesize|arithmetic"):
            questdb_sql(spark, bad)
    # The parenthesized spellings lower fine.
    got = questdb_sql(
        spark,
        "SELECT s || (CASE WHEN t IS NULL THEN '?' ELSE t END) AS c "
        "FROM __cc ORDER BY s",
    ).collect()
    assert [r.c for r in got] == ["a?", "xy"], got
    # Dialect-marked route shares the pass.
    got = questdb_sql(
        spark,
        "SELECT concat(s, t) AS key, count() AS n FROM __cc "
        "GROUP BY concat(s, t) ORDER BY key",
    ).collect()
    assert [(r.key, r.n) for r in got] == [("a", 1), ("xy", 1)], got


def test_pipe_concat_operand_extents_on_the_mask(spark):
    """The left operand of ``||`` is scanned on the quote mask, so a
    paren inside a string literal is not operand structure: the whole
    ``concat('(', s)`` call is the operand. Counting that paren used to
    corrupt the text (``'('`` case) or refuse it as unbalanced (``')'``
    case). A ``||`` with nothing before it has no left operand; the
    scan used to wrap around to the text's last character."""
    from questdb_etl_jobs_spark.sql.dialect import rewrite_regex_operators

    with pytest.raises(QuestDBSQLError, match=r"left \|\| operand"):
        rewrite_regex_operators("|| f(s)")
    spark.createDataFrame([("a",)], "s string").createOrReplaceTempView(
        "__pcl"
    )
    for paren in ("(", ")"):
        got = questdb_sql(
            spark, f"SELECT concat('{paren}', s) || 'x' AS c FROM __pcl"
        ).collect()
        assert [r.c for r in got] == [f"{paren}ax"], got


def test_only_mask_walks_quote_characters():
    """Where quoted spans lie is decided in one place: ``_mask`` (and
    ``_normalize_string_literals``, which reads raw QuestDB quoting
    before any rewrite). Every other function of the dialect finds its
    positions on the mask, so none compares a character to a quote or
    searches the text for one."""
    import ast
    from pathlib import Path

    from questdb_etl_jobs_spark.sql import dialect

    quotes = {"'", "`"}
    allowed = {"_mask", "_normalize_string_literals"}

    def constants(node: ast.AST) -> set:
        seq = isinstance(node, (ast.Tuple, ast.List, ast.Set))
        elts = node.elts if seq else [node]
        return {e.value for e in elts if isinstance(e, ast.Constant)}

    offenders = []
    tree = ast.parse(Path(dialect.__file__).read_text())
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef) or fn.name in allowed:
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Compare):
                hit = any(
                    constants(o) & quotes
                    for o in (node.left, *node.comparators)
                )
            else:
                hit = (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("find", "rfind", "index", "count")
                    and bool(node.args)
                    and bool(constants(node.args[0]) & quotes)
                )
            if hit:
                offenders.append(f"{fn.name}:{node.lineno}")
    assert offenders == []


def test_questdb_scalar_spellings_round17(spark):
    """Round-17 probe: QuestDB spellings that died as
    UNRESOLVED_ROUTINE — count_distinct, day_of_week (Monday=1; a bare
    alias to Spark's Sunday=1 dayofweek would be silently off by one),
    day_of_week_sunday_first, week_of_year — now lower through the
    scalar pass on both routes."""
    import datetime as dt

    spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 15), "a"),   # Monday
            (dt.datetime(2024, 1, 21), "b"),   # Sunday
            (dt.datetime(2024, 1, 21), "a"),
        ],
        "ts timestamp, s string",
    ).createOrReplaceTempView("__sc17")
    d = {"__sc17": "ts"}
    got = questdb_sql(
        spark, "SELECT count_distinct(s) AS n FROM __sc17", d
    ).collect()
    assert got[0].n == 2, got
    got = questdb_sql(
        spark,
        "SELECT day_of_week(ts) AS d, day_of_week_sunday_first(ts) "
        "AS ds, week_of_year(ts) AS w FROM __sc17 ORDER BY ts, d",
        d,
    ).collect()
    assert [(r.d, r.ds, r.w) for r in got] == [
        (1, 2, 3), (7, 1, 3), (7, 1, 3)
    ], got
    # Grouped dialect route: count_distinct lowers into the aggregate
    # grammar's count(DISTINCT …).
    got = questdb_sql(
        spark,
        "SELECT s, count_distinct(ts) AS n FROM __sc17 "
        "GROUP BY s ORDER BY s",
        d,
    ).collect()
    assert [(r.s, r.n) for r in got] == [("a", 2), ("b", 1)], got


def test_create_table_symbol_qualifiers_ignored(spark, tmp_path):
    """Real QuestDB DDL carries SYMBOL storage qualifiers (CAPACITY /
    CACHE / NOCACHE / INDEX) and WAL suffixes — tuning knobs with no
    Spark analogue (round-17 probe: they refused). Tolerated and
    ignored on SYMBOL columns (the ATOMIC/BATCH/WAL precedent); still
    refused on other types (QuestDB rejects that too)."""
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"wt": str(tmp_path / "wt")}
    questdb_ddl(
        spark,
        "CREATE TABLE wt(sym SYMBOL CAPACITY 256 CACHE INDEX, "
        "v DOUBLE, ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY WAL",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO wt(sym, v, ts) VALUES "
        "('a', 1.5, TIMESTAMP '2024-07-01 08:00:00')",
        tables,
    )
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )

    register_designated_table(spark, "wt", tables["wt"])
    got = questdb_sql(spark, "SELECT sym, v FROM wt").collect()
    assert [(r.sym, r.v) for r in got] == [("a", 1.5)], got
    with pytest.raises(QuestDBSQLError, match="only valid"):
        questdb_ddl(
            spark,
            "CREATE TABLE w2(v DOUBLE CAPACITY 256, ts TIMESTAMP) "
            "TIMESTAMP(ts)",
            {"w2": str(tmp_path / "w2")},
        )


def test_generate_series_table_generator(spark):
    """generate_series(start, end[, step]) in table position — PG
    semantics (inclusive bounds, explicit negative step for descending,
    and EMPTY for reversed 2-arg bounds: the default step is +1 in PG
    and DuckDB alike — ADVICE r17), lowered onto spark.range; zero step
    and non-integer arguments refuse loudly."""
    got = questdb_sql(
        spark, "SELECT * FROM generate_series(1, 5)"
    ).collect()
    assert [r[0] for r in got] == [1, 2, 3, 4, 5], got
    got = questdb_sql(
        spark, "SELECT * FROM generate_series(9, 1, -3)"
    ).collect()
    assert [r[0] for r in got] == [9, 6, 3], got
    got = questdb_sql(
        spark, "SELECT * FROM generate_series(5, 1)"
    ).collect()
    assert got == [], got
    got = questdb_sql(
        spark,
        "SELECT generate_series % 2 AS m, count() AS n "
        "FROM generate_series(1, 10) GROUP BY 1 ORDER BY 1",
    ).collect()
    assert [(r.m, r.n) for r in got] == [(0, 5), (1, 5)], got
    with pytest.raises(QuestDBSQLError, match="step cannot be 0"):
        questdb_sql(spark, "SELECT * FROM generate_series(1, 5, 0)")
    with pytest.raises(QuestDBSQLError, match="integer literals"):
        questdb_sql(
            spark, "SELECT * FROM generate_series('2024-01-01', 5)"
        )


def test_asof_join_left_alias_qualified_refs(spark):
    """Qualified references through the left table's alias after an
    ASOF JOIN (`SELECT e.ts FROM tt e ASOF JOIN …`) resolve — the
    operator's internal selects used to drop the alias scope and the
    reference died as UNRESOLVED_COLUMN (round-17 probe)."""
    import datetime as dt

    rows = [
        (
            dt.datetime(2024, 1, 1, h % 24) + dt.timedelta(days=h // 24),
            f"s{h % 2}",
            float(h),
        )
        for h in range(48)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, sym string, v double"
    ).createOrReplaceTempView("__aa")
    d = {"__aa": "ts"}
    got = questdb_sql(
        spark,
        "SELECT e.sym, count() AS n FROM __aa e ASOF JOIN __aa "
        "ON (sym) GROUP BY e.sym ORDER BY 1",
        d,
    ).collect()
    assert [(r.sym, r.n) for r in got] == [("s0", 24), ("s1", 24)], got


def test_asof_join_right_alias_qualified_refs(spark):
    """The idiomatic QuestDB two-table as-of aliases BOTH sides
    (`FROM trades t ASOF JOIN quotes q ON sym`); round 17 restored the
    left alias only and the right alias refused as
    `unsupported fragment: 'q'`. Right-side qualified refs map onto the
    joined frame's output names: the right designated ts (renamed onto
    the left ts pre-join) and clash columns → `_right`, ON keys and
    non-clashing payload columns → their own names. Unknown right
    columns refuse BY NAME; the right TABLE name qualifies too."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, "a", t0 + dt.timedelta(seconds=5)),
         (2, "b", t0 + dt.timedelta(seconds=10)),
         (3, "a", t0 + dt.timedelta(seconds=20))],
        "event_id int, sym string, ts timestamp",
    ).createOrReplaceTempView("__ra_t")
    spark.createDataFrame(
        [("a", 1.0, t0 + dt.timedelta(seconds=1)),
         ("a", 2.0, t0 + dt.timedelta(seconds=15)),
         ("b", 9.0, t0 + dt.timedelta(seconds=2))],
        "sym string, bid double, qts timestamp",
    ).createOrReplaceTempView("__ra_q")
    d = {"__ra_t": "ts", "__ra_q": "qts"}

    # P12 probe shape: bare right alias over SELECT *.
    star = questdb_sql(
        spark, "SELECT * FROM __ra_t ASOF JOIN __ra_q q ON sym", d
    )
    assert set(star.columns) == {"event_id", "sym", "ts", "bid",
                                 "ts_right"}
    assert star.count() == 3

    # Both sides aliased, qualified refs through each scope: q.qts is
    # the right designated ts (suffixed in the output), q.bid a
    # non-clashing payload column (kept name).
    got = questdb_sql(
        spark,
        "SELECT t.event_id, t.sym, q.qts AS quote_ts, q.bid "
        "FROM __ra_t t ASOF JOIN __ra_q q ON sym ORDER BY t.event_id",
        d,
    ).collect()
    assert [(r.event_id, r.sym, r.quote_ts.second, r.bid)
            for r in got] == [(1, "a", 1, 1.0), (2, "b", 2, 9.0),
                              (3, "a", 15, 2.0)], got

    # Table-NAME qualification, no explicit aliases (QuestDB allows
    # it); LT JOIN shares the alias grammar.
    got = questdb_sql(
        spark,
        "SELECT __ra_t.event_id, __ra_q.bid FROM __ra_t "
        "LT JOIN __ra_q ON sym ORDER BY __ra_t.event_id",
        d,
    ).collect()
    assert [(r.event_id, r.bid) for r in got] == [
        (1, 1.0), (2, 9.0), (3, 2.0)
    ], got

    # Unknown right column refuses by name, not 'unsupported fragment'.
    with pytest.raises(QuestDBSQLError, match="nope.*__ra_q"):
        questdb_sql(
            spark,
            "SELECT q.nope FROM __ra_t ASOF JOIN __ra_q q ON sym", d
        )


def test_asof_join_on_equality_form(spark):
    """The verbose time-series-join ON form (`ON t.sym = q.ticker
    [AND …]`) — what PG tools and two-table as-of text emit — lowers
    (round 18; it used to die as an unsupported fragment): each
    equality resolves one left column against one right column,
    differing right names rename onto the left name, reversed sides
    and table-name qualifiers work, and malformed equalities refuse BY
    NAME (unqualified ref / same-side pair / unknown qualifier /
    designated-ts equality)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, "a", t0 + dt.timedelta(seconds=5)),
         (2, "b", t0 + dt.timedelta(seconds=10)),
         (3, "a", t0 + dt.timedelta(seconds=20))],
        "event_id int, sym string, ts timestamp",
    ).createOrReplaceTempView("__eq_t")
    spark.createDataFrame(
        [("a", 1.0, t0 + dt.timedelta(seconds=1)),
         ("a", 2.0, t0 + dt.timedelta(seconds=15)),
         ("b", 9.0, t0 + dt.timedelta(seconds=2))],
        "ticker string, bid double, qts timestamp",
    ).createOrReplaceTempView("__eq_q")
    d = {"__eq_t": "ts", "__eq_q": "qts"}
    want = [(1, 1.0), (2, 9.0), (3, 2.0)]
    for on in (
        "ON t.sym = q.ticker",
        "ON q.ticker = t.sym",                 # reversed sides
        "ON __eq_t.sym = __eq_q.ticker",       # table-name qualifiers
    ):
        got = questdb_sql(
            spark,
            f"SELECT t.event_id, q.bid FROM __eq_t t ASOF JOIN "
            f"__eq_q q {on} ORDER BY t.event_id",
            d,
        ).collect()
        assert [(r.event_id, r.bid) for r in got] == want, (on, got)
    # A right-key ref in the select carries the matched key and is
    # NULL on unmatched rows (QuestDB/DuckDB ASOF LEFT semantics — the
    # operator carries keys from the left row, so the ref is masked
    # through the carried right ts; an unmasked mapping silently
    # returned the left key on no-match rows, caught by q224's
    # differential).
    spark.createDataFrame(
        [(1, "a", t0 + dt.timedelta(seconds=5)),
         (2, "zz", t0 + dt.timedelta(seconds=10))],
        "event_id int, sym string, ts timestamp",
    ).createOrReplaceTempView("__eq_t2")
    got = questdb_sql(
        spark,
        "SELECT t.event_id, q.ticker AS k, q.bid FROM __eq_t2 t "
        "ASOF JOIN __eq_q q ON t.sym = q.ticker ORDER BY t.event_id",
        {"__eq_t2": "ts", "__eq_q": "qts"},
    ).collect()
    assert [(r.event_id, r.k, r.bid) for r in got] == [
        (1, "a", 1.0), (2, None, None)
    ], got
    for bad, msg in (
        ("ON sym = q.ticker", "qualify"),
        ("ON t.sym = t.sym", "SAME table"),
        ("ON z.sym = q.ticker", "unknown qualifier"),
        ("ON t.ts = q.qts", "matched by the as-of itself"),
    ):
        with pytest.raises(QuestDBSQLError, match=msg):
            questdb_sql(
                spark,
                f"SELECT * FROM __eq_t t ASOF JOIN __eq_q q {bad}",
                d,
            )


def test_timestamp_sequence_over_generate_series(spark, tmp_path):
    """timestamp_sequence composes with generate_series: the ordinal
    derives from (value, start, step) — exact for descending series
    too — so the QuestDB demo idiom INSERT INTO … SELECT …,
    timestamp_sequence(…) FROM generate_series(…) lands the designated
    layout."""
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tables = {"gt": str(tmp_path / "gt")}
    questdb_ddl(
        spark, "CREATE TABLE gt(x LONG, ts TIMESTAMP) TIMESTAMP(ts)",
        tables,
    )
    questdb_ddl(
        spark,
        "INSERT INTO gt(x, ts) SELECT generate_series, "
        "timestamp_sequence('2024-01-01T00:00:00', 3600000000) "
        "FROM generate_series(1, 48)",
        tables,
    )
    register_designated_table(spark, "gt", tables["gt"])
    got = questdb_sql(
        spark,
        "SELECT ts, count() AS n, min(x) AS lo, max(x) AS hi "
        "FROM gt SAMPLE BY 1d",
        {"gt": "ts"},
    ).collect()
    assert sorted((r.ts.day, r.n, r.lo, r.hi) for r in got) == [
        (1, 24, 1, 24), (2, 24, 25, 48)
    ], got
    # Descending series: ordinal 1 is the FIRST generated value (9).
    got = questdb_sql(
        spark,
        "SELECT generate_series AS g, "
        "timestamp_sequence('2024-01-01T00:00:00', 60000000) AS t "
        "FROM generate_series(9, 1, -4)",
    ).collect()
    assert sorted((r.g, r.t.minute) for r in got) == [
        (1, 2), (5, 1), (9, 0)
    ], got


def test_composition_probe_round4(spark):
    """Round-18 composition probes (VERDICT r17 #6): cells where real
    QuestDB text lives — qualified quoted identifiers, DECLARE
    identifier bindings, EXPLAIN over a composition, and the
    tables()/table_columns() meta-FUNCTION spellings — each lowered
    correctly or refused loudly by name."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, h), f"s{h % 2}", float(h))
        for h in range(24)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, sym string, v double"
    ).createOrReplaceTempView("__p4")
    d = {"__p4": "ts"}

    # Qualified quoted identifiers ("t"."col") through select, GROUP
    # BY, and a WHERE inside SAMPLE BY.
    got = questdb_sql(
        spark,
        'SELECT "t"."sym", count() AS n FROM __p4 t '
        'GROUP BY "t"."sym" ORDER BY 1',
        d,
    ).collect()
    assert [(r.sym, r.n) for r in got] == [("s0", 12), ("s1", 12)], got
    got = questdb_sql(
        spark,
        'SELECT ts, count() AS n FROM __p4 '
        'WHERE "__p4"."v" > 5 SAMPLE BY 1d',
        d,
    ).collect()
    assert [(r.ts.day, r.n) for r in got] == [(1, 18)], got

    # DECLARE binding whose value is a (quoted) identifier: substitutes
    # UNWRAPPED so `GROUP BY @c` stays a plain key (the paren wrap used
    # to refuse as a computed key without alias).
    for binding in ("sym", '"sym"'):
        got = questdb_sql(
            spark,
            f"DECLARE @c := {binding} "
            "SELECT @c, count() AS n FROM __p4 GROUP BY @c ORDER BY 1",
            d,
        ).collect()
        assert [(r.sym, r.n) for r in got] == [("s0", 12), ("s1", 12)], got

    # EXPLAIN over a CTE + ASOF-subquery + SAMPLE BY composition: the
    # joined subquery (ts + ts_right) inherits the LEFT designated ts,
    # so the outer SAMPLE BY lowers and EXPLAIN returns plan rows.
    got = questdb_sql(
        spark,
        "EXPLAIN WITH q AS (SELECT ts, sym, v FROM __p4 WHERE v > 2) "
        "SELECT ts, count() AS n FROM "
        "(SELECT * FROM __p4 ASOF JOIN q ON sym) SAMPLE BY 1d",
        d,
    ).collect()
    assert got and got[0].query_plan.startswith("== Physical Plan"), got

    # Meta-function spellings: tables() lists the catalog views with
    # QuestDB's column names; table_columns('t') lists the schema with
    # QuestDB type spellings and the designated flag from the mapping.
    got = questdb_sql(
        spark,
        "SELECT table_name, designatedTimestamp FROM tables() "
        "WHERE table_name = '__p4'",
        d,
    ).collect()
    assert [(r.table_name, r.designatedTimestamp) for r in got] == [
        ("__p4", "ts")
    ], got
    got = questdb_sql(
        spark,
        "SELECT column, type, designated FROM table_columns('__p4') "
        "ORDER BY column",
        d,
    ).collect()
    assert [(r.column, r.type, r.designated) for r in got] == [
        ("sym", "STRING", False),
        ("ts", "TIMESTAMP", True),
        ("v", "DOUBLE", False),
    ], got
    # Unknown table refuses by name.
    with pytest.raises(QuestDBSQLError, match="unknown table"):
        questdb_sql(
            spark, "SELECT * FROM table_columns('__nope_p4')", d
        )

    # Round-18 composition sweep pins: GROUP BY over a RIGHT-KEY ref
    # groups unmatched rows under NULL (the null mask flows through
    # grouping), and `||` chains work as computed SAMPLE BY keys.
    spark.createDataFrame(
        [(f"s{i % 2}", float(i),
          dt.datetime(2024, 1, 1, 0, 0, 30) + dt.timedelta(hours=i))
         for i in range(4)],
        "sym string, bid double, qts timestamp",
    ).createOrReplaceTempView("__p4q")
    d2 = {"__p4": "ts", "__p4q": "qts"}
    got = questdb_sql(
        spark,
        "SELECT q.sym AS k, count() AS n FROM __p4 t ASOF JOIN __p4q "
        "q ON t.sym = q.sym GROUP BY q.sym ORDER BY k",
        d2,
    ).collect()
    # Hour-0 rows precede the first quote (00:00:30) → NULL group
    # (Spark ASC seats nulls first, matching QuestDB's fixed order).
    assert got[0].k is None and got[0].n >= 1, got
    assert sum(r.n for r in got) == 24, got
    got = questdb_sql(
        spark,
        "SELECT ts, sym || '#' AS k, count() AS n FROM __p4 "
        "SAMPLE BY 1d",
        {"__p4": "ts"},
    ).collect()
    assert sorted((r.k, r.n) for r in got) == [
        ("s0#", 12), ("s1#", 12)
    ], got


def test_order_by_nulls_first_last(spark):
    """`ORDER BY expr [ASC|DESC] NULLS FIRST|LAST` — the PG-tool
    spelling — lowers on the dialect path (round 18; the suffix used to
    stay inside the expression text and die as a raw ParseException).
    Bare directions keep Spark's defaults, which match QuestDB's
    null-sentinel ordering (nulls first ASC / last DESC); the explicit
    spellings force either seat; a NULLS-bearing sort opts out of the
    threshold-prune LIMIT route; the negative-LIMIT tail slice reverses
    the null seat exactly."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, h), None if h % 3 == 0 else float(h))
        for h in range(6)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, v double"
    ).createOrReplaceTempView("__nf")
    d = {"__nf": "ts"}

    got = questdb_sql(
        spark,
        "SELECT v, count() AS n FROM __nf GROUP BY v "
        "ORDER BY v ASC NULLS LAST",
        d,
    ).collect()
    assert got[-1].v is None and got[0].v == 1.0, got
    got = questdb_sql(
        spark,
        "SELECT v, count() AS n FROM __nf GROUP BY v "
        "ORDER BY v DESC NULLS FIRST",
        d,
    ).collect()
    assert got[0].v is None and got[1].v == 5.0, got
    # Bare ASC: Spark/QuestDB default seats nulls FIRST.
    got = questdb_sql(
        spark,
        "SELECT v, count() AS n FROM __nf GROUP BY v ORDER BY v",
        d,
    ).collect()
    assert got[0].v is None, got
    # LIMIT across the null boundary honors the explicit seat (this is
    # where a wrong default would silently change WHICH rows survive).
    got = questdb_sql(
        spark,
        "SELECT v FROM __nf ORDER BY v NULLS LAST LIMIT 3",
        d,
    ).collect()
    assert [r.v for r in got] == [1.0, 2.0, 4.0], got
    # Negative LIMIT (tail slice) with a NULLS seat: exact reversal.
    got = questdb_sql(
        spark,
        "SELECT v FROM __nf ORDER BY v NULLS LAST LIMIT -2",
        d,
    ).collect()
    assert [r.v for r in got] == [None, None], got


def test_first_last_group_by_is_ts_ordered(spark):
    """QuestDB's first()/last() aggregates are BY DESIGNATED-TS ORDER;
    Spark's same-named aggregates are 'any row, nondeterministic'. A
    plain GROUP BY with first()/last() carried no other dialect marker,
    hit the spark.sql passthrough, and silently returned arbitrary
    group members (round-18 probe — the SAMPLE BY path was correct all
    along). first/last now route the dialect parser (min_by/max_by on
    the designated ts); no designated ts refuses loudly; Spark's
    first_value window spelling stays passthrough."""
    import datetime as dt
    import random

    rows = [
        (dt.datetime(2024, 1, 1) + dt.timedelta(hours=h),
         f"s{h % 2}", float(h))
        for h in range(400)
    ]
    random.Random(7).shuffle(rows)
    spark.createDataFrame(
        rows, "ts timestamp, sym string, v double"
    ).repartition(8).createOrReplaceTempView("__fl")
    d = {"__fl": "ts"}
    got = questdb_sql(
        spark,
        "SELECT sym, first(v) AS fv, last(v) AS lv FROM __fl "
        "GROUP BY sym ORDER BY sym",
        d,
    ).collect()
    assert [(r.sym, r.fv, r.lv) for r in got] == [
        ("s0", 0.0, 398.0), ("s1", 1.0, 399.0)
    ], got
    # Implicit aggregation (no GROUP BY) shares the route.
    got = questdb_sql(
        spark, "SELECT first(v) AS fv, last(v) AS lv FROM __fl", d
    ).collect()
    assert (got[0].fv, got[0].lv) == (0.0, 399.0), got
    with pytest.raises(QuestDBSQLError, match="designated timestamp"):
        questdb_sql(
            spark, "SELECT sym, first(v) AS fv FROM __fl GROUP BY sym"
        )
    # Spark's window spelling keeps working on the passthrough path.
    got = questdb_sql(
        spark,
        "SELECT ts, first_value(v) OVER (PARTITION BY sym ORDER BY ts)"
        " AS fv FROM __fl ORDER BY ts LIMIT 1",
    ).collect()
    assert got[0].fv == 0.0, got


def test_string_agg_is_ts_ordered(spark):
    """QuestDB's string_agg(value, 'delim') concatenates in scan order
    — designated-ts order; Spark's same-named aggregate is partition-
    arbitrary, and the unmarked passthrough silently produced a
    different string (round-18 probe, the first/last marker-gap
    class). Now dialect-routed: ts-sorted join, nulls drop, works
    under GROUP BY and SAMPLE BY, refuses without a designated ts and
    for non-literal delimiters."""
    import datetime as dt
    import random

    rows = [
        (dt.datetime(2024, 1, 1) + dt.timedelta(hours=h),
         f"s{h % 2}", None if h == 4 else f"w{h}")
        for h in range(8)
    ]
    random.Random(3).shuffle(rows)
    spark.createDataFrame(
        rows, "ts timestamp, sym string, w string"
    ).repartition(8).createOrReplaceTempView("__sa")
    d = {"__sa": "ts"}
    got = questdb_sql(
        spark,
        "SELECT sym, string_agg(w, ',') AS ws FROM __sa "
        "GROUP BY sym ORDER BY sym",
        d,
    ).collect()
    assert [(r.sym, r.ws) for r in got] == [
        ("s0", "w0,w2,w6"), ("s1", "w1,w3,w5,w7")
    ], got
    got = questdb_sql(
        spark,
        "SELECT ts, string_agg(w, '|') AS ws FROM __sa SAMPLE BY 1d",
        d,
    ).collect()
    assert got[0].ws == "w0|w1|w2|w3|w5|w6|w7", got
    with pytest.raises(QuestDBSQLError, match="designated timestamp"):
        questdb_sql(
            spark,
            "SELECT sym, string_agg(w, ',') AS ws FROM __sa "
            "GROUP BY sym",
        )
    with pytest.raises(QuestDBSQLError, match="string literal"):
        questdb_sql(
            spark,
            "SELECT sym, string_agg(w, sym) AS ws FROM __sa "
            "GROUP BY sym",
            d,
        )


# ---------------------------------------------------------------------------
# Fixed per-query cost of the dashboard shapes: call-time jobs, py4j round
# trips, and left-only WHERE conjuncts below ASOF / LT JOIN
# ---------------------------------------------------------------------------

#: The designated timestamps of the dashboard-shaped tables below.
_DASH = {"__dash_purchases": "purchase_date", "__dash_prices": "price_ts"}


@pytest.fixture(scope="module")
def dash_tables(spark, tmp_path_factory):
    """A three-day purchases table and an item price table, both written
    and registered as designated-ts parquet tables (one file per day)."""
    import datetime as dt

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
        write_designated_ts,
    )

    base = tmp_path_factory.mktemp("dash")
    t0 = dt.datetime(2024, 1, 1)
    purchases = [
        (f"b{(7 * i) % 40}", i % 5, 1 + i % 4, float((37 * i) % 101),
         t0 + dt.timedelta(minutes=9 * i))
        for i in range(3 * 24 * 60 // 9)
    ]
    prices = [
        (t0 + dt.timedelta(hours=h), item, 100 * item + h)
        for h in range(0, 72, 6)
        for item in range(5)
    ]
    write_designated_ts(
        spark.createDataFrame(
            purchases,
            "buyer string, item_id int, quantity int, price double, "
            "purchase_date timestamp",
        ).coalesce(1),
        str(base / "purchases"), "purchase_date",
    )
    write_designated_ts(
        spark.createDataFrame(
            prices, "price_ts timestamp, item_id int, list_price int"
        ).coalesce(1),
        str(base / "prices"), "price_ts",
    )
    register_designated_table(
        spark, "__dash_purchases", str(base / "purchases")
    )
    register_designated_table(spark, "__dash_prices", str(base / "prices"))
    return base


def _call_time_jobs(spark, build):
    """Run ``build()`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"call-time-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "call-time jobs")
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


_DAY = "WHERE purchase_date IN '2024-01-02'"
_COLS = "buyer, item_id, quantity, price, purchase_date"

#: The five dashboard shapes over the dashboard tables.
_DASH_SHAPES = {
    "interval": f"SELECT {_COLS} FROM __dash_purchases {_DAY} "
                "ORDER BY purchase_date",
    "sample_by_fill": "SELECT purchase_date, count() n, sum(quantity) qty "
                      f"FROM __dash_purchases {_DAY} AND item_id = 3 "
                      "SAMPLE BY 1h FILL(0)",
    "latest_on": f"SELECT {_COLS} FROM __dash_purchases {_DAY} "
                 "LATEST ON purchase_date PARTITION BY buyer",
    "asof_join": "SELECT purchase_date, buyer, item_id, quantity, "
                 "list_price FROM __dash_purchases ASOF JOIN "
                 f"__dash_prices ON item_id {_DAY}",
    # One file per day: far fewer scan partitions than k = 25.
    "topk": f"SELECT {_COLS} FROM __dash_purchases {_DAY} "
            "ORDER BY price DESC, purchase_date LIMIT 25",
}


def test_dashboard_shapes_call_time_jobs(spark, dash_tables):
    """Building a dashboard query starts no Spark job: SAMPLE BY FILL
    densifies without a checkpoint, and the top-k route reads the
    partition count from the plan."""
    got = {}
    for name, sql in _DASH_SHAPES.items():
        df, jobs = _call_time_jobs(
            spark, lambda sql=sql: questdb_sql(spark, sql, _DASH)
        )
        assert df.count() > 0, name
        got[name] = jobs
    assert got == dict.fromkeys(_DASH_SHAPES, 0)


def _exchanges(df) -> list[str]:
    """The exchanges of ``df``'s physical plan, before it runs."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"(?:Broadcast)?Exchange(?: \w+)?", plan)


def test_dashboard_shapes_run_one_job(spark, dash_tables):
    """Each dashboard shape, built and fetched, runs one job and no
    exchange: tables no larger than one file open read as one partition,
    and the WHERE still prunes the day partitions under the coalesce.
    With ``spark.sql.files.openCostInBytes`` below the tables' size the
    reads are left alone, and the plans keep their exchanges."""
    for name, sql in _DASH_SHAPES.items():
        rows, jobs = _call_time_jobs(
            spark, lambda sql=sql: questdb_sql(spark, sql, _DASH).collect()
        )
        assert rows and jobs == 1, (name, jobs)
        df = questdb_sql(spark, sql, _DASH)
        assert _exchanges(df) == [], name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Coalesce 1" in plan, name
        assert "PartitionFilters: [isnotnull(purchase_date_pdate" in plan, name
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        got = {
            name: _exchanges(questdb_sql(spark, sql, _DASH))
            for name, sql in _DASH_SHAPES.items()
        }
    finally:
        spark.conf.set(key, old)
    assert got == {
        "interval": ["Exchange rangepartitioning"],
        "sample_by_fill": ["Exchange SinglePartition",
                           "Exchange hashpartitioning"],
        "latest_on": ["Exchange hashpartitioning"],
        "asof_join": ["Exchange hashpartitioning"],
        "topk": [],
    }


def test_topk_route_below_k_partitions_runs_no_job(spark, dash_tables):
    """With fewer scan partitions than k, the certify pass cannot find a
    bound, so the route plans the plain top-k without running it; LIMIT 1
    on the same scan still certifies its bound and filters on it."""
    sql = ("SELECT buyer, item_id, quantity, price, purchase_date "
           "FROM __dash_purchases WHERE purchase_date IN '2024-01-02' "
           "ORDER BY price DESC, purchase_date LIMIT {k}")
    out, jobs = _call_time_jobs(
        spark, lambda: questdb_sql(spark, sql.format(k=25), _DASH)
    )
    assert jobs == 0
    plain = (
        spark.table("__dash_purchases")
        .filter("purchase_date >= TIMESTAMP '2024-01-02' "
                "AND purchase_date < TIMESTAMP '2024-01-03'")
        .orderBy(F.desc("price"), F.asc("purchase_date"))
        .limit(25)
        .select("buyer", "item_id", "quantity", "price", "purchase_date")
    )
    assert out.collect() == plain.collect()
    one = questdb_sql(spark, sql.format(k=1), _DASH)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"\(price#\d+ >= ", plan), plan
    assert one.collect() == plain.limit(1).collect()


def _round_trips(spark, monkeypatch, sql) -> int:
    """The py4j round trips of one warm ``questdb_sql`` call."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    questdb_sql(spark, sql, _DASH)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        # py4j's finalizer thread frees garbage-collected proxies at any
        # time; those are not round trips of the plan build.
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    questdb_sql(spark, sql, _DASH)
    monkeypatch.undo()
    return len(calls)


def test_asof_route_builds_in_few_py4j_calls(spark, dash_tables, monkeypatch):
    """The ASOF lowering passes SQL strings for the JVM to parse, so the
    dashboard's ASOF query builds in a bounded number of py4j round
    trips, whatever the column count."""
    calls = _round_trips(spark, monkeypatch, _DASH_SHAPES["asof_join"])
    assert calls <= 150, calls


def test_sample_by_fill_route_builds_in_few_py4j_calls(
    spark, dash_tables, monkeypatch
):
    """``fill_gaps`` builds its densify and fills from SQL strings, so the
    dashboard's SAMPLE BY FILL query builds in a bounded number of py4j
    round trips."""
    calls = _round_trips(spark, monkeypatch, _DASH_SHAPES["sample_by_fill"])
    assert calls <= 200, calls


def test_sample_by_fill_keeps_null_group_key(spark):
    """SAMPLE BY FILL keeps the aggregates of a NULL group key: the NULL
    key is a group like any other, filled or not."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (t0 + dt.timedelta(minutes=10), None, 5),
            (t0 + dt.timedelta(hours=1), "a", 1),
            (t0 + dt.timedelta(hours=2, minutes=20), None, 7),
        ],
        "ts timestamp, sym string, v long",
    ).createOrReplaceTempView("__nk")
    d = {"__nk": "ts"}

    def sums(fill):
        sql = f"SELECT ts, sym, sum(v) s FROM __nk SAMPLE BY 1h {fill}"
        return {
            (r.sym, r.ts.hour): r.s for r in questdb_sql(spark, sql, d).collect()
        }

    assert sums("") == {(None, 0): 5, ("a", 1): 1, (None, 2): 7}
    assert sums("FILL(0)") == {
        (None, 0): 5, (None, 1): 0, (None, 2): 7,
        ("a", 0): 0, ("a", 1): 1, ("a", 2): 0,
    }
    assert sums("FILL(PREV)") == {
        (None, 0): 5, (None, 1): 5, (None, 2): 7,
        ("a", 0): None, ("a", 1): 1, ("a", 2): 1,
    }


@pytest.fixture(scope="module")
def asof_pushdown_tables(spark, tmp_path_factory):
    """Designated-ts parquet trades (left) and quotes (right) over three
    days; both carry a ``price`` column, so the right one clashes."""
    import datetime as dt

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
        write_designated_ts,
    )

    base = tmp_path_factory.mktemp("asof_pushdown")
    t0 = dt.datetime(2024, 1, 1)
    trades = [
        (t0 + dt.timedelta(days=d, hours=h, minutes=15), s,
         float(10 * d + h), 100 * d + h)
        for d in range(3) for h in range(0, 24, 3) for s in ("AAA", "BBB")
    ]
    quotes = [
        (t0 + dt.timedelta(days=d, hours=h), s,
         float(10 * d + h) + (0.5 if s == "BBB" else 0.0), float(h))
        for d in range(3) for h in range(0, 24, 5) for s in ("AAA", "BBB")
    ]
    write_designated_ts(
        spark.createDataFrame(
            trades, "ts timestamp, sym string, price double, qty long"
        ),
        str(base / "left_trades"), "ts",
    )
    write_designated_ts(
        spark.createDataFrame(
            quotes, "ts timestamp, sym string, bid double, price double"
        ),
        str(base / "right_quotes"), "ts",
    )
    register_designated_table(spark, "__pd_t", str(base / "left_trades"))
    register_designated_table(spark, "__pd_q", str(base / "right_quotes"))


def _left_scan_filters(df) -> str:
    """The PartitionFilters and PushedFilters of the left table's scan,
    untruncated."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = [
        leaves.apply(i).metadata()
        for i in range(leaves.length())
        if "left_trades" in leaves.apply(i).metadata().apply("Location")
    ]
    assert len(scans) == 1
    return " ".join(
        f"{key}: {scans[0].apply(key)}"
        for key in ("PartitionFilters", "PushedFilters")
    )


@pytest.mark.parametrize(
    "join, where, above, below, not_below",
    [
        ("ASOF JOIN __pd_q ON sym", "ts IN '2024-01-02'",
         "ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'",
         ["ts_pdate", "GreaterThanOrEqual(ts,"], []),
        ("LT JOIN __pd_q ON sym", "ts IN '2024-01-02' AND qty > 110",
         "ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03' "
         "AND qty > 110",
         ["ts_pdate", "GreaterThan(qty,110)"], []),
        ("ASOF JOIN __pd_q ON sym TOLERANCE 2h",
         "ts IN '2024-01-03' AND bid IS NULL",
         "ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-04' "
         "AND bid IS NULL",
         ["ts_pdate"], ["bid"]),
        ("t ASOF JOIN __pd_q ON sym",
         "t.ts IN '2024-01-02' AND t.sym = 'AAA'",
         "ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03' "
         "AND sym = 'AAA'",
         ["ts_pdate", "EqualTo(sym,AAA)"], []),
        ("t ASOF JOIN __pd_q q ON sym",
         "q.price < 15 AND t.price > 12 AND q.sym = 'BBB'",
         "price_right < 15 AND price > 12 AND "
         "(CASE WHEN ts_right IS NOT NULL THEN sym END) = 'BBB'",
         ["GreaterThan(price,12.0)"],
         ["LessThan(price", "EqualTo(sym", "ts_pdate"]),
        ("ASOF JOIN __pd_q ON sym",
         "ts IN '2024-01-03' AND price > 23 AND bid > price",
         "ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-04' "
         "AND price > 23 AND bid > price",
         ["ts_pdate", "GreaterThan(price,23.0)"], ["bid"]),
        ("ASOF JOIN __pd_q ON sym", "ts IN '2024-01-02' OR bid > 25",
         "(ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03') "
         "OR bid > 25",
         [], ["ts_pdate", "(ts,", "bid"]),
        ("ASOF JOIN __pd_q ON sym",
         "price BETWEEN 12 AND 14 AND bid BETWEEN 0 AND 30",
         "price BETWEEN 12 AND 14 AND bid BETWEEN 0 AND 30",
         ["GreaterThanOrEqual(price,12.0)", "LessThanOrEqual(price,14.0)"],
         ["bid"]),
    ],
    ids=["asof", "lt", "tolerance", "left_alias", "right_alias", "mixed",
         "or_across_sides", "between"],
)
def test_asof_where_pushdown_keeps_rows(
    spark, asof_pushdown_tables, join, where, above, below, not_below
):
    """Left-only WHERE conjuncts filter the left rows before ASOF / LT
    JOIN (reaching the left scan's partition and pushed filters); the
    rows equal the as-of join followed by the whole filter."""
    from questdb_etl_jobs_spark.operators.asof import asof_join

    out = questdb_sql(
        spark, f"SELECT * FROM __pd_t {join} WHERE {where}",
        {"__pd_t": "ts", "__pd_q": "ts"},
    )
    filters = _left_scan_filters(out)
    tol = re.search(r"TOLERANCE (\w+)", join)
    want = asof_join(
        spark.table("__pd_t"), spark.table("__pd_q"), on="ts", by=["sym"],
        strict="LT JOIN" in join, tolerance=tol.group(1) if tol else None,
    ).filter(above)
    got = sorted(map(repr, out.collect()))
    assert got and got == sorted(map(repr, want.select(out.columns).collect()))
    for s in below:
        assert s in filters, (s, filters)
    for s in not_below:
        assert s not in filters, (s, filters)


def test_latest_on_where_split_keeps_between_and_ignores_case(spark, trades):
    """LATEST ON's WHERE split keeps a BETWEEN's own AND inside its
    conjunct, and a value filter spelled in another case still applies
    AFTER the latest row per key is found."""
    d = {"trades": "ts"}
    got = questdb_sql(
        spark,
        "SELECT * FROM trades WHERE price BETWEEN 10 AND 13 "
        "AND ts IN '2024-01-01' LATEST ON ts PARTITION BY sym",
        d,
    ).collect()
    assert sorted((r.sym, r.price) for r in got) == [
        ("AAA", 13.0), ("BBB", 13.0)
    ]
    # The latest rows (price 23) fail the filter: nothing is left.
    assert questdb_sql(
        spark,
        "SELECT * FROM trades WHERE PRICE < 20 LATEST ON ts PARTITION BY sym",
        d,
    ).collect() == []
