"""Property-based tests (hypothesis): operators vs brute-force CPython
models on randomized inputs. Complements the fixed-seed oracle gate —
these sweep the corners the fixtures don't (ties, empty partitions,
duplicate timestamps, single-token docs)."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from questdb_etl_jobs_spark.operators.asof import asof_join
from questdb_etl_jobs_spark.operators.dedup import ngram_jaccard_pairs

_BASE = datetime(2024, 1, 1)

_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=25
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=_events, right=_events, strict=st.booleans())
def test_asof_join_matches_bruteforce(spark, left, right, strict):
    ldf = spark.createDataFrame(
        [(k, _BASE + timedelta(minutes=m), i) for i, (k, m) in enumerate(left)],
        "k long, ts timestamp, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, _BASE + timedelta(minutes=m), i) for i, (k, m) in enumerate(right)],
        "k long, ts timestamp, rid long",
    )
    if not left:
        return  # empty left: nothing to assert (createDataFrame keeps schema)
    got = {
        r["lid"]: r["rid"]
        for r in asof_join(
            ldf, rdf, on="ts", by=["k"], strict=strict, how="left"
        ).collect()
    }
    # brute force: latest right at-or-before (or strictly before); ties on
    # right ts broken by the operator's documented tiebreak (max rid).
    for i, (k, m) in enumerate(left):
        cands = [
            (rm, j)
            for j, (rk, rm) in enumerate(right)
            if rk == k and (rm < m if strict else rm <= m)
        ]
        expected = max(cands)[1] if cands else None
        assert got[i] == expected, (i, k, m, strict, cands)


_docs = st.lists(
    st.lists(st.sampled_from("abcde"), min_size=1, max_size=8).map(" ".join),
    min_size=0,
    max_size=10,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_docs)
def test_ngram_jaccard_exact_matches_bruteforce(spark, texts):
    if not texts:
        return
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["n_union"])
        for r in ngram_jaccard_pairs(
            df, "id", "text", threshold_num=1, threshold_den=2, shingle_words=2
        ).collect()
    }

    def shingles(t: str) -> frozenset[str]:
        toks = t.split(" ")
        n = max(len(toks) - 1, 1)
        return frozenset(" ".join(toks[i : i + 2]) for i in range(n))

    sets = [shingles(t) for t in texts]
    expected = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter > 0 and 2 * inter >= union:
                expected[(a, b)] = (inter, union)
    assert got == expected


_sparse = st.lists(
    st.tuples(st.integers(0, 30), st.integers(-50, 50)),
    min_size=1, max_size=12, unique_by=lambda t: t[0],
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(points=_sparse)
def test_fill_gaps_linear_matches_numpy_interp(spark, points):
    """FILL(LINEAR) against numpy.interp over random sparse hourly
    aggregates (interior gaps only — edges stay NULL by QuestDB
    semantics, which numpy.interp clamps instead)."""
    import numpy as np

    from questdb_etl_jobs_spark.operators.sample_by import fill_gaps

    agg = spark.createDataFrame(
        [(_BASE + timedelta(hours=h), float(v)) for h, v in points],
        "bucket_ts timestamp, v double",
    )
    out = {
        (r["bucket_ts"] - _BASE).total_seconds() / 3600: r["v"]
        for r in fill_gaps(agg, "bucket_ts", "hour", fill={"v": "linear"})
        .collect()
    }
    xs = sorted(h for h, _ in points)
    vals = dict(points)
    lo, hi = xs[0], xs[-1]
    assert set(out) == set(range(lo, hi + 1))
    for h in range(lo, hi + 1):
        expected = float(np.interp(h, xs, [float(vals[x]) for x in xs]))
        assert out[h] is not None and abs(out[h] - expected) < 1e-9, (h, points)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tokens=st.lists(st.integers(1, 300), min_size=1, max_size=30),
    budget=st.integers(10, 200),
)
def test_pack_sequences_matches_python_model(spark, tokens, budget):
    """Packing positions equal the sequential concat-then-chunk model."""
    from questdb_etl_jobs_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        list(enumerate(tokens)), "doc_id long, n long"
    )
    got = {
        r["doc_id"]: (r["bin"], r["bin_offset"], r["n_spans"])
        for r in pack_sequences(df, "doc_id", "n", budget=budget).collect()
    }
    offset = 0
    for i, n in enumerate(tokens):
        b, off, spans = offset // budget, offset % budget, (
            (offset + n - 1) // budget - offset // budget
        )
        assert got[i] == (b, off, spans), (i, n, budget)
        offset += n


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=_events, right=_events)
def test_splice_join_matches_bruteforce(spark, left, right):
    # SPLICE = full as-of both ways. Keep (k, ts) unique PER SIDE (the
    # operator's documented determinism caveat, same as DuckDB ASOF);
    # cross-side ties stay in and must be visible in both directions.
    from questdb_etl_jobs_spark.operators.asof import splice_join

    left = list({(k, m): None for k, m in left})
    right = list({(k, m): None for k, m in right})
    if not left and not right:
        return
    ldf = spark.createDataFrame(
        [(k, _BASE + timedelta(minutes=m), i) for i, (k, m) in enumerate(left)],
        "k long, ts timestamp, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, _BASE + timedelta(minutes=m), i) for i, (k, m) in enumerate(right)],
        "k long, ts timestamp, rid long",
    )
    out = splice_join(ldf, rdf, on="ts", by=["k"]).collect()
    assert len(out) == len(left) + len(right)  # every input row appears

    def latest(rows, k, m):
        cands = [(rm, j) for j, (rk, rm) in enumerate(rows)
                 if rk == k and rm <= m]
        return max(cands)[1] if cands else None

    for r in out:
        if r["side"] == "L":
            i = r["lid"]
            k, m = left[i]
            assert r["rid"] == latest(right, k, m), ("L", i, k, m)
        else:
            j = r["rid"]
            k, m = right[j]
            assert r["lid"] == latest(left, k, m), ("R", j, k, m)


_chunk_docs = st.lists(
    st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=4),
        min_size=1,
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=_chunk_docs,
    chunk_size=st.integers(1, 8),
    overlap=st.integers(0, 4),
)
def test_chunk_tokens_matches_python_model(spark, docs, chunk_size, overlap):
    """Windows must tile every token (coverage), respect size/stride
    arithmetic exactly, and clamp only the final window per doc."""
    from questdb_etl_jobs_spark.operators.chunking import chunk_tokens

    stride = max(chunk_size - min(overlap, chunk_size - 1), 1)
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx): (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_tokens(
            df, "doc_id", "text", chunk_size=chunk_size, stride=stride
        ).collect()
    }

    want = {}
    for i, toks in enumerate(docs):
        starts = list(range(0, len(toks), stride)) or [0]
        for idx, s in enumerate(starts):
            window = toks[s : s + chunk_size]
            want[(i, idx)] = (len(window), " ".join(window))
    assert got == want
    # coverage: every token position appears in >=1 window
    for i, toks in enumerate(docs):
        covered = set()
        for idx, s in enumerate(range(0, len(toks), stride)):
            covered.update(range(s, min(s + chunk_size, len(toks))))
        assert covered == set(range(len(toks)))


_upsert_batches = st.lists(  # each batch: rows of (day, key, value)
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 4), st.integers(0, 100)),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=_upsert_batches)
def test_upsert_designated_ts_matches_dict_model(spark, batches, tmp_path_factory):
    """Any sequence of upserted batches must leave the table equal to
    the dict model: later batches beat stored rows on (ts, key);
    duplicate (ts, key) within a batch resolve to the max value."""
    from questdb_etl_jobs_spark.plans.designated import (
        read_designated_ts,
        upsert_designated_ts,
    )

    tmp = tmp_path_factory.mktemp("upsert_prop")
    path = str(tmp / "t")

    model: dict[tuple, int] = {}
    for batch in batches:
        df = spark.createDataFrame(
            [
                (k, datetime(2024, 1, d, 12, 0, 0), float(v))
                for d, k, v in batch
            ],
            "k long, ts timestamp, v double",
        )
        upsert_designated_ts(spark, df, path, "ts", keys=["k"])
        staged: dict[tuple, int] = {}
        for d, k, v in batch:
            key = (k, datetime(2024, 1, d, 12, 0, 0))
            staged[key] = max(staged.get(key, -1), v)
        model.update(staged)

    got = {
        (r.k, r.ts): r.v
        for r in read_designated_ts(spark, path, "ts").collect()
    }
    assert got == {key: float(v) for key, v in model.items()}


_weighted_rows = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 1), st.integers(1, 30)),
    min_size=1,
    max_size=30,
    unique_by=lambda r: r[0],
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_weighted_rows, budget=st.integers(5, 120), k=st.integers(1, 6))
def test_sampling_operators_match_python_models(spark, rows, budget, k):
    """token_budget_take and fixed_size_sample vs brute-force models:
    hash-ordered prefix under a weight budget; first-k by hash rank."""
    from questdb_etl_jobs_spark.functions.sampling import (
        RESOLUTION,
        fixed_size_sample,
        token_budget_take,
    )

    knuth = 2654435761
    df = spark.createDataFrame(rows, "id long, grp long, w long")

    got_budget = sorted(
        (r.grp, r.id)
        for r in token_budget_take(df, "id", "grp", "w", budget).collect()
    )
    got_fixed = sorted(
        (r.grp, r.id)
        for r in fixed_size_sample(df, "id", "grp", k).collect()
    )

    want_budget, want_fixed = [], []
    for g in {r[1] for r in rows}:
        members = sorted(
            (i for i, gg, _ in rows if gg == g),
            key=lambda i: ((i * knuth) % RESOLUTION, i),
        )
        cum = 0
        weights = {i: w for i, gg, w in rows if gg == g}
        for i in members:
            cum += weights[i]
            if cum > budget:
                break
            want_budget.append((g, i))
        want_fixed.extend((g, i) for i in members[:k])
    assert got_budget == sorted(want_budget)
    assert got_fixed == sorted(want_fixed)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_weighted_rows, k=st.integers(1, 5), salt=st.integers(0, 3))
def test_weighted_sample_per_key_matches_python_model(spark, rows, k, salt):
    """weighted_sample_per_key vs the brute-force Efraimidis-Spirakis
    model run independently per stratum: priority -ln(u)/w with u from
    the Knuth content hash, k smallest per group, ties by id — the
    pruned grouped-top-k path must reproduce it exactly, including the
    exposed rank column."""
    import math

    from questdb_etl_jobs_spark.functions.sampling import (
        RESOLUTION,
        weighted_sample_per_key,
    )

    knuth = 2654435761
    # zero weights divide by zero in the priority; the model and the
    # operator agree only for positive weights (the documented domain)
    rows = [(i, g, max(1, w)) for i, g, w in rows]
    df = spark.createDataFrame(rows, "id long, grp long, w long")

    got = sorted(
        (r.grp, r.id, r.rn)
        for r in weighted_sample_per_key(
            df, ["grp"], "id", "w", k, salt=salt, rank_col="rn"
        ).collect()
    )

    want = []
    for g in {r[1] for r in rows}:
        members = [(i, w) for i, gg, w in rows if gg == g]

        def pri(item):
            i, w = item
            u = (((i + salt) * knuth) % RESOLUTION + 1) / RESOLUTION
            return (-math.log(u) / w, i)

        for rn, (i, _w) in enumerate(sorted(members, key=pri)[:k], 1):
            want.append((g, i, rn))
    assert got == sorted(want)


_scd_rows = st.lists(
    st.tuples(st.integers(0, 2), st.sampled_from("ABC"), st.integers(0, 40)),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_scd_rows)
def test_scd2_intervals_match_bruteforce(spark, rows):
    """SCD2 build vs a CPython run-length model: per key the versions
    partition the row sequence, valid_to chains to the next valid_from,
    and attrs/counts match the brute-force collapse (incl. duplicate
    timestamps, resolved by the explicit order column)."""
    from questdb_etl_jobs_spark.operators.scd import scd2_intervals

    df = spark.createDataFrame(
        [
            (k, a, _BASE + timedelta(minutes=m), i)
            for i, (k, a, m) in enumerate(rows)
        ],
        "k long, attr string, ts timestamp, rid long",
    )
    got = {
        (r.k, r.version): (r.attr, r.valid_from, r.valid_to, r.n_rows)
        for r in scd2_intervals(df, "k", "attr", "ts", order=["rid"]).collect()
    }

    # Brute-force model.
    expected = {}
    by_key: dict[int, list] = {}
    for i, (k, a, m) in enumerate(rows):
        by_key.setdefault(k, []).append((_BASE + timedelta(minutes=m), i, a))
    for k, seq in by_key.items():
        seq.sort()
        runs = []
        for ts, _, a in seq:
            if not runs or runs[-1][0] != a:
                runs.append([a, ts, 0])
            runs[-1][2] += 1
        for v, (a, ts, n) in enumerate(runs, start=1):
            nxt = runs[v][1] if v < len(runs) else None
            expected[(k, v)] = (a, ts, nxt, n)
    assert got == expected


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    weights=st.lists(st.integers(1, 1000), min_size=1, max_size=40),
    k=st.integers(1, 10),
    salt=st.integers(0, 3),
)
def test_weighted_sample_matches_bruteforce(spark, weights, k, salt):
    """A-ES weighted top-k vs the same priority formula in CPython —
    exact set equality, any weights, any k, any salt."""
    import math

    from questdb_etl_jobs_spark.functions.sampling import (
        RESOLUTION,
        weighted_sample_topk,
    )

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "id long, w long"
    )
    got = sorted(
        r.id for r in weighted_sample_topk(df, "id", "w", k=k, salt=salt).collect()
    )
    pri = {
        i: -math.log((((i + salt) * 2654435761) % RESOLUTION + 1) / RESOLUTION)
        / w
        for i, w in enumerate(weights)
    }
    expected = sorted(
        sorted(pri, key=lambda i: (pri[i], i))[: min(k, len(weights))]
    )
    assert got == expected


_series = st.lists(
    st.tuples(
        st.integers(0, 2),                       # key
        st.integers(0, 40),                      # minute offset (dups allowed)
        st.one_of(st.none(), st.integers(-50, 50)),  # value (nullable)
    ),
    min_size=0,
    max_size=30,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_series)
def test_ema_matches_bruteforce(spark, rows):
    from questdb_etl_jobs_spark.operators.ema import ema

    if not rows:
        return
    df = spark.createDataFrame(
        [
            (k, _BASE + timedelta(minutes=m), i,
             float(v) if v is not None else None)
            for i, (k, m, v) in enumerate(rows)
        ],
        "k long, ts timestamp, rid long, v double",
    )
    got = {
        r["rid"]: r["ema"]
        for r in ema(df, key="k", ts="ts", value="v", alpha=0.25,
                     order=["rid"]).collect()
    }
    # Brute force: per key in (ts, rid) order, y = 0.25x + 0.75y,
    # NULL carries the state (NULL before any value).
    for key in {k for k, _, _ in rows}:
        state = None
        ordered = sorted(
            (m, i, v) for i, (k, m, v) in enumerate(rows) if k == key
        )
        for m, i, v in ordered:
            if v is not None:
                state = (
                    float(v) if state is None
                    else 0.25 * float(v) + 0.75 * state
                )
            expected = state
            if expected is None:
                assert got[i] is None, (i, rows)
            else:
                assert got[i] is not None and abs(got[i] - expected) < 1e-12


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_series)
def test_counter_increase_matches_bruteforce(spark, rows):
    from questdb_etl_jobs_spark.operators.counter import counter_increase

    if not rows:
        return
    df = spark.createDataFrame(
        [
            (k, _BASE + timedelta(minutes=m), i,
             int(v) if v is not None else None)
            for i, (k, m, v) in enumerate(rows)
        ],
        "k long, ts timestamp, rid long, v long",
    )
    got = {
        r["rid"]: r["increase"]
        for r in counter_increase(
            df, key="k", ts="ts", value="v", order=["rid"]
        ).collect()
    }
    for key in {k for k, _, _ in rows}:
        prev = None
        ordered = sorted(
            (m, i, v) for i, (k, m, v) in enumerate(rows) if k == key
        )
        for m, i, v in ordered:
            if v is None or prev is None:
                expected = None
            else:
                expected = v if v - prev < 0 else v - prev
            assert got[i] == expected, (i, rows)
            if v is not None:
                prev = v


# ---------------------------------------------------------------------------
# Round-8 operators
# ---------------------------------------------------------------------------

def _py_geohash(lat: float, lon: float, chars: int) -> str:
    """Independent reference implementation: the textbook per-bit
    bisection loop (NOT the closed form under test)."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_rng, lon_rng = [-90.0, 90.0], [-180.0, 180.0]
    bits, out, ch, even = 0, [], 0, True
    while len(out) < chars:
        rng, v = (lon_rng, lon) if even else (lat_rng, lat)
        mid = (rng[0] + rng[1]) / 2
        ch <<= 1
        if v >= mid:
            ch |= 1
            rng[0] = mid
        else:
            rng[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(alphabet[ch])
            bits, ch = 0, 0
    return "".join(out)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        # Hypothesis loves exact boundary floats (0.0, ±90, ±180), and
        # the assume() below rejects exactly those — expected here.
        HealthCheck.filter_too_much,
    ],
)
@given(
    pts=st.lists(
        st.tuples(
            st.floats(-90, 90, allow_nan=False, width=32),
            st.floats(-180, 180, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=12,
    ),
    chars=st.integers(1, 8),
)
def test_geohash_matches_bisection_reference(spark, pts, chars):
    """The closed-form codegen geohash equals the textbook bisection
    loop on arbitrary points (the bisection path IS the binary
    expansion of the scaled fraction; the poles/antimeridian clamp to
    the top cell like every standard implementation).

    Points within a float-ulp of an exact cell boundary are excluded:
    there the two formulations legitimately differ by one cell (the
    closed form's ``lon+180`` absorbs a sub-ulp offset; the bisection
    compares against the boundary directly) — the same divergence any
    two published geohash libraries show at exact boundaries."""
    from hypothesis import assume

    from questdb_etl_jobs_spark.functions.geo import geohash_encode

    lon_bits = (5 * chars + 1) // 2
    lat_bits = 5 * chars // 2
    for la, lo in pts:
        s_lat = (la + 90.0) / 180.0 * (1 << lat_bits)
        s_lon = (lo + 180.0) / 360.0 * (1 << lon_bits)
        assume(abs(s_lat - round(s_lat)) > 1e-6 or la in (90.0, -90.0))
        assume(abs(s_lon - round(s_lon)) > 1e-6 or lo in (180.0, -180.0))
    df = spark.createDataFrame(
        [(float(la), float(lo)) for la, lo in pts], "lat double, lon double"
    )
    got = (
        df.select(
            "lat", "lon",
            geohash_encode(F.col("lat"), F.col("lon"), chars).alias("g"),
        )
        .collect()
    )
    for r in got:
        assert r.g == _py_geohash(r.lat, r.lon, chars), (r.lat, r.lon, chars)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    start=st.datetimes(
        min_value=datetime(2000, 1, 1), max_value=datetime(2030, 12, 1)
    ),
    dur=st.tuples(st.integers(1, 72), st.sampled_from("smhdw")),
    period=st.tuples(st.integers(1, 13), st.sampled_from("hdwMy")),
    count=st.integers(1, 5),
)
def test_interval_repeat_spans_are_disjoint_shifts(start, dur, period, count):
    """Every occurrence of a repeating interval is the base span shifted
    by k periods: starts strictly increase, widths match the base except
    across variable-length calendar months, and span count == count."""
    from questdb_etl_jobs_spark.operators.sample_by import (
        interval_bounds_multi,
    )

    prefix = start.strftime("%Y-%m-%dT%H:%M")
    literal = (
        f"{prefix};{dur[0]}{dur[1]};{period[0]}{period[1]};{count}"
    )
    spans = interval_bounds_multi(literal)
    assert len(spans) == count
    starts = [s for s, _ in spans]
    assert starts == sorted(set(starts))
    if period[1] not in "My":
        widths = {
            (datetime.fromisoformat(e) - datetime.fromisoformat(s))
            for s, e in spans
        }
        assert len(widths) == 1  # fixed-width periods shift rigidly


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=400,
    ),
    q=st.sampled_from([0.1, 0.5, 0.9]),
)
def test_tdigest_rank_bound_property(spark, vals, q):
    """For arbitrary value sets the digest estimate's true rank stays
    within the k1 bound — including constant columns, duplicates, and
    sign mixes the fixture data never produces."""
    from questdb_etl_jobs_spark.operators.tdigest import tdigest_quantiles

    df = spark.createDataFrame([(v,) for v in vals], "v double").withColumn(
        "g", F.lit(1)
    )
    row = tdigest_quantiles(df, "v", ["g"], [q], delta=50).first()
    est = row[f"q_{int(q * 100):02d}"]
    svals = sorted(vals)
    lo = sum(1 for v in svals if v < est)
    hi = sum(1 for v in svals if v <= est)
    bound = 4 * len(vals) * q * (1 - q) / 50 + 1
    assert lo <= q * len(vals) + bound and hi >= q * len(vals) - bound


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(
        st.tuples(st.integers(0, 2), st.floats(-100, 100, allow_nan=False)),
        min_size=1,
        max_size=40,
    ),
    target=st.floats(-10, 10, allow_nan=False),
    slack=st.floats(0, 5, allow_nan=False),
)
def test_cusum_closed_form_matches_loop(spark, series, target, slack):
    """The windowed closed form S = P − min(0, running_min(P)) equals
    the textbook max(0, S+d) loop on arbitrary series — including all
    resets, duplicate keys, and negative runs."""
    from questdb_etl_jobs_spark.operators.cusum import cusum

    df = spark.createDataFrame(
        [(k, i, float(v)) for i, (k, v) in enumerate(series)],
        "k long, i long, v double",
    ).withColumn("ts", F.timestamp_seconds("i"))
    got = {
        r.i: (r.cusum_pos, r.cusum_neg)
        for r in cusum(
            df, "v", "ts", keys=["k"], target=target, slack=slack,
            tiebreak=["i"],
        ).collect()
    }
    state: dict[int, tuple[float, float]] = {}
    for i, (k, v) in enumerate(series):
        sp, sn = state.get(k, (0.0, 0.0))
        sp = max(0.0, sp + (v - target - slack))
        sn = max(0.0, sn + (target - slack - v))
        state[k] = (sp, sn)
        gp, gn = got[i]
        assert abs(gp - sp) < 1e-6 and abs(gn - sn) < 1e-6, (i, k, v)


def test_samplers_exclude_null_keys(spark):
    """Module-wide sampler contract: a content-keyed draw is undefined
    for a NULL key, so null-key rows are excluded — stated filter, not
    the engine-dependent nulls-first ordering accident the window faces
    inherited from Spark's ASC default."""
    from questdb_etl_jobs_spark.functions.sampling import (
        fixed_size_sample,
        weighted_sample_per_key,
        weighted_sample_topk,
    )

    rows = [(None, 0, 5), (1, 0, 5), (2, 0, 5), (3, 0, 5), (None, 1, 5)]
    df = spark.createDataFrame(rows, "id long, grp long, w long")

    got_fixed = {r.id for r in fixed_size_sample(df, "id", "grp", 2).collect()}
    got_global = {
        r.id for r in weighted_sample_topk(df, "id", "w", 4).collect()
    }
    got_grouped = {
        r.id
        for r in weighted_sample_per_key(df, ["grp"], "id", "w", 4).collect()
    }
    assert None not in got_fixed and len(got_fixed) == 2
    assert got_global == {1, 2, 3}
    assert got_grouped == {1, 2, 3}


# ---------------------------------------------------------------------------
# k-means assignment == brute-force argmin (operators/clustering.py)
# ---------------------------------------------------------------------------

_vec2 = st.tuples(
    st.integers(-50, 50), st.integers(-50, 50)
).map(lambda t: [float(t[0]) / 4, float(t[1]) / 4])

_points = st.lists(_vec2, min_size=1, max_size=20)
_cents = st.lists(_vec2, min_size=1, max_size=4)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(points=_points, cents=_cents)
def test_kmeans_assignment_matches_bruteforce(spark, points, cents):
    """assign_clusters equals a sequential brute-force argmin with the
    stated first-minimum tie-break, on arbitrary (including duplicated
    and coincident-centroid) inputs. Quarter-integer coordinates make
    every distance exact in binary, so ties are REAL and the tie-break
    is genuinely exercised."""
    from questdb_etl_jobs_spark.operators.clustering import assign_clusters

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(points)],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(df, cents).collect()
    }
    for i, v in enumerate(points):
        dists = [
            sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents
        ]
        assert got[i] == dists.index(min(dists)), (v, cents, dists)


_round_vals = st.lists(
    st.floats(
        min_value=-1e9, max_value=1e9,
        allow_nan=False, allow_infinity=False,
    ),
    min_size=1, max_size=20,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=_round_vals, scale=st.integers(-3, 6))
def test_round_down_up_rewrites_match_ieee_mirror(spark, vals, scale):
    """The round_down/round_up rewrites equal the same IEEE formula
    evaluated in CPython (sign * floor/ceil(|x| * 10^s) / 10^s) — JVM
    and CPython doubles agree operation-for-operation, so any
    divergence would be a rewrite bug, not float noise. This mirrors
    QuestDB's own pow10-multiply evaluation on doubles; it is NOT
    decimal rounding, and the test pins exactly that semantic."""
    import math

    from questdb_etl_jobs_spark.sql.dialect import rewrite_questdb_scalars

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i int, x double"
    )
    df.createOrReplaceTempView("__prop_round")
    got = {
        r.i: (r.down, r.up)
        for r in spark.sql(
            rewrite_questdb_scalars(
                f"SELECT i, round_down(x, {scale}) AS down, "
                f"round_up(x, {scale}) AS up FROM __prop_round"
            )
        ).collect()
    }
    p = math.pow(10.0, scale)
    for i, v in enumerate(vals):
        sign = 0.0 if v == 0 else math.copysign(1.0, v)
        down = sign * math.floor(abs(v) * p) / p
        up = sign * math.ceil(abs(v) * p) / p
        assert got[i] == (down, up), (v, scale, got[i], (down, up))


_strpos_texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
        max_size=30,
    ),
    min_size=1, max_size=15,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_strpos_texts, needle=st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
    min_size=1, max_size=4,
))
def test_strpos_rewrite_matches_python_find(spark, texts, needle):
    """strpos → instr equals CPython's 1-based find over arbitrary BMP
    text (QuestDB counts characters, so does Spark's instr, so does
    str.find — surrogate-free codepoints keep all three in the same
    unit). Routes through questdb_sql — the user-facing entry — so the
    needle is embedded with QUESTDB literal rules: quotes double,
    backslashes stay literal (the entry's normalization pass owns the
    Spark-escape translation; hypothesis found needle='\\\\' breaking
    the pre-normalization path, round 15)."""
    from questdb_etl_jobs_spark.sql.dialect import questdb_sql

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, s string"
    )
    df.createOrReplaceTempView("__prop_strpos")
    lit = needle.replace("'", "''")
    got = {
        r.i: r.p
        for r in questdb_sql(
            spark,
            f"SELECT i, strpos(s, '{lit}') AS p FROM __prop_strpos",
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == t.find(needle) + 1, (t, needle, got[i])


_update_table = st.lists(  # rows of (day, key, value)
    st.tuples(st.integers(1, 4), st.integers(0, 5), st.integers(-50, 50)),
    min_size=1, max_size=15,
)
_update_ops = st.lists(  # each op: (threshold, delta, day_scope or None)
    st.tuples(
        st.integers(-40, 40),
        st.integers(-5, 5),
        st.one_of(st.none(), st.integers(1, 4)),
    ),
    min_size=1, max_size=3,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_update_table, ops=_update_ops)
def test_update_designated_ts_matches_row_model(
    spark, rows, ops, tmp_path_factory
):
    """Any sequence of UPDATEs must leave the table equal to the
    per-row CPython model: rows where the predicate holds take the
    assignment (evaluated against the OLD row), NULL/false predicates
    leave the row untouched, day-scoped predicates (the dialect's
    `ts IN '<day>'` interval search, exercised through questdb_ddl)
    touch only their day, and rows keep their identity across
    partial-partition rewrites. Also pins the returned touched-dates
    contract."""
    from questdb_etl_jobs_spark.plans.designated import (
        write_designated_ts,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tmp = tmp_path_factory.mktemp("update_prop")
    path = str(tmp / "t")
    model = [
        [i, k, float(v), datetime(2024, 2, d, 9, 0, 0)]
        for i, (d, k, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        [tuple(r) for r in model], "rid long, k long, v double, ts timestamp"
    )
    write_designated_ts(df, path, "ts", mode="overwrite")

    for thr, delta, day in ops:
        pred_sql = f"v > {thr} AND k % 2 = 0"
        if day is not None:
            pred_sql += f" AND ts IN '2024-02-{day:02d}'"
        touched = questdb_ddl(
            spark,
            f"UPDATE t SET v = v + k + {delta} WHERE {pred_sql}",
            {"t": path},
        )
        expect_days = set()
        for r in model:
            hit = (
                r[2] > thr
                and r[1] % 2 == 0
                and (day is None or r[3].day == day)
            )
            if hit:
                expect_days.add(f"2024-02-{r[3].day:02d}")
                r[2] = r[2] + r[1] + delta  # OLD-row evaluation order
        assert touched == sorted(expect_days), (touched, expect_days)

    got = sorted(
        (r.rid, r.k, r.v, r.ts)
        for r in spark.read.parquet(path)
        .select("rid", "k", "v", "ts")
        .collect()
    )
    assert got == sorted(map(tuple, model)), (got, model)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_update_table, ops=_update_ops)
def test_update_mor_matches_row_model_and_fold(
    spark, rows, ops, tmp_path_factory
):
    """The merge-on-read face under any UPDATE sequence must equal the
    same per-row CPython model as the COW face: stacked deltas
    supersede by origin identity (assignments evaluate against the
    CURRENT merged row), an append mid-sequence composes (new rows
    carry no deltas but join later predicates), the merged read shows
    the model after every op, and the VACUUM fold lands the identical
    relation in a clean tree with zero pending deltas."""
    from questdb_etl_jobs_spark.plans.designated import (
        pending_update_seqs,
        read_designated_merged,
        update_designated_mor,
        write_designated_ts,
    )
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    tmp = tmp_path_factory.mktemp("update_mor_prop")
    path = str(tmp / "t")
    model = [
        [i, k, float(v), datetime(2024, 2, d, 9, 0, 0)]
        for i, (d, k, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        [tuple(r) for r in model], "rid long, k long, v double, ts timestamp"
    )
    write_designated_ts(df, path, "ts", mode="overwrite")

    def merged_rows():
        return sorted(
            (r.rid, r.k, r.v, r.ts)
            for r in read_designated_merged(spark, path, "ts")
            .select("rid", "k", "v", "ts")
            .collect()
        )

    for n, (thr, delta, day) in enumerate(ops):
        if n == 1:
            # Mid-sequence append with a delta already pending: appends
            # compose with MoR (new files carry no deltas).
            new_rid = 1000 + len(model)
            model.append(
                [new_rid, 2, 7.0, datetime(2024, 2, 2, 10, 0, 0)]
            )
            spark.createDataFrame(
                [tuple(model[-1])],
                "rid long, k long, v double, ts timestamp",
            ).createOrReplaceTempView("__mor_prop_new")
            questdb_ddl(
                spark,
                "INSERT INTO t SELECT * FROM __mor_prop_new",
                {"t": path},
            )
        pred_sql = f"v > {thr} AND k % 2 = 0"
        if day is not None:
            pred_sql += (
                f" AND ts >= TIMESTAMP '2024-02-{day:02d} 00:00:00' "
                f"AND ts < TIMESTAMP '2024-02-{day + 1:02d} 00:00:00'"
            )
        touched = update_designated_mor(
            spark, path, "ts", [("v", f"v + k + {delta}")], pred_sql
        )
        expect_days = set()
        for r in model:
            hit = (
                r[2] > thr
                and r[1] % 2 == 0
                and (day is None or r[3].day == day)
            )
            if hit:
                expect_days.add(f"2024-02-{r[3].day:02d}")
                r[2] = r[2] + r[1] + delta
        assert touched == sorted(expect_days), (touched, expect_days)
        assert merged_rows() == sorted(map(tuple, model))

    before_fold = merged_rows()
    questdb_ddl(spark, "VACUUM TABLE t", {"t": path})
    assert pending_update_seqs(spark, path) == []
    assert merged_rows() == before_fold


_lit_texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
        max_size=24,
    ),
    min_size=1, max_size=10, unique=True,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_lit_texts)
def test_questdb_literal_roundtrip_equality(spark, texts):
    """QuestDB literal round trip through the real entry point: any BMP
    string embedded as a QuestDB literal (quotes doubled, backslashes
    LITERAL) selects exactly its own row via `=` — the round-16
    normalization pass owns the QuestDB→Spark escape translation, so
    backslash-bearing and quote-bearing strings compare correctly."""
    from questdb_etl_jobs_spark.sql.dialect import questdb_sql

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, s string"
    )
    df.createOrReplaceTempView("__prop_lit")
    for i, t in enumerate(texts):
        lit = t.replace("'", "''")
        got = questdb_sql(
            spark, f"SELECT i FROM __prop_lit WHERE s = '{lit}'"
        ).collect()
        assert [r.i for r in got] == [i], (t, got)


_qi_idents = st.text(
    alphabet=st.sampled_from(list(
        "abcXYZ_09 -\""
    )),
    min_size=1, max_size=10,
).filter(
    lambda s: s.strip() and s.strip() == s and s.lower() != "i"
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ident=_qi_idents, texts=_lit_texts)
def test_quoted_identifier_literal_product_roundtrip(spark, ident, texts):
    """Round-16 verdict #6: the identifier and literal normalizations
    must not regress each other — a PG-quoted identifier (possibly
    containing doubled-quote escapes, spaces, dashes) referencing a
    column whose VALUES contain backslashes and quotes selects exactly
    its own row through the real entry point. Draws from the full
    identifier × literal product space."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from questdb_etl_jobs_spark.sql.dialect import questdb_sql

    schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField(ident, StringType()),
        ]
    )
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema
    ).createOrReplaceTempView("__prop_qi")
    q_ident = '"' + ident.replace('"', '""') + '"'
    for i, t in enumerate(texts):
        lit = t.replace("'", "''")
        got = questdb_sql(
            spark,
            f"SELECT i FROM __prop_qi WHERE {q_ident} = '{lit}'",
        ).collect()
        assert [r.i for r in got] == [i], (ident, t, got)


# ---------------------------------------------------------------------------
# PG-common-fragment equivalence fuzz (round 17)
# ---------------------------------------------------------------------------
#
# The round-15/16/17 wrong-answer bugs (literal backslashes, quoted
# identifiers, concat nulls) were all found by hand-probing the entry
# with text that is LEGAL in both QuestDB and DuckDB. This property
# institutionalizes that probe: generate small queries in the shared
# PG-flavored fragment — quoted identifiers, tricky string literals
# ('' escapes, backslashes), concat over nullable columns, CASE,
# IS NULL, grouped count()/min/max — and assert the engine's result
# equals DuckDB running the SAME text (count() → count(*) is the one
# textual translation). Results compare as multisets, so no ORDER BY
# (whose null placement legitimately differs across engines) is drawn.

_frag_strs = st.sampled_from(
    ["a1b22", "it's", "back\\slash", "x\\d+", "", "ümlaut", "zz"]
)
_frag_ints = st.integers(min_value=-3, max_value=9)


@st.composite
def _fragment_query(draw):
    mode = draw(st.sampled_from(["project", "group"]))
    lit = draw(_frag_strs).replace("'", "''")
    n = draw(_frag_ints)
    preds = [
        f"s = '{lit}'",
        f"i > {n}",
        "s IS NULL",
        "s IS NOT NULL",
        f"i <= {n} AND s IS NOT NULL",
        f"s = '{lit}' OR i = {n}",
        f"length(s) > {max(0, n)}",
        f"concat(s, '#') = '{lit}#'",
        f"i BETWEEN {n} AND {n + 4}",
        f"s IN ('{lit}', 'zz')",
        "s LIKE 'a%'",        # %/_ only: LIKE's escape char is where
        "s LIKE '_1b__'",     # PG/Spark (backslash) and DuckDB differ
        f"s || '#' = '{lit}#'",
        f"i / 2 > {n}",       # int/int → exact-rational DOUBLE in both
        f"v > {n} - 0.5",
    ]
    where = draw(st.sampled_from(preds))
    if mode == "project":
        items = draw(
            st.lists(
                st.sampled_from(
                    [
                        "i",
                        "s",
                        '"s"',
                        "concat(s, '_', i) AS k",
                        "CASE WHEN i > 4 THEN s ELSE 'lo' END AS b",
                        "nullif(s, 'zz') AS z",
                        "coalesce(s, '∅') AS c",
                        "CAST(i AS STRING) AS cs",
                        "s || '!' AS p",
                        "upper(s) AS u",
                        "substring(s, 2, 3) AS sub",
                        "i % 4 AS m",
                    ]
                ),
                min_size=1,
                max_size=3,
                unique=True,
            )
        )
        return f"SELECT {', '.join(items)} FROM __frag WHERE {where}"
    key = draw(st.sampled_from(['"s"', "s", "i % 3 AS g", "CASE WHEN i > 4 THEN 'hi' ELSE 'lo' END AS band"]))
    agg = draw(st.sampled_from(["count() AS n", "min(i) AS n", "max(s) AS n", "sum(i) AS n", "count_distinct(s) AS n"]))
    kname = key.split(" AS ")[-1].strip().strip('"')
    return (
        f"SELECT {key}, {agg} FROM __frag WHERE {where} "
        f"GROUP BY {kname}"
    )


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(q=_fragment_query())
def test_pg_common_fragment_matches_duckdb_verbatim(spark, q):
    import duckdb
    import math
    import re

    rows = [
        (0, "a1b22", 1.5),
        (1, "it's", -2.0),
        (2, "back\\slash", 0.0),
        (3, None, 3.25),
        (4, "zz", None),
        (5, "a1b22", 9.0),
        (6, "", 4.0),
        (7, "ümlaut", 5.0),
        (8, None, None),
        (9, "x\\d+", 2.0),
    ]
    spark.createDataFrame(
        rows, "i int, s string, v double"
    ).createOrReplaceTempView("__frag")
    from questdb_etl_jobs_spark.sql.dialect import questdb_sql

    got = [tuple(r) for r in questdb_sql(spark, q).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE __frag(i int, s varchar, v double)"
    )
    con.executemany(
        "INSERT INTO __frag VALUES (?, ?, ?)", rows
    )
    duck_q = re.sub(r"\bcount\(\)", "count(*)", q).replace(
        "count_distinct(", "count(DISTINCT "
    )
    # `||` is NOT a verbatim-shared fragment since round 18: QuestDB's
    # parser lowers the operator onto concat() (null-as-empty), while
    # DuckDB keeps PG's null-propagating operator. The duck text gets
    # the documented translation — an INDEPENDENT hand mapping of the
    # two fixed generator shapes, not the engine's own rewriter, so a
    # rewriter bug still shows as a mismatch.
    duck_q = duck_q.replace("s || '#'", "concat(s, '#')").replace(
        "s || '!'", "concat(s, '!')"
    )
    want = con.execute(duck_q).fetchall()

    def norm(t):
        return tuple(
            round(x, 6) if isinstance(x, float) and not math.isnan(x)
            else x
            for x in t
        )

    assert sorted(map(norm, got), key=repr) == sorted(
        map(norm, want), key=repr
    ), (q, got, want)


@st.composite
def _sample_by_query(draw):
    n = draw(st.integers(min_value=1, max_value=7))
    unit = draw(st.sampled_from(["s", "m", "h", "d"]))
    agg, duck_agg = draw(
        st.sampled_from(
            [
                ("count() AS n", "count(*) AS n"),
                ("min(v) AS n", "min(v) AS n"),
                ("max(v) AS n", "max(v) AS n"),
                ("sum(v) AS n", "CAST(sum(v) AS BIGINT) AS n"),
            ]
        )
    )
    keyed = draw(st.booleans())
    where = draw(
        st.sampled_from(
            [
                None,
                "ts IN '2024-01-01'",
                "ts IN '2024-01-02T06'",
                # Sub-second anchors (round 18): rows carry µs
                # components, so the 100 ms span catches the 00:17 row
                # (micros 137) and the shifted fraction misses it.
                "ts IN '2024-01-01T00:17:00.0'",
                "ts IN '2024-01-01T00:17:00.5'",
                "v > 40",
                "k = 'a' AND v <= 90",
            ]
        )
    )
    key_sql = "k, " if keyed else ""
    where_sql = f"WHERE {where} " if where else ""
    q = (
        f"SELECT ts, {key_sql}{agg} FROM __sbf "
        f"{where_sql}SAMPLE BY {n}{unit}"
    )
    secs = n * {"s": 1, "m": 60, "h": 3600, "d": 86400}[unit]
    duck_where = (
        where_sql.replace(
            "ts IN '2024-01-01'",
            "ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP "
            "'2024-01-02'",
        ).replace(
            "ts IN '2024-01-02T06'",
            "ts >= TIMESTAMP '2024-01-02 06:00:00' AND ts < "
            "TIMESTAMP '2024-01-02 07:00:00'",
        ).replace(
            "ts IN '2024-01-01T00:17:00.0'",
            "ts >= TIMESTAMP '2024-01-01 00:17:00.000000' AND ts < "
            "TIMESTAMP '2024-01-01 00:17:00.100000'",
        ).replace(
            "ts IN '2024-01-01T00:17:00.5'",
            "ts >= TIMESTAMP '2024-01-01 00:17:00.500000' AND ts < "
            "TIMESTAMP '2024-01-01 00:17:00.600000'",
        )
    )
    duck_q = (
        f"SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / {secs}) "
        f"AS BIGINT) * {secs}) AS TIMESTAMP) AS ts, {key_sql}"
        f"{duck_agg} FROM __sbf {duck_where}"
        f"GROUP BY {'1, 2' if keyed else '1'}"
    )
    return q, duck_q


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(qs=_sample_by_query())
def test_sample_by_fuzz_matches_duckdb_epoch_floor(spark, qs):
    """Generated SAMPLE BY queries (stride × unit × key × WHERE incl.
    interval searches × aggregate) against DuckDB's epoch-floor
    translation — the generative twin of the fixed SAMPLE BY oracle
    queries. Epoch-anchored strides only (s/m/h/d); week/month/year
    anchoring is pinned by dedicated unit tests."""
    import duckdb

    q, duck_q = qs
    rows = [
        (
            datetime(2024, 1, 1)
            + timedelta(minutes=17 * i, microseconds=(i * 137) % 1000000),
            "a" if i % 3 else "b",
            (i * 7) % 100,
        )
        for i in range(200)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, k string, v int"
    ).createOrReplaceTempView("__sbf")
    from questdb_etl_jobs_spark.sql.dialect import questdb_sql

    got = [
        tuple(r) for r in questdb_sql(
            spark, q, {"__sbf": "ts"}
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE __sbf(ts timestamp, k varchar, v int)")
    con.executemany("INSERT INTO __sbf VALUES (?, ?, ?)", rows)
    want = con.execute(duck_q).fetchall()
    assert sorted(got, key=repr) == sorted(want, key=repr), (
        q, duck_q, sorted(got, key=repr)[:4], sorted(want, key=repr)[:4]
    )


_SQL_PIECES = [
    "a", "b1", "sym", "f", " ", ",", "(", ")", " AND ", " OR ",
    " UNION ALL ", " ORDER BY ", " BETWEEN ", " CASE ", " END ",
]
_literal = st.lists(
    st.sampled_from(_SQL_PIECES + ["''"]), max_size=4
).map(lambda parts: ("'", "".join(parts)))
_identifier = st.lists(st.sampled_from(_SQL_PIECES), max_size=4).map(
    lambda parts: ("`", "".join(parts))
)
_segments = st.lists(
    st.one_of(
        st.sampled_from(_SQL_PIECES).map(lambda p: ("", p)),
        _literal,
        _identifier,
    ),
    max_size=14,
)


def _piece_spans(text: str, pieces: list[str]) -> list[tuple[int, int]]:
    """Where each returned piece (an in-order, stripped slice) sits in
    ``text``."""
    spans, pos = [], 0
    for piece in pieces:
        start = text.index(piece, pos)
        pos = start + len(piece)
        spans.append((start, pos))
    return spans


@settings(max_examples=300, deadline=None, derandomize=True, database=None)
@given(segments=_segments)
def test_splitters_cut_the_same_with_quoted_contents_neutralized(segments):
    """Metamorphic: what a quoted span holds cannot move a cut. The
    same text with every literal's and quoted identifier's contents
    replaced by same-length filler splits at the same positions, for
    each splitter that walks quote and paren structure."""
    from questdb_etl_jobs_spark.sql.dialect import (
        _mask,
        _scan_balanced,
        _split_items,
        _split_top_and,
        _split_union,
    )

    text = "".join(q + body + q for q, body in segments)
    plain = "".join(q + ("x" * len(body) if q else body) + q
                    for q, body in segments)

    def cuts(t: str) -> tuple:
        conjuncts = _split_top_and(t)
        union = _split_union(t)
        return (
            _piece_spans(t, _split_items(t)),
            None if conjuncts is None else _piece_spans(t, conjuncts),
            None if union is None else (
                _piece_spans(t, union[0]), union[1]
            ),
            [
                _scan_balanced(_mask(t), i)
                for i, ch in enumerate(plain) if ch == "("
            ],
        )

    assert cuts(text) == cuts(plain), (text, plain)
