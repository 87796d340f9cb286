"""Exact top-k with a partition-max threshold prune.

``ORDER BY v DESC LIMIT k`` (QuestDB's ``LIMIT k`` over a sorted scan,
reference README.md:366 ``SELECT … ORDER BY``; the engine's plain face
is q34's pinned ``TakeOrderedAndProject``) is already shuffle-free in
Spark — per-partition bounded heaps, driver merge of k rows per task.
What it still pays at scale is the FULL decode of every projected
column on every row: at 600M rows the scan dominates and the heap
comparisons are noise.

This operator splits the work so the wide decode only touches rows that
can possibly be in the answer:

1. **Threshold pass** — scan ONLY ``value_col`` and reduce each input
   partition to its max (map-side partial agg; the shuffle carries one
   row per partition). The k-th largest partition maximum ``t`` is a
   certified lower bound for the global k-th largest value: the k
   partitions whose maxima are ≥ t each contain a row ≥ t, so at least
   k rows exist at or above t, hence the k-th largest ≥ t.
2. **Pruned pass** — ``filter(value_col >= t)`` + the plain bounded-heap
   top-k. The filter reaches the parquet scan (PushedFilters), so row
   groups whose stats-max falls below ``t`` are skipped WITHOUT
   decoding — on value-clustered or even uniformly distributed data the
   second pass reads a vanishing fraction of the table, and the wide
   columns are decoded only for survivors.

Fewer than k partitions means step 1 cannot certify a bound — the input
is then at most k× one partition's rows, and the operator falls back to
the plain single-pass top-k (still exact, trivially sized). The fallback
is decided from the physical plan, with no job, when the input is one
file scan under narrow operators only (project, filter): the scan's
split count is its partition count, or a coalesce's count when one sits
on that path. Any other plan (an exchange, a
join, a union, an in-memory or local relation) runs step 1 to find out.

Determinism: the total order is ``(value_col DESC, *tiebreak)``; pass 1
only ever REMOVES rows that provably cannot appear in the answer, so
the result is bit-identical to the plain face (equivalence-tested).

Scale posture: pass 1 is a single-column scan with an O(partitions)
shuffle; pass 2 is stats-pruned. Measured at the sf100 lineitem tier
(600M rows): ~1.3 s vs ~3.6 s for the plain face — and below the
embedded-engine baseline's full Top-N rescan (SCALE_DIFF.json
``dq34_topk.sf100_pruned``).

The threshold pass runs EAGERLY at call time (it is a driver-side
decision, k rows collected — bounded by k, never by data size); a call
that the plan already shows cannot certify runs no job at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiebreak entries: a bare column name sorts ASC; ``(name, "desc")``
#: sorts DESC (LATEST ON's deterministic-winner contract orders its
#: tiebreak columns descending — reference-idiom `LATEST ON ts`).
Tiebreak = "str | tuple[str, str]"

#: Broadcast the certified-threshold directory when its MEASURED size
#: fits: at most this many rows AND at most
#: :data:`BROADCAST_DIRECTORY_MAX_BYTES` of Arrow payload — consumed by
#: :func:`topk_per_key`'s size-MEASURED default.
BROADCAST_GROUP_CAP = 2_000_000

#: Byte companion to the row cap (round-14 ADVICE): keys are
#: caller-chosen, so a 2M-row directory over multi-column or long
#: string keys can be hundreds of MB where key+double widths would be
#: ~50 MB. The measured probe sees the directory's ACTUAL Arrow bytes,
#: so the broadcast decision is bounded in bytes, not just rows.
BROADCAST_DIRECTORY_MAX_BYTES = 64 * 1024 * 1024


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's static sizeInBytes estimate for ``df``, or None.

    py4j converts the plan statistics' BigInt straight to a Python int
    — no ``toString()`` round-trip (round-14 cleanup)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def _auto_broadcast_bytes(spark) -> int:
    """The session's ``autoBroadcastJoinThreshold`` in BYTES, read
    through Spark's own conf accessor so '10MB'-style byte strings
    parse as bytes (round-14 ADVICE fix: the old digit-strip read
    '10MB' as 10). Negative means auto-broadcast is disabled."""
    try:
        return int(spark._jconf.autoBroadcastJoinThreshold())
    except Exception:
        raw = str(
            spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
        ).strip().lower()
        import re as _re

        m = _re.match(r"^(-?\d+)\s*(b|k|kb|m|mb|g|gb|t|tb|p|pb)?$", raw)
        if not m:
            return -1
        mult = {
            None: 1, "b": 1, "k": 1024, "kb": 1024,
            "m": 1024**2, "mb": 1024**2, "g": 1024**3, "gb": 1024**3,
            "t": 1024**4, "tb": 1024**4, "p": 1024**5, "pb": 1024**5,
        }[m.group(2)]
        return int(m.group(1)) * mult


#: Physical operators that compute each output partition from the same
#: partition of their only child.
_NARROW_EXECS = frozenset({
    "WholeStageCodegenExec", "InputAdapter", "ProjectExec", "FilterExec",
    "ColumnarToRowExec",
})


def _planned_partitions(df: DataFrame) -> int | None:
    """The number of partitions ``df`` computes, read from its physical
    plan without running a job, or None when the plan cannot say.

    Known only for one file scan under narrow operators: planning the
    scan's splits lists files on the driver. A coalesce on that path
    (a small table the dialect reads as one partition) states its own
    count, an upper bound on the partitions it computes. Anything else
    (an exchange, whose partition count AQE may change at run time, a
    join, a union, a cached or local relation) gives None."""
    node = df._jdf.queryExecution().executedPlan()
    while True:
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            return int(node.inputRDD().getNumPartitions())
        if name == "CoalesceExec":
            return int(node.numPartitions())
        if name not in _NARROW_EXECS:
            return None
        node = node.children().apply(0)


def _tiebreak_order(tiebreak) -> list[Column]:
    cols: list[Column] = []
    for t in tiebreak or []:
        if isinstance(t, str):
            cols.append(F.asc(t))
            continue
        name, direction = t
        d = str(direction).lower()
        if d not in ("asc", "desc"):
            raise ValueError(
                f"tiebreak direction must be 'asc' or 'desc', got {direction!r}"
            )
        cols.append(F.desc(name) if d == "desc" else F.asc(name))
    return cols


def topk_by_threshold(
    df: DataFrame,
    value_col: str,
    k: int,
    tiebreak: list[str] | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Exact ``ORDER BY value_col DESC, *tiebreak LIMIT k`` via the
    two-pass threshold prune. Returns the k rows as a DataFrame with
    ``df``'s full schema in the deterministic total order.

    ``ascending=True`` is the symmetric BOTTOM-k (``ORDER BY value_col
    ASC``): pass 1 reduces each partition to its MIN, the k-th smallest
    partition minimum certifies an upper bound, and the prune keeps
    ``value_col <= t`` — PLUS all NULL rows, because Spark's ``asc``
    seats nulls FIRST, so null rows can legitimately occupy answer
    positions (the OR-of-IsNull filter still reaches the parquet scan:
    row groups with stats-min above ``t`` and no nulls are skipped).
    The descending face needs no null branch — ``desc`` seats nulls
    last and a certified k non-null rows above ``t`` proves no null can
    place."""
    if k < 1:
        raise ValueError("k must be >= 1")
    head = F.asc(value_col) if ascending else F.desc(value_col)
    order = [head] + _tiebreak_order(tiebreak)

    parts = _planned_partitions(df)
    if parts is not None and parts < k:
        # Fewer partition extrema than k can never certify a bound.
        return df.orderBy(*order).limit(k)
    extremum = F.min(value_col) if ascending else F.max(value_col)
    extrema = (
        df.select(value_col)
        .groupBy(F.spark_partition_id().alias("__pid"))
        .agg(extremum.alias("__m"))
        .orderBy(F.asc("__m") if ascending else F.desc("__m"))
        .limit(k)
        .collect()
    )
    if len(extrema) >= k and extrema[-1]["__m"] is not None:
        t = F.lit(extrema[-1]["__m"])
        if ascending:
            # Certified superset: answer rows are NULL (sorted first) or
            # have value <= t.
            df = df.filter(
                F.col(value_col).isNull() | (F.col(value_col) <= t)
            )
        else:
            # Certified superset: every answer row has value >= t.
            df = df.filter(F.col(value_col) >= t)
    return df.orderBy(*order).limit(k)


def topk_per_key(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: int,
    tiebreak: list[str] | None = None,
    rank_col: str | None = None,
    broadcast_thresholds: bool | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Exact per-group top-k (``row_number() OVER (PARTITION BY keys
    ORDER BY value_col DESC, *tiebreak) <= k``) with a grouped
    partition-max threshold prune — the per-key face of
    :func:`topk_by_threshold`. ``ascending=True`` is the symmetric
    per-group BOTTOM-k (grouped partition-MIN pass, ``<= t_g`` prune
    keeping each group's NULL rows — Spark's ``asc`` seats nulls first,
    so they can occupy answer positions; see
    :func:`topk_by_threshold`'s null notes).

    The plain window form shuffles EVERY row on ``keys`` and sorts full
    partitions just to keep k of each — at deep-group shapes (a billion
    rows over a million groups: keep the best-k documents per domain,
    the top-k orders per customer) the shuffle+sort of rows that can
    never appear in the answer dominates. This operator certifies a
    per-group lower bound first, so only plausible rows reach the
    exchange:

    1. **Grouped threshold pass** — scan only ``keys + [value_col]`` and
       aggregate ``max(value_col)`` by ``(spark_partition_id(), *keys)``.
       ``spark_partition_id()`` is constant within a map task, so the
       partial aggregate collapses each input partition to one row per
       group it contains before the exchange — the shuffle carries
       O(partitions × groups-per-partition) rows, not the data. The
       k-th largest partition max ``t_g`` of group g (row_number over
       the tiny maxima table) is a certified bound: the k distinct
       partitions whose g-maxima are ≥ t_g each hold a row of g at or
       above it, so g's k-th largest value ≥ t_g.
    2. **Pruned exact pass** — join the threshold table back (broadcast
       by default: one row per certified group) and keep rows with
       ``value_col >= t_g`` (ties kept), then run the plain window over
       the survivors. Groups with fewer than k non-null partition maxima
       get no threshold and keep all rows — the window still sizes them
       exactly.

    Rows with NULL ``value_col`` sort last on both faces (Spark's
    ``desc`` default); a certified group provably has k non-null rows,
    so dropping its null rows in the prune is exact, and uncertified
    groups keep theirs for the window to order.

    Determinism/exactness: the prune only removes rows provably outside
    the answer, so the result is bit-identical to the plain window face
    (equivalence-tested under ties, nulls, sparse groups, and k larger
    than the group).

    Scale posture: pass 1 is a narrow-column scan whose shuffle is the
    group directory, not the data; pass 2's survivor exchange carries
    ~k rows per (group × contributing partition) instead of the full
    fact table.

    ``broadcast_thresholds`` is SIZE-MEASURED by default (``None``):
    when the session has auto-broadcasting DISABLED (negative
    threshold) the merge join is pinned — the operator never hints a
    broadcast the user turned off; when Catalyst's static estimate
    already lets the threshold join broadcast, the call stays fully
    lazy; when the estimate is too big (it scales off the fact scan,
    so it always is past a few M input rows), the bounded threshold
    pass runs EAGERLY at call time — ONE narrow-scan job that pulls at
    most :data:`BROADCAST_GROUP_CAP` + 1 directory rows to the driver
    via Arrow. A directory that fits the row cap AND
    :data:`BROADCAST_DIRECTORY_MAX_BYTES` (measured Arrow bytes, so
    wide multi-column / long-string keys are bounded too) is rebuilt
    as a LOCAL relation the join consumes directly — the extrema
    subtree executes exactly once; a directory past either cap takes
    the shuffled merge join. Runtime adaptivity cannot make this call:
    both join-input stages launch concurrently, so by the time AQE
    sees the directory is small the fact-side shuffle write — the cost
    the prune exists to delete — is already paid (measured 5.4 s
    shuffled vs 2.5 s broadcast at the sf100 orders tier). ``True``
    forces the broadcast hint (known-small group count, no eager job);
    ``False`` pins a shuffled merge join (known-huge; the join then
    moves only ``keys + t_g``-wide rows). ``rank_col`` optionally
    exposes the per-group row_number in the result.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not keys:
        raise ValueError("keys must be non-empty")
    head = F.asc(value_col) if ascending else F.desc(value_col)
    order = [head] + _tiebreak_order(tiebreak)

    extremum = F.min(value_col) if ascending else F.max(value_col)
    if k == 1:
        # k=1 (the LATEST ON shape): the largest partition max IS the
        # group extremum, so the per-pid directory + row_number stage
        # collapses to a plain groupBy — one map-side-combined exchange
        # carrying the group directory. min/max ignore nulls, so an
        # all-null group yields a NULL __t, drops out here, and keeps
        # all its rows below — identical to the generic path's
        # isNotNull gate.
        thresholds = (
            df.select(*keys, value_col)
            .groupBy(*keys)
            .agg(extremum.alias("__t"))
            .filter(F.col("__t").isNotNull())
        )
    else:
        per_pid_max = (
            df.select(*keys, value_col)
            .groupBy(F.spark_partition_id().alias("__pid"), *keys)
            .agg(extremum.alias("__m"))
        )
        w_maxima = Window.partitionBy(*keys).orderBy(
            F.asc("__m") if ascending else F.desc("__m")
        )
        # Ascending certification note: `asc` seats NULL minima (all-null
        # partitions) FIRST in the window, and each such partition holds at
        # least one null row — a legitimate front-of-answer row — so a
        # non-null k-th entry still certifies k answer-region rows
        # (nulls ∪ values <= t_g). A null k-th entry fails isNotNull and
        # the group keeps all rows, exactly like the sparse-group case.
        thresholds = (
            per_pid_max.withColumn("__r", F.row_number().over(w_maxima))
            .filter((F.col("__r") == k) & F.col("__m").isNotNull())
            .select(*keys, F.col("__m").alias("__t"))
        )
    if broadcast_thresholds is None:
        # Size-MEASURED default (round-13, localized round-14). The
        # static estimate for the directory subtree scales off the fact
        # scan, so past a few M rows of input Catalyst plans the
        # threshold join as a shuffled join — exchanging the FULL fact
        # table on the keys, the exact cost this operator exists to
        # delete — and AQE cannot undo it: both join-input stages
        # launch concurrently, so the fact-side shuffle WRITE is
        # already paid by the time runtime stats show the directory is
        # tiny (measured at the sf100 orders tier: 5.4 s shuffled vs
        # 2.5 s broadcast). Decision ladder:
        #
        # - auto-broadcast DISABLED (threshold < 0): honor the session
        #   config — pin the merge join (the directory side still moves
        #   only keys+__t rows), never measure our way into a hint that
        #   overrides the user.
        # - static estimate already under the session threshold: stay
        #   fully LAZY; the planner broadcasts on its own.
        # - otherwise: ONE bounded eager job — `limit(cap+1).toArrow()`
        #   pulls at most cap+1 directory rows to the driver. If the
        #   directory fits the row AND byte caps, it is rebuilt as a
        #   LOCAL relation so the join consumes the materialization the
        #   probe already paid (round-13 ran a discarded `count()` and
        #   re-executed the whole narrow extrema pass in the join —
        #   twice over the fact table); past either cap the probe's
        #   rows are dropped and the join is pinned shuffled (the
        #   memory-cliff protection: 10⁸-group or wide-key directories
        #   never broadcast). Like the routed top-k, the eager probe
        #   freezes the table's data as of THIS call.
        auto = _auto_broadcast_bytes(df.sparkSession)
        if auto <= 0:
            broadcast_thresholds = False
        else:
            est = _estimated_bytes(thresholds)
            if est is None or est > auto:
                spark = df.sparkSession
                try:
                    probe = thresholds.limit(
                        BROADCAST_GROUP_CAP + 1
                    ).toArrow()
                except Exception:
                    # Arrow-unfriendly directory type: fall back to the
                    # round-13 count decision (pays the subtree twice).
                    broadcast_thresholds = (
                        thresholds.count() <= BROADCAST_GROUP_CAP
                    )
                else:
                    if (
                        probe.num_rows <= BROADCAST_GROUP_CAP
                        and probe.nbytes <= BROADCAST_DIRECTORY_MAX_BYTES
                    ):
                        thresholds = spark.createDataFrame(
                            probe, schema=thresholds.schema
                        )
                        broadcast_thresholds = True
                    else:
                        broadcast_thresholds = False
    if broadcast_thresholds is True:
        thresholds = F.broadcast(thresholds)
    elif broadcast_thresholds is False:
        thresholds = thresholds.hint("merge")
    keep = (
        (F.col(value_col).isNull() | (F.col(value_col) <= F.col("__t")))
        if ascending
        else (F.col(value_col) >= F.col("__t"))
    )
    survivors = (
        df.join(thresholds, on=keys, how="left")
        .filter(F.col("__t").isNull() | keep)
        .select(*df.columns)  # the equi-join hoists key columns first
    )
    w_exact = Window.partitionBy(*keys).orderBy(*order)
    ranked = survivors.withColumn(
        rank_col or "__rank", F.row_number().over(w_exact)
    )
    ranked = ranked.filter(F.col(rank_col or "__rank") <= k)
    return ranked if rank_col else ranked.drop("__rank")
