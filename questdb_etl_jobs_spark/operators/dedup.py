"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale posture (100 TB corpus dedup):

- exact: one hash-partitioned shuffle on the digest; deterministic winner
  (min id) — never ``dropDuplicates`` alone, whose survivor is
  partition-order-dependent.
- near-dup: the all-pairs comparison is quadratic and therefore banned;
  MinHash signatures + banded LSH reduce it to equi-joins on band keys
  (pairs that share no band never meet), then the cheap candidate set is
  verified exactly (Jaccard / edit distance). Everything is expressions +
  joins — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from questdb_etl_jobs_spark.functions.text import whitespace_tokens


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, on: list[str], id_col: str) -> DataFrame:
    """Keep one deterministic row per distinct ``on`` value: the min ``id_col``.

    Single-shuffle plan: ``min_by(struct(all columns), id)`` carries the
    whole winning row through one hash aggregate (partial + final), versus
    the two shuffles of groupBy(min) + semi-join back. Never a bare
    ``dropDuplicates``, whose survivor is partition-order-dependent.
    """
    row = F.struct(*[F.col(c) for c in df.columns])
    winners = df.groupBy(*on).agg(F.min_by(row, F.col(id_col)).alias("__row"))
    return winners.select("__row.*")


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------

def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document (array<string>)."""
    tokens = whitespace_tokens(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tokens) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )
    return F.array_distinct(grams)


def shingled(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    out_col: str = "__sh",
) -> DataFrame:
    """(id, shingle-set array) with the token array MATERIALIZED first.

    ``word_shingles`` used directly in a projection re-inlines the
    whitespace split into the slice lambda (CollapseProject + no CSE
    inside higher-order functions → the text re-splits once per
    shingle). The explode-of-one-element-struct Generate barrier binds
    the token array as a row-local attribute before the gram transform
    — same fix as functions/text.py:text_profile.
    """
    with_toks = df.select(
        F.col(id_col),
        F.explode(
            F.array(F.struct(whitespace_tokens(text_col).alias("toks")))
        ).alias("__m"),
    )
    toks = F.col("__m.toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    return with_toks.select(F.col(id_col), grams.alias(out_col))


def hashed_shingled(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    out_col: str = "__sh",
) -> DataFrame:
    """(id, distinct HASHED shingle set array<long>) per document.

    The sketch path's shingle identity: ``xxhash64(tok_i, …, tok_{i+n-1})``
    — the n-token window is hashed directly, chaining the token strings
    through one XXH64 state, so the joined shingle STRING is never
    materialized (no slice/array_join allocation, 8-byte set elements,
    integer-domain distinct/intersect/union downstream — measured ~2× on
    the whole near-dup pipeline vs string shingles).

    Identity is equivalent to hashing the space-joined string: windows
    equal iff their token sequences are equal (tokens cannot contain the
    separator), and a 64-bit collision between distinct windows merges
    two shingles with probability ≈ s²/2⁶⁵ per document pair (s = set
    size; ~1e-10 at s=10⁴) — the same merge a MinHash permutation over
    hashed shingles always risks. The EXACT string path
    (:func:`shingled` / :func:`ngram_jaccard_pairs`) exists for when
    that bound is not acceptable.

    Past-the-end window positions (docs shorter than ``n`` tokens) hash
    the available prefix: ``try_element_at`` yields NULL off the end and
    XXH64 chaining skips NULL inputs — same identity the string path
    gives a short document.

    Built as TWO JVM-parsed expressions, not a Column-API tree (r19,
    guide §5): the per-Column py4j round trips of the old spelling
    (~70 ms per pipeline build, rebuilt every bench pass) collapse into
    two parses of the identical expression tree — same analyzed plan,
    same values, ~10× less driver chatter.
    """
    with_toks = _with_toks(df, id_col, text_col)
    return with_toks.select(
        F.col(id_col), F.expr(_hashed_grams_sql(n)).alias(out_col)
    )


def _with_toks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __m struct<toks: array<string>>) — the explode-of-one-struct
    CSE barrier that materializes the token array once per row."""
    return df.select(
        F.col(id_col),
        F.expr(
            f"explode(array(struct(split(`{text_col}`, ' ') AS toks)))"
        ).alias("__m"),
    )


def _hashed_grams_sql(n: int) -> str:
    """The distinct hashed-shingle-set expression over ``__m.toks``."""
    args = ", ".join(f"try_element_at(__m.toks, i + {j})" for j in range(n))
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(__m.toks) - {n - 1}, 1)), "
        f"i -> xxhash64({args})))"
    )


def hashed_shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, __hs long) exploded distinct hashed-shingle rows.

    Explode fused into the grams projection (r19): CollapseProject gave
    the same physical plan for the two-Dataset spelling — this just
    skips one Dataset creation/analysis per build.
    """
    with_toks = _with_toks(df, id_col, text_col)
    return with_toks.select(
        F.col(id_col),
        F.expr(f"explode({_hashed_grams_sql(n)})").alias("__hs"),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (set semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def _signature_agg_expr(n_hashes: int):
    """``array(min(xxhash64(__hs, 0)), …)`` as ONE parsed expression.

    r18 optimization (driver-side): spelling the n_hashes min-aggregates
    as individual ``F.min(F.xxhash64(...))`` columns plus a post-agg
    ``F.array`` projection cost ~130 py4j round trips (~0.15 s) per
    pipeline build and an extra Dataset; one JVM-side parse builds the
    identical aggregate tree (array-of-aggregates is a plain result
    expression — the partial/final split per min is unchanged, verified
    by byte-identical signatures)."""
    return F.expr(
        "array({})".format(
            ",".join(
                f"min(xxhash64(__hs, {i}))" for i in range(n_hashes)
            )
        )
    )


def signature_and_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    shingle_words: int = 3,
) -> DataFrame:
    """(id, signature array<long>[n_hashes], __sh array<long>) in ONE
    aggregation.

    Emitting the hashed-shingle set (see :func:`hashed_shingled` for the
    identity and its collision bound) beside the minhash columns means
    the downstream verify join reads the SAME exchange the banding branch
    reads (Spark reuses identical Exchange subtrees) — one shingle
    construction and one shuffle for the whole near-dup pipeline instead
    of a second scan + re-shingle on the verify side (measured ~15%
    faster end-to-end at sf0.1, and one full scan cheaper at 100 TB).
    The collect_set puts 8 bytes per shingle on the wire, ~3× less than
    the string shingles it replaced.
    """
    exploded = hashed_shingle_rows(df, id_col, text_col, shingle_words)
    return exploded.groupBy(id_col).agg(
        _signature_agg_expr(n_hashes).alias("signature"),
        F.collect_set("__hs").alias("__sh"),
    )


def band_rows(
    signatures: DataFrame, id_col: str, n_bands: int = 8
) -> DataFrame:
    """(id, __band, __band_hash) — one row per signature band.

    Band key = xxhash64 over the sliced long array directly (Spark's
    hash functions accept array columns). Equal slices always collide,
    so LSH recall is identical to any exact slice key; the rare unequal
    collision only adds a candidate the exact verify step discards.
    Versus stringifying the slice + sha256 this stays integer-domain
    (no per-band string materialization — measurably cheaper per doc,
    and 8 bytes on the shuffle wire instead of a 64-char digest).

    One JVM-parsed expression (r19, guide §5): identical tree to the old
    Column-API spelling — ``b * CAST(size(signature)/n AS INT) + 1`` is
    the same double-divide-then-int-cast arithmetic — minus ~30 py4j
    round trips per pipeline build.
    """
    width = f"CAST(size(signature) / {n_bands} AS INT)"
    sql = (
        f"posexplode(transform(sequence(0, {n_bands - 1}), "
        f"b -> xxhash64(slice(signature, b * {width} + 1, {width}))))"
    )
    return signatures.select(
        F.col(id_col), F.expr(sql).alias("__band", "__band_hash")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, n_bands: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: ids whose signatures agree on ≥1 band.

    Bands the signature into ``n_bands`` slices, hashes each slice, and
    groups by (band index, band hash); pairs are enumerated WITHIN each
    bucket from a collected sorted id array. Versus the classic band
    self-join this evaluates the signature pipeline once instead of twice
    (the two join branches are identical subtrees Spark cannot share) and
    replaces a join with one aggregation — one shuffle of (band, hash, id)
    triples. Output: (id_a, id_b), id_a < id_b, distinct.

    Hot buckets (boilerplate-heavy corpora) are the skew risk: a bucket of
    k docs emits k(k-1)/2 pairs from one group row — quadratic on a
    million-doc boilerplate bucket. ``bucket_cap=K`` bounds this: each id
    pairs with the next K ids in the bucket's sorted order (a windowed
    chain, K-deep redundancy against verify drops) PLUS the bucket head
    (a star), so a bucket emits ≤ k·(K+1) pairs — linear in k — and the
    component stays diameter-≤2 when verification passes, which keeps
    downstream :func:`dup_clusters` min-label propagation O(1) rounds
    instead of O(k/K) on the chain alone. Recall trade (documented,
    mirroring the exact path's ``df_cap``): a pair neither ≤ K apart in
    bucket id-order nor through the head is not DIRECTLY emitted — it is
    still clustered together iff its star/chain path survives exact
    verification, which for the boilerplate corpora that create hot
    buckets (near-identical docs) it does. Uncapped (None) keeps exact
    all-pairs enumeration; buckets with ≤ K+1 ids are unaffected by
    construction (the window spans the whole bucket, the star is empty).

    Memory shape: the capped path never materializes a bucket as ONE
    aggregation row — chain pairs are ``lead(id, j)`` and the star is
    ``first(id)`` over a (bucket, id-order) window, so a pathological
    bucket holding the whole corpus streams through WindowExec's
    spillable partition buffer with ≤ K+1 output structs per INPUT row
    (adversarially tested: one bucket = entire corpus). Only the
    uncapped exact path keeps the collected array — by construction it
    is the "I know my buckets are small" mode.
    """
    bands = band_rows(signatures, id_col, n_bands)
    if bucket_cap is None:
        # JVM-parsed expressions (r19, guide §5): same trees as the old
        # Column-API spelling, one parse each instead of ~60 py4j calls
        # per build for the nested two-lambda enumeration.
        buckets = (
            bands.groupBy("__band", "__band_hash")
            .agg(F.expr(f"array_sort(collect_set(`{id_col}`))").alias("__ids"))
            .filter(F.size("__ids") > 1)
        )
        pairs = buckets.select(
            F.expr(
                "explode(flatten(transform(__ids, (x, i) -> "
                "transform(slice(__ids, i + 2, size(__ids)), "
                "y -> struct(x AS a, y AS b)))))"
            ).alias("__pair")
        )
    else:
        cap = int(bucket_cap)
        w = Window.partitionBy("__band", "__band_hash").orderBy(id_col)
        # Window pass first (ONE Window operator — all expressions share
        # the spec): the next K ids in bucket id-order (null past the
        # bucket end), the bucket head via first() over the running
        # frame, and this row's position. The pair array is built in a
        # separate projection because window expressions cannot sit
        # inside a generator's child expression.
        enriched = bands.select(
            F.col(id_col).alias("__id"),
            *[
                F.lead(id_col, j).over(w).alias(f"__n{j}")
                for j in range(1, cap + 1)
            ],
            F.first(id_col).over(w).alias("__head"),
            F.row_number().over(w).alias("__rn"),
        )
        chain = [
            F.struct(
                F.col("__id").alias("a"), F.col(f"__n{j}").alias("b")
            )
            for j in range(1, cap + 1)
        ]
        # star: head → every id beyond the head's own chain window.
        star = F.when(
            F.col("__rn") > cap + 1,
            F.struct(F.col("__head").alias("a"), F.col("__id").alias("b")),
        )
        pairs = enriched.select(
            F.explode(
                F.filter(
                    F.array(*chain, star),
                    lambda p: p.isNotNull() & p.getField("b").isNotNull(),
                )
            ).alias("__pair")
        )
    return pairs.selectExpr(
        f"__pair.a AS `{id_col}_a`", f"__pair.b AS `{id_col}_b`"
    ).distinct()


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_words: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """End-to-end near-dup detection: MinHash → LSH candidates → exact
    Jaccard verification. Returns (id_a, id_b, jaccard) above threshold.

    ``bucket_cap`` bounds hot-bucket pair enumeration (see
    :func:`lsh_candidate_pairs`) — set it on boilerplate-heavy corpora
    where a near-constant band would otherwise emit quadratic pairs.

    The verify joins carry PREBUILT shingle arrays from the same fused
    aggregation the banding branch reads (see signature_and_shingles) —
    one shingle construction, one reused exchange. Computing shingles
    after the join looks cheaper but is not: the threshold filter gets
    pushed into the join condition and the whole shingle construction
    re-evaluates per candidate pair — measured 4× slower at 14k
    candidates.
    """
    fused = signature_and_shingles(df, id_col, text_col, n_hashes, shingle_words)
    cands = lsh_candidate_pairs(
        fused.select(id_col, "signature"), id_col, n_bands, bucket_cap=bucket_cap
    )
    sh_sets = fused.select(id_col, "__sh")
    # selectExpr batches each projection into ONE py4j call (r19, §5);
    # the CASE spelling is the exact tree :func:`jaccard` builds.
    verified = (
        cands.join(
            sh_sets.selectExpr(
                f"`{id_col}` AS `{id_col}_a`", "__sh AS __sh_a"
            ),
            f"{id_col}_a",
        )
        .join(
            sh_sets.selectExpr(
                f"`{id_col}` AS `{id_col}_b`", "__sh AS __sh_b"
            ),
            f"{id_col}_b",
        )
        .selectExpr(
            f"`{id_col}_a`",
            f"`{id_col}_b`",
            "CASE WHEN size(array_union(__sh_a, __sh_b)) > 0 "
            "THEN CAST(size(array_intersect(__sh_a, __sh_b)) AS DOUBLE) "
            "/ size(array_union(__sh_a, __sh_b)) "
            "ELSE 0.0D END AS jaccard",
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------

def dup_clusters(
    edges: DataFrame,
    id_a: str,
    id_b: str,
    max_iter: int = 50,
    check_stride: int = 2,
) -> DataFrame:
    """Connected components over an undirected duplicate-edge list.

    Near-dup detection yields PAIRS; picking one canonical document per
    duplicate *group* needs the transitive closure (A~B, B~C ⇒ {A,B,C}
    even when A~C is below threshold). Returns (node, cluster) for every
    edge endpoint, ``cluster`` = min node id in the component — the
    deterministic canonical-winner rule exact_dedup uses.

    Min-label propagation: each round every node takes the min of its own
    and its neighbors' labels; converges in O(component diameter) rounds
    (dup chains are shallow — typically ≤5). The edge list carries
    SELF-LOOPS (one per endpoint occurrence — ``min`` is idempotent, so
    duplicates are harmless), which folds "min of neighbors vs keep own
    label" into a single ``min`` aggregate — each round is exactly one
    equi-join (edges ⋈ labels on the neighbor id) and one hash
    aggregate, two shuffles, versus three with the textbook
    join-agg-join-back shape.
    Lineage is truncated per round (localCheckpoint here; use a reliable
    checkpoint dir on a real cluster) so the plan doesn't grow. The
    driver loop is control flow only — the convergence check ships ONE
    scalar (sum of labels, which strictly decreases until fixpoint),
    never data.

    ``check_stride`` batches the convergence check: with lazy
    checkpoints, rounds between checks fuse into ONE job (their shuffle
    stages pipeline under a single collect), so stride 2 halves the
    driver job/collect overhead at the cost of at most ``stride - 1``
    no-op rounds past the fixpoint — measured 15-30% faster on the
    bench's diameter-≤2 dup graphs, where per-job latency dominates the
    tiny per-round data. Correctness is unchanged: labels are monotone,
    so an equal sum across a stride window still certifies the fixpoint.

    For adversarially deep components (million-hop chains) swap in the
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — same fixpoint, fewer
    rounds; not needed for dup graphs.

    Setup shape (r19, guide §1.2/§2.4 — three jobs and two shuffles
    fewer than the r18 form, propagation values unchanged):

    - self-loops are emitted per ENDPOINT OCCURRENCE, not per distinct
      node: ``min`` is idempotent under duplicates, so the
      union-distinct ``nodes`` shuffle the r18 setup ran twice (inside
      ``sym`` and again for the initial labels) is structurally
      unnecessary — ``sym`` is now a pure narrow union over the edge
      checkpoint (4|E| rows vs 2|E|+|V|; same O(E) class).
    - round 1 needs no join at all: against identity labels,
      min-of-neighborhood IS the min neighbor id — one aggregate over
      ``sym`` replaces the initial-labels checkpoint job plus the first
      join.
    - ``sym`` itself is a fixed-depth view over the edge checkpoint, so
      it needs no checkpoint of its own: per-round re-derivation is a
      narrow union re-read of checkpoint blocks, and the per-round label
      checkpoints keep the plan from growing.
    """
    if max_iter < 1:
        raise ValueError(f"dup_clusters: max_iter must be >= 1, got {max_iter}")
    src, dst = "__cc_src", "__cc_dst"
    # Materialize the (possibly expensive) edge subtree ONCE; every
    # round's sym re-read derives from this checkpoint.
    half = edges.select(
        F.col(id_a).alias(src), F.col(id_b).alias(dst)
    ).localCheckpoint()
    sym = (
        half.unionByName(half.selectExpr(f"{dst} AS {src}", f"{src} AS {dst}"))
        .unionByName(half.selectExpr(src, f"{src} AS {dst}"))
        .unionByName(half.selectExpr(f"{dst} AS {src}", dst))
    )
    # Round 1 fused: one aggregate, no join, no initial-labels Dataset.
    # Labels stay keyed by ``dst`` THROUGH the loop (r19): the r18 shape
    # renamed node↔dst twice per round, and withColumnRenamed forces a
    # full analyzer pass each time — ~0.2 s of driver time per round at
    # three analyses/round. Aliasing the group key to ``dst`` leaves
    # localCheckpoint's analysis as the only one per round.
    labels = sym.groupBy(F.col(src).alias(dst)).agg(
        F.min(dst).alias("cluster")
    )
    if max_iter < 2:  # degenerate: certify/truncate round 1 itself
        labels = labels.localCheckpoint(eager=False)
    prev_sum = None
    for rnd in range(2, max_iter + 1):
        # Self-loops make min(neighborhood ∪ self) the whole update rule.
        labels = (
            sym.join(labels, dst)
            .groupBy(F.col(src).alias(dst))
            .agg(F.min("cluster").alias("cluster"))
        )
        if rnd % check_stride and rnd < max_iter:
            continue
        # Checkpoint at STRIDE boundaries only (r19): localCheckpoint
        # compiles the physical plan at call time (~0.1-0.3 s of driver
        # work per call), so checkpointing every round paid one compile
        # per round for plans the boundary checkpoint subsumes. The
        # boundary plan is ≤ check_stride joins deep over the previous
        # boundary's LogicalRDD — still bounded, still truncated.
        labels = labels.localCheckpoint(eager=False)
        # Labels are monotone non-increasing: an unchanged sum ⇔ fixpoint.
        # The lazy checkpoint materializes under THIS collect — the whole
        # stride window's label updates plus the convergence check run as
        # one job, instead of an eager-checkpoint job per round.
        cur = labels.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur == prev_sum:
            break
        prev_sum = cur
    return labels.selectExpr(f"{dst} AS node", "cluster")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_bits(text: Column | str, n_bits: int = 64) -> Column:
    """SimHash of a document as array<int>[n_bits] of 0/1.

    Each token votes ±1 per bit position of its 64-bit hash; the sign of
    the per-position sum is the fingerprint bit. Kept as a bit array (not
    packed into a long) to stay ANSI-overflow-safe and cheap to hamming-
    compare with ``zip_with``. Entirely a codegen'd array fold — no shuffle.
    """
    tokens = whitespace_tokens(text)

    def token_votes(t: Column) -> Column:
        # Bit positions are Python-side literals: shiftright requires a
        # literal shift amount, and unrolling keeps it pure codegen.
        h = F.xxhash64(t)
        return F.array(
            *[
                (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                for j in range(n_bits)
            ]
        )

    votes = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, t: F.zip_with(acc, token_votes(t), lambda a, v: a + v),
    )
    return F.transform(votes, lambda v: F.when(v > 0, 1).otherwise(0))


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length bit arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted index, no sketch)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
    shingle_words: int = 3,
    df_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word n-gram Jaccard via an inverted index — EXACT
    (no MinHash approximation) when ``df_cap`` is None.

    The quadratic all-pairs comparison is replaced by posting lists:
    explode distinct shingles, group by shingle, enumerate pairs only
    within each list (docs sharing zero shingles never meet — and a pair
    with jaccard ≥ t > 0 always shares one, so no true pair is lost).

    Exact path (df_cap=None): because shingle sets are distinct, the
    number of (a, b) pair occurrences across ALL posting lists IS
    |A ∩ B| — so ``groupBy(pair).count()`` yields the intersection with a
    map-side-combined shuffle and ``|A ∪ B| = |A| + |B| − inter`` needs
    only a per-doc size join. No second shingle construction, no
    array-carrying join, no per-pair set ops. (Measured 3× faster than
    the verify-join plan at sf0.1; sizes come from a second aggregation
    of the SAME exploded postings, not a re-shingle.)

    Capped path (df_cap=K): posting lists longer than K (boilerplate
    shingles) are dropped before pair enumeration — the bounded-work
    100 TB posture. The count is then only a lower bound on the
    intersection, so survivors are re-verified with exact set arithmetic
    on prebuilt shingle arrays. A true pair is missed only if ALL its
    shared shingles are capped — the documented recall trade.

    The final filter compares ``den*inter >= num*union`` — pure integer
    arithmetic, no float rounding.

    Returns (id_a, id_b, n_inter, n_union), id_a < id_b.
    """
    a, b = f"{id_col}_a", f"{id_col}_b"
    sh_sets = shingled(df, id_col, text_col, shingle_words)
    postings = sh_sets.select(F.col(id_col), F.explode("__sh").alias("__shingle"))
    sizes = postings.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    lists = postings.groupBy("__shingle").agg(
        F.array_sort(F.collect_set(id_col)).alias("__ids")
    )
    lists = lists.filter(F.size("__ids") > 1)
    if df_cap is not None:
        lists = lists.filter(F.size("__ids") <= df_cap)
    pair_occurrences = lists.select(
        F.explode(
            F.flatten(
                F.transform(
                    "__ids",
                    lambda x, i: F.transform(
                        F.slice("__ids", i + 2, F.size("__ids")),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("__pair")
    ).select(F.col("__pair.a").alias(a), F.col("__pair.b").alias(b))
    counted = pair_occurrences.groupBy(a, b).agg(F.count(F.lit(1)).alias("__inter"))

    if df_cap is None:
        sized = counted.join(
            sizes.select(F.col(id_col).alias(a), F.col("__n").alias("__na")), a
        ).join(sizes.select(F.col(id_col).alias(b), F.col("__n").alias("__nb")), b)
        out = sized.select(
            a,
            b,
            F.col("__inter").cast("int").alias("n_inter"),
            (F.col("__na") + F.col("__nb") - F.col("__inter"))
            .cast("int")
            .alias("n_union"),
        )
        return out.filter(
            threshold_den * F.col("n_inter") >= threshold_num * F.col("n_union")
        )

    verified = (
        counted.select(a, b)
        .join(
            sh_sets.select(F.col(id_col).alias(a), F.col("__sh").alias("__sh_a")), a
        )
        .join(
            sh_sets.select(F.col(id_col).alias(b), F.col("__sh").alias("__sh_b")), b
        )
        .select(
            a,
            b,
            F.size(F.array_intersect("__sh_a", "__sh_b")).alias("n_inter"),
            F.size(F.array_union("__sh_a", "__sh_b")).alias("n_union"),
        )
    )
    return verified.filter(
        threshold_den * F.col("n_inter") >= threshold_num * F.col("n_union")
    )


# ---------------------------------------------------------------------------
# ExactSubstr-style duplicated spans (Lee et al. 2022)
# ---------------------------------------------------------------------------

def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    hash_grams: bool = True,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document maximal cross-document duplicated token spans.

    The ExactSubstr observation: a token span of length L >= k is
    duplicated across documents iff every one of its k-grams is
    duplicated, so gram-level evidence reconstructs span extent exactly —
    no suffix array over the corpus required. Pipeline:

    1. positional k-grams per doc (``transform(sequence(...))`` — one
       Generate, zero shuffles, no Python);
    2. grams seen in >= ``min_docs`` distinct docs (one hash aggregate on
       the gram key — the posting-list shuffle);
    3. semi-join hits back, then ONE window per doc merges overlapping /
       adjacent gram intervals ``[pos, pos+k-1]`` into maximal spans and
       counts covered tokens via the lag-union identity
       ``covered += min(pos - prev, k)``.

    ``hash_grams=True`` (the 100 TB path) joins on ``xxhash64(gram)`` —
    8 bytes instead of the gram text on the posting shuffle; collisions
    only ever ADD a false duplicated gram at ~2^-64. The verified face
    (q112) runs ``hash_grams=False`` so the DuckDB oracle can reproduce
    the key exactly.

    Returns one row per doc that contains at least one duplicated span:
    ``(id_col, n_dup_pos, n_spans, covered_tokens)``.
    """
    toks = F.split(F.col(text_col), " ")
    grams = (
        df.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(0), F.size(toks) - F.lit(k))
            ).alias("__pos"),
            toks.alias("__toks"),
        )
        .filter(F.col("__pos") >= 0)  # docs shorter than k emit nothing
        .select(
            id_col,
            F.col("__pos").cast("long").alias("pos"),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("__pos") + 1, F.lit(k))
            ).alias("__gtxt"),
        )
        .withColumn(
            "__gram",
            F.xxhash64("__gtxt") if hash_grams else F.col("__gtxt"),
        )
        .drop("__gtxt")
    )
    dup = (
        grams.groupBy("__gram")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__gram")
    )
    hits = grams.join(dup, "__gram", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    merged = hits.withColumn("__prev", F.lag("pos").over(w))
    return merged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_pos"),
        F.sum(
            F.when(
                F.col("__prev").isNull() | (F.col("pos") - F.col("__prev") > k),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_spans"),
        F.sum(
            F.least(F.coalesce(F.col("pos") - F.col("__prev"), F.lit(k)), F.lit(k))
        )
        .cast("long")
        .alias("covered_tokens"),
    )
