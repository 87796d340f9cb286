"""t-digest: mergeable quantile sketch over an arbitrary value domain.

Dunning & Ertl's t-digest (public paper, "Computing extremely accurate
quantiles using t-digests") — THE mergeable-summary design for
quantiles when the value domain is unknown up front, completing the
engine's quantile family:

- exact distributed quantile (`operators/quantile.py:exact_quantile`) —
  exact, three passes;
- fixed-domain mergeable histogram (`quantile.py:histogram_partials`) —
  one pass, error = bucket width, needs known bounds;
- Greenwald-Khanna (`approx_percentile`, q120) — Spark's builtin,
  guaranteed rank error, NOT mergeable across pre-aggregated partials
  stored at rest;
- **t-digest (here)** — one pass, bounded state (≤ ~2δ centroids),
  merge = concatenate + re-compress, relative accuracy concentrated at
  the tails (the k₁ scale function), no domain knowledge needed. The
  shape a 100 TB deployment stores per partition/day and rolls up at
  query time, exactly like the HLL partials of q117.

Spark-first layout: one Arrow-batched ``mapInPandas`` pass builds
per-batch digests (bounded rows out: one per key per batch), a keyed
``applyInPandas`` merges them (input per key is #batches·2δ centroids —
sketch space, not data space), and quantile evaluation is driver-free
interpolation over the merged centroid arrays. The only shuffle carries
centroid arrays keyed by group.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default compression. State ≤ ~2δ centroids; rank error near the
#: median ~ n/(2δ) and proportionally tighter toward the tails.
DEFAULT_DELTA = 100


def _k1(q: np.ndarray | float, delta: int) -> np.ndarray | float:
    """The k₁ scale function: δ/(2π)·asin(2q−1). Its unit steps bound
    centroid weights tightly at the tails (asin slope → ∞ at q∈{0,1}),
    which is where quantile queries need resolution."""
    return delta / (2 * math.pi) * np.arcsin(2 * np.clip(q, 0.0, 1.0) - 1)


def _compress(
    means: np.ndarray, weights: np.ndarray, delta: int
) -> tuple[np.ndarray, np.ndarray]:
    """Merge (mean, weight) points into ≤ ~2δ centroids.

    Standard merging-digest pass: sort by mean, then greedily absorb
    neighbors while the absorbed span stays within one k₁ unit.

    r18 optimization (guide §4.2 — vectorize the per-batch hot loop):
    the original loop called scalar ``_k1`` (a numpy ufunc round-trip,
    ~µs each) once per INPUT point — O(n) scalar arcsin calls per Arrow
    batch dominated the partials pass. Every weight in this module is an
    integer-valued double (unit weights in the partials pass, counts in
    the merge pass), so every cumulative weight is an exact integer
    < 2⁵³ and any grouping of the additions yields the same float. That
    makes the absorb condition precomputable: with C = cumsum(weights)
    (exact), the original ``_k1((cum + w + weights[j]) / total)`` IS
    ``_k1(C[j] / total)`` — one vectorized arcsin over n points — and
    the greedy scan becomes a binary search per OUTPUT centroid on the
    EXACT original predicate ``K[j] − k_lo ≤ 1.0`` (K is monotone, so
    the absorb set is a prefix). The mean accumulation stays a
    sequential left-to-right float loop, replicating the original IEEE
    order term for term. Bit-identical by construction; the non-integer
    fallback below keeps the original loop for foreign callers.
    """
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    n = len(means)
    C = np.cumsum(weights)
    if not (
        n
        and float(C[-1]) < 2.0**53
        and np.all(weights == np.floor(weights))
        # Positive weights only (r18 ADVICE): a zero/negative integer
        # weight makes the cumsum non-monotone, breaking the binary
        # search's monotone-predicate assumption AND the
        # C[-1]-bounds-all-prefixes exactness argument — route such
        # inputs to the reference loop instead of silently diverging.
        and np.all(weights > 0)
    ):
        return _compress_seq(means, weights, delta)
    total = float(C[-1])
    K = _k1(C / total, delta)  # K[j] = k1 after absorbing point j
    Kb = _k1(np.concatenate(([0.0], C[:-1])) / total, delta)  # k1 at cum
    mw = means * weights  # elementwise: same floats as means[j]*weights[j]
    out_m: list[float] = []
    out_w: list[float] = []
    i = 0
    while i < n:
        k_lo = float(Kb[i])
        # first j > i with K[j] - k_lo > 1.0 (predicate monotone in j)
        lo, hi = i + 1, n
        while lo < hi:
            mid = (lo + hi) // 2
            if K[mid] - k_lo <= 1.0:
                lo = mid + 1
            else:
                hi = mid
        j = lo  # segment = [i, j)
        m = float(mw[i])
        for t in range(i + 1, j):  # sequential, original accumulation order
            m += float(mw[t])
        w = float(C[j - 1] - (C[i - 1] if i else 0.0))  # exact integer
        out_m.append(m / w)
        out_w.append(w)
        i = j
    return np.asarray(out_m), np.asarray(out_w)


def _compress_seq(
    means: np.ndarray, weights: np.ndarray, delta: int
) -> tuple[np.ndarray, np.ndarray]:
    """Original scalar greedy pass (inputs pre-sorted by the caller) —
    the fallback for non-integer weights, kept as the reference
    implementation the vectorized path is equivalence-tested against."""
    total = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    i, n = 0, len(means)
    cum = 0.0  # weight strictly before the current centroid
    while i < n:
        w = weights[i]
        m = means[i] * w
        j = i + 1
        k_lo = _k1(cum / total, delta)
        while j < n and (
            _k1((cum + w + weights[j]) / total, delta) - k_lo <= 1.0
        ):
            w += weights[j]
            m += means[j] * weights[j]
            j += 1
        out_m.append(m / w)
        out_w.append(w)
        cum += w
        i = j
    return np.asarray(out_m), np.asarray(out_w)


#: Digest row schema fragment (means sorted ascending, parallel weights).
DIGEST_FIELDS = "means array<double>, weights array<double>"


def tdigest_partials(
    df: DataFrame,
    value: str,
    keys: list[str],
    delta: int = DEFAULT_DELTA,
) -> DataFrame:
    """Per-Arrow-batch t-digest partials: one (keys…, means, weights)
    row per key per input batch. NULL values are skipped (SQL aggregate
    semantics). Output rows are sketch-sized — the shuffle that follows
    carries ≤ ~2δ doubles per (key, batch), never raw values."""
    key_t = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*keys).schema.fields
    )
    schema = f"{key_t}, {DIGEST_FIELDS}"

    def build(batches):
        for pdf in batches:
            vals = pdf[[*keys, value]].dropna(subset=[value])
            if not len(vals):
                continue
            rows = []
            for key_vals, grp in vals.groupby(keys, dropna=False, sort=False):
                if not isinstance(key_vals, tuple):
                    key_vals = (key_vals,)
                v = grp[value].to_numpy(dtype=np.float64)
                m, w = _compress(v, np.ones_like(v), delta)
                rows.append((*key_vals, list(m), list(w)))
            yield pd.DataFrame(
                rows, columns=[*keys, "means", "weights"]
            )

    return df.select(*keys, value).mapInPandas(build, schema=schema)


def tdigest_merge(
    partials: DataFrame,
    keys: list[str],
    delta: int = DEFAULT_DELTA,
) -> DataFrame:
    """Merge digests per key: concatenate centroid arrays, one
    re-compression. Associative and order-insensitive up to the
    documented accuracy bound; input per key is sketch-space. Raises
    ``ValueError`` (inside the Python worker) on a weight that is not
    positive."""
    key_t = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in partials.select(*keys).schema.fields
    )
    schema = f"{key_t}, {DIGEST_FIELDS}, n double"

    def merge(key_vals, pdfs):
        m = np.concatenate([np.asarray(x, dtype=np.float64)
                            for x in pdfs["means"]])
        w = np.concatenate([np.asarray(x, dtype=np.float64)
                            for x in pdfs["weights"]])
        if not np.all(w > 0):
            # A zero weight divides by zero in the merge; a negative or NaN
            # one has no meaning. Either would emit NaN/inf centroids.
            raise ValueError(
                f"tdigest_merge: non-positive centroid weight for key {key_vals}"
            )
        mm, mw = _compress(m, w, delta)
        return pd.DataFrame(
            [(*key_vals, list(mm), list(mw), float(mw.sum()))],
            columns=[*keys, "means", "weights", "n"],
        )

    return partials.groupBy(*keys).applyInPandas(merge, schema=schema)


def tdigest_quantile_expr(q: float):
    """Column expression estimating quantile ``q`` from a merged digest
    row's (means, weights) — the standard mid-centroid interpolation,
    spelled with array HOFs so evaluation stays JVM-side (no second
    Python pass over the sketch).

    Rank of centroid i's midpoint is cum(i) − w_i/2; the estimate
    interpolates linearly between the two midpoints bracketing q·n,
    clamping to the extreme centroid means at the tails.
    """
    # cumulative weights via aggregate-with-accumulator: positions array
    target = f"({q!r} * aggregate(weights, 0.0d, (a, x) -> a + x))"
    # midpoint ranks: cum_i - w_i/2 for each i, computed by zipping the
    # running sum. transform with index needs the prefix sum; build it
    # as slice-aggregate (O(c^2) over c<=2*delta sketch entries - cheap,
    # and entirely codegen).
    mid = (
        "transform(weights, (w, i) -> "
        "aggregate(slice(weights, 1, i + 1), 0.0d, (a, x) -> a + x) - w / 2.0d)"
    )
    return F.expr(
        f"""
        CASE
          WHEN {target} <= element_at({mid}, 1)
            THEN element_at(means, 1)
          WHEN {target} >= element_at({mid}, size(means))
            THEN element_at(means, size(means))
          ELSE (
            aggregate(
              zip_with(
                {mid},
                transform(sequence(1, size(means)), i ->
                  named_struct(
                    'm0', element_at(means, i),
                    'm1', element_at(means, least(i + 1, size(means))),
                    'r1', element_at({mid}, least(i + 1, size(means))))),
                (r0, s) -> named_struct('r0', r0, 's', s)),
              CAST(NULL AS DOUBLE),
              (acc, p) -> CASE
                WHEN acc IS NOT NULL THEN acc
                WHEN {target} >= p.r0 AND {target} < p.s.r1
                  THEN p.s.m0 + (p.s.m1 - p.s.m0)
                       * ({target} - p.r0) / (p.s.r1 - p.r0)
                ELSE NULL END)
          )
        END
        """
    )


def tdigest_quantiles(
    df: DataFrame,
    value: str,
    keys: list[str],
    qs: list[float],
    delta: int = DEFAULT_DELTA,
) -> DataFrame:
    """End-to-end: build partials, merge per key, evaluate ``qs``.
    Output: (keys…, n, q_<pct> per quantile)."""
    merged = tdigest_merge(tdigest_partials(df, value, keys, delta), keys, delta)
    cols = [
        tdigest_quantile_expr(q).alias(f"q_{int(round(q * 100)):02d}")
        for q in qs
    ]
    return merged.select(*keys, F.col("n").cast("long").alias("n"), *cols)
