"""Text-analysis expressions: tokens, quality metrics, fingerprints, lang-ID.

All pure Column expressions (codegen'd, no Python in the row path), each
with an exactly-equivalent DuckDB formulation used by the declared-query
oracles (queries registry). Token convention: whitespace-delimited, as the
documents table is space-separated word soup (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: "BPE-ish" token pattern: letter runs, digit runs, single other symbols.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language marker lexicons for the heuristic language guesser.
#: (Real deployments plug in fastText/CLD — out of scope here; the operator
#: contract is a deterministic, oracle-checkable scoring rule.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por"],
    "de": ["der", "die", "das", "und", "nicht", "ein", "mit", "von"],
    "fr": ["le", "les", "des", "est", "dans", "pour", "une", "sur"],
}

#: Default stopword set for quality metrics (language-agnostic subset).
STOPWORDS: list[str] = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def _sql_str(word: str) -> str:
    """``word`` as a Spark SQL string literal (backslash-escaped)."""
    return "'" + word.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def whitespace_tokens(text: Column | str) -> Column:
    return F.split(_c(text), " ")


def token_count(text: Column | str) -> Column:
    return F.size(whitespace_tokens(text))


def regex_token_count(text: Column | str, pattern: str = BPE_TOKEN_PATTERN) -> Column:
    """Count of BPE-ish tokens — a cheap proxy for tokenizer cost models."""
    return F.regexp_count(_c(text), F.lit(pattern))


def punct_ratio(text: Column | str) -> Column:
    """Non-alphanumeric-non-space characters per character.

    Zero-length documents score 0.0 — under ANSI mode (Spark 4 default) an
    unguarded division would fail the whole query with DIVIDE_BY_ZERO.
    """
    t = _c(text)
    return F.when(
        F.length(t) > 0,
        F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]")) / F.length(t),
    ).otherwise(F.lit(0.0))


def _member_count(tokens: Column, words: list[str]) -> Column:
    lit = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(lit, t)))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    tokens = whitespace_tokens(text)
    return _member_count(tokens, stopwords or STOPWORDS) / F.size(tokens)


def avg_token_length(text: Column | str) -> Column:
    tokens = whitespace_tokens(text)
    total = F.aggregate(
        tokens, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.size(tokens)


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: long enough, not punct-heavy,
    plausible word lengths, some stopwords. Deterministic arithmetic only —
    weights are convention, the contract is the exact formula."""
    t = _c(text)
    length_term = F.least(F.length(t) / F.lit(400.0), F.lit(1.0))
    punct_term = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(t) * 10.0)
    awl = avg_token_length(t)
    wordlen_term = F.when((awl >= 3) & (awl <= 10), 1.0).otherwise(0.3)
    stop_term = F.least(stopword_ratio(t) * 5.0, F.lit(1.0))
    return (
        0.3 * length_term + 0.3 * punct_term + 0.2 * wordlen_term + 0.2 * stop_term
    )


def _lang_expr(tokens: Column) -> Column:
    """argmax-of-marker-hits over a tokens column.

    Single evaluation per language AND a single pass over the score
    array: each language contributes a ``(score, -index)`` struct and
    ``array_max`` picks the winner with struct field-order comparison —
    max score first, then max(-index) = SMALLEST index, i.e. first match
    wins ties in LANG_MARKERS order, exactly like the former
    array_position(scores, max) form but without the second traversal
    (array_max + array_position each re-walked the array; a nested CASE
    would be worse still — codegen's subexpression elimination does not
    descend into conditional branches).
    """
    return _lang_from_best(_lang_best(tokens))


def _lang_best(tokens: Column) -> Column:
    """The winning ``(score, -index)`` struct of the marker argmax."""
    entries = F.array(
        *[
            F.struct(
                _member_count(tokens, LANG_MARKERS[lang]).alias("s"),
                F.lit(-i).alias("ni"),
            )
            for i, lang in enumerate(LANG_MARKERS)
        ]
    )
    return F.array_max(entries)


def _lang_best_sql(toks: str) -> str:
    """:func:`_lang_best` as ONE SQL string over a ``toks`` reference —
    the identical tree (struct(size(filter(...)) AS s, -i AS ni) per
    language, array_max picks the winner) minus ~100 py4j calls per
    build (r19, guide §5)."""
    entries = ", ".join(
        "struct(size(filter({toks}, x -> array_contains("
        "array({markers}), x))) AS s, {ni} AS ni)".format(
            toks=toks,
            markers=", ".join(map(_sql_str, LANG_MARKERS[lang])),
            ni=-i,
        )
        for i, lang in enumerate(LANG_MARKERS)
    )
    return f"array_max(array({entries}))"


def _lang_from_best(best: Column) -> Column:
    """Winner name from a (score, -index) struct (see :func:`_lang_best`)."""
    langs = list(LANG_MARKERS)
    winner = F.element_at(
        F.array(*[F.lit(lang) for lang in langs]),
        (-best["ni"] + 1).cast("int"),
    )
    return F.when(best["s"] > 0, winner).otherwise(F.lit("und"))


def lang_guess(text: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-token hits (ties resolve in
    LANG_MARKERS order); 'und' when nothing matches.

    Column-name input takes the JVM-parsed spelling (identical tree,
    ~130 fewer py4j calls per build — r19 §5); Column input keeps the
    Column-API composition.
    """
    if isinstance(text, str):
        return F.expr(_lang_guess_sql(f"split(`{text}`, ' ')"))
    return _lang_expr(whitespace_tokens(text))


def _lang_guess_sql(toks: str) -> str:
    """The full :func:`_lang_expr` argmax→name expression as SQL."""
    langs_arr = ", ".join(map(_sql_str, LANG_MARKERS))
    best = _lang_best_sql(toks)
    return (
        f"CASE WHEN ({best}).s > 0 THEN element_at(array({langs_arr}), "
        f"CAST(-({best}).ni + 1 AS INT)) ELSE 'und' END"
    )


def text_profile(df: DataFrame, text_col: str) -> DataFrame:
    """All text metrics in one pass over a MATERIALIZED tokens column.

    Computes exactly the same values as the individual metric functions.
    A plain ``withColumn("__toks", split(...))`` does NOT materialize
    anything: CollapseProject inlines the split into every reference and
    lambda expressions are excluded from codegen subexpression
    elimination, so the ~10 references across six metrics re-split the
    text ~10×. The fix is a Generate barrier — ``explode`` of a
    one-element struct array evaluates its child once per row and binds
    it as a real attribute (row-local, zero shuffle). The language
    argmax is the single-traversal struct-max form (see
    :func:`_lang_expr`), so no second barrier is needed. Measured ~35%
    faster end-to-end at sf0.1 than the barrier-less form.

    Adds columns n_tokens, n_bpe, punct_ratio, stop_ratio, avg_tok_len,
    quality, lang_guess (all unrounded).
    """
    # JVM-parsed expressions throughout (r19, guide §5): the old
    # Column-API spelling cost ~270 ms of py4j round trips per build
    # (rebuilt every bench pass) — the marker-lexicon literals alone
    # were ~60 calls. Each string below parses to the IDENTICAL tree
    # (0.3D/1.0D double literals match F.lit(0.3)'s doubles; `/` on
    # int operands is Spark's fractional divide, same as Column `/`).
    # The regex metrics stay Column-API: their patterns contain
    # backslashes that SQL string-literal unescaping would mangle.
    t = F.col(text_col)
    # Barrier: the token array (the 1-element array literal is never
    # empty or null, so explode keeps every row — null text just yields
    # a null toks attribute, same as the inline expression).
    with_toks = df.select(
        "*",
        F.expr(
            f"explode(array(struct(split(`{text_col}`, ' ') AS toks)))"
        ).alias("__m"),
    )
    # Second barrier (r18): the language argmax struct is referenced
    # three times (score test + winner index), and its marker filters
    # are lambda expressions — EXCLUDED from codegen subexpression
    # elimination, so inline references re-ran all four filters per
    # reference (12 token-array scans per row instead of 4). Binding the
    # argmax result as a row-local attribute evaluates it once.
    with_best = with_toks.select(
        "*",
        F.expr(
            "explode(array(struct({best} AS b)))".format(
                best=_lang_best_sql("__m.toks")
            )
        ).alias("__lb"),
    )
    langs_arr = ", ".join(map(_sql_str, LANG_MARKERS))
    stop_arr = ", ".join(map(_sql_str, STOPWORDS))
    out = with_best.select(
        "*",
        F.expr("size(__m.toks)").alias("n_tokens"),
        regex_token_count(t).cast("int").alias("n_bpe"),
        punct_ratio(t).alias("punct_ratio"),
        F.expr(
            f"size(filter(__m.toks, x -> array_contains(array({stop_arr}), x)))"
            " / size(__m.toks)"
        ).alias("stop_ratio"),
        F.expr(
            "aggregate(__m.toks, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"
            " / size(__m.toks)"
        ).alias("avg_tok_len"),
        F.expr(
            "CASE WHEN __lb.b.s > 0 THEN element_at("
            f"array({langs_arr}), CAST(-__lb.b.ni + 1 AS INT)) "
            "ELSE 'und' END"
        ).alias("lang_guess"),
    )
    return out.withColumn(
        "quality",
        F.expr(
            f"0.3D * least(length(`{text_col}`) / 400.0D, 1.0D) "
            "+ 0.3D * greatest(0.0D, 1.0D - punct_ratio * 10.0D) "
            "+ 0.2D * (CASE WHEN avg_tok_len >= 3 AND avg_tok_len <= 10 "
            "THEN 1.0D ELSE 0.3D END) "
            "+ 0.2D * least(stop_ratio * 5.0D, 1.0D)"
        ),
    ).drop("__m", "__lb")


def min_shingle_fingerprint(text: Column | str, k: int = 8) -> Column:
    """Document fingerprint: minimum md5 over all k-char windows.

    The min-over-rolling-window construction (w-shingling) is robust to
    small edits — near-identical documents share fingerprints with high
    probability. Evaluated as a codegen'd higher-order function; documents
    shorter than k hash whole.
    """
    t = _c(text)
    windows = F.transform(
        F.sequence(F.lit(1), F.length(t) - (k - 1)),
        lambda i: F.md5(t.substr(i, F.lit(k))),
    )
    return F.when(F.length(t) >= k, F.array_min(windows)).otherwise(F.md5(t))


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Patterns restricted to the Java-regex ∩ RE2 common subset so the
#: differential oracle (DuckDB/RE2) runs the byte-identical pattern.
EMAIL_PATTERN = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
LONG_NUMBER_PATTERN = r"[0-9]{6,}"


def redact_pii(text: Column | str) -> Column:
    """Scrub emails then long digit runs (ids, phones, cards) from text.

    Order matters: emails go first so their local/domain digits don't get
    half-replaced by the number pass. Pure codegen'd regexp_replace — the
    standard pre-training scrub stays JVM-side at corpus scale.
    """
    t = _c(text)
    t = F.regexp_replace(t, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(t, LONG_NUMBER_PATTERN, "<NUM>")


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_long_numbers) found in ``text`` (pre-redaction)."""
    t = _c(text)
    return (
        F.regexp_count(t, F.lit(EMAIL_PATTERN)),
        F.regexp_count(F.regexp_replace(t, EMAIL_PATTERN, "<EMAIL>"),
                       F.lit(LONG_NUMBER_PATTERN)),
    )
