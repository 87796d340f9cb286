"""Declared queries: LLM training-data pipeline surface (SURVEY §2.8 EXT).

Covers F6 (string/regexp), F8 (array math), F9 (JSON), F11 (levenshtein /
cosine), and the EXT composite operators: exact dedup, MinHash+LSH near-dup
dedup, SimHash, similarity search, text quality analysis, document
fingerprints, multimodal decode plumbing, applyInPandas grouped-map and a
pandas UDAF.

Oracle strategy: everything SQL-expressible gets a DuckDB formulation
(list_* functions mirror Spark's higher-order array functions). Operators
DuckDB cannot express (SHA-1-free xxhash64 sketches) either get a
Python-computed VALUES oracle (the q02/q09 precedent: independently
recompute with CPython over the same input) or an honest rows-only check.

Float protocol: cross-engine comparisons avoid floating rounding wherever
possible — the near-dup verifier compares *integer* shingle-set sizes
(``5*inter >= 4*union`` instead of ``jaccard >= 0.8``), so the check is
exact, not 4-decimal-approximate.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from questdb_etl_jobs_spark.queries import dq
from questdb_etl_jobs_spark.queries._protocol import (
    PURCHASES_SMALL,
    duck_purchases,
    spark_round4,
)
from questdb_etl_jobs_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    lang_guess,
    min_shingle_fingerprint,
    text_profile,
)
from questdb_etl_jobs_spark.functions.vectors import cosine_similarity, dot, norm
from questdb_etl_jobs_spark.operators.dedup import (
    dup_clusters,
    exact_dedup,
    hamming,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    signature_and_shingles,
    simhash_bits,
    word_shingles,
)
from questdb_etl_jobs_spark.operators.multimodal import attach_media, decode_media
from questdb_etl_jobs_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    train_centroids,
    write_ivf_partitioned,
)
from questdb_etl_jobs_spark.sources.csv_source import read_purchases_csv
from questdb_etl_jobs_spark.sources.tables import load_table

#: sf the driver's correctness gate runs at; Python-computed oracles read
#: the same tables the pre-registered DuckDB views point at.
ORACLE_SF_DIR = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# q40 — tokenize + top word counts (F6, DQ-40)
# ---------------------------------------------------------------------------

@dq(
    "q40_top_words",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE length(word) > 0
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
    covers="F6,U4",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q41 — vector norm + dot/cosine on consecutive pairs (F8, DQ-41)
# ---------------------------------------------------------------------------

@dq(
    "q41_vector_math",
    oracle="""
    SELECT a.vec_id,
           ROUND(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                       CAST(a.embedding AS DOUBLE[]))), 4)
             AS norm_a,
           ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])), 4) AS dot_ab,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4)
             AS cos_ab
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id < 100
    ORDER BY a.vec_id
    """,
    covers="F8,F11",
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < 100).alias("a")
    b = emb.alias("b")
    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.round(norm(F.col("a.embedding")), 4).alias("norm_a"),
            F.round(dot(F.col("a.embedding"), F.col("b.embedding")), 4).alias(
                "dot_ab"
            ),
            F.round(
                cosine_similarity(F.col("a.embedding"), F.col("b.embedding")), 4
            ).alias("cos_ab"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q42 — JSON extraction + aggregation (F9, DQ-42)
# ---------------------------------------------------------------------------

@dq(
    "q42_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           ROUND(CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                      AS DOUBLE) / COUNT(*), 4) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    covers="F9",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum("k").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_k"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q43 — regexp/string ops: email domain extraction (F6, DQ-40)
# ---------------------------------------------------------------------------

@dq(
    "q43_email_domains",
    oracle=f"""
    SELECT regexp_extract(email, '@(.+)$', 1) AS domain,
           COUNT(*) AS n,
           COUNT(DISTINCT split_part(email, '@', 1)) AS n_locals,
           CAST(MAX(length(email)) AS INT) AS max_len
    FROM {duck_purchases(PURCHASES_SMALL)}
    GROUP BY domain
    ORDER BY domain
    """,
    covers="F6",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = read_purchases_csv(spark, PURCHASES_SMALL)
    return (
        raw.select(
            F.regexp_extract("email", "@(.+)$", 1).alias("domain"),
            F.substring_index("email", "@", 1).alias("local"),
            F.length("email").alias("len"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("local").alias("n_locals"),
            F.max("len").alias("max_len"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# q44 — levenshtein near-dup pairs on a bounded slice (F11, DQ-44)
# ---------------------------------------------------------------------------

@dq(
    "q44_levenshtein_pairs",
    oracle="""
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS lev
    FROM (SELECT * FROM documents WHERE n_chars < 100) a
    JOIN (SELECT * FROM documents WHERE n_chars < 100) b
      ON a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 70
    ORDER BY doc_id_a, doc_id_b
    """,
    covers="F11,J5",
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") < 100)
    a = docs.select(F.col("doc_id").alias("doc_id_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_id_b"), F.col("text").alias("tb"))
    pairs = a.join(b, F.col("doc_id_a") < F.col("doc_id_b"))
    return (
        pairs.select(
            "doc_id_a",
            "doc_id_b",
            F.levenshtein("ta", "tb").alias("lev"),
        )
        .filter(F.col("lev") <= 70)
        .orderBy("doc_id_a", "doc_id_b")
    )


# ---------------------------------------------------------------------------
# q45 — similarity search: exact cosine top-k for a probe (EXT, DQ-44)
# ---------------------------------------------------------------------------

@dq(
    "q45_cosine_topk",
    oracle="""
    WITH probe AS (SELECT CAST(embedding AS DOUBLE[]) AS p
                   FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), p), 4)
             AS cosine
    FROM embeddings, probe
    WHERE vec_id <> 0
    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), p) DESC,
             vec_id
    LIMIT 10
    """,
    covers="EXT,F8,O2",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Probe fetch is a 1-row query parameter, not a data path.
    probe_row = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    probe = [float(x) for x in probe_row["embedding"]]
    topk = cosine_topk(emb.filter(F.col("vec_id") != 0), probe, k=10)
    return topk.select("vec_id", F.round("cosine", 4).alias("cosine"))


# ---------------------------------------------------------------------------
# q46 — exact dedup with deterministic winner (EXT dedup)
# ---------------------------------------------------------------------------

@dq(
    "q46_exact_dedup",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY lang, source)
    ORDER BY doc_id
    """,
    covers="EXT,A1,J4",
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = exact_dedup(docs, on=["lang", "source"], id_col="doc_id")
    return kept.select("doc_id", "lang", "source").orderBy("doc_id")


# ---------------------------------------------------------------------------
# q47 — MinHash + banded LSH near-dup detection (EXT dedup)
# ---------------------------------------------------------------------------
#
# The corpus is documents ∪ mutated copies (first word dropped, id+100000)
# so known near-dup pairs exist. The verify step compares *integer* shingle
# set sizes (5*inter >= 4*union ⇔ jaccard >= 0.8) — exact cross-engine.
# The Python oracle recomputes all-pairs exactly (no LSH), so this also
# checks LSH recall: at 32 hashes × 16 bands the per-pair miss probability
# at jaccard 0.8 is (1-0.8²)¹⁶ ≈ 8e-8.

def _mutated_corpus(docs: DataFrame) -> DataFrame:
    mutated = docs.selectExpr(
        "doc_id + 100000 AS doc_id",
        "substring(text, locate(' ', text) + 1) AS text",
    )
    return docs.select("doc_id", "text").unionByName(mutated)


#: Sub-stratum modulus for the superlinear CPython pair mirrors at
#: non-driver tiers (round-14, VERDICT r13 item 3): keeping base docs
#: with ``doc_id % 37 == 0`` bounds the all-pairs term (the mirror is
#: O(corpus²) set algebra) while preserving every known near-dup pair —
#: the mutation chains are REBUILT from the kept bases in both faces,
#: so each kept doc still meets its mutated twins.
_PAIR_STRATUM_MOD = 37


def _pair_stratum(sf_dir: str) -> int | None:
    """``None`` at the driver tier (sf0.01: full corpus, driver hashes
    pinned); the bounded sub-stratum modulus at any larger tier."""
    return (
        None
        if sf_dir.rstrip("/").endswith("sf0.01")
        else _PAIR_STRATUM_MOD
    )


def _py_shingles(text: str, n: int = 3) -> frozenset[str]:
    """CPython mirror of operators.dedup.word_shingles (set semantics)."""
    toks = text.split(" ")
    count = max(len(toks) - (n - 1), 1)
    return frozenset(" ".join(toks[i : i + n]) for i in range(count))


def _q47_oracle(sf_dir: str = ORACLE_SF_DIR) -> str:
    import duckdb

    mod = _pair_stratum(sf_dir)
    where = f" WHERE doc_id % {mod} = 0" if mod else ""
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        f"{where} ORDER BY doc_id"
    ).fetchall()
    corpus: list[tuple[int, frozenset[str]]] = []
    for doc_id, text in rows:
        corpus.append((doc_id, _py_shingles(text)))
        idx = text.find(" ")
        mutated = text[idx + 1 :] if idx >= 0 else text
        corpus.append((doc_id + 100000, _py_shingles(mutated)))
    corpus.sort()
    out = []
    for i, (id_a, sh_a) in enumerate(corpus):
        for id_b, sh_b in corpus[i + 1 :]:
            inter = len(sh_a & sh_b)
            union = len(sh_a | sh_b)
            if 5 * inter >= 4 * union:
                out.append(f"({id_a}, {id_b}, {inter}, {union})")
    values = ",\n      ".join(out)
    return f"""
    SELECT CAST(doc_id_a AS BIGINT) AS doc_id_a,
           CAST(doc_id_b AS BIGINT) AS doc_id_b,
           CAST(n_inter AS INT) AS n_inter,
           CAST(n_union AS INT) AS n_union
    FROM (VALUES
      {values}
    ) AS t(doc_id_a, doc_id_b, n_inter, n_union)
    ORDER BY doc_id_a, doc_id_b
    """


# sf-parametric via the bounded sub-stratum (round-14; previously a
# 10×-pass pin): the mirror verifies EXACT Jaccard over every pair, and
# the boilerplate-heavy synthetic vocabulary makes the pair count grow
# superlinearly with the corpus — minutes of CPython over the FULL
# sf0.1 corpus (the same pair-explosion bench.py's _dup_clusters_lsh
# note documents), seconds over the doc_id % 37 stratum both faces
# share at non-driver tiers.
_q47_oracle.sf_parametric = True


@dq("q47_near_dup_minhash_lsh", oracle=_q47_oracle, covers="EXT,U4,A1,J1")
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mod = _pair_stratum(sf_dir)
    if mod:
        docs = docs.filter(F.col("doc_id") % mod == 0)
    corpus = _mutated_corpus(docs)
    # One fused aggregation feeds both the banding branch and the verify
    # joins (reused exchange, single shingle construction — see
    # signature_and_shingles; measured ~15% faster than re-shingling the
    # corpus for the verify side, and one full scan cheaper at scale).
    fused = signature_and_shingles(
        corpus, "doc_id", "text", n_hashes=32, shingle_words=3
    )
    cands = lsh_candidate_pairs(fused.select("doc_id", "signature"), "doc_id", n_bands=16)
    shingled = fused.select("doc_id", "__sh")
    verified = (
        cands.join(
            shingled.select(
                F.col("doc_id").alias("doc_id_a"), F.col("__sh").alias("__sh_a")
            ),
            "doc_id_a",
        )
        .join(
            shingled.select(
                F.col("doc_id").alias("doc_id_b"), F.col("__sh").alias("__sh_b")
            ),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("__sh_a", "__sh_b")).alias("n_inter"),
            F.size(F.array_union("__sh_a", "__sh_b")).alias("n_union"),
        )
    )
    return verified.filter(
        5 * F.col("n_inter") >= 4 * F.col("n_union")
    ).orderBy("doc_id_a", "doc_id_b")


# ---------------------------------------------------------------------------
# q48 — SimHash + hamming distance (EXT dedup)
# ---------------------------------------------------------------------------
#
# Oracle: CPython XXH64 mirror (queries/_xxhash.py) recomputes the exact
# simhash bit vectors independently — the sketch is fully verified, not
# rows-only.

def _q48_oracle(sf_dir: str = ORACLE_SF_DIR) -> str:
    import duckdb

    from questdb_etl_jobs_spark.queries._xxhash import simhash_bits_py

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        " ORDER BY doc_id"
    ).fetchall()
    sims = {doc_id: simhash_bits_py(text) for doc_id, text in rows}
    out = []
    for doc_id in sorted(sims):
        if doc_id + 1 not in sims:
            continue
        ham = sum(a != b for a, b in zip(sims[doc_id], sims[doc_id + 1]))
        out.append(f"({doc_id}, {ham})")
    values = ",\n      ".join(out)
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(ham AS INT) AS ham
    FROM (VALUES
      {values}
    ) AS t(doc_id, ham)
    ORDER BY doc_id
    """


# Linear simhash mirror over the tier's own documents: sf-parametric.
_q48_oracle.sf_parametric = True


@dq("q48_simhash_hamming", oracle=_q48_oracle, covers="EXT,F8")
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id"), simhash_bits("text", 64).alias("__sh_a"))
    b = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), simhash_bits("text", 64).alias("__sh_b")
    )
    return (
        a.join(b, "doc_id")
        .select("doc_id", hamming(F.col("__sh_a"), F.col("__sh_b")).alias("ham"))
        .orderBy("doc_id")
    )


def _duck_str(word: str) -> str:
    """``word`` as a DuckDB string literal (a quote is doubled; DuckDB
    reads backslashes literally)."""
    return "'" + word.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# q49 — text quality metrics + language ID (EXT text analysis, DQ-40)
# ---------------------------------------------------------------------------

def _q49_oracle() -> str:
    stop_list = ", ".join(map(_duck_str, STOPWORDS))
    score_sql = {
        lang: (
            "len(list_filter(string_split(text, ' '), "
            f"x -> list_contains([{', '.join(map(_duck_str, ws))}], x)))"
        )
        for lang, ws in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score_sql.values()) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN {score_sql[lang]} = {best} THEN '{lang}'"
        for lang in LANG_MARKERS
    ) + " END"
    # Every numeric literal is cast to DOUBLE: DuckDB literals default to
    # DECIMAL, and mixed decimal/double arithmetic would diverge from
    # Spark's pure-double evaluation in the low bits.
    return f"""
    WITH m AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                       / length(text)
                  ELSE 0.0::DOUBLE END AS p_ratio,
             len(list_filter(string_split(text, ' '),
                             x -> list_contains([{stop_list}], x)))
               / len(string_split(text, ' ')) AS s_ratio,
             list_sum(list_transform(string_split(text, ' '),
                                     x -> length(x)))
               / len(string_split(text, ' ')) AS awl
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe,
           {spark_round4("p_ratio", "punct_ratio")},
           {spark_round4("s_ratio", "stop_ratio")},
           {spark_round4("awl", "avg_tok_len")},
           {spark_round4(
               "0.3::DOUBLE * least(length(text) / 400.0::DOUBLE, 1.0::DOUBLE)"
               " + 0.3::DOUBLE * greatest(0.0::DOUBLE,"
               " 1.0::DOUBLE - p_ratio * 10.0::DOUBLE)"
               " + 0.2::DOUBLE * (CASE WHEN awl >= 3 AND awl <= 10"
               " THEN 1.0::DOUBLE ELSE 0.3::DOUBLE END)"
               " + 0.2::DOUBLE * least(s_ratio * 5.0::DOUBLE, 1.0::DOUBLE)",
               "quality",
           )},
           {lang_case} AS lang_guess
    FROM m
    ORDER BY doc_id
    """


# Pure SQL generator over the registered `documents` view — no baked
# values; valid at every sf.
_q49_oracle.sf_invariant = True


@dq("q49_text_quality", oracle=_q49_oracle, covers="F6,EXT")
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sort-early: orderBy BEFORE the metric projection. A sort above an
    # expensive projection executes it twice — range partitioning samples
    # its whole child to pick bounds. Sorting the 2-column input and
    # projecting after keeps the metrics single-pass (order is preserved
    # through projections).
    docs = load_table(spark, sf_dir, "documents")
    profiled = text_profile(docs.select("doc_id", "text").orderBy("doc_id"), "text")
    return profiled.select(
        "doc_id",
        "n_tokens",
        "n_bpe",
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stop_ratio", 4).alias("stop_ratio"),
        F.round("avg_tok_len", 4).alias("avg_tok_len"),
        F.round("quality", 4).alias("quality"),
        "lang_guess",
    )


# ---------------------------------------------------------------------------
# q50 — rolling-hash document fingerprint (EXT, F6)
# ---------------------------------------------------------------------------

@dq(
    "q50_fingerprint",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(text) >= 8
                THEN list_min(list_transform(range(1, length(text) - 6),
                                             i -> md5(substr(text, i, 8))))
                ELSE md5(text) END AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    covers="F6,F8,EXT",
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Sort-early (see q49): the per-window md5 fold is the expensive part;
    # keep it above the sort so range-partition sampling never runs it.
    return docs.select("doc_id", "text").orderBy("doc_id").select(
        "doc_id", min_shingle_fingerprint("text", 8).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# q51 — multimodal decode plumbing via Arrow mapInPandas (U2, EXT)
# ---------------------------------------------------------------------------
#
# Payloads are the documents' own bytes; the deterministic decode stub
# derives width/height from the payload's sha256, so CPython can recompute
# the expected output independently (the q02 VALUES-oracle pattern).

def _q51_oracle(sf_dir: str = ORACLE_SF_DIR) -> str:
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        " WHERE doc_id < 100 ORDER BY doc_id"
    ).fetchall()
    out = []
    for doc_id, text in rows:
        payload = text.encode()
        digest = hashlib.sha256(payload).digest()
        out.append(
            f"({doc_id}, 'text/plain', {len(payload)}, "
            f"{64 + digest[0]}, {64 + digest[1]})"
        )
    values = ",\n      ".join(out)
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           media_type,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height
    FROM (VALUES
      {values}
    ) AS t(doc_id, media_type, n_bytes, width, height)
    ORDER BY doc_id
    """


# 100-doc sha256 mirror over the tier's own documents: sf-parametric.
_q51_oracle.sf_parametric = True


@dq("q51_multimodal_decode", oracle=_q51_oracle, covers="U2,EXT")
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    media = attach_media(with_payload, "payload", media_type="text/plain")
    decoded = decode_media(media, id_col="doc_id", payload_col="payload")
    return decoded.select(
        "doc_id", "media_type", "n_bytes", "width", "height"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q54 — Python UDTF: one row per JSON property (U4)
# ---------------------------------------------------------------------------

@dq(
    "q54_udtf_json_props",
    oracle="""
    SELECT event_id, 'k' AS key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS val
    FROM events
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
    covers="U4,F9",
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4) exploding a JSON object into (key, val) rows.

    The UDTF is the *generic* escape hatch for table-generating Python
    logic; for plain JSON the built-in variants (q42/q55) stay the fast
    path — this query exists to verify the UDTF plumbing end to end.
    """
    import json

    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="key string, val bigint")
    class ParseProps:
        def eval(self, props: str):
            if props is None:
                return
            for key, val in sorted(json.loads(props).items()):
                yield key, int(val)

    spark.udtf.register("parse_props", ParseProps)
    events = load_table(spark, sf_dir, "events")
    events.filter(F.col("event_type") == "purchase").createOrReplaceTempView(
        "__q54_events"
    )
    return spark.sql(
        """
        SELECT e.event_id, t.key, t.val
        FROM __q54_events e, LATERAL parse_props(e.props) t
        ORDER BY e.event_id
        """
    )


# ---------------------------------------------------------------------------
# q55 — from_json structured parse (F9)
# ---------------------------------------------------------------------------

@dq(
    "q55_from_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod
    FROM events
    WHERE event_type = 'click'
    ORDER BY event_id
    """,
    covers="F9",
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    parsed = events.filter(F.col("event_type") == "click").withColumn(
        "__p", F.from_json("props", "k INT")
    )
    return parsed.select(
        "event_id",
        F.col("__p.k").alias("k"),
        (F.col("__p.k") % 10).alias("k_mod"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q56 — embedding-cosine near-dup pairs (EXT dedup, bounded slice)
# ---------------------------------------------------------------------------

@dq(
    "q56_embedding_near_dup",
    oracle="""
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4)
             AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    ORDER BY vec_id_a, vec_id_b
    """,
    covers="EXT,J5,F11",
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding near-dup — the verify-stage shape.

    Quadratic by design (operators/similarity.py all_pairs_above): correct
    on bounded slices / behind LSH candidate generation, never the 100 TB
    path on a full corpus.
    """
    from questdb_etl_jobs_spark.operators.similarity import all_pairs_above

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = all_pairs_above(emb, threshold=0.4)
    return pairs.select(
        "vec_id_a", "vec_id_b", F.round("cosine", 4).alias("cosine")
    ).orderBy("vec_id_a", "vec_id_b")


# ---------------------------------------------------------------------------
# q52 — grouped-map applyInPandas (U2)
# ---------------------------------------------------------------------------

@dq(
    "q52_grouped_pandas_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 4) AS mean_e0,
           ROUND(MIN(CAST(embedding[1] AS DOUBLE)), 4) AS min_e0,
           ROUND(MAX(CAST(embedding[1] AS DOUBLE)), 4) AS max_e0
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    covers="U2",
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e0 = emb.select("label", F.col("embedding")[0].cast("double").alias("e0"))

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        # Raw doubles out; rounding happens Spark-side (HALF_UP, matching
        # the oracle's ROUND — Python round() is banker's and would differ
        # on exact .xxxx5 boundaries).
        return pd.DataFrame(
            {
                "label": [pdf["label"].iloc[0]],
                "n": [len(pdf)],
                "mean_e0": [pdf["e0"].mean()],
                "min_e0": [pdf["e0"].min()],
                "max_e0": [pdf["e0"].max()],
            }
        )

    out = e0.groupBy("label").applyInPandas(
        stats, "label int, n long, mean_e0 double, min_e0 double, max_e0 double"
    )
    return out.select(
        "label",
        "n",
        F.round("mean_e0", 4).alias("mean_e0"),
        F.round("min_e0", 4).alias("min_e0"),
        F.round("max_e0", 4).alias("max_e0"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# q53 — pandas UDAF: geometric mean (U3)
# ---------------------------------------------------------------------------

@dq(
    "q53_udaf_geomean",
    oracle="""
    SELECT event_type,
           ROUND(exp(AVG(ln(value))), 4) AS geomean_value
    FROM events
    WHERE value > 0
    GROUP BY event_type
    ORDER BY event_type
    """,
    covers="U3",
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy()).mean()))

    events = load_table(spark, sf_dir, "events")
    return (
        # geomean is only defined on positives; ln(0) is an error under
        # ANSI semantics (observed: one value==0 row at sf0.1).
        events.filter(F.col("value") > 0)
        .groupBy("event_type")
        .agg(F.round(geomean("value"), 4).alias("geomean_value"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q57 — EXACT n-gram Jaccard dedup via inverted index (EXT dedup)
# ---------------------------------------------------------------------------
#
# The exact counterpart of q47: same mutated corpus, same 0.8 threshold,
# but candidates come from an inverted shingle index (docs sharing >=1
# posting) instead of MinHash banding — zero false negatives by
# construction (a pair with jaccard >= 0.8 > 0 shares a shingle), so the
# oracle is a plain brute-force over all pairs.

def _q57_oracle(sf_dir: str = ORACLE_SF_DIR) -> str:
    import duckdb

    mod = _pair_stratum(sf_dir)
    where = f" WHERE doc_id % {mod} = 0" if mod else ""
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        f"{where} ORDER BY doc_id"
    ).fetchall()
    corpus: list[tuple[int, frozenset[str]]] = []
    for doc_id, text in rows:
        corpus.append((doc_id, _py_shingles(text)))
        idx = text.find(" ")
        corpus.append(
            (doc_id + 100000, _py_shingles(text[idx + 1 :] if idx >= 0 else text))
        )
    corpus.sort()
    out = []
    for i, (id_a, sh_a) in enumerate(corpus):
        for id_b, sh_b in corpus[i + 1 :]:
            inter = len(sh_a & sh_b)
            union = len(sh_a | sh_b)
            if 5 * inter >= 4 * union:
                out.append(f"({id_a}, {id_b}, {inter}, {union})")
    values = ",\n      ".join(out)
    return f"""
    SELECT CAST(doc_id_a AS BIGINT) AS doc_id_a,
           CAST(doc_id_b AS BIGINT) AS doc_id_b,
           CAST(n_inter AS INT) AS n_inter,
           CAST(n_union AS INT) AS n_union
    FROM (VALUES
      {values}
    ) AS t(doc_id_a, doc_id_b, n_inter, n_union)
    ORDER BY doc_id_a, doc_id_b
    """


# Same pair-explosion shape as q47; sf-parametric via the shared
# bounded sub-stratum (round-14; previously a 10×-pass pin).
_q57_oracle.sf_parametric = True


@dq("q57_ngram_jaccard_exact", oracle=_q57_oracle, covers="EXT,U4,A1,J1")
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mod = _pair_stratum(sf_dir)
    if mod:
        docs = docs.filter(F.col("doc_id") % mod == 0)
    corpus = _mutated_corpus(docs)
    pairs = ngram_jaccard_pairs(
        corpus,
        "doc_id",
        "text",
        threshold_num=4,
        threshold_den=5,
        shingle_words=3,
        df_cap=None,  # exact counting path (no verify join)
    )
    return pairs.orderBy("doc_id_a", "doc_id_b")


# ---------------------------------------------------------------------------
# q58 — language-ID confusion counts (EXT text analysis)
# ---------------------------------------------------------------------------
#
# lang_guess (deterministic marker-lexicon argmax, functions/text.py) vs
# the table's ground-truth lang label. The oracle SQL is GENERATED from
# LANG_MARKERS so the two engines can never drift on the lexicons or the
# tie order (first max in LANG_MARKERS insertion order; 'und' when no
# marker hits).

def _q58_oracle() -> str:
    langs = list(LANG_MARKERS)
    score_cols = []
    for lang in langs:
        words = ", ".join(map(_duck_str, LANG_MARKERS[lang]))
        score_cols.append(
            f"len(list_filter(string_split(text, ' '),"
            f" t -> list_contains([{words}], t))) AS s_{lang}"
        )
    all_scores = ", ".join(f"s_{lang}" for lang in langs)
    branches = [f"WHEN greatest({all_scores}) = 0 THEN 'und'"]
    for i, lang in enumerate(langs):
        rest = [f"s_{lang} >= s_{o}" for o in langs[i + 1 :]]
        cond = " AND ".join(rest) if rest else "TRUE"
        branches.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + " END"
    return f"""
    WITH scored AS (
      SELECT lang, {", ".join(score_cols)}
      FROM documents
    )
    SELECT lang, {case} AS lang_guess, COUNT(*) AS n
    FROM scored
    GROUP BY lang, lang_guess
    ORDER BY lang, lang_guess
    """


# Pure SQL generator over the registered `documents` view: valid at
# every sf.
_q58_oracle.sf_invariant = True


@dq("q58_lang_id_confusion", oracle=_q58_oracle, covers="EXT,F6,A1")
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sources.tables import fan_out

    # r18: lang_guess is a wide codegen expression chain evaluated in
    # the scan stage's partial aggregate — single-core on an
    # unsplittable source. fan_out parallelizes it; no-op at scale.
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("lang", "text")
    )
    return (
        docs.groupBy("lang", lang_guess("text").alias("lang_guess"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_guess")
    )


# ---------------------------------------------------------------------------
# q59 — IVF similarity probe in exact mode (EXT similarity)
# ---------------------------------------------------------------------------
#
# Drives the WHOLE IVF path (k-means training -> cluster-partitioned
# write -> pruned probe) under the driver gate: with n_probe = k the
# probe covers every cell, so the result is exactly brute-force cosine
# top-k and the oracle is plain SQL. Recall/efficiency of the pruned
# (n_probe < k) path is covered by tests/test_plans.py (PartitionFilters
# assertion).

@dq(
    "q59_ivf_topk_exact",
    oracle="""
    WITH probe AS (SELECT CAST(embedding AS DOUBLE[]) AS p
                   FROM embeddings WHERE vec_id = 1)
    SELECT vec_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), p), 4)
             AS cosine
    FROM embeddings, probe
    WHERE vec_id <> 1
    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), p) DESC,
             vec_id
    LIMIT 10
    """,
    covers="EXT,F8,O2,S3",
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    probe_row = emb.filter(F.col("vec_id") == 1).select("embedding").first()
    probe = [float(x) for x in probe_row["embedding"]]
    k_cells = 8
    centroids = train_centroids(emb, k=k_cells)
    path = tempfile.mkdtemp(prefix="q59_ivf_")
    write_ivf_partitioned(emb.filter(F.col("vec_id") != 1), path, centroids)
    topk = ivf_topk(spark, path, probe, centroids, k=10, n_probe=k_cells)
    return topk.select("vec_id", F.round("cosine", 4).alias("cosine"))


# ---------------------------------------------------------------------------
# q62 — multimodal pipeline: decode → resize → frame-sample (EXT, U2)
# ---------------------------------------------------------------------------
#
# Chains the three media stages end to end: Arrow-batched decode
# (deterministic stub codec), vectorized resize to 128x128 (area-ratio
# feature rescale), and the pure-explode frame-sampling plan (every 7th
# "frame", frame count = payload bytes). The oracle recomputes the whole
# chain in CPython — the stub decode is sha256 arithmetic, so every
# value is verified, not just row counts. Float protocol: Spark ROUND
# rounds the shortest decimal repr; the mirror uses
# Decimal(repr(x)) + HALF_UP (see _protocol.spark_round4 notes).

def _q62_oracle(sf_dir: str = ORACLE_SF_DIR) -> str:
    import duckdb
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        " WHERE doc_id < 100 ORDER BY doc_id"
    ).fetchall()
    out = []
    for doc_id, text in rows:
        payload = text.encode("utf-8")
        digest = hashlib.sha256(payload).digest()
        w, h = 64 + digest[0], 64 + digest[1]
        scale = (128 * 128) / (w * h)
        # feature values narrow to float32 at each Arrow boundary
        # (DECODED_SCHEMA is array<float>): decode emits f32, resize
        # multiplies in float64 and narrows again on return.
        f0_decoded = np.float32(digest[0] / 255.0)
        f0 = float(np.float32(float(f0_decoded) * scale))
        f0r = Decimal(repr(f0)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        n_frames = ((len(payload) - 1) // 7) + 1
        out.append(f"({doc_id}, {f0r}, {n_frames})")
    values = ",\n      ".join(out)
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(f0 AS DOUBLE) AS f0,
           CAST(n_frames AS BIGINT) AS n_frames
    FROM (VALUES
      {values}
    ) AS t(doc_id, f0, n_frames)
    ORDER BY doc_id
    """


# 100-doc sha256/float32 mirror over the tier's own documents:
# sf-parametric.
_q62_oracle.sf_parametric = True


@dq("q62_multimodal_pipeline", oracle=_q62_oracle, covers="U2,EXT")
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.multimodal import (
        resize_decoded,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    media = attach_media(with_payload, "payload", media_type="text/plain")
    decoded = decode_media(media, id_col="doc_id", payload_col="payload")
    resized = resize_decoded(decoded, 128, 128)
    frames = sample_frames(
        decoded.select("doc_id", F.col("n_bytes").cast("int").alias("n_frames")),
        "n_frames",
        every=7,
    )
    frame_counts = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    return (
        resized.select(
            "doc_id", F.round(F.col("feature")[0].cast("double"), 4).alias("f0")
        )
        .join(frame_counts, "doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q64 — corpus curation capstone: profile → filter → dedup (EXT)
# ---------------------------------------------------------------------------
#
# The end-to-end LLM training-data shape: score every document
# (text_profile), keep high-quality English docs of useful length, then
# drop near-duplicates by suffix-8-token fingerprint with a
# deterministic min-id winner (the mutated corpus guarantees real
# duplicate groups: each original and its first-word-dropped mutation
# share the suffix). Everything is one declarative plan — profile
# expressions fused into the scan, one shuffle for the dedup aggregate.

def _q64_oracle() -> str:
    stop_list = ", ".join(map(_duck_str, STOPWORDS))
    score_sql = {
        lang: (
            "len(list_filter(toks, "
            f"x -> list_contains([{', '.join(map(_duck_str, ws))}], x)))"
        )
        for lang, ws in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score_sql.values()) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN {score_sql[lang]} = {best} THEN '{lang}'"
        for lang in LANG_MARKERS
    ) + " END"
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000,
             CASE WHEN strpos(text, ' ') > 0
                  THEN substring(text, strpos(text, ' ') + 1)
                  ELSE text END
      FROM documents
    ), m AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                       / length(text)
                  ELSE 0.0::DOUBLE END AS p_ratio,
             len(list_filter(string_split(text, ' '),
                             x -> list_contains([{stop_list}], x)))
               / len(string_split(text, ' ')) AS s_ratio,
             list_sum(list_transform(string_split(text, ' '),
                                     x -> length(x)))
               / len(string_split(text, ' ')) AS awl
      FROM corpus
    ), scored AS (
      SELECT doc_id, text, toks, n_tokens,
             0.3::DOUBLE * least(length(text) / 400.0::DOUBLE, 1.0::DOUBLE)
             + 0.3::DOUBLE * greatest(0.0::DOUBLE,
                                      1.0::DOUBLE - p_ratio * 10.0::DOUBLE)
             + 0.2::DOUBLE * (CASE WHEN awl >= 3 AND awl <= 10
                              THEN 1.0::DOUBLE ELSE 0.3::DOUBLE END)
             + 0.2::DOUBLE * least(s_ratio * 5.0::DOUBLE, 1.0::DOUBLE)
               AS quality,
             {lang_case} AS lang_guess
      FROM m
    ), kept AS (
      SELECT doc_id, n_tokens, quality,
             array_to_string(toks[greatest(len(toks) - 7, 1):len(toks)], ' ')
               AS fp
      FROM scored
      WHERE quality >= 0.85::DOUBLE AND lang_guess = 'en' AND n_tokens >= 20
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           {spark_round4("quality", "quality")}
    FROM kept
    QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ORDER BY doc_id
    """


# Pure SQL generator over the registered `documents` view: valid at
# every sf.
_q64_oracle.sf_invariant = True


@dq("q64_curation_pipeline", oracle=_q64_oracle, covers="EXT,F6,A1,W1")
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = _mutated_corpus(docs)
    prof = text_profile(corpus, "text")
    toks = F.split("text", " ")
    kept = (
        prof.filter(
            (F.col("quality") >= 0.85)
            & (F.col("lang_guess") == "en")
            & (F.col("n_tokens") >= 20)
        )
        .withColumn(
            "__fp",
            F.array_join(
                F.slice(toks, F.greatest(F.size(toks) - 7, F.lit(1)), 8), " "
            ),
        )
    )
    deduped = exact_dedup(
        kept.select("doc_id", "n_tokens", "quality", "__fp"),
        on=["__fp"],
        id_col="doc_id",
    )
    return deduped.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round("quality", 4).alias("quality"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q67 — duplicate-CLUSTER resolution: connected components over near-dup
#        edges (EXT dedup completion)
# ---------------------------------------------------------------------------
#
# Near-dup pairs alone can't pick one canonical doc per duplicate GROUP:
# A~B and B~C must land in one cluster even when A~C is below threshold.
# The corpus is a 3-deep mutation chain per document (original, drop first
# word, drop first two words); edges are EXACT n-gram Jaccard >= 0.6
# (integer-compared), clusters come from min-label propagation
# (operators/dedup.py dup_clusters). The oracle recomputes everything in
# CPython: brute-force pairs + union-find — transitive closure included.

def _chained_corpus(docs: DataFrame) -> DataFrame:
    # selectExpr: one py4j call per projection (r19 §5), same trees.
    mut = [
        "doc_id + 100000 AS doc_id",
        "substring(text, locate(' ', text) + 1) AS text",
    ]
    base = docs.select("doc_id", "text")
    m1 = base.selectExpr(*mut)
    m2 = m1.selectExpr(*mut)
    return base.unionByName(m1).unionByName(m2)


def _q67_oracle(sf_dir: str = ORACLE_SF_DIR) -> str:
    import duckdb

    mod = _pair_stratum(sf_dir)
    where = f" WHERE doc_id % {mod} = 0" if mod else ""
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        f"{where} ORDER BY doc_id"
    ).fetchall()

    def drop_first(t: str) -> str:
        i = t.find(" ")
        return t[i + 1 :] if i >= 0 else t

    corpus: list[tuple[int, frozenset[str]]] = []
    for doc_id, text in rows:
        m1 = drop_first(text)
        corpus.append((doc_id, _py_shingles(text)))
        corpus.append((doc_id + 100000, _py_shingles(m1)))
        corpus.append((doc_id + 200000, _py_shingles(drop_first(m1))))
    corpus.sort()

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x: int, y: int) -> None:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for i, (id_a, sh_a) in enumerate(corpus):
        for id_b, sh_b in corpus[i + 1 :]:
            inter = len(sh_a & sh_b)
            if 5 * inter >= 3 * len(sh_a | sh_b):
                union(id_a, id_b)

    members: dict[int, list[int]] = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    out = []
    for root, nodes in members.items():
        for node in nodes:
            out.append(f"({node}, {root}, {len(nodes)})")
    values = ",\n      ".join(sorted(out, key=lambda s: int(s[1:].split(",")[0])))
    return f"""
    SELECT CAST(node AS BIGINT) AS doc_id, CAST(cluster AS BIGINT) AS cluster,
           CAST(csize AS BIGINT) AS csize
    FROM (VALUES
      {values}
    ) AS t(node, cluster, csize)
    ORDER BY doc_id
    """


# Same pair-explosion shape as q47/q57 (the union-find mirror consumes
# the exact pair edge list); sf-parametric via the shared bounded
# sub-stratum (round-14; previously a 10×-pass pin).
_q67_oracle.sf_parametric = True


@dq("q67_dup_clusters", oracle=_q67_oracle, covers="EXT,J1,A1,U4")
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mod = _pair_stratum(sf_dir)
    if mod:
        docs = docs.filter(F.col("doc_id") % mod == 0)
    corpus = _chained_corpus(docs)
    edges = ngram_jaccard_pairs(
        corpus,
        "doc_id",
        "text",
        threshold_num=3,
        threshold_den=5,
        shingle_words=3,
        df_cap=None,
    )
    clusters = dup_clusters(edges, "doc_id_a", "doc_id_b")
    sizes = clusters.groupBy("cluster").agg(F.count(F.lit(1)).alias("csize"))
    return (
        clusters.join(sizes, "cluster")
        .select(F.col("node").alias("doc_id"), "cluster", "csize")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q83 — int8 embedding quantization (EXT: ANN storage path)
# ---------------------------------------------------------------------------
#
# The storage-side half of similarity search at 100 TB: symmetric
# per-vector int8 quantization (scale = 127/max|v|) shrinks the vector
# corpus 4× before the ANN index is built. All arithmetic is exact-IEEE
# (float widened to double, floor(x+0.5) for round-half-up), so the
# quantized integers match the DuckDB oracle bit-for-bit — no float
# tolerance anywhere. Zero-vector guard: scale degenerates to NULL and
# the quantized array is all-zero.

@dq(
    "q83_quantize_int8",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             127.0::DOUBLE / NULLIF(list_max(list_transform(
               CAST(embedding AS DOUBLE[]), x -> abs(x))), 0.0) AS scale
      FROM embeddings
      WHERE vec_id % 20 = 0
    ),
    q AS (
      SELECT vec_id,
             CASE WHEN scale IS NULL
                  THEN list_transform(v, x -> 0)
                  ELSE list_transform(v, x -> CAST(floor(x * scale + 0.5)
                                                   AS BIGINT))
             END AS qv
      FROM scaled
    )
    SELECT vec_id,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
           list_aggregate(qv, 'min') AS q_min,
           list_aggregate(qv, 'max') AS q_max
    FROM q
    ORDER BY vec_id
    """,
    covers="F8,EXT",
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.vectors import max_abs, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 20 == 0
    )
    scale = F.lit(127.0) / F.nullif(
        max_abs("embedding").cast("double"), F.lit(0.0)
    )
    with_q = emb.select(
        "vec_id",
        F.when(
            scale.isNull(),
            F.transform("embedding", lambda x: F.lit(0).cast("byte")),
        )
        .otherwise(quantize_int8("embedding", scale))
        .alias("qv"),
    )
    qv_long = F.transform(F.col("qv"), lambda x: x.cast("long"))
    return with_q.select(
        "vec_id",
        F.aggregate(qv_long, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.array_min("qv").cast("long").alias("q_min"),
        F.array_max("qv").cast("long").alias("q_max"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# q87 — MapType round-trip (F9: map functions)
# ---------------------------------------------------------------------------
#
# Builds a real map<string,long> per user (map_from_entries over the
# per-type counts), then interrogates it with the map-function surface:
# size, map_keys (sorted + joined), map_values (summed via aggregate),
# and a map_filter/element_at probe. The oracle is the equivalent
# relational aggregation — if any map op dropped or duplicated an
# entry, size/keys/total diverge.

@dq(
    "q87_map_functions",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events WHERE user_id % 20 = 0
      GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(COUNT(*) AS INT) AS n_types,
           string_agg(event_type, ',' ORDER BY event_type) AS type_keys,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(COALESCE(SUM(n) FILTER (event_type = 'purchase'), 0)
                AS BIGINT) AS n_purchases
    FROM per_type
    GROUP BY user_id
    ORDER BY user_id
    """,
    covers="F9,A6,F8",
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 20 == 0
    )
    per_type = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return mapped.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("type_keys"),
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("total_events"),
        F.coalesce(
            F.element_at("m", F.lit("purchase")), F.lit(0).cast("long")
        ).alias("n_purchases"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q90 — TF-IDF term weighting (corpus-statistics join)
# ---------------------------------------------------------------------------
#
# Classic two-level aggregation + join: term frequency per (doc, term),
# document frequency per term over the FULL corpus, idf = ln(N/df),
# weight = tf * idf. The document-count scalar enters the plan as a
# broadcast one-row aggregate (no driver-side collect). Output is keyed
# by (doc_id, word) — ordering never depends on float comparisons — and
# the weight goes through the spark-round protocol (a rational times a
# log can land on an exact .xxxx5 repr).

@dq(
    "q90_tfidf",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM words WHERE length(word) > 0
      GROUP BY doc_id, word
    ),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word,
           CAST(tf.tf AS INT) AS tf,
           CAST(df.df AS INT) AS df,
           {{tfidf}}
    FROM tf JOIN df USING (word), n
    WHERE tf.doc_id % 50 = 0
    ORDER BY doc_id, word
    """.format(
        tfidf=spark_round4(
            "CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df.df)",
            "tfidf",
        )
    ),
    covers="EXT,A1,J1,J2,F7",
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("word"),
    ).filter(F.length("word") > 0)
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return (
        tf.filter(F.col("doc_id") % 50 == 0)
        .join(df_counts, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            F.col("tf").cast("int").alias("tf"),
            F.col("df").cast("int").alias("df"),
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "word")
    )


# ---------------------------------------------------------------------------
# q96 — native Python UDTF via SQL LATERAL (U4, the real table-function API)
# ---------------------------------------------------------------------------
#
# Everything else on the U4 row rides on explode/posexplode (the fast,
# expression-only path). This query exercises Spark 4's actual Python
# UDTF API — an @udtf class registered in the catalog and laterally
# joined in SQL — over the non-overlapping-chunk semantics whose
# overlapping twin q88 implements with expressions. Arrow-batched row
# exchange (session.RUNTIME_CONFS); one partition-local expansion, no
# shuffle before the final presentation sort.

@dq(
    "q96_chunk_udtf_lateral",
    oracle="""
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id,
           CAST(i AS INT) AS pos,
           array_to_string(toks[CAST(i * 16 + 1 AS BIGINT)
                                : CAST((i + 1) * 16 AS BIGINT)], ' ') AS chunk,
           CAST(len(toks[CAST(i * 16 + 1 AS BIGINT)
                         : CAST((i + 1) * 16 AS BIGINT)]) AS INT) AS n_tokens
    FROM p,
         UNNEST(generate_series(
             0, CAST(ceil(len(toks) / 16.0) AS BIGINT) - 1)) AS t(i)
    ORDER BY doc_id, pos
    """,
    covers="U4,EXT",
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.udtfs import register_udtfs
    from questdb_etl_jobs_spark.sources.tables import register_tables

    register_udtfs(spark)
    register_tables(spark, sf_dir, ("documents",))
    return spark.sql(
        """
        SELECT d.doc_id, c.pos, c.chunk, c.n_tokens
        FROM documents d, LATERAL chunk_tokens(d.text, 16) c
        WHERE d.doc_id % 5 = 0
        ORDER BY d.doc_id, c.pos
        """
    )


# ---------------------------------------------------------------------------
# q97 — VARIANT semi-structured type (Spark 4 parse_json / variant_get)
# ---------------------------------------------------------------------------
#
# The modern F9 path: props parses ONCE into the binary VARIANT encoding
# and typed fields extract without re-tokenizing JSON text per access
# (get_json_object — q42 — re-parses the string per call site). At
# 100 TB, parse-once-extract-many is the difference for multi-field
# event schemas; missing paths go through try_variant_get → NULL, not
# an error. Oracle: DuckDB's JSON extraction of the same fields.

@dq(
    "q97_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(COUNT(json_extract_string(props, '$.missing')) AS BIGINT)
             AS n_missing_present,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    covers="F9",
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # parse_json appears under both extractions, but runs once per row:
    # whole-stage codegen's subexpression elimination fuses the identical
    # calls — the VARIANT binary is built once and both typed gets read it.
    parsed = events.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
        F.expr("try_variant_get(parse_json(props), '$.missing', 'bigint')")
        .alias("missing"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("missing").alias("n_missing_present"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q98 — recursive CTE calendar spine (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------
#
# The SQL-standard recursive form of the q66 calendar densification:
# generate the hour spine WITH RECURSIVE from the corpus bounds, left
# join hourly counts, FILL(0) gaps. Spark 4.0 added recursive CTEs;
# DuckDB runs the identical text modulo the epoch helpers. The
# DataFrame twin (operators/sample_by.fill_gaps) stays the hot path —
# F.sequence is one expression, the recursion is one row per step — but
# the SQL form is what a migrating QuestDB/ANSI user will write first.

_Q98_SQL = """
    WITH RECURSIVE spine(bucket_ts) AS (
      SELECT date_trunc('hour', (SELECT MIN(ts) FROM events))
      UNION ALL
      SELECT bucket_ts + INTERVAL 1 HOUR FROM spine
      WHERE bucket_ts < date_trunc('hour', (SELECT MAX(ts) FROM events))
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_ts,
             COUNT(*) AS n_raw
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY 1
    )
    SELECT s.bucket_ts,
           CAST(COALESCE(h.n_raw, 0) AS BIGINT) AS n
    FROM spine s LEFT JOIN hourly h ON s.bucket_ts = h.bucket_ts
    ORDER BY s.bucket_ts
"""


@dq("q98_recursive_spine", oracle=_Q98_SQL, covers="A7,F5")
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, ("events",))
    # Spark caps recursion depth at 100 by default; the hour spine spans
    # a month-plus of data. The cap clause is Spark-dialect only — the
    # DuckDB oracle runs the uncapped standard text.
    return spark.sql(
        _Q98_SQL.replace(
            "spine(bucket_ts) AS (",
            "spine(bucket_ts) MAX RECURSION LEVEL 10000 AS (",
        )
    )


# ---------------------------------------------------------------------------
# q99 — semantic dedup (SemDeDup shape: Voronoi cells + in-cell cosine)
# ---------------------------------------------------------------------------
#
# Embedding-space near-duplicate pruning with the quadratic term confined
# to a cell: assign every vector to its nearest of 8 data-derived seed
# vectors (vec_id 1..8 — fixed, so assignment is a pure expression; see
# semantic_dedup_losers on why not live-trained centroids), exact cosine
# within cells only, drop the higher id of every pair ≥ 0.4. The oracle
# replays the identical partition + pair arithmetic in DuckDB (fold
# parity with list_cosine_similarity is already pinned by q56).

@dq(
    "q99_semantic_dedup",
    oracle="""
    WITH seeds AS (
      SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id BETWEEN 1 AND 8
    ),
    assign AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             (SELECT s.sid FROM seeds s
              ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), s.sv),
                       s.sid
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    pairs AS (
      SELECT b.vec_id AS idb,
             list_cosine_similarity(a.v, b.v) AS c
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    )
    SELECT idb AS vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_twins,
           ROUND(MAX(c), 4) AS max_cosine
    FROM pairs GROUP BY idb ORDER BY vec_id
    """,
    covers="EXT,J5,A1,F11",
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.similarity import (
        semantic_dedup_losers,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        emb.filter(F.col("vec_id").between(1, 8))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    seeds = [[float(x) for x in r["embedding"]] for r in seed_rows]
    losers = semantic_dedup_losers(emb, seeds, threshold=0.4)
    return losers.select(
        "vec_id", "n_twins", F.round("max_cosine", 4).alias("max_cosine")
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# q100 — SAMPLE BY aligned to FIRST OBSERVATION
# ---------------------------------------------------------------------------
#
# QuestDB's SAMPLE BY anchored at the table's first row — the DEFAULT in
# QuestDB < 7.4, the explicit ALIGN TO FIRST OBSERVATION form afterwards
# (7.4 changed the default to ALIGN TO CALENDAR); every other sample_by
# query here is the calendar form, so this closes the alignment parity
# gap for users migrating from either version.
# 90-minute buckets make the two alignments visibly different (no
# calendar boundary coincides). Oracle: identical integer-µs anchor
# arithmetic in DuckDB.

@dq(
    "q100_sample_by_first_obs",
    oracle="""
    WITH t0 AS (SELECT MIN(CAST(ts AS TIMESTAMP)) AS a FROM events),
    b AS (
      SELECT epoch_us(a)
             + CAST(FLOOR((epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(a))
                          / 5400000000.0) AS BIGINT) * 5400000000
               AS bus,
             e.value
      FROM events e, t0
    )
    SELECT make_timestamp(bus) AS bucket_ts,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM b GROUP BY bucket_ts ORDER BY bucket_ts
    """,
    covers="A7,F5",
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.sample_by import (
        sample_by_first_observation,
    )

    events = load_table(spark, sf_dir, "events")
    agg = sample_by_first_observation(
        events,
        ts="ts",
        bucket="90 minutes",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        ],
    )
    return agg.orderBy("bucket_ts")


# ---------------------------------------------------------------------------
# q177 — distributed k-means over embeddings (EXT clustering)
# ---------------------------------------------------------------------------
#
# Topic-aware curation needs cluster structure (cluster-balanced sampling /
# mixing). operators/clustering.py runs Lloyd iterations where assignment
# is a zero-shuffle codegen projection (centroids as plan literals) and the
# update shuffle is bounded by partitions × k × dim regardless of corpus
# size. Determinism protocol: init = k lowest vec_ids; component means via
# the decimal sum of ROUND(x,4) terms (order-independent) divided once in
# CPython; distances fold in array order (pure IEEE); ties break to the
# lowest centroid index. The oracle replays the identical arithmetic in
# CPython over the same parquet — assignments and distances must match
# bit-for-bit (dist gated at 4 decimals via the repr-round shim).

_KM_K = 4
_KM_ITERS = 3


def _q177_mirror(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, str]]:
    """(vec_id, cluster, sq_dist4-as-str) — exact CPython replay."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    vecs = [(int(vid), [float(x) for x in v]) for vid, v in rows]
    dim = len(vecs[0][1])
    q4 = Decimal("0.0001")

    def sqd(vec: list[float], cen: list[float]) -> float:
        acc = 0.0
        for a, b in zip(vec, cen):
            acc = acc + (a - b) * (a - b)
        return acc

    def assign(cens: list[list[float]]) -> list[tuple[int, int, float]]:
        out = []
        for vid, v in vecs:
            dists = [sqd(v, c) for c in cens]
            best = dists.index(min(dists))
            out.append((vid, best, dists[best]))
        return out

    centroids = [list(v) for _vid, v in vecs[:_KM_K]]
    for _ in range(_KM_ITERS):
        assigned = assign(centroids)
        sums: dict[int, list[Decimal]] = {}
        counts: dict[int, int] = {}
        for (vid, cl, _d), (_vid2, v) in zip(assigned, vecs):
            s = sums.setdefault(cl, [Decimal(0)] * dim)
            counts[cl] = counts.get(cl, 0) + 1
            for p, x in enumerate(v):
                s[p] += Decimal(repr(x)).quantize(q4, ROUND_HALF_UP)
        centroids = [
            [float(sums[c][p]) / counts[c] for p in range(dim)]
            if c in counts
            else list(centroids[c])
            for c in range(_KM_K)
        ]
    final = assign(centroids)
    return [
        (
            vid,
            cl,
            str(Decimal(repr(d)).quantize(q4, ROUND_HALF_UP)),
        )
        for vid, cl, d in final
    ]


def _q177_oracle(sf_dir: str = ORACLE_SF_DIR) -> str:
    values = ",\n      ".join(
        f"({vid}, {cl}, {d4})" for vid, cl, d4 in _q177_mirror(sf_dir)
    )
    return f"""
    SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cluster AS INT) AS cluster,
           CAST(sq_dist4 AS DOUBLE) AS sq_dist4
    FROM (VALUES
      {values}
    ) AS t(vec_id, cluster, sq_dist4)
    ORDER BY vec_id
    """


# Sequential CPython Lloyd mirror over the tier's own embeddings (n×k×dim
# per iteration): sf-parametric.
_q177_oracle.sf_parametric = True


@dq("q177_kmeans_clusters", oracle=_q177_oracle, covers="EXT,F8,U1,A1")
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.clustering import (
        kmeans_fit,
        kmeans_transform,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    model = kmeans_fit(emb, k=_KM_K, iterations=_KM_ITERS)
    out = kmeans_transform(emb, model)
    return out.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        F.round("sq_dist", 4).alias("sq_dist4"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# q180 — cluster-balanced sampling (EXT clustering × sampling composition)
# ---------------------------------------------------------------------------
#
# The reason the clustering family exists in a curation engine: sample a
# FIXED number of examples per topic cluster (cluster-balanced eval sets
# / mixing), not per corpus. Composition of two verified operators:
# q177's Lloyd fit assigns every embedding a cluster (zero-shuffle
# projection), then functions/sampling.weighted_sample_per_key runs an
# independent deterministic draw inside every cluster (uniform weights
# here, so the A-ES priority -ln(u)/1 is a monotone function of the
# content-keyed hash bucket). The oracle replays the k-means mirror for
# assignments and ranks by the INTEGER hash bucket (descending — -ln is
# decreasing) with the sampler's vec_id tie-break: order-isomorphic to
# the float priority, so the cross-engine check is exact integer
# arithmetic end to end.

_Q180_SAMPLE_K = 5


def _q180_mirror(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, int]]:
    """(cluster, vec_id, rn): per-cluster uniform A-ES draw over the
    mirrored k-means assignment."""
    by_cluster: dict[int, list[int]] = {}
    for vid, cl, _d4 in _q177_mirror(sf_dir):
        by_cluster.setdefault(cl, []).append(vid)
    out = []
    for cl in sorted(by_cluster):
        members = by_cluster[cl]
        # priority asc == bucket desc (p = -ln((bucket+1)/10000)/1),
        # ties by vec_id asc — the sampler's stated order.
        members.sort(key=lambda v: (-((v * 2654435761) % 10000), v))
        for rn, vid in enumerate(members[:_Q180_SAMPLE_K], start=1):
            out.append((cl, vid, rn))
    return out


def _q180_oracle(sf_dir: str = ORACLE_SF_DIR) -> str:
    values = ",\n      ".join(
        f"({cl}, {vid}, {rn})" for cl, vid, rn in _q180_mirror(sf_dir)
    )
    return f"""
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(rn AS BIGINT) AS rn
    FROM (VALUES
      {values}
    ) AS t(cluster, vec_id, rn)
    ORDER BY cluster, rn
    """


# Composition of the sf-parametric k-means mirror and integer-exact
# sampling arithmetic: sf-parametric.
_q180_oracle.sf_parametric = True


@dq("q180_cluster_balanced_sample", oracle=_q180_oracle,
    covers="EXT,O2,W1,F8")
def q180(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.sampling import (
        weighted_sample_per_key,
    )
    from questdb_etl_jobs_spark.operators.clustering import (
        kmeans_fit,
        kmeans_transform,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    model = kmeans_fit(emb, k=_KM_K, iterations=_KM_ITERS)
    assigned = kmeans_transform(emb, model, dist_col=None).select(
        F.col("cluster").cast("int").alias("cluster"), "vec_id"
    )
    kept = weighted_sample_per_key(
        assigned,
        ["cluster"],
        "vec_id",
        F.lit(1.0),
        k=_Q180_SAMPLE_K,
        rank_col="rn",
    )
    return kept.select(
        "cluster", "vec_id", F.col("rn").cast("long").alias("rn")
    ).orderBy("cluster", "rn")
