"""Streaming incremental near-dup dedup: admit only novel documents.

Batch near-dup dedup (operators/dedup.py) answers "which documents in
this corpus duplicate each other". A continuously-ingesting pipeline
(the reference's file-arrival delivery model, reference README.md:102-103)
needs the online form: as documents arrive, admit each one only if it is
NOT a near-duplicate of anything already admitted — the standard
crawl-ingest gate in front of a training corpus.

Semantics (deterministic, mirrored by the test's Python model):

- within a micro-batch, duplicate clusters (connected components over
  verified near-dup pairs) resolve to the min-id winner — the same
  canonical-winner rule as exact_dedup/dup_clusters;
- across batches, first admitted wins: a new document matching any
  already-admitted document is rejected. Arrival order is the
  micro-batch order, which under file-arrival triggers is the upload
  order the reference's delivery contract already fixes
  (reference README.md:373).

Scale shape per micro-batch: the batch is small, the admitted index is
huge — so the cross-check BROADCASTS the batch's band keys and streams
the index through a map-side semi-join (no shuffle of the index, one
scan). The verify join then touches only the candidate ids. Index scans
per batch are the cost driver at 100 TB; deployments cut them by laying
the index out bucketed/partitioned on band hash (sources/bucketed.py) so
the band probe prunes to matching buckets — same trick as the LSH probe
path (operators/similarity.py). The index stores (id, signature,
shingles) so no admitted document is ever re-shingled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from questdb_etl_jobs_spark.operators.dedup import (
    dup_clusters,
    lsh_candidate_pairs,
    signature_and_shingles,
)
from questdb_etl_jobs_spark.sources.fs import hadoop_path_exists


def _verified_pairs(
    cands: DataFrame,
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs.

    Integer cross-multiplied threshold (den·inter ≥ num·union) — exact,
    no float protocol needed. ``left``/``right`` are (id, __sh) sides."""
    a, b = f"{id_col}_a", f"{id_col}_b"
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size(F.array_union("__sh_a", "__sh_b"))
    return (
        cands.join(left.select(F.col(id_col).alias(a), F.col("__sh").alias("__sh_a")), a)
        .join(right.select(F.col(id_col).alias(b), F.col("__sh").alias("__sh_b")), b)
        .filter(threshold_den * inter >= threshold_num * union)
        .select(a, b)
    )


def admit_batch(
    spark: SparkSession,
    batch: DataFrame,
    corpus_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 4,
    threshold_den: int = 5,
    n_hashes: int = 32,
    n_bands: int = 16,
    shingle_words: int = 3,
) -> None:
    """Admit the novel documents of one batch; append them + their
    signatures. Callable directly for batch backfills — the streaming
    face just runs this per micro-batch."""
    fused = signature_and_shingles(
        batch, id_col, text_col, n_hashes, shingle_words
    ).localCheckpoint()  # reused ≥3×: banding, both verify sides, append

    # 1. Within-batch clusters → min-id winner per cluster.
    cands = lsh_candidate_pairs(fused.select(id_col, "signature"), id_col, n_bands)
    edges = _verified_pairs(
        cands, fused, fused, id_col, threshold_num, threshold_den
    )
    losers = (
        dup_clusters(edges, f"{id_col}_a", f"{id_col}_b")
        .filter(F.col("node") != F.col("cluster"))
        .select(F.col("node").alias(id_col))
    )
    survivors = fused.join(losers, id_col, "left_anti")

    # 2. Cross-check against the admitted index: batch side is small →
    #    broadcast its bands; the index streams through map-side. Only a
    #    provably-absent index means "first batch": a read error on an
    #    existing one raises instead of re-admitting the whole batch.
    if hadoop_path_exists(spark, index_path):
        index = spark.read.parquet(index_path)
        both = survivors.select(id_col, "signature").unionByName(
            index.select(id_col, "signature")
        )
        # Candidates (a=batch id, b=index id): enumerate via the shared
        # banding operator, then keep pairs with exactly one batch side.
        surv_ids = survivors.select(F.col(id_col).alias("__sid"))
        pairs = lsh_candidate_pairs(both, id_col, n_bands)
        a, b = f"{id_col}_a", f"{id_col}_b"
        cross = (
            pairs.join(
                F.broadcast(surv_ids),
                (F.col(a) == F.col("__sid")) | (F.col(b) == F.col("__sid")),
                "left_semi",
            )
        )
        rejected = _verified_pairs(
            cross,
            survivors.select(id_col, "__sh").unionByName(index.select(id_col, "__sh")),
            index.select(id_col, "__sh").unionByName(survivors.select(id_col, "__sh")),
            id_col,
            threshold_num,
            threshold_den,
        )
        # An id is rejected if it pairs with any ADMITTED id (either slot).
        adm = index.select(F.col(id_col).alias("__adm"))
        bad_a = (
            rejected.join(F.broadcast(adm), F.col(b) == F.col("__adm"), "left_semi")
            .select(F.col(a).alias(id_col))
        )
        bad_b = (
            rejected.join(F.broadcast(adm), F.col(a) == F.col("__adm"), "left_semi")
            .select(F.col(b).alias(id_col))
        )
        survivors = survivors.join(
            bad_a.unionByName(bad_b).distinct(), id_col, "left_anti"
        )

    admitted = survivors.localCheckpoint()  # settle before double append
    admitted.select(id_col, "signature", "__sh").write.mode("append").parquet(
        index_path
    )
    batch.join(
        admitted.select(id_col), id_col, "left_semi"
    ).write.mode("append").parquet(corpus_path)


def maintain_dedup_corpus(
    stream: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 4,
    threshold_den: int = 5,
    n_hashes: int = 32,
    n_bands: int = 16,
    shingle_words: int = 3,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously admit novel documents from ``stream`` into the corpus
    at ``corpus_path`` (near-dup rejects dropped), maintaining the
    signature index at ``index_path``."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            admit_batch(
                batch.sparkSession,
                batch,
                corpus_path,
                index_path,
                id_col,
                text_col,
                threshold_num,
                threshold_den,
                n_hashes,
                n_bands,
                shingle_words,
            )

    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
