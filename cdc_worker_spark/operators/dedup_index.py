"""Materialized dedup index: build once over the corpus, probe with each
incoming batch — the incremental-ingest form of exact + MinHash dedup.

This is the dedup analogue of the IVF build/probe layout (operators/ivf.py):
at 100 TB you cannot re-shingle the whole corpus every time a crawl batch
arrives. The index stores three COMPACT tables (never document text):

- ``digests/``    (doc_id, text_hash)            — exact dedup
- ``signatures/`` (doc_id, h0..h{K-1})           — MinHash verify estimates
- ``bands/``      (doc_id, band_idx, band_val)   — LSH candidate generation

Probing a new batch broadcasts the BATCH side (small by construction — it is
one ingest increment), so the corpus-scale index tables stream through the
joins map-side with no index shuffle; candidate verification uses the stored
signatures (estimated Jaccard = fraction of agreeing minhash components),
which is what keeps the index O(K) per doc instead of O(shingles) per doc.

``extend_dedup_index`` appends the accepted batch's rows, so the index stays
current without a rebuild — the incremental contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_worker_spark.operators.dedup import (
    _MINHASH_K,
    minhash_band_table,
    minhash_estimate,
    minhash_signatures_from_tokens,
    shingles_distinct,
)
from cdc_worker_spark.operators.index_layout import (
    begin_segment,
    gc_generations,
    live_paths,
    next_generation,
    publish_generation,
    publish_segment,
    segment_registered,
)


def _digest(col: str = "text"):
    return F.sha2(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))), 256)


def _index_frames(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(digests, signatures, bands) for a document batch."""
    digests = docs.select("doc_id", _digest().alias("text_hash"))
    tok = shingles_distinct(docs).withColumnRenamed("g", "w")
    sigs = minhash_signatures_from_tokens(tok)
    bands = minhash_band_table(sigs)
    return digests, sigs, bands


def build_dedup_index(docs: DataFrame, path: str) -> None:
    """Materialize the dedup index for a corpus. Stores digests, MinHash
    signatures, and LSH band keys — compact per-doc derivatives only. Each
    table is written as a fresh base generation and published with one
    atomic pointer flip (operators/index_layout.py), so a rebuild never
    leaves a reader mid-overwrite."""
    digests, sigs, bands = _index_frames(docs)
    for table, df in (("digests", digests), ("signatures", sigs),
                      ("bands", bands)):
        gen = next_generation(path, table)
        df.write.parquet(os.path.join(path, gen))
        publish_generation(path, table, gen)
        gc_generations(path, table)


def extend_dedup_index(docs: DataFrame, path: str, token: str | None = None) -> None:
    """Append a batch's derivatives to an existing index (the accept step
    after :func:`probe_dedup_index` filtered the batch).

    ``token`` is the append's idempotency key (e.g. the streaming
    batch_id): each table's rows land in a token-named SEGMENT directory
    that becomes visible only when registered in the pointer manifest. A
    replayed extend with the same token skips already-registered tables
    and rewrites any half-written unregistered debris — the crash-mid-
    append double-count of a plain parquet append cannot happen. With no
    token a unique one is generated (crash-safe but not replay-dedupable:
    the caller can't re-identify the attempt)."""
    if token is None:
        import uuid

        token = uuid.uuid4().hex
    digests, sigs, bands = _index_frames(docs)
    for table, df in (("digests", digests), ("signatures", sigs),
                      ("bands", bands)):
        if segment_registered(path, table, token):
            continue  # replay of a fully-committed append: no-op
        df.write.parquet(begin_segment(path, table, token))
        publish_segment(path, table, token)


def compact_dedup_index(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 4_000_000,
    gc_grace_seconds: float = 0.0,
) -> None:
    """Rewrite each index table into right-sized files. Every
    :func:`extend_dedup_index` call appends a few small files; after many
    ingest batches the probe scan pays per-file open cost (the classic
    small-files tax). Compaction is an offline rewrite — read, coalesce to
    ceil(rows / target) files into a NEW generation directory, then
    atomically repoint the ``_CURRENT.json`` manifest (the same
    pointer-flip the streaming state store uses — one object PUT on
    S3/GCS, no rename dependency; see operators/index_layout.py). Run it
    on whatever cadence keeps file counts sane (e.g. nightly).

    Crash safety: readers always see a complete generation — a crash
    before the flip leaves a dangling unpublished directory, a crash after
    it leaves the stale old one; both are garbage-collected by the next
    run's ``gc_generations``. There is no instant at which the table is
    unreadable. With CONCURRENT readers, pass ``gc_grace_seconds`` >= the
    longest reader scan so a flip never deletes a generation a reader
    resolved moments ago (see index_layout.gc_generations)."""
    for table in ("digests", "signatures", "bands"):
        # clear prior crash debris first (grace-aware: live readers may
        # still be scanning a generation an earlier flip retired)
        gc_generations(path, table, grace_seconds=gc_grace_seconds)
        df = spark.read.parquet(*live_paths(path, table))
        n_files = max(1, -(-df.count() // target_rows_per_file))
        gen = next_generation(path, table)
        df.coalesce(n_files).write.parquet(os.path.join(path, gen))
        publish_generation(path, table, gen)  # also folds segments into base
        gc_generations(path, table, grace_seconds=gc_grace_seconds)


def probe_dedup_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    est_threshold: float = 0.5,
    frames: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Match an incoming batch against the indexed corpus.

    Returns one row per (doc_id, match_id) with ``kind`` ('exact' | 'near' |
    'replay') and ``score`` (1.0 for exact/replay; estimated Jaccard — the
    fraction of the K minhash components that agree — for near). A batch doc
    with no row is novel. Exact matches suppress the near row for the same
    pair. A doc matching its OWN id ('replay') is already in the index —
    the post-crash re-delivery shape — and must not be treated as a
    duplicate of something else or re-ingested.

    ``frames`` lets a caller that already computed the batch's
    (digests, signatures, bands) derivatives pass them in instead of paying
    the shingle/signature work again (the ingest loop computes them once for
    its intra-batch passes).

    Scale shape: every join builds the BATCH side as the broadcast hash
    side, so the corpus-scale index is only ever scanned, never shuffled."""
    b_digests, b_sigs, b_bands = (
        frames if frames is not None else _index_frames(batch)
    )

    idx_digests = spark.read.parquet(*live_paths(path, "digests"))
    exact = (
        idx_digests.join(F.broadcast(b_digests.withColumnRenamed("doc_id", "b_id")),
                         "text_hash")
        .select(
            F.col("b_id").alias("doc_id"),
            F.col("doc_id").alias("match_id"),
            F.when(F.col("b_id") == F.col("doc_id"), "replay")
            .otherwise("exact")
            .alias("kind"),
            F.lit(1.0).alias("score"),
        )
    )

    idx_bands = spark.read.parquet(*live_paths(path, "bands"))
    cand = (
        idx_bands.join(
            F.broadcast(
                b_bands.select(
                    F.col("doc_id").alias("b_id"), "band_idx", "band_val"
                )
            ),
            ["band_idx", "band_val"],
        )
        .select(F.col("b_id").alias("doc_id"), F.col("doc_id").alias("match_id"))
        .distinct()
    )
    idx_sigs = spark.read.parquet(*live_paths(path, "signatures"))
    b_sigs_r = b_sigs.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"h{k}").alias(f"bh{k}") for k in range(_MINHASH_K)],
    )
    near = (
        idx_sigs.withColumnRenamed("doc_id", "match_id")
        .join(F.broadcast(cand), "match_id")
        .join(F.broadcast(b_sigs_r), F.col("doc_id") == F.col("b_id"))
        .withColumn("score", minhash_estimate("h", "bh"))
        .filter(F.col("score") >= est_threshold)
        .filter(F.col("doc_id") != F.col("match_id"))  # self: replay, not near
        .select("doc_id", "match_id", F.lit("near").alias("kind"), "score")
    )
    # exact wins over near for the same (doc, match) pair; the exact set is
    # bounded by batch size, so it broadcasts too
    near_only = near.join(
        F.broadcast(exact.select("doc_id", "match_id")),
        ["doc_id", "match_id"],
        "left_anti",
    )
    return exact.unionByName(near_only)
