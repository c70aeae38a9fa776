"""Incremental near-dup CLUSTER LABEL maintenance (VERDICT r07 next #6).

The ingest path already rejects duplicates incrementally against the
materialized dedup index (streaming/ingest.py), but cluster LABELS
(q_dedup_cluster_near / q_dedup_cluster_star) were batch-only: every new
document batch forced a full MinHash + connected-components recompute over
the corpus. This module closes that gap with the graph_incr.py monoid
pattern applied to connected components, under the same snapshot+CDC
reconciliation contract as the reference's design doc
(docs/chatgpt_convos/Node-based_Salesforce_PubSub_Setup.md:211-259): a
one-time base labeling, then batch-atomic deltas folded in.

Why this is exact, not approximate: the MinHash-LSH pair predicate is
PAIRWISE (two docs pair iff they share a band value and their exact shingle
Jaccard clears the threshold), so

    pairs(base ∪ delta) = pairs(base) ∪ pairs_touching_delta

and connected components compose through the REDUCED GRAPH: project every
delta edge endpoint to its existing component representative (its base
cluster_id, or itself for a new node), run CC on that delta-sized graph,
and remap. Component ids stay "min doc_id of the component" because the min
of merged components' mins is the merged component's min — the same monoid
argument q_graph_copurchase_incr proves for pair counts.

Scale shape at 100 TB:
- candidate generation probes the materialized LSH band index with the
  BROADCAST delta batch — the corpus-scale index streams map-side, exactly
  like probe_dedup_index;
- exact-Jaccard verification re-shingles ONLY the candidate-touched docs
  (a semi-join against candidate ids), never the corpus;
- the reduced CC runs on O(|delta pairs|) edges;
- the label remap is one scan of the corpus-scale label table with a
  BROADCAST (delta-sized) remap table — no corpus shuffle anywhere.

Measured at sf10: scripts/bench_incr_clusters.py (SCALE.md §r8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_worker_spark.operators.dedup import (
    connected_components,
    jaccard_verify,
    minhash_pairs,
    shingles_distinct,
)
from cdc_worker_spark.operators.dedup_index import _index_frames
from cdc_worker_spark.operators.index_layout import live_paths
from cdc_worker_spark.plans.registry import query
from cdc_worker_spark.sources.tables import load_table

#: deterministic fixture split for the registered query (the graph_incr
#: convention): docs whose id ends in 9 are "the delta" (~10%).
DELTA_MOD, DELTA_REM = 10, 9


def delta_near_pairs(
    spark: SparkSession,
    index_path: str,
    all_docs: DataFrame,
    delta_docs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Every near-dup pair (doc_a < doc_b, jaccard >= threshold) touching
    at least one delta doc — computed WITHOUT re-shingling the base corpus.

    Candidates come from joining the materialized band index (base) plus
    the delta batch's own bands against the broadcast delta bands — the
    pairwise LSH predicate, so this is exactly
    pairs(base ∪ delta) minus pairs(base). Verification
    (dedup.jaccard_verify, the kernel minhash_pairs runs) re-reads text
    only for the candidate-touched docs via a semi-join.

    ``all_docs`` must contain the text of base + delta docs (candidate
    verify needs both sides); only candidate rows of it are ever read past
    the semi-join.
    """
    _, _, d_bands = _index_frames(delta_docs)
    d_bands = d_bands.localCheckpoint(eager=False)  # two consumers below
    idx_bands = spark.read.parquet(*live_paths(index_path, "bands"))
    all_bands = idx_bands.unionByName(d_bands)
    probe = d_bands.select(
        F.col("doc_id").alias("d_id"), "band_idx", "band_val"
    )
    cand = (
        all_bands.join(F.broadcast(probe), ["band_idx", "band_val"])
        .filter(F.col("doc_id") != F.col("d_id"))
        .select(
            F.least("doc_id", "d_id").alias("doc_a"),
            F.greatest("doc_id", "d_id").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    involved = all_docs.join(F.broadcast(ids), "doc_id", "semi")
    tok = shingles_distinct(involved).withColumnRenamed("g", "w")
    sets = tok.groupBy("doc_id").agg(F.collect_set("w").alias("ws"))
    return jaccard_verify(cand, sets, threshold)


def extend_dedup_cluster_parts(
    labels: DataFrame, delta_pairs: DataFrame
) -> tuple[DataFrame, DataFrame] | None:
    """The DELTA of folding ``delta_pairs`` into ``labels``, as two
    delta-sized frames — or None when the pairs change nothing:

    - ``remap``: (cluster_id, _new) — existing components whose label
      changes (no-op self-mappings filtered out). Broadcastable.
    - ``new_rows``: (doc_id, cluster_id) — label rows for docs that had
      none (delta docs and previously-isolated endpoints).

    Exposed separately (r10) so a PARTITIONED label store can rewrite
    only the buckets these touch instead of the whole corpus-scale
    table; :func:`extend_dedup_clusters` composes them back into the
    full-table result and is unchanged semantically.

    The reduced graph has one node per TOUCHED component representative
    (existing cluster_id, or the doc itself for graph-new nodes) and one
    edge per delta pair — O(delta), never O(corpus)."""
    # Scan pruning (r11): the two label lookups below only ever need the
    # delta ENDPOINTS' rows, yet a bare broadcast join still full-scans
    # the corpus-scale label table — the crossover probe measured those
    # two scans as the dominant per-fold cost at 7e8 labels, in BOTH
    # label layouts. For small deltas, push the endpoint ids into the
    # scan as an IN filter: with the snapshot's doc_id-sorted row groups
    # (write_label_snapshot sorts within files) parquet min/max stats
    # prune the scan to ~|delta| row groups instead of the whole table.
    # Deltas above the cap fall back to the full scan — correctness is
    # identical either way (the filter keeps exactly the lookup keys).
    _PRUNE_CAP = 4096
    ids = [
        r[0]
        for r in delta_pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("i")
        )
        .distinct()
        .limit(_PRUNE_CAP + 1)
        .collect()
    ]
    lookup = (
        labels.filter(F.col("doc_id").isin(ids))
        if len(ids) <= _PRUNE_CAP
        else labels
    )
    la = lookup.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("lbl_a")
    )
    lb = lookup.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("lbl_b")
    )
    # delta side broadcasts; the label side streams map-side (pruned to
    # ~|delta| row groups when the IN filter pushes down)
    annotated = (
        F.broadcast(delta_pairs.select("doc_a", "doc_b"))
        .join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("lbl_a", "doc_a").alias("rep_a"),
            F.coalesce("lbl_b", "doc_b").alias("rep_b"),
            F.col("lbl_a").isNull().alias("new_a"),
            F.col("lbl_b").isNull().alias("new_b"),
            "doc_a",
            "doc_b",
        )
        .localCheckpoint(eager=True)  # delta-sized; 2 consumers below
    )
    reduced = (
        annotated.filter(F.col("rep_a") != F.col("rep_b"))
        .select(F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b"))
        .distinct()
    )
    if reduced.count() == 0:  # delta-sized frame: the count is cheap
        return None
    red_labels = connected_components(reduced).localCheckpoint(eager=True)
    # remap keys must be EXISTING cluster ids only: a graph-new node is
    # its own reduced-graph rep, and including it in the remap would make
    # a partitioned store rewrite the (empty) bucket of a cluster id that
    # never existed — its label arrives via new_rows instead.
    existing_reps = (
        annotated.filter(~F.col("new_a"))
        .select(F.col("rep_a").alias("doc_id"))
        .union(
            annotated.filter(~F.col("new_b")).select(
                F.col("rep_b").alias("doc_id")
            )
        )
        .distinct()
    )
    remap = (
        red_labels.join(F.broadcast(existing_reps), "doc_id")
        .select(
            F.col("doc_id").alias("cluster_id"),
            F.col("cluster_id").alias("_new"),
        )
        .filter(F.col("cluster_id") != F.col("_new"))
    )
    # nodes new to the graph: endpoints that had no label row (delta docs
    # and previously-isolated base docs) — identified at annotation time,
    # so no anti-join against the corpus-scale label table is ever needed
    new_ids = (
        annotated.filter("new_a").select(F.col("doc_a").alias("doc_id"))
        .union(annotated.filter("new_b").select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    new_rows = red_labels.join(F.broadcast(new_ids), "doc_id").select(
        "doc_id", "cluster_id"
    )
    return remap, new_rows


def extend_dedup_clusters(
    labels: DataFrame, delta_pairs: DataFrame
) -> DataFrame:
    """Fold a batch of delta near-dup pairs into an existing cluster-label
    table: the result equals a from-scratch
    ``connected_components(pairs(base) ∪ delta_pairs)`` (asserted in
    tests/test_cluster_incr.py on order-atomic splits).

    ``labels``: (doc_id, cluster_id) — the maintained table, cluster_id =
    min doc_id of the component, docs without any pair absent (the
    q_dedup_cluster_near convention). ``delta_pairs``: (doc_a, doc_b)
    pairs touching the new batch (:func:`delta_near_pairs`).

    Composition of :func:`extend_dedup_cluster_parts`: the final remap
    scans ``labels`` once against the broadcast reduced-label table."""
    parts = extend_dedup_cluster_parts(labels, delta_pairs)
    if parts is None:
        return labels
    remap, new_rows = parts
    return relabel(labels, remap).unionByName(new_rows)


def relabel(labels: DataFrame, remap: DataFrame) -> DataFrame:
    """Apply a (cluster_id, _new) remap to (doc_id, cluster_id) label
    rows: one scan of ``labels`` left-joined to the BROADCAST
    (delta-sized) remap, keeping ``_new`` where a row's cluster moved."""
    return labels.join(F.broadcast(remap), "cluster_id", "left").select(
        "doc_id",
        F.coalesce("_new", "cluster_id").alias("cluster_id"),
    )


@query("q_dedup_cluster_incr")  # rows-only: iterative CC, engine-specific hashes
def q_dedup_cluster_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained near-dup cluster labels == the batch
    q_dedup_cluster_near recompute (asserted in tests/test_cluster_incr.py;
    measured vs recompute at sf10 in scripts/bench_incr_clusters.py): the
    fixture is split doc-atomically (ids ending in 9 mod 10 are the
    delta), the base is labeled and indexed, the delta's pairs come from
    probing the index, and extend_dedup_clusters folds them in."""
    import shutil
    import tempfile

    from cdc_worker_spark.operators.dedup_index import build_dedup_index

    docs = load_table(spark, sf_dir, "documents")
    is_delta = F.pmod(F.col("doc_id"), F.lit(DELTA_MOD)) == DELTA_REM
    base = docs.filter(~is_delta)
    delta = docs.filter(is_delta)
    base_labels = connected_components(minhash_pairs(base))
    tmp = tempfile.mkdtemp(prefix="cluster_incr_idx_")
    try:
        build_dedup_index(base, tmp)
        pairs = delta_near_pairs(spark, tmp, docs, delta)
        return extend_dedup_clusters(base_labels, pairs).orderBy("doc_id")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
