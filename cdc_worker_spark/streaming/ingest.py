"""Streaming corpus ingest with incremental dedup: each micro-batch of
documents probes the materialized dedup index (operators/dedup_index.py),
rejected docs land in an audit table with their match evidence, accepted
docs append to the corpus AND to the index — so batch N+1 dedups against
everything batch N accepted.

This is the ingest loop a 100 TB corpus actually runs: dedup state lives in
the compact on-disk index (digests + MinHash sigs + band keys), never in
executor memory, so the stream's state size is O(1) and a restart resumes
from the checkpoint with the index already current (extend is idempotent per
Spark's exactly-once foreachBatch contract only if the batch write is
atomic — accepted/index appends happen before the checkpoint commit, giving
at-least-once appends; the downstream exact-dedup pass absorbs replays,
which is the standard idempotence recipe for append-only corpus sinks).
"""

from __future__ import annotations

import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_worker_spark.operators.cluster_incr import (
    delta_near_pairs,
    extend_dedup_cluster_parts,
    relabel,
)
from cdc_worker_spark.operators.dedup import (
    _MINHASH_K,
    minhash_band_pairs,
    minhash_band_table,
    minhash_estimate,
    minhash_signatures_from_tokens,
    shingles_distinct,
)
from cdc_worker_spark.operators.dedup_index import (
    _digest,
    build_dedup_index,
    compact_dedup_index,
    extend_dedup_index,
    probe_dedup_index,
)
from cdc_worker_spark.operators.index_layout import (
    begin_segment,
    drop_table,
    gc_generations,
    live_paths,
    next_generation,
    publish_generations,
    publish_segment,
    read_meta,
    read_pointer,
    resolve_table,
    segment_registered,
    table_exists,
)
from cdc_worker_spark.streaming.pipeline import read_json_stream, start_batches

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


#: logical table name of the maintained cluster-label snapshot inside the
#: index root (manifest-versioned generations, atomic pointer flips)
LABELS_TABLE = "cluster_labels"

#: pending-delta spool for compaction-cadence label maintenance
#: (label_cadence > 1): one doc_id segment per unfolded batch, appended
#: with the same exactly-once token protocol as the index extend
PENDING_TABLE = "label_pending"

#: pointer-meta key carrying the label snapshot's bucket count (absent =
#: monolithic). It lives IN the manifest pointer so a re-bucket migration
#: flips layout + bucket generations in ONE atomic pointer write: a
#: concurrent reader never sees new buckets under the old count
#: (duplicates on shrink, missing rows on grow — ADVICE r11)
LABELS_META_KEY = "labels_buckets"

#: every table name the label snapshot can occupy: the monolithic table
#: and the ``_bNNN`` buckets of the partitioned layout
_LABEL_TABLE_RE = re.compile(re.escape(LABELS_TABLE) + r"(_b\d+)?$")

LABELS_SCHEMA = "doc_id long, cluster_id long"

#: pointer-meta key carrying each ingest stream's committed-batch
#: high-water mark, ``{<absolute checkpoint dir>: <last committed
#: batch_id>}``: one mark per stream, so a fresh stream (new checkpoint)
#: over an existing index starts from nothing
INGEST_MARK_KEY = "ingest_committed"


def _labels_buckets(index_dir: str) -> int | None:
    """Bucket count of the partitioned label layout as committed in the
    manifest pointer (None = monolithic)."""
    return read_meta(index_dir).get(LABELS_META_KEY)


def _bucket_table(i: int) -> str:
    return f"cluster_labels_b{i:03d}"


class LabelLayoutPolicy:
    """Self-selecting label-snapshot layout (VERDICT r11 next #3): the
    ingest loop observes each fold's touched-cluster count K and the
    label count N, and chooses/migrates the layout itself instead of
    asking the operator to pre-size it from SCALE.md.

    Encodes the MEASURED crossover grid (SCALE.md §r11), nothing else:

    - the governing variable is K vs the bucket count B, not N alone:
      partitioning wins only when K << B (each fold rewrites a few
      buckets instead of the corpus); K >= B regimes prefer monolithic
      at every measured N (partitioning just adds a shuffle to what is
      a full rewrite anyway);
    - the win starts at corpus scale (~1e8 labels measured; below it
      per-job overhead beats the rewrite savings) — ``min_labels``;
    - B is a SMALL multiple of typical K: pow2-CEILING of
      ``target_ratio`` x K (default 4 — the realized ratio lands in
      [4, 8)). Both sides of that window are MEASURED at 7e8 labels
      (SCALE.md §r12 sizing cells, every cell equality-gated): going
      below it costs — K=50 folds at B=128 (2.6x) took 21.2 s vs
      B=256 (5.1x) 15.9 s, and K=100 at B=256 (2.6x) 31.7 s vs B=512
      (5.1x) 13.5 s — and so does going far above it: the r11
      B=1024/K=100 (10x) cell measured worse than its smaller
      neighbor because per-directory listing/scheduling overhead
      grows with B once buckets shrink.

    Decisions use the MAX K of the last ``window`` folds (conservative:
    the layout must win even at the worst recent fold) and a 4x
    hysteresis band between pow2 sizes so K noise never flaps an
    O(corpus) migration. Thresholds are constructor-injectable so tests
    exercise the policy at fixture scale (the measured defaults stand
    for deployments)."""

    def __init__(
        self,
        min_labels: int = 100_000_000,
        target_ratio: int = 4,
        window: int = 3,
        min_buckets: int = 16,
        max_buckets: int = 1024,
    ) -> None:
        self.min_labels = min_labels
        self.target_ratio = target_ratio
        self.window = window
        self.min_buckets = min_buckets
        self.max_buckets = max_buckets
        self.k_history: list[int] = []
        self.n_labels = 0
        self.decisions: list[dict] = []  # audit log, caller-readable

    def observe(self, touched_clusters: int, n_labels: int) -> None:
        self.k_history.append(int(touched_clusters))
        del self.k_history[: -self.window]
        self.n_labels = int(n_labels)

    def decide(self, current_buckets: int | None) -> int | None:
        """The layout the snapshot SHOULD have right now: None =
        monolithic, int = that bucket count. Returns ``current_buckets``
        unchanged until ``window`` folds have been observed."""
        if len(self.k_history) < self.window:
            return current_buckets
        k = max(self.k_history)
        n = self.n_labels
        if n < self.min_labels:
            return None
        # pow2 CEILING of ratio*K — the realized ratio stays in
        # [ratio, 2*ratio), the window the §r12 sizing cells measured
        # as winning from both sides — clamped to the range
        b = 1 << max(1, (max(1, k * self.target_ratio) - 1).bit_length())
        b = min(max(self.min_buckets, b), self.max_buckets)
        # the K << B regime guard: if even the clamped B cannot keep a
        # 2x margin over worst-recent K, folds touch most buckets and
        # monolithic wins (the measured K>=B rows)
        if k * 2 > b:
            return None
        return b

    def should_migrate(
        self, current: int | None, want: int | None
    ) -> bool:
        """Hysteresis: layout changes are O(corpus) — only cross the
        monolithic/bucketed boundary freely; between two bucket counts
        require a 4x gap (pow2 sizing makes neighbors 2x apart, so K
        noise at a boundary never flaps)."""
        if want == current:
            return False
        if current is None or want is None:
            return True
        return max(want, current) >= 4 * min(want, current)


def _read_label_tables(
    spark: SparkSession, index_dir: str, tables: list[str]
) -> DataFrame:
    """Union of the published generations of ``tables`` (an empty
    (doc_id, cluster_id) frame when none exists yet)."""
    paths = [
        resolve_table(index_dir, t)
        for t in tables
        if table_exists(index_dir, t)
    ]
    if not paths:
        return spark.createDataFrame([], LABELS_SCHEMA)
    return spark.read.parquet(*paths)


def read_cluster_labels(spark: SparkSession, index_dir: str) -> DataFrame:
    """Current (doc_id, cluster_id) label snapshot — empty before the first
    near pair is observed. The layout (monolithic or B buckets) is read
    from the manifest pointer, and readers resolve that same pointer, so a
    mid-flip reader sees the previous complete generation, never a partial
    write (partitioned layouts flip ALL touched buckets in one pointer
    write — index_layout.publish_generations — so the union below is
    always an all-old or all-new view)."""
    buckets = _labels_buckets(index_dir)
    tables = (
        [_bucket_table(i) for i in range(buckets)] if buckets
        else [LABELS_TABLE]
    )
    return _read_label_tables(spark, index_dir, tables)


def _write_bucket_generations(
    spark: SparkSession,
    index_dir: str,
    content_with_b: DataFrame,
    bucket_ids: list[int],
) -> dict[str, str]:
    """Write fresh generation directories for ``bucket_ids`` from a frame
    carrying its bucket assignment in ``_b`` — in ONE Spark job.

    The r10 implementation ran one read+write job PER bucket; the r11
    crossover probe measured that per-bucket job overhead (~0.5-0.7 s
    each at local[32]) dominating the fold wall whenever more than a
    handful of buckets are touched — the exact regime the partitioned
    layout exists for. One ``repartition(n, _b) + partitionBy(_b)`` write
    pays one shuffle of exactly the rewrite bytes and emits one file per
    bucket; the ``_b=<i>`` subdirectories are then renamed into the
    generation dirs (pure metadata on a filesystem; on an object store
    this is the same server-side move every table-format compaction
    does). Buckets in ``bucket_ids`` that end with zero rows still get a
    (0-row, schema-bearing) generation so readers never hit a missing
    directory. Returns {table: generation_dir}; the caller publishes all
    of them in one pointer flip."""
    scratch = os.path.join(index_dir, "_labels_split_tmp")
    shutil.rmtree(scratch, ignore_errors=True)
    (
        content_with_b.repartition(max(1, len(bucket_ids)), "_b")
        # doc_id-sorted row groups: tight parquet min/max stats let the
        # fold's delta-endpoint label lookups (cluster_incr IN-filter
        # pushdown) prune the scan to ~|delta| row groups — free at
        # write time (sort rides the rewrite shuffle), measured as the
        # dominant per-fold cost otherwise. The sort MUST lead with _b:
        # a partition holds several _b values, and a dynamic-partition
        # write requires [_b] ordering — sorting on doc_id alone makes
        # the writer insert its own SortExec on _b, whose spill-merge
        # interleaves equal-_b runs and silently loses the doc_id order
        # inside each bucket file (ADVICE r11). Leading with _b, the
        # plan's output ordering already satisfies the writer and
        # doc_id order within each bucket is guaranteed.
        .sortWithinPartitions("_b", "doc_id")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(scratch)
    )
    gens: dict[str, str] = {}
    empty = spark.createDataFrame([], LABELS_SCHEMA)
    for i in bucket_ids:
        t = _bucket_table(i)
        gen = next_generation(index_dir, t)
        dst = os.path.join(index_dir, gen)
        src = os.path.join(scratch, f"_b={i}")
        if os.path.isdir(src):
            os.rename(src, dst)
        else:  # bucket emptied by the fold: 0-row generation with schema
            empty.write.mode("overwrite").parquet(dst)
        gens[t] = gen
    shutil.rmtree(scratch, ignore_errors=True)
    return gens


def write_label_snapshot(
    spark: SparkSession,
    index_dir: str,
    labels: DataFrame,
    buckets: int | None = None,
) -> None:
    """FULL snapshot write in the layout the manifest pointer commits:
    bootstrap, migration, and the monolithic fold all land here. The
    layout is read from the pointer unless ``buckets`` is passed, which
    declares (or re-declares) it: ``buckets=B`` partitions the snapshot
    by cluster_id % B, ``buckets=0`` migrates back to monolithic. This is
    the one place a caller chooses the layout; the ingest loop folds into
    whatever the pointer says (or lets a LabelLayoutPolicy migrate it).

    The table generations and the bucket count commit in ONE pointer
    write, so a concurrent reader resolves either the old layout with
    its generations or the new one with its generations — never a mixed
    view (ADVICE r11). A crash before it leaves readers on the previous
    complete layout with the new generations as unreferenced debris a
    re-run overwrites. The partitioned split is ONE partitionBy job
    (r11), not a job per bucket — migration cost is one shuffle of the
    corpus, independent of the bucket count."""
    os.makedirs(index_dir, exist_ok=True)
    if buckets is None:
        buckets = _labels_buckets(index_dir)
    if buckets:
        gens = _write_bucket_generations(
            spark,
            index_dir,
            labels.withColumn(
                "_b", F.pmod(F.col("cluster_id"), F.lit(buckets))
            ),
            list(range(buckets)),
        )
    else:
        gen = next_generation(index_dir, LABELS_TABLE)
        # same doc_id-sorted row groups as the bucketed writer, for the
        # same delta-endpoint lookup pruning
        labels.sortWithinPartitions("doc_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, gen))
        gens = {LABELS_TABLE: gen}
    publish_generations(
        index_dir, gens, meta={LABELS_META_KEY: buckets or None}
    )
    for t in gens:
        gc_generations(index_dir, t)
    # migration hygiene (ADVICE r10): once the pointer commits a layout,
    # every other label table — the monolithic one after a split, the
    # buckets after a merge, buckets numbered >= B after a shrink — is
    # unreachable by readers but still referenced in the pointer. Drop
    # them AFTER the commit point; a crash in between just leaves the
    # same debris for the next snapshot write to sweep.
    for t in read_pointer(index_dir):
        if t not in gens and _LABEL_TABLE_RE.match(t):
            drop_table(index_dir, t)


def apply_label_pairs(
    spark: SparkSession,
    index_dir: str,
    pairs: DataFrame,
    stats: dict | None = None,
) -> bool:
    """Fold delta near-dup pairs into the published label snapshot.
    Returns False when the pairs change nothing (no publish happens).

    ``stats`` (optional out-param, r12): the fold records
    ``touched_clusters`` — the number of distinct clusters whose label
    rows this fold rewrites (remapped sources + brand-new clusters), the
    K of the measured K-vs-B layout crossover (SCALE.md §r11) — so the
    auto layout policy observes the regime it is sizing for. On the
    monolithic layout that count costs two delta-sized jobs, so pass
    ``stats`` only when something reads it.

    Monolithic layout: compose the full new table and flip one pointer.
    Partitioned layout (bucket count in the pointer meta): compute the
    delta-sized (remap, new_rows) parts, derive the TOUCHED buckets —
    sources that lose a remapped cluster, destinations that gain one,
    buckets of new rows — rewrite only those, and flip them atomically
    in one pointer write. Untouched buckets keep their generation
    directories bit-for-bit (asserted in tests/test_streaming_ingest.py).
    Work per fold is O(delta) + O(size of touched buckets), never
    O(corpus)."""
    labels = read_cluster_labels(spark, index_dir)
    parts = extend_dedup_cluster_parts(labels, pairs)
    if parts is None:
        return False
    remap, new_rows = parts
    buckets = _labels_buckets(index_dir)
    if buckets is None:
        if stats is not None:
            # remap has one row per remapped source cluster
            stats["touched_clusters"] = remap.count() + (
                new_rows.select("cluster_id").distinct().count()
            )
        write_label_snapshot(
            spark, index_dir, relabel(labels, remap).unionByName(new_rows)
        )
        return True

    # ---- partitioned fold: rewrite only the touched buckets ----
    remap_rows = remap.collect()  # delta-sized (reduced-CC table)
    new_rows = new_rows.localCheckpoint(eager=True)
    new_clusters = [
        r["cluster_id"]
        for r in new_rows.select("cluster_id").distinct().collect()
    ]
    if stats is not None:
        stats["touched_clusters"] = len(remap_rows) + len(new_clusters)
    src = {int(r["cluster_id"]) % buckets for r in remap_rows}
    dst = {int(r["_new"]) % buckets for r in remap_rows} | {
        int(c) % buckets for c in new_clusters
    }
    touched = sorted(src | dst)
    # ONE read of every touched bucket + ONE partitionBy write of the new
    # contents (r11): the r10 per-bucket job loop paid ~0.5-0.7 s of job
    # overhead per touched bucket, which the crossover probe measured as
    # the dominant fold cost. This is the monolithic fold's own relabel
    # restricted to the touched buckets: one scan, one shuffle of exactly
    # the rewrite bytes.
    # Correctness of the restriction: a remapped cluster's rows live
    # wholly in its own (src, touched) bucket; every remap destination
    # and new-row cluster lands in a dst (touched) bucket by
    # construction of `touched`; untouched buckets are disjoint from
    # both and keep their generation directories bit-for-bit.
    touched_labels = _read_label_tables(
        spark, index_dir, [_bucket_table(b) for b in touched]
    )
    content = relabel(touched_labels, remap).unionByName(new_rows).withColumn(
        "_b", F.pmod(F.col("cluster_id"), F.lit(buckets))
    )
    gens = _write_bucket_generations(spark, index_dir, content, touched)
    publish_generations(index_dir, gens)
    for t in gens:
        gc_generations(index_dir, t)
    return True


def _pending_paths(index_dir: str) -> list[str]:
    """Existing directories of the label-pending spool (base generation,
    if one has been published, plus every registered segment)."""
    return [p for p in live_paths(index_dir, PENDING_TABLE) if os.path.isdir(p)]


def _pending_segment_count(index_dir: str) -> int:
    """Registered-but-unfolded spool segments = batches since the last
    fold (the cadence counter; the empty base generation a fold publishes
    does not count)."""
    e = read_pointer(index_dir).get(PENDING_TABLE)
    return len(e["segments"]) if e else 0


def fold_pending_labels(
    spark: SparkSession,
    index_dir: str,
    corpus_dir: str,
    stats: dict | None = None,
) -> bool:
    """Fold every spooled pending delta into the cluster-label snapshot
    and clear the spool — the compaction step of cadence-mode label
    maintenance (``label_cadence > 1``). Returns False when the spool is
    empty.

    Exactness: the LSH pair predicate is pairwise, so folding N batches'
    deltas at once is pairs-equivalent to folding them one by one —
    delta_near_pairs probes the (already extended) index with the UNION
    delta, and extend_dedup_clusters' reduced CC composes (the
    cluster_incr.py monoid argument). Crash windows: a crash after the
    labels publish but before the spool clear refolds the same pairs on
    the next fold, which is IDEMPOTENT; a crash mid-fold leaves both
    pointers on their previous complete generations.

    100 TB note: this is the documented scale fix for the O(corpus)
    per-batch snapshot rewrite — the rewrite now happens once per N
    batches while per-batch work stays O(delta) (one tiny doc_id segment
    append). Measured at sf10 in scripts/bench_streaming_labels.py
    (SCALE.md §r10)."""

    def _clear_spool() -> None:
        pgen = next_generation(index_dir, PENDING_TABLE)
        spark.createDataFrame([], "doc_id long").write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, pgen))
        publish_generations(index_dir, {PENDING_TABLE: pgen})
        gc_generations(index_dir, PENDING_TABLE)

    paths = _pending_paths(index_dir)
    if not paths:
        return False
    pending_ids = spark.read.parquet(*paths).select("doc_id").distinct()
    if pending_ids.count() == 0:
        # spool segments exist but hold no ids (an all-rejected batch):
        # clear them so the cadence counter can't stick above threshold
        if _pending_segment_count(index_dir):
            _clear_spool()
        return False
    corpus = spark.read.parquet(corpus_dir)
    # dropDuplicates: at-least-once corpus appends may hold a replayed
    # row twice; one text row per doc is what the pair verify expects
    delta_docs = (
        corpus.join(F.broadcast(pending_ids), "doc_id", "semi")
        .dropDuplicates(["doc_id"])
        .localCheckpoint(eager=True)
    )
    pairs = delta_near_pairs(spark, index_dir, corpus, delta_docs)
    changed = apply_label_pairs(spark, index_dir, pairs, stats=stats)
    # clear the spool: flip it to an empty base generation
    _clear_spool()
    return changed


def dedup_batch_against_index(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    near_policy: str = "reject",
) -> tuple[DataFrame, DataFrame]:
    """(accepted, rejected) split of a document batch.

    ``near_policy="reject"`` (default) rejects near-duplicates; with
    ``near_policy="label"`` only EXACT duplicates are rejected and near
    duplicates are accepted — the keep-and-label corpus shape, where
    cluster membership is maintained incrementally (see
    :func:`run_dedup_ingest_pipeline`) and downstream sampling picks one
    doc per cluster at training-mix time instead of at ingest time.

    Three passes over the dedupable (non-NULL, non-empty text) docs:
    (1) intra-batch EXACT dedup — keep the smallest doc_id per normalized
    digest (a batch can contain its own duplicates, which the index cannot
    know about yet); (2) intra-batch NEAR dedup — LSH band self-join +
    signature-estimate verify among the exact survivors, keep the smaller
    doc_id of each near pair (greedy: a chain A~B~C keeps A, rejects B
    against A and C against B); (3) index probe for exact/near matches
    against everything previously accepted. The batch's shingle/signature
    derivatives are computed ONCE and shared by passes 2 and 3.

    NULL/empty-text docs cannot be deduplicated (a NULL digest matches
    nothing cross-batch) and pass straight through as accepted — grouping
    their NULL digests would wrongly collapse distinct empty docs.

    Probe hits of kind 'replay' (a doc matching its own id — the post-crash
    re-delivery of an already-ingested batch) are dropped from BOTH sides:
    the doc is already in the corpus, and it is not a duplicate of anything.

    ``rejected`` carries the match evidence (match_id, kind, score)."""
    dedupable = batch.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    passthrough = batch.filter(
        F.col("text").isNull() | (F.length("text") == 0)
    )

    # pass 1: intra-batch exact
    w = Window.partitionBy("_h").orderBy("doc_id")
    intra = (
        dedupable.withColumn("_h", _digest())
        .withColumn("_rn", F.row_number().over(w))
    )
    intra_dups = (
        intra.withColumn("_first", F.min("doc_id").over(Window.partitionBy("_h")))
        .filter(F.col("_rn") > 1)
        .select(
            *batch.columns,
            F.col("_first").alias("match_id"),
            F.lit("exact").alias("kind"),
            F.lit(1.0).alias("score"),
        )
    )
    ex_survivors = intra.filter(F.col("_rn") == 1).select(*batch.columns, "_h")

    # batch derivatives, computed once (review finding: probe recomputed
    # the shingle/signature work per join branch)
    b_digests = ex_survivors.select("doc_id", F.col("_h").alias("text_hash"))
    ex_survivors = ex_survivors.drop("_h").localCheckpoint(eager=True)
    tok = shingles_distinct(ex_survivors).withColumnRenamed("g", "w")
    b_sigs = minhash_signatures_from_tokens(tok).localCheckpoint(eager=True)
    b_bands = minhash_band_table(b_sigs)

    # pass 2: intra-batch near (same banding + estimate as the index verify).
    # Skipped under near_policy="label": near dups are accepted there and
    # their pair discovery happens in the label-maintenance step instead.
    if near_policy == "label":
        near_best = spark.createDataFrame(
            [], "doc_id long, match_id long, score double"
        )
    else:
        sa = b_sigs.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"h{k}").alias(f"ha{k}") for k in range(_MINHASH_K)],
        )
        sb = b_sigs.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"h{k}").alias(f"hb{k}") for k in range(_MINHASH_K)],
        )
        near_pairs = (
            minhash_band_pairs(b_bands)
            .join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("score", minhash_estimate("ha", "hb"))
            .filter(F.col("score") >= 0.5)
        )
        near_best = (
            near_pairs.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("doc_b").orderBy(
                        F.col("score").desc(), F.col("doc_a")
                    )
                ),
            )
            .filter(F.col("_rk") == 1)
            .select(
                F.col("doc_b").alias("doc_id"),
                F.col("doc_a").alias("match_id"),
                "score",
            )
            .localCheckpoint(eager=True)
        )
    intra_near = ex_survivors.join(F.broadcast(near_best), "doc_id").select(
        *batch.columns,
        "match_id",
        F.lit("near").alias("kind"),
        "score",
    )
    survivors = ex_survivors.join(
        F.broadcast(near_best.select("doc_id")), "doc_id", "left_anti"
    )
    kept_ids = F.broadcast(survivors.select("doc_id"))

    # pass 3: index probe, reusing the derivatives restricted to survivors
    hits = probe_dedup_index(
        spark,
        index_dir,
        survivors,
        frames=(
            b_digests.join(kept_ids, "doc_id"),
            b_sigs.join(kept_ids, "doc_id"),
            b_bands.join(kept_ids, "doc_id"),
        ),
    )
    if near_policy == "label":
        # near matches against the index do not reject in label mode —
        # the doc is kept and its cluster membership recorded instead
        hits = hits.filter(F.col("kind") != "near")
    # one verdict per doc: replay beats exact beats near, then best score
    best = (
        hits.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.when(F.col("kind") == "replay", 0)
                    .when(F.col("kind") == "exact", 1)
                    .otherwise(2),
                    F.col("score").desc(),
                    F.col("match_id"),
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    index_rejects = (
        survivors.join(F.broadcast(best), "doc_id")
        .filter(F.col("kind") != "replay")  # already ingested: not a dup
        .select(*batch.columns, "match_id", "kind", "score")
    )
    accepted = survivors.join(
        F.broadcast(best.select("doc_id")), "doc_id", "left_anti"
    ).unionByName(passthrough)
    return accepted, intra_dups.unionByName(intra_near).unionByName(index_rejects)


def run_dedup_ingest_pipeline(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    corpus_dir: str,
    rejects_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
    near_policy: str = "reject",
    batch_metrics: list | None = None,
    label_cadence: int = 1,
    index_compact_cadence: int | None = None,
    label_layout: LabelLayoutPolicy | None = None,
):
    """Stream jsonl document batches from ``input_dir`` through the
    probe -> split -> append -> extend loop. Bootstraps an empty index when
    ``index_dir`` does not exist yet.

    ``near_policy="label"`` (VERDICT r08 next #3) keeps near-duplicates in
    the corpus and maintains the near-dup CLUSTER LABEL snapshot
    (``read_cluster_labels``) incrementally inside the same per-batch
    commit: after the index extend, the batch's near pairs come from
    :func:`~cdc_worker_spark.operators.cluster_incr.delta_near_pairs`
    (broadcast batch probes the materialized band index — no corpus
    re-shingle) and are folded in with
    :func:`~cdc_worker_spark.operators.cluster_incr.extend_dedup_clusters`
    (O(delta) reduced CC + one labels scan). The updated snapshot is
    published as a new manifest generation (atomic pointer flip). The fold
    is IDEMPOTENT — re-folding the same pairs maps both endpoints to the
    same representative, so every crash-replay window lands on the same
    labels: the delta for label maintenance is "batch minus rejected"
    (accepted docs PLUS replay-detected ones), which covers the
    crash-after-index-extend-before-labels-publish window where the batch
    is already indexed but its pairs were never folded. End state equals a
    batch ``connected_components(minhash_pairs(corpus))`` recompute
    (tests/test_streaming_ingest.py::test_label_mode...).

    100 TB note: the reduced CC and pair probe are O(delta), but each
    snapshot publish rewrites the O(corpus) label table (16 B/doc).
    ``label_cadence=N`` (r10) is the compaction-cadence mode for corpus
    scale: each batch spools its delta doc_ids as one exactly-once
    segment (PENDING_TABLE, O(delta) work, no labels rewrite) and the
    fold+publish runs once every N batches (:func:`fold_pending_labels`).
    The spool survives restarts — a crashed run's unfolded residue is
    folded by the next run's first fold — and an availableNow stream that
    ends mid-cadence leaves residue the caller folds with one
    ``fold_pending_labels`` call (see tests/test_streaming_ingest.py
    cadence tests). End state is IDENTICAL to per-batch mode (the
    pairwise-predicate monoid argument in fold_pending_labels' docstring);
    the default cadence=1 keeps the exactness-first per-batch shape.

    The label LAYOUT is whatever the index's manifest pointer commits:
    monolithic, or partitioned by cluster_id % B, where each fold
    rewrites only the buckets its remap/new rows touch — O(delta +
    touched buckets), never O(corpus) — with all touched buckets flipped
    in one atomic pointer write (``apply_label_pairs``). A caller
    declares or migrates it once, before or between runs, with
    ``write_label_snapshot(spark, index_dir, read_cluster_labels(spark,
    index_dir), buckets=B)``; a restart folds into the committed layout.
    End state is identical across {per-batch, cadence} × {monolithic,
    partitioned} and equals the batch recompute
    (tests/test_streaming_ingest.py). Measured overhead: SCALE.md §r9
    (per-batch), §r10 (cadence + partitioned).

    ``label_layout=LabelLayoutPolicy(...)`` (r12) lets the loop choose the
    layout itself: each fold reports its touched-cluster count K, the
    policy applies the measured K-vs-B crossover rules (SCALE.md §r11),
    and the loop migrates the snapshot (monolithic <-> B buckets, one
    corpus shuffle, atomic pointer commit) when the regime changes —
    with hysteresis so noise never flaps an O(corpus) migration.
    Equality with the batch recompute is invariant under migrations (the
    fold semantics never depend on the layout;
    tests/test_streaming_ingest.py::test_auto_layout...).

    ``index_compact_cadence=N`` (r10) runs compact_dedup_index every N
    committed batches — the "nightly" small-files hygiene the compaction
    docstring prescribes, wired into the loop so a long-running stream
    never accumulates thousands of probe-taxing segment files. Keyed to
    the committed-batch mark, so replays never double-compact.

    Exactly-once bookkeeping: the last committed batch id of this stream
    (keyed by its checkpoint dir) is a high-water mark in the index
    pointer's meta entry (:data:`INGEST_MARK_KEY`), read once per batch; a
    batch id at or below it is a no-op."""
    if not table_exists(index_dir, "digests"):
        build_dedup_index(
            spark.createDataFrame([], DOC_SCHEMA), index_dir
        )
    os.makedirs(checkpoint_dir, exist_ok=True)
    stream_key = os.path.abspath(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: after a crash between the sink
        # writes and the checkpoint commit, the same batch_id replays. The
        # committed-batch mark (foreachBatch ids only grow) makes the
        # replay a no-op, so corpus/index appends are effectively
        # exactly-once (the mark write is the last step; a crash before it
        # re-runs the batch, whose docs the probe detects as replays of
        # themselves — the narrow remaining window of the standard recipe).
        marks = read_meta(index_dir).get(INGEST_MARK_KEY, {})
        if batch_id <= marks.get(stream_key, -1):
            return
        t_batch = time.perf_counter()
        accepted, rejected = dedup_batch_against_index(
            spark, index_dir, batch_df, near_policy=near_policy
        )
        # materialize the split BEFORE mutating the index: both sides derive
        # from the same probe joins, and extending first would change what a
        # recomputed `accepted` sees
        accepted = accepted.localCheckpoint(eager=True)
        rejected = rejected.localCheckpoint(eager=True)
        rejected.write.mode("append").parquet(rejects_dir)
        accepted.write.mode("append").parquet(corpus_dir)
        # batch_id as the idempotency token: if the mark write below
        # crashes and the batch replays, the index extend is a no-op at
        # the segment layer too (exactly-once, not just at-least-once)
        extend_dedup_index(accepted, index_dir, token=f"b{batch_id}")
        label_sec = None
        layout_event = None
        if near_policy == "label":
            t_lbl = time.perf_counter()
            # the fold counts touched clusters only for a policy to read
            fold_stats = {} if label_layout is not None else None
            if label_cadence <= 1:
                _extend_labels(batch_df, rejected, fold_stats)
            else:
                _spool_delta(batch_df, rejected, f"b{batch_id}")
                if _pending_segment_count(index_dir) >= label_cadence:
                    fold_pending_labels(
                        spark, index_dir, corpus_dir, stats=fold_stats
                    )
            if fold_stats:  # a policy is set and a fold ran
                layout_event = _auto_layout(fold_stats)
            label_sec = round(time.perf_counter() - t_lbl, 3)
        # a meta-only pointer write: no table is repointed
        publish_generations(
            index_dir, {}, meta={INGEST_MARK_KEY: {**marks, stream_key: batch_id}}
        )
        if (
            index_compact_cadence is not None
            and (batch_id + 1) % index_compact_cadence == 0
        ):
            # small-files hygiene on a cadence (every extend appends a
            # few files; after thousands of batches the probe pays the
            # per-file open tax). Runs AFTER the mark write: compaction
            # is a pure rewrite-and-flip, idempotent and crash-safe by
            # the manifest protocol, so replay interplay is a non-issue —
            # keyed to the mark, a replayed batch (a no-op below the
            # mark) never double-compacts.
            compact_dedup_index(spark, index_dir)
        if batch_metrics is not None:
            # per-batch cost split (SCALE.md §r10: the label-maintenance
            # overhead claim is measured, not asserted) — caller-owned
            # list, append-only, driver-side (foreachBatch runs on the
            # driver so this is safe)
            m = {
                "batch_id": batch_id,
                "batch_sec": round(time.perf_counter() - t_batch, 3),
                "label_sec": label_sec,
            }
            if layout_event is not None:
                m["layout_migrated_to"] = layout_event
            batch_metrics.append(m)

    def _spool_delta(
        batch_df: DataFrame, rejected: DataFrame, token: str
    ) -> None:
        """Cadence mode: append this batch's label-delta doc_ids as one
        exactly-once spool segment (same token protocol as the index
        extend — a replayed batch is a no-op). The fold that consumes the
        spool re-derives the docs from the corpus, so only ids are
        spooled: O(delta) rows of one long each.

        Scope of "exactly-once": it holds within one cadence window.
        fold_pending_labels' _clear_spool wipes the consumed segment
        token list, so a replay AFTER full checkpoint and mark loss will
        re-spool already-folded batches; the end state stays correct
        because the refold is idempotent (the delta_near_pairs probe and
        fold are pure functions of corpus + labels — exercised by the
        crash-replay test), at the cost of one redundant fold over the
        replayed delta. If that redundancy ever matters at scale, retain
        consumed tokens in a folded-token ledger instead of clearing."""
        if segment_registered(index_dir, PENDING_TABLE, token):
            return
        delta_ids = batch_df.join(
            rejected.select("doc_id"), "doc_id", "left_anti"
        ).select("doc_id")
        path = begin_segment(index_dir, PENDING_TABLE, token)
        delta_ids.write.mode("overwrite").parquet(path)
        publish_segment(index_dir, PENDING_TABLE, token)

    def _extend_labels(
        batch_df: DataFrame, rejected: DataFrame, stats: dict | None
    ) -> None:
        # delta = batch minus rejected: accepted docs plus replay-detected
        # ones (already ingested by a crashed prior attempt whose pairs may
        # not have been folded yet). Null-text passthrough docs shingle to
        # nothing and fall out of the pair probe naturally.
        delta = batch_df.join(
            rejected.select("doc_id"), "doc_id", "left_anti"
        )
        corpus = spark.read.parquet(corpus_dir)
        pairs = delta_near_pairs(spark, index_dir, corpus, delta)
        apply_label_pairs(spark, index_dir, pairs, stats=stats)

    def _auto_layout(fold_stats: dict):
        """Observe the fold just run and migrate the label layout when
        the policy says the regime changed (VERDICT r11 next #3). Runs
        BEFORE the mark write: a crash mid-migration is absorbed by
        write_label_snapshot's atomic pointer commit, and the replayed
        batch re-folds (idempotent) and re-decides. Returns the new
        bucket count (0 = monolithic) when a migration happened, else
        None."""
        n_labels = read_cluster_labels(spark, index_dir).count()
        label_layout.observe(fold_stats["touched_clusters"], n_labels)
        cur = _labels_buckets(index_dir)
        want = label_layout.decide(cur)
        if not label_layout.should_migrate(cur, want):
            return None
        write_label_snapshot(
            spark,
            index_dir,
            read_cluster_labels(spark, index_dir),
            buckets=(want if want is not None else 0),
        )
        label_layout.decisions.append(
            {
                "k_window": list(label_layout.k_history),
                "n_labels": n_labels,
                "from_buckets": cur,
                "to_buckets": want,
            }
        )
        return want if want is not None else 0

    stream = read_json_stream(spark, DOC_SCHEMA, input_dir, max_files_per_trigger)
    return start_batches(stream, apply_batch, checkpoint_dir, available_now)
