"""Streaming ingest-dedup loop: batch N+1 must dedup against what batch N
accepted, intra-batch dups must collapse, and rejects must carry match
evidence."""

from __future__ import annotations

import json
import os
import re
import time

import pytest

from cdc_worker_spark.operators.index_layout import (
    live_paths,
    publish_generations,
    read_meta,
)
from cdc_worker_spark.streaming.ingest import (
    INGEST_MARK_KEY,
    run_dedup_ingest_pipeline,
    write_label_snapshot,
)


def _write_batch(in_dir: str, name: str, rows: list[dict]) -> None:
    os.makedirs(in_dir, exist_ok=True)
    with open(os.path.join(in_dir, name), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _lose_checkpoint_and_mark(tmp_path) -> None:
    """The crash window replayed below: Spark's checkpoint AND the
    committed-batch mark are gone, so every batch re-runs in full."""
    import shutil

    shutil.rmtree(tmp_path / "chk")
    publish_generations(str(tmp_path / "idx"), {}, meta={INGEST_MARK_KEY: None})


def _doc(doc_id: int, text: str) -> dict:
    return {
        "doc_id": doc_id, "text": text, "lang": "en",
        "source": "s", "n_chars": len(text),
    }


def test_ingest_dedups_across_batches(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    base = "the quick brown fox jumps over the lazy dog tonight in the park"
    _write_batch(in_dir, "b0.jsonl", [
        _doc(1, base),
        _doc(2, "a totally different document about markets and trading"),
        _doc(3, base.upper()),   # intra-batch exact dup of 1 (normalizes)
    ])
    time.sleep(0.05)  # distinct mtimes => deterministic file order
    _write_batch(in_dir, "b1.jsonl", [
        _doc(10, base),          # exact dup of batch-0's accepted doc 1
        _doc(11, base.replace("dog", "cat")),  # near dup of doc 1
        _doc(12, "entirely novel content about cooking pasta with tomatoes"),
    ])

    q = run_dedup_ingest_pipeline(
        spark,
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
    )
    q.awaitTermination(120)

    corpus = {r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    rejects = {
        r.doc_id: (r.match_id, r.kind)
        for r in spark.read.parquet(str(tmp_path / "rejects")).collect()
    }
    assert corpus == {1, 2, 12}, f"corpus={corpus} rejects={rejects}"
    assert rejects[3] == (1, "exact")      # intra-batch
    assert rejects[10] == (1, "exact")     # cross-batch exact
    # doc 11 is near BOTH its batch-mate 10 and indexed doc 1; the
    # intra-batch pass runs first, so the evidence points at 10
    assert rejects[11] == (10, "near")

    # the extended index now contains exactly the accepted docs
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(
            *live_paths(str(tmp_path / "idx"), "digests")
        ).collect()
    }
    assert idx_ids == corpus


def test_replayed_batches_do_not_double_append(spark, tmp_path):
    """Crash-replay semantics: if the engine re-delivers already-committed
    batch ids (fresh checkpoint, same inputs — the post-crash shape), the
    committed-batch mark turns the replays into no-ops: no probe, no
    append, no pointer write. A stream with another checkpoint has its own
    mark and runs its batches."""
    import shutil

    in_dir = str(tmp_path / "in")
    _write_batch(in_dir, "b0.jsonl", [
        _doc(1, "first unique document about gardens and flowers today"),
    ])
    time.sleep(0.05)
    _write_batch(in_dir, "b1.jsonl", [
        _doc(2, "second unique document about mountains and rivers yesterday"),
    ])
    idx = str(tmp_path / "idx")

    def run(chk: str) -> list:
        metrics: list = []
        run_dedup_ingest_pipeline(
            spark, input_dir=in_dir, index_dir=idx,
            corpus_dir=str(tmp_path / "corpus"),
            rejects_dir=str(tmp_path / "rejects"),
            checkpoint_dir=str(tmp_path / chk), batch_metrics=metrics,
        ).awaitTermination(120)
        return [m["batch_id"] for m in metrics]

    def corpus() -> list:
        return sorted(
            r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
        )

    def mark(chk: str) -> int | None:
        return read_meta(idx).get(INGEST_MARK_KEY, {}).get(str(tmp_path / chk))

    assert run("chk") == [0, 1]
    assert corpus() == [1, 2]
    assert mark("chk") == 1
    pointer = (tmp_path / "idx" / "_CURRENT.json").read_text()

    # simulate the crash window: Spark's checkpoint is gone (batch ids
    # restart at 0 and everything re-delivers) but the mark survived
    shutil.rmtree(tmp_path / "chk")
    assert run("chk") == []
    assert corpus() == [1, 2], f"replay double-appended: {corpus()}"
    assert (tmp_path / "idx" / "_CURRENT.json").read_text() == pointer

    assert run("chk3") == [0, 1]  # replay-detected by the probe instead
    assert corpus() == [1, 2]
    assert mark("chk3") == 1


def test_intra_batch_near_dups_collapse(spark, tmp_path):
    """Two near-duplicates arriving in the SAME batch (neither indexed yet)
    must not both be accepted: the batch-internal LSH pass keeps the
    smaller doc_id and rejects the other with 'near' evidence."""
    base = "the quick brown fox jumps over the lazy dog tonight in the park"
    in_dir = str(tmp_path / "in")
    _write_batch(in_dir, "b0.jsonl", [
        _doc(20, base),
        _doc(21, base.replace("dog", "cat")),   # near dup of 20, same batch
        _doc(22, "completely unrelated text about sailing ships and harbors"),
    ])
    run_dedup_ingest_pipeline(
        spark,
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
    ).awaitTermination(120)
    corpus = {r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    rejects = {
        r.doc_id: (r.match_id, r.kind)
        for r in spark.read.parquet(str(tmp_path / "rejects")).collect()
    }
    assert corpus == {20, 22}, f"corpus={corpus} rejects={rejects}"
    assert rejects[21] == (20, "near")


@pytest.mark.slow
def test_null_text_docs_pass_through_distinct(spark, tmp_path):
    """Distinct NULL/empty-text docs in one batch must NOT collapse into
    each other (a NULL digest is not a duplicate relation)."""
    in_dir = str(tmp_path / "in")
    _write_batch(in_dir, "b0.jsonl", [
        {"doc_id": 1, "text": None, "lang": "en", "source": "s", "n_chars": 0},
        {"doc_id": 2, "text": None, "lang": "en", "source": "s", "n_chars": 0},
        {"doc_id": 3, "text": "", "lang": "en", "source": "s", "n_chars": 0},
        _doc(4, "one normal document with plenty of regular words inside"),
    ])
    run_dedup_ingest_pipeline(
        spark,
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
    ).awaitTermination(120)
    corpus = {r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert corpus == {1, 2, 3, 4}
    import glob

    assert not glob.glob(str(tmp_path / "rejects") + "/*.parquet") or (
        spark.read.parquet(str(tmp_path / "rejects")).count() == 0
    )


def _label_rows(spark, idx_dir):
    from cdc_worker_spark.streaming.ingest import read_cluster_labels

    return sorted(
        (r.doc_id, r.cluster_id)
        for r in read_cluster_labels(spark, str(idx_dir)).collect()
    )


def _batch_recompute_labels(spark, corpus_dir):
    from cdc_worker_spark.operators.dedup import (
        connected_components,
        minhash_pairs,
    )

    corpus = spark.read.parquet(str(corpus_dir)).dropDuplicates(["doc_id"])
    return sorted(
        (r.doc_id, r.cluster_id)
        for r in connected_components(minhash_pairs(corpus)).collect()
    )


@pytest.mark.slow
def test_label_mode_keeps_near_dups_and_maintains_cluster_labels(
    spark, tmp_path
):
    """near_policy='label': near dups are ACCEPTED (only exact rejected) and
    the incrementally-maintained label snapshot equals a from-scratch batch
    connected_components(minhash_pairs(corpus)) recompute after every
    ingest run — including across batches that merge existing clusters."""
    base = "the quick brown fox jumps over the lazy dog tonight in the park"
    other = "a second family of documents about sailing ships and harbors now"
    in_dir = str(tmp_path / "in")
    _write_batch(in_dir, "b0.jsonl", [
        _doc(1, base),
        _doc(2, base.replace("dog", "cat")),      # near of 1: same batch
        _doc(3, "entirely novel content about cooking pasta with tomatoes"),
        _doc(4, other),
    ])
    time.sleep(0.05)
    _write_batch(in_dir, "b1.jsonl", [
        _doc(10, base.replace("park", "yard")),   # near of 1/2: cross-batch
        _doc(11, base),                           # exact dup of 1: rejected
        _doc(12, other.replace("ships", "boats")),  # near of 4
    ])
    kw = dict(
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
        near_policy="label",
    )
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(180)

    corpus = {
        r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    rejects = {
        r.doc_id: (r.match_id, r.kind)
        for r in spark.read.parquet(str(tmp_path / "rejects")).collect()
    }
    assert corpus == {1, 2, 3, 4, 10, 12}, f"{corpus} / {rejects}"
    assert rejects == {11: (1, "exact")}

    got = _label_rows(spark, tmp_path / "idx")
    want = _batch_recompute_labels(spark, tmp_path / "corpus")
    assert got == want and {c for _, c in got} == {1, 4}, f"{got} vs {want}"


def test_label_mode_crash_replay_lands_on_same_labels(spark, tmp_path):
    """Chaos window for label maintenance: Spark checkpoint AND mark lost
    after a completed run — the full replay re-probes, detects its own docs
    as 'replay', re-folds the same pairs (idempotent), and the label
    snapshot still equals the batch recompute."""
    base = "the quick brown fox jumps over the lazy dog tonight in the park"
    in_dir = str(tmp_path / "in")
    _write_batch(in_dir, "b0.jsonl", [
        _doc(1, base),
        _doc(2, base.replace("dog", "cat")),
        _doc(3, "completely unrelated text about markets and trading floors"),
    ])
    kw = dict(
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
        near_policy="label",
    )
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(120)
    first = _label_rows(spark, tmp_path / "idx")
    assert first == [(1, 1), (2, 1)]

    _lose_checkpoint_and_mark(tmp_path)
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(120)

    corpus = [
        r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    ]
    assert sorted(corpus) == [1, 2, 3], f"double append: {sorted(corpus)}"
    again = _label_rows(spark, tmp_path / "idx")
    assert again == first
    assert again == _batch_recompute_labels(spark, tmp_path / "corpus")


def test_label_fold_without_policy_skips_touched_cluster_count(
    spark, tmp_path, monkeypatch
):
    """Only a LabelLayoutPolicy reads a fold's touched-cluster count, and
    on the monolithic layout the count costs two extra Spark jobs per
    fold: a label-mode stream without a policy must not ask for it."""
    from cdc_worker_spark.streaming import ingest

    seen: list = []
    real = ingest.apply_label_pairs

    def spy(spark, index_dir, pairs, stats=None):
        seen.append(stats)
        return real(spark, index_dir, pairs, stats=stats)

    monkeypatch.setattr(ingest, "apply_label_pairs", spy)
    base = "the quick brown fox jumps over the lazy dog tonight in the park"
    in_dir = str(tmp_path / "in")
    _write_batch(in_dir, "b0.jsonl", [
        _doc(1, base),
        _doc(2, base.replace("dog", "cat")),
    ])
    run_dedup_ingest_pipeline(
        spark,
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
        near_policy="label",
    ).awaitTermination(120)
    assert seen == [None]
    assert _label_rows(spark, tmp_path / "idx") == [(1, 1), (2, 1)]


def test_crash_before_ledger_write_is_absorbed_by_replay_detection(spark, tmp_path):
    """The narrowest crash window: sinks written, ledger NOT written. On
    replay the batch's docs match their own ids in the index ('replay') and
    are dropped from both corpus and rejects — no self-match audit
    corruption, no double corpus append."""
    import shutil

    in_dir = str(tmp_path / "in")
    _write_batch(in_dir, "b0.jsonl", [
        _doc(1, "first unique document about gardens and flowers today"),
    ])
    kw = dict(
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
    )
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(120)
    # simulate: crash lost BOTH Spark's checkpoint and the mark, so the
    # batch fully replays against an index that already contains it
    _lose_checkpoint_and_mark(tmp_path)
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(120)

    corpus = [r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()]
    assert sorted(corpus) == [1], f"double append: {corpus}"
    import glob

    if glob.glob(str(tmp_path / "rejects") + "/*.parquet"):
        rej = spark.read.parquet(str(tmp_path / "rejects")).collect()
        assert not rej, f"self-match rows in audit: {rej}"


@pytest.mark.slow
def test_label_cadence_folds_every_n_batches_and_finalize_matches_batch(
    spark, tmp_path
):
    """label_cadence=2 over 3 batches: the first fold fires after batch 2,
    batch 3's delta stays spooled (labels lag by design), and one
    fold_pending_labels call folds the residue — end state equals BOTH the
    per-batch mode and the from-scratch batch recompute."""
    from cdc_worker_spark.streaming.ingest import (
        _pending_segment_count,
        fold_pending_labels,
    )

    base = "the quick brown fox jumps over the lazy dog tonight in the park"
    other = "a second family of documents about sailing ships and harbors now"
    in_dir = str(tmp_path / "in")
    _write_batch(in_dir, "b0.jsonl", [
        _doc(1, base),
        _doc(2, base.replace("dog", "cat")),
        _doc(3, "entirely novel content about cooking pasta with tomatoes"),
    ])
    time.sleep(0.05)
    _write_batch(in_dir, "b1.jsonl", [
        _doc(10, base.replace("park", "yard")),
        _doc(11, other),
    ])
    time.sleep(0.05)
    _write_batch(in_dir, "b2.jsonl", [
        _doc(20, other.replace("ships", "boats")),  # near of 11: spooled
        _doc(21, base),                             # exact dup: rejected
    ])
    kw = dict(
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
        near_policy="label",
        label_cadence=2,
    )
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(180)

    # batches 1+2 folded at the cadence boundary; batch 3 still spooled
    assert _pending_segment_count(str(tmp_path / "idx")) == 1
    mid = _label_rows(spark, tmp_path / "idx")
    assert mid == [(1, 1), (2, 1), (10, 1)], mid  # 20's pair not folded yet

    assert fold_pending_labels(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus")
    )
    assert _pending_segment_count(str(tmp_path / "idx")) == 0
    got = _label_rows(spark, tmp_path / "idx")
    assert got == _batch_recompute_labels(spark, tmp_path / "corpus")
    assert got == [(1, 1), (2, 1), (10, 1), (11, 11), (20, 11)], got
    # a second finalize on the cleared spool is a no-op
    assert not fold_pending_labels(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus")
    )


@pytest.mark.slow
def test_label_cadence_crash_replay_lands_on_same_labels(spark, tmp_path):
    """Cadence-mode chaos twin: checkpoint AND ledger lost after a run with
    unfolded residue — the replay's spool appends are no-ops (segment
    tokens), the re-fold is idempotent, and finalize still lands on the
    batch recompute."""
    import shutil

    base = "the quick brown fox jumps over the lazy dog tonight in the park"
    in_dir = str(tmp_path / "in")
    _write_batch(in_dir, "b0.jsonl", [
        _doc(1, base),
        _doc(2, base.replace("dog", "cat")),
    ])
    time.sleep(0.05)
    _write_batch(in_dir, "b1.jsonl", [
        _doc(10, base.replace("park", "yard")),
    ])
    time.sleep(0.05)
    _write_batch(in_dir, "b2.jsonl", [
        _doc(12, "fresh text on observatories and the motion of planets"),
    ])
    kw = dict(
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
        near_policy="label",
        label_cadence=2,
    )
    from cdc_worker_spark.streaming.ingest import fold_pending_labels

    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(120)
    _lose_checkpoint_and_mark(tmp_path)
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(120)

    corpus = [
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    ]
    assert sorted(corpus) == [1, 2, 10, 12], sorted(corpus)
    fold_pending_labels(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus")
    )
    got = _label_rows(spark, tmp_path / "idx")
    assert got == _batch_recompute_labels(spark, tmp_path / "corpus")
    assert got == [(1, 1), (2, 1), (10, 1)], got


@pytest.mark.slow
def test_partitioned_labels_equal_monolithic_and_batch(spark, tmp_path):
    """A layout declared once with write_label_snapshot(buckets=4): the
    bucket-partitioned snapshot must equal the monolithic mode AND the
    batch recompute after the same stream, and a fold must NOT rewrite
    buckets its delta never touches (the O(corpus) rewrite is exactly
    what the layout exists to avoid)."""
    from cdc_worker_spark.operators.index_layout import read_pointer
    from cdc_worker_spark.streaming.ingest import (
        _bucket_table,
        _labels_buckets,
        fold_pending_labels,
    )

    base = "the quick brown fox jumps over the lazy dog tonight in the park"
    other = "a second family of documents about sailing ships and harbors now"
    batches = [
        [_doc(1, base), _doc(2, base.replace("dog", "cat")),
         _doc(3, "entirely novel content about cooking pasta with tomatoes")],
        [_doc(10, base.replace("park", "yard")), _doc(11, other)],
        [_doc(20, other.replace("ships", "boats")), _doc(21, base)],
    ]

    def run(root, buckets=None, **extra):
        if buckets:
            write_label_snapshot(
                spark,
                str(root / "idx"),
                spark.createDataFrame([], "doc_id long, cluster_id long"),
                buckets=buckets,
            )
        in_dir = str(root / "in")
        for k, rows in enumerate(batches):
            _write_batch(in_dir, f"b{k}.jsonl", rows)
            time.sleep(0.05)
        kw = dict(
            input_dir=in_dir,
            index_dir=str(root / "idx"),
            corpus_dir=str(root / "corpus"),
            rejects_dir=str(root / "rejects"),
            checkpoint_dir=str(root / "chk"),
            near_policy="label",
            **extra,
        )
        run_dedup_ingest_pipeline(spark, **kw).awaitTermination(180)
        return root / "idx"

    mono = run(tmp_path / "mono")
    part = run(tmp_path / "part", buckets=4)
    assert _labels_buckets(str(part)) == 4
    got_m = _label_rows(spark, mono)
    got_p = _label_rows(spark, part)
    want = _batch_recompute_labels(spark, tmp_path / "part" / "corpus")
    assert got_p == got_m == want
    assert got_p == [(1, 1), (2, 1), (10, 1), (11, 11), (20, 11)], got_p

    # untouched-bucket stability: batch 4 pairs doc 30 with cluster 11
    # (bucket 11%4=3); cluster 1's buckets must keep their generations.
    # The restart names no layout: it folds into the committed one.
    ptr_before = read_pointer(str(part))
    before = {
        b: ptr_before[_bucket_table(b)]["base"]
        for b in range(4)
        if _bucket_table(b) in ptr_before
    }
    in_dir = str(tmp_path / "part" / "in")
    _write_batch(in_dir, "b3.jsonl", [
        _doc(30, other.replace("harbors", "marinas")),
    ])
    kw = dict(
        input_dir=in_dir,
        index_dir=str(part),
        corpus_dir=str(tmp_path / "part" / "corpus"),
        rejects_dir=str(tmp_path / "part" / "rejects"),
        checkpoint_dir=str(tmp_path / "part" / "chk"),
        near_policy="label",
    )
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(120)
    got = _label_rows(spark, part)
    assert got == _batch_recompute_labels(
        spark, tmp_path / "part" / "corpus"
    )
    assert (30, 11) in got
    ptr_after = read_pointer(str(part))
    after = {
        b: ptr_after[_bucket_table(b)]["base"]
        for b in range(4)
        if _bucket_table(b) in ptr_after
    }
    touched = {b for b in before if before[b] != after.get(b)}
    assert touched == {3}, (before, after)  # only cluster 11's bucket
    assert _labels_buckets(str(part)) == 4

    # cadence mode over the partitioned layout composes too
    cad = run(tmp_path / "cad", buckets=4, label_cadence=2)
    fold_pending_labels(
        spark, str(cad), str(tmp_path / "cad" / "corpus")
    )
    assert _label_rows(spark, cad) == want


def test_partitioned_migration_splits_existing_monolithic(spark, tmp_path):
    """Declaring buckets over an index with a MONOLITHIC snapshot must
    migrate it once and keep every label."""
    from cdc_worker_spark.streaming.ingest import (
        _labels_buckets,
        read_cluster_labels,
    )

    idx = str(tmp_path / "idx")
    rows = [(i, i % 7) for i in range(50)]
    write_label_snapshot(
        spark,
        idx,
        spark.createDataFrame(rows, "doc_id long, cluster_id long"),
    )
    assert _labels_buckets(idx) is None
    # re-declare partitioned: the one-time split
    write_label_snapshot(
        spark, idx, read_cluster_labels(spark, idx), buckets=4
    )
    assert _labels_buckets(idx) == 4
    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in read_cluster_labels(spark, idx).collect()
    )
    assert got == sorted(rows)


def test_partitioned_migration_drops_stale_monolithic_and_buckets(
    spark, tmp_path
):
    """ADVICE r10: a bucketed re-declare must not strand the migrated
    monolithic table (or, on a shrink, the out-of-range bucket tables) in
    the pointer as never-GC'd stale data — after the meta commit they are
    unreachable by readers and must be dropped from pointer AND disk."""
    from cdc_worker_spark.operators.index_layout import read_pointer
    from cdc_worker_spark.streaming.ingest import (
        LABELS_TABLE,
        _bucket_table,
        _labels_buckets,
        read_cluster_labels,
    )

    idx = str(tmp_path / "idx")
    rows = [(i, i % 7) for i in range(50)]
    write_label_snapshot(
        spark,
        idx,
        spark.createDataFrame(rows, "doc_id long, cluster_id long"),
    )
    # monolithic -> 4 buckets: the monolithic table must be gone
    write_label_snapshot(
        spark, idx, read_cluster_labels(spark, idx), buckets=4
    )
    ptr = read_pointer(idx)
    assert LABELS_TABLE not in ptr
    assert not any(n.startswith(LABELS_TABLE + ".g") for n in os.listdir(idx))
    assert all(_bucket_table(i) in ptr for i in range(4))

    # 4 -> 2 buckets (shrink): b002/b003 must be gone from pointer + disk
    write_label_snapshot(
        spark, idx, read_cluster_labels(spark, idx), buckets=2
    )
    assert _labels_buckets(idx) == 2
    ptr = read_pointer(idx)
    assert _bucket_table(0) in ptr and _bucket_table(1) in ptr
    assert _bucket_table(2) not in ptr and _bucket_table(3) not in ptr
    assert not any(
        n.startswith(_bucket_table(2)) or n.startswith(_bucket_table(3))
        for n in os.listdir(idx)
    )
    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in read_cluster_labels(spark, idx).collect()
    )
    assert got == sorted(rows)


def test_bucket_files_keep_doc_id_sorted_row_groups(spark, tmp_path):
    """ADVICE r11: the delta-endpoint IN-pushdown pruning relies on
    doc_id-sorted row groups inside every bucket file. The writer sorts
    on ('_b', 'doc_id') so the dynamic-partition write's required [_b]
    ordering is already satisfied and no writer-inserted SortExec can
    interleave equal-_b runs — pin the actual on-disk order."""
    import pyarrow.parquet as pq

    from cdc_worker_spark.operators.index_layout import resolve_table
    from cdc_worker_spark.streaming.ingest import _bucket_table

    idx = str(tmp_path / "idx")
    # enough rows across enough partitions that an unsorted write would
    # be detected; ids scrambled so input order is not already sorted
    rows = [((i * 2654435761) % 100003, i % 13) for i in range(5000)]
    labels = spark.createDataFrame(
        rows, "doc_id long, cluster_id long"
    ).repartition(8)
    write_label_snapshot(spark, idx, labels, buckets=4)
    seen = 0
    for b in range(4):
        d = resolve_table(idx, _bucket_table(b))
        for name in os.listdir(d):
            if not name.endswith(".parquet"):
                continue
            col = pq.read_table(
                os.path.join(d, name), columns=["doc_id"]
            ).column("doc_id").to_pylist()
            assert col == sorted(col), f"bucket {b} file {name} unsorted"
            seen += len(col)
    assert seen == len(rows)


def test_bucket_count_commits_atomically_in_pointer(spark, tmp_path):
    """ADVICE r11: the bucket count must flip in the SAME pointer write
    as the bucket generations — a separate commit gives a concurrent
    reader a mixed layout/pointer view on grow/shrink (duplicates on
    shrink, missing rows on grow). The pointer meta is the only record
    of the layout."""
    from cdc_worker_spark.operators.index_layout import read_pointer
    from cdc_worker_spark.streaming.ingest import (
        LABELS_META_KEY,
        LABELS_TABLE,
        read_cluster_labels,
    )

    idx = str(tmp_path / "idx")
    rows = [(i, i % 7) for i in range(50)]
    labels = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    write_label_snapshot(spark, idx, labels, buckets=4)
    assert read_meta(idx)[LABELS_META_KEY] == 4

    # grow 4 -> 8: pointer meta and generations flip together
    write_label_snapshot(
        spark, idx, read_cluster_labels(spark, idx), buckets=8
    )
    assert read_meta(idx)[LABELS_META_KEY] == 8
    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in read_cluster_labels(spark, idx).collect()
    )
    assert got == sorted(rows)

    # 8 -> monolithic: the meta key goes in the same flip, and the
    # bucket tables the layout no longer reads leave the pointer
    write_label_snapshot(
        spark, idx, read_cluster_labels(spark, idx), buckets=0
    )
    assert LABELS_META_KEY not in read_meta(idx)
    assert list(read_pointer(idx)) == [LABELS_TABLE]
    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in read_cluster_labels(spark, idx).collect()
    )
    assert got == sorted(rows)


def test_label_layout_policy_matrix():
    """Pure-python pin of LabelLayoutPolicy against the MEASURED
    crossover + sizing cells (SCALE.md §r11 grid, §r12 sizing): K=100
    at corpus scale sizes to the measured-winning B=512 cell (pow2
    CEILING of 4K — the r12 cells showed the floor neighbor losing
    from below at both K=50 and K=100); K=10k (>= any allowed B) stays
    monolithic at every N; sub-crossover N stays monolithic; hysteresis
    never flaps between pow2 neighbors."""
    from cdc_worker_spark.streaming.ingest import LabelLayoutPolicy

    p = LabelLayoutPolicy(window=3)
    # fewer than `window` observations: no opinion, keep current layout
    p.observe(100, 10**8)
    assert p.decide(None) is None and p.decide(64) == 64
    p.observe(100, 10**8)
    p.observe(100, 10**8)
    # the measured winning cell: K=100, N>=1e8 -> B=512 (pow2 ceil of 4K;
    # 13.5 s vs B=256's 31.7 s at 7e8, §r12)
    assert p.decide(None) == 512
    # the other measured sizing anchor: K=50 -> B=256 (15.9 vs 21.2 s)
    p50 = LabelLayoutPolicy(window=1)
    p50.observe(50, 10**8)
    assert p50.decide(None) == 256
    # K=10k: guard trips (2K > max_buckets) -> monolithic at every N
    hot = LabelLayoutPolicy(window=1)
    for n in (10**8, 3 * 10**8, 7 * 10**8):
        hot.observe(10_000, n)
        assert hot.decide(256) is None
    # below the measured crossover scale: monolithic regardless of K
    small = LabelLayoutPolicy(window=1)
    small.observe(10, 10**6)
    assert small.decide(None) is None
    # hysteresis: 256 -> 512 is a 2x pow2 neighbor, not worth O(corpus)
    assert not p.should_migrate(256, 512)
    assert p.should_migrate(256, 1024)
    assert p.should_migrate(None, 256) and p.should_migrate(256, None)
    assert not p.should_migrate(None, None)


@pytest.mark.slow
def test_auto_layout_selects_bucketed_under_low_k_regime(spark, tmp_path):
    """VERDICT r11 next #3 gate: with a planted low-K regime (each fold
    touches one cluster family) and fixture-scale thresholds, the ingest
    loop SELF-SELECTS the partitioned layout mid-stream — and the labels
    still equal the batch recompute across the migration."""
    from cdc_worker_spark.streaming.ingest import (
        LabelLayoutPolicy,
        _labels_buckets,
    )

    base = "the quick brown fox jumps over the lazy dog tonight in the park"
    in_dir = str(tmp_path / "in")
    # each batch adds one near-dup of doc 1: every fold touches exactly
    # the one cluster (K=1) while the label count grows past min_labels
    _write_batch(in_dir, "b0.jsonl", [
        _doc(1, base),
        _doc(2, base.replace("dog", "cat")),
    ])
    time.sleep(0.05)
    _write_batch(in_dir, "b1.jsonl", [_doc(10, base.replace("park", "yard"))])
    time.sleep(0.05)
    _write_batch(in_dir, "b2.jsonl", [_doc(20, base.replace("quick", "slow"))])
    time.sleep(0.05)
    _write_batch(in_dir, "b3.jsonl", [_doc(30, base.replace("lazy", "idle"))])

    policy = LabelLayoutPolicy(
        min_labels=3, target_ratio=4, window=2, min_buckets=4, max_buckets=8
    )
    metrics: list = []
    run_dedup_ingest_pipeline(
        spark,
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
        near_policy="label",
        label_layout=policy,
        batch_metrics=metrics,
    ).awaitTermination(240)

    # the loop migrated to the policy's bucket count mid-stream
    assert _labels_buckets(str(tmp_path / "idx")) == 4
    assert policy.decisions and policy.decisions[0]["to_buckets"] == 4
    assert policy.decisions[0]["from_buckets"] is None
    assert any("layout_migrated_to" in m for m in metrics)
    # equality across the migration: stream labels == batch recompute
    got = _label_rows(spark, tmp_path / "idx")
    want = _batch_recompute_labels(spark, tmp_path / "corpus")
    assert got == want, f"{got} vs {want}"


@pytest.mark.slow
def test_index_compact_cadence_folds_segments_and_keeps_semantics(
    spark, tmp_path
):
    """index_compact_cadence=2 over 4 batches: the per-batch extend
    segments are folded into base generations (segment lists empty after
    the cadence compaction), and dedup semantics are unchanged — a batch
    AFTER the compaction still rejects a dup accepted three batches ago."""
    from cdc_worker_spark.operators.index_layout import read_pointer

    in_dir = str(tmp_path / "in")
    texts = [
        "first unique document about gardens and flowers today",
        "second unique document about mountains and rivers tonight",
        "third unique document about engines and turbines tomorrow",
        "fourth unique document about libraries and archives yesterday",
    ]
    for k, t in enumerate(texts):
        _write_batch(in_dir, f"b{k}.jsonl", [_doc(k + 1, t)])
        time.sleep(0.05)
    kw = dict(
        input_dir=in_dir,
        index_dir=str(tmp_path / "idx"),
        corpus_dir=str(tmp_path / "corpus"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "chk"),
        index_compact_cadence=2,
    )
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(180)

    ptr = read_pointer(str(tmp_path / "idx"))
    for table in ("digests", "signatures", "bands"):
        assert ptr[table]["segments"] == [], (table, ptr[table])

    # post-compaction probe correctness: an exact dup of batch-0's doc
    # and a fresh doc arrive in batch 5
    _write_batch(in_dir, "b4.jsonl", [
        _doc(50, texts[0]),                      # exact dup: rejected
        _doc(51, "fifth unique document about oceans and tides at dawn"),
    ])
    run_dedup_ingest_pipeline(spark, **kw).awaitTermination(120)
    corpus = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    rejects = {
        r.doc_id: (r.match_id, r.kind)
        for r in spark.read.parquet(str(tmp_path / "rejects")).collect()
    }
    assert corpus == [1, 2, 3, 4, 51], corpus
    assert rejects == {50: (1, "exact")}, rejects


def test_label_layout_and_jaccard_verify_have_one_source():
    """The manifest pointer is the only record of the label layout (no
    pipeline parameter, side file or checkpoint ledger names it), and the
    exact shingle-Jaccard verify lives in one module."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "cdc_worker_spark")
    retired = re.compile(r"label_buckets|\bLABELS_META\b|INGEST_LEDGER")
    hits, verify = set(), set()
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for name in filenames:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    text = f.read()
                if retired.search(text):
                    hits.add(os.path.relpath(path, pkg))
                if "array_intersect(" in text:
                    verify.add(os.path.relpath(path, pkg))
    assert hits == set(), sorted(hits)
    assert verify == {"operators/dedup.py"}, sorted(verify)
