#!/usr/bin/env python
"""Run the streaming ingest loop one decade up (VERDICT r10 next #2): an
sf100-CLASS corpus — 5M documents in 20+ micro-batches — through
run_dedup_ingest_pipeline with cadence label maintenance AND cadence index
compaction, equality-gated end state, per-batch metrics. The ingest twin of
the sf100 invariant artifact.

Corpus: the sf100 FIXTURE is 1000-way replication of sf0.1 — every document
has ~999 near-identical copies, so its near-dup structure is quadratic in
shard count (the documented reason the pair-dump family pins at sf10;
SCALE.md third-decade note). That is a fixture artifact, not a corpus
property, so this probe streams a PLANTED-structure 5M-doc corpus instead:
per 20-doc group, 18 unique pseudo-texts (40 tokens from a doc_id-keyed
multiplicative hash), one EXACT duplicate of the group base, one NEAR
duplicate (one token of 40 swapped, shingle Jaccard ~0.85) — 5% exact-dup
and 5% near-dup rates, 250k 2-doc near clusters. Every expectation has a
closed form AND the binding gate is the batch recompute:

- corpus == all docs minus the exact dups (near dups KEPT under
  near_policy='label');
- rejects: the exact dups, each with kind='exact';
- index digest ids == accepted corpus ids (probe == batch dedup);
- labels: stream-maintained read_cluster_labels == connected_components(
  minhash_pairs(accepted corpus)) — bit-equal, a fast wrong label table is
  not a result;
- cadence compaction actually folded: pending index segments < cadence at
  stream end.

    python scripts/bench_ingest_sf100.py --docs 5000000 --batches 20
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

HASH_MULT = 2654435761
TOK_PRIME = 50021


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=5_000_000)
    ap.add_argument("--batches", type=int, default=20)
    ap.add_argument("--group", type=int, default=20)
    ap.add_argument("--label-cadence", type=int, default=4)
    ap.add_argument("--index-compact-cadence", type=int, default=4)
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from cdc_worker_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("bench-ingest-sf100", **{"spark.driver.memory": args.driver_mem})
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_worker_spark.operators.dedup import (
        connected_components,
        minhash_pairs,
    )
    from cdc_worker_spark.operators.index_layout import (
        live_paths,
        read_pointer,
    )
    from cdc_worker_spark.streaming.ingest import (
        fold_pending_labels,
        read_cluster_labels,
        run_dedup_ingest_pipeline,
    )

    n, g = args.docs, args.group
    workdir = tempfile.mkdtemp(prefix="ingest_sf100_")
    in_dir = f"{workdir}/in"
    index_dir = f"{workdir}/index"
    corpus_dir = f"{workdir}/corpus"

    # ---- planted corpus: per g-doc group, g-2 unique + 1 exact + 1 near
    base_id = F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(g))
    role = F.pmod(F.col("doc_id"), F.lit(g))
    eff_id = F.when(role >= g - 2, base_id).otherwise(F.col("doc_id"))
    # token mixing MUST be non-affine in the position: with
    # pmod(a*id + b*i, P) consecutive tokens differ by the constant b, so
    # every doc's 3-gram shingles form an arithmetic progression keyed by
    # their FIRST token — a <=P-sized shingle universe shared by all docs,
    # whose MinHash band collisions grow quadratically with batch size
    # (measured: 3k-doc batches fine, 6k-doc batches wedge the LSH
    # candidate join). xxhash64(eff_id, i) gives independent tokens; the
    # shingle universe is ~P^3 and cross-doc collisions vanish.
    tokens = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.when(
            (role == g - 1) & (i == F.lit(5)),
            F.concat(F.lit("z"), base_id.cast("string")),
        ).otherwise(
            F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(eff_id, i), F.lit(TOK_PRIME)).cast(
                    "string"
                ),
            )
        ),
    )
    docs = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"))
        .select(
            "doc_id",
            F.array_join(tokens, " ").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("planted").alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    t0 = time.perf_counter()
    docs.repartition(args.batches).write.mode("overwrite").json(in_dir)
    prep_sec = round(time.perf_counter() - t0, 1)

    metrics: list[dict] = []
    t0 = time.perf_counter()
    query = run_dedup_ingest_pipeline(
        spark,
        input_dir=in_dir,
        index_dir=index_dir,
        corpus_dir=corpus_dir,
        rejects_dir=f"{workdir}/rejects",
        checkpoint_dir=f"{workdir}/ckpt",
        max_files_per_trigger=1,
        near_policy="label",
        batch_metrics=metrics,
        label_cadence=args.label_cadence,
        index_compact_cadence=args.index_compact_cadence,
    )
    query.awaitTermination()
    t_fin = time.perf_counter()
    stream_sec = round(t_fin - t0, 1)
    finalized = fold_pending_labels(spark, index_dir, corpus_dir)
    finalize_sec = round(time.perf_counter() - t_fin, 1)

    # ---- equality gates (untimed), binding before any number is reported
    gates: dict[str, str] = {}
    n_exact = n // g
    corpus = spark.read.parquet(corpus_dir)
    n_corpus = corpus.count()
    gates["corpus_rows"] = (
        "PASS" if n_corpus == n - n_exact
        else f"FAIL {n_corpus} != {n - n_exact}"
    )
    rejects = spark.read.parquet(f"{workdir}/rejects")
    rej_kinds = {
        r["kind"]: r["c"]
        for r in rejects.groupBy("kind").agg(F.count("*").alias("c")).collect()
    }
    gates["rejects_exact_only"] = (
        "PASS" if rej_kinds == {"exact": n_exact}
        else f"FAIL {rej_kinds} != {{'exact': {n_exact}}}"
    )
    idx_ids = spark.read.parquet(*live_paths(index_dir, "digests")).select(
        "doc_id"
    )
    n_sym_diff = (
        idx_ids.join(corpus.select("doc_id"), "doc_id", "full_outer")
        .filter(idx_ids["doc_id"].isNull() | corpus["doc_id"].isNull())
        .count()
    )
    gates["index_ids_equal_corpus"] = (
        "PASS" if n_sym_diff == 0 else f"FAIL sym_diff={n_sym_diff}"
    )
    t0 = time.perf_counter()
    batch_labels = connected_components(minhash_pairs(corpus)).select(
        "doc_id", "cluster_id"
    )
    stream_labels = read_cluster_labels(spark, index_dir)
    lbl_diff = (
        batch_labels.withColumnRenamed("cluster_id", "want")
        .join(stream_labels, "doc_id", "full_outer")
        .filter(
            F.col("want").isNull()
            | F.col("cluster_id").isNull()
            | (F.col("want") != F.col("cluster_id"))
        )
        .count()
    )
    n_labels = stream_labels.count()
    recompute_sec = round(time.perf_counter() - t0, 1)
    gates["labels_equal_batch_recompute"] = (
        "PASS" if lbl_diff == 0 else f"FAIL diff_rows={lbl_diff}"
    )
    # closed form (reported, informative): 2 label rows per group, min-label
    gates["labels_closed_form_rows"] = (
        "PASS" if n_labels == 2 * (n // g)
        else f"INFO {n_labels} vs closed-form {2 * (n // g)}"
    )
    seg_count = len(
        read_pointer(index_dir).get("digests", {"segments": []})["segments"]
    )
    gates["index_compaction_ran"] = (
        "PASS" if seg_count < args.index_compact_cadence
        else f"FAIL {seg_count} pending segments >= cadence"
    )

    batch_secs = [m["batch_sec"] for m in metrics]
    label_secs = [m["label_sec"] or 0.0 for m in metrics]
    artifact = {
        "metric": "ingest_loop_sf100_class",
        "n_docs": n,
        "n_batches": len(metrics),
        "docs_per_batch": n // args.batches,
        "label_cadence": args.label_cadence,
        "index_compact_cadence": args.index_compact_cadence,
        "near_policy": "label",
        "planted": {
            "group": g,
            "exact_dup_rate": 1 / g,
            "near_dup_rate": 1 / g,
        },
        "gates": gates,
        "n_fail": sum(1 for v in gates.values() if v.startswith("FAIL")),
        "prep_write_jsonl_sec": prep_sec,
        "stream_wall_sec": stream_sec,
        "docs_per_sec": round(n / stream_sec, 0),
        "batch_sec_mean": round(sum(batch_secs) / len(batch_secs), 2),
        "batch_sec_max": max(batch_secs),
        "label_sec_mean": round(sum(label_secs) / len(label_secs), 2),
        "label_sec_max": max(label_secs),
        "label_share_of_batch": round(sum(label_secs) / sum(batch_secs), 3),
        "finalize_residue_sec": finalize_sec,
        "finalized_residue": bool(finalized),
        "batch_recompute_gate_sec": recompute_sec,
        "n_corpus": n_corpus,
        "n_labels": n_labels,
        "per_batch": metrics,
    }
    out = json.dumps(artifact)
    print(out)
    if args.out:
        pathlib.Path(args.out).write_text(out)
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()
    if artifact["n_fail"]:
        raise SystemExit(f"{artifact['n_fail']} gates FAILED")


if __name__ == "__main__":
    main()
