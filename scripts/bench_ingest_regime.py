#!/usr/bin/env python
"""Run the STREAMING label-maintenance path at the partitioned-label
design regime (VERDICT r11 next #6): the r11 decade-up ingest ran
monolithic at 497k labels — two decades below the measured K-vs-B
crossover — so the partitioned layout's streaming win rested on the
isolated-fold grid only. This probe pre-seeds the loop with a
crossover-scale label snapshot (default 1e8 labels) in BOTH layouts and
streams identical batches through cadence folds, reporting stream wall
side by side.

Setup:
1. SEED: a planted-structure corpus (the bench_ingest_sf100 generator:
   per 20-doc group one near pair) streams through the pipeline to
   build a REAL index + corpus + labels — the stream probes a real band
   index, not a synthetic shim.
2. PRE-SEED: the label snapshot is rewritten as (real labels) UNION
   (N_FILLER hashed filler labels on a DISJOINT negative id space) —
   the accumulated-history stand-in, exactly the crossover probe's
   snapshot shape — in B buckets for the regime twin, monolithic for
   the control twin.
3. STREAM: new batches of near-duplicates of seed group bases (ids
   above the seed range, one swapped token) attach to existing seed
   clusters: each cadence fold touches K = families-per-fold clusters
   << B, the design regime. Identical batches to both twins.

Equality gates (untimed, binding) per twin:
- stream labels restricted to REAL ids == the batch recompute
  connected_components(minhash_pairs(corpus)) — bit-equal;
- the FILLER rows ride through every fold untouched: count + xxhash64
  fingerprint equal before/after the stream;
- the regime twin still reads back its declared bucket count.

    python scripts/bench_ingest_regime.py --filler 100000000 --buckets 256
"""

from __future__ import annotations

import argparse
import json
import pathlib
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

HASH_MULT = 2654435761
TOK_PRIME = 50021
GROUP = 20


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed-docs", type=int, default=200_000)
    ap.add_argument("--seed-batches", type=int, default=4)
    ap.add_argument("--filler", type=int, default=100_000_000)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--stream-batches", type=int, default=16)
    ap.add_argument("--docs-per-batch", type=int, default=2_500)
    ap.add_argument("--families-per-batch", type=int, default=25)
    ap.add_argument("--label-cadence", type=int, default=2)
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument(
        "--twins",
        default="partitioned,monolithic",
        help="comma list of partitioned|monolithic|auto (auto = "
        "pre-seed monolithic, LabelLayoutPolicy self-selects "
        "mid-stream)",
    )
    ap.add_argument(
        "--policy-min-labels",
        type=int,
        default=100_000_000,
        help="LabelLayoutPolicy min_labels for the auto twin (the "
        "measured default stands for real runs; lower only for smokes)",
    )
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from cdc_worker_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("bench-ingest-regime", **{"spark.driver.memory": args.driver_mem})
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_worker_spark.operators.dedup import (
        connected_components,
        minhash_pairs,
    )
    from cdc_worker_spark.streaming.ingest import (
        LabelLayoutPolicy,
        _labels_buckets,
        fold_pending_labels,
        read_cluster_labels,
        run_dedup_ingest_pipeline,
        write_label_snapshot,
    )

    n_seed = args.seed_docs
    g = GROUP

    # ---- the planted seed corpus (bench_ingest_sf100 generator) ----
    base_id = F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(g))
    role = F.pmod(F.col("doc_id"), F.lit(g))
    eff_id = F.when(role >= g - 2, base_id).otherwise(F.col("doc_id"))
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
    seed_docs = (
        spark.range(n_seed)
        .select(F.col("id").alias("doc_id"))
        .select(
            "doc_id",
            F.array_join(tokens, " ").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("planted").alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )

    # ---- streamed batches: near dup of family f's group base, new ids
    # above the seed range; one 'y' token at position 7 (the seed near
    # copy swaps position 5 with a 'z' token, so no exact collision)
    def stream_batch(b: int):
        fam0 = b * args.families_per_batch
        did = F.lit(n_seed) + F.lit(b * args.docs_per_batch) + F.col("id")
        fam = F.lit(fam0) + F.pmod(
            F.col("id"), F.lit(args.families_per_batch)
        )
        fbase = fam * g  # group base doc id of that family
        toks = F.transform(
            F.sequence(F.lit(0), F.lit(39)),
            lambda i: F.when(
                i == F.lit(7),
                F.concat(F.lit("y"), did.cast("string")),
            ).otherwise(
                F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(fbase, i), F.lit(TOK_PRIME)).cast(
                        "string"
                    ),
                )
            ),
        )
        return (
            spark.range(args.docs_per_batch)
            .select(
                did.alias("doc_id"),
                F.array_join(toks, " ").alias("text"),
                F.lit("en").alias("lang"),
                F.lit("stream").alias("source"),
            )
            .withColumn("n_chars", F.length("text").cast("long"))
        )

    # filler labels: negative hashed ids (disjoint from every real doc),
    # clusters of 3, min-member-hash label — the crossover snapshot shape
    def filler_labels():
        base = F.col("id") - F.col("id") % 3
        neg = F.lit(-(1 << 62))
        return spark.range(args.filler).select(
            (neg - F.xxhash64(F.col("id")) % F.lit(1 << 60)).alias(
                "doc_id"
            ),
            (
                neg
                - F.least(
                    F.xxhash64(base) % F.lit(1 << 60),
                    F.xxhash64(base + 1) % F.lit(1 << 60),
                    F.xxhash64(base + 2) % F.lit(1 << 60),
                )
            ).alias("cluster_id"),
        )

    def fingerprint(df):
        row = df.select(
            F.count("*").alias("n"),
            F.expr(
                "bit_xor(xxhash64(doc_id, cluster_id))"
            ).alias("hx"),
        ).collect()[0]
        return (row["n"], row["hx"])

    def run_twin(buckets: int | None, auto: bool = False) -> dict:
        """One full seed+preseed+stream pass. ``auto=True`` is the
        self-selection twin (VERDICT r11 next #3 SCALE row): pre-seed
        MONOLITHIC and hand the stream a LabelLayoutPolicy at its
        measured defaults — the loop must discover the K<<B regime from
        its own fold stats and migrate mid-stream; the layout gate then
        asserts the policy's own sizing rule (pow2-floor of 4K, here
        K=families-per-fold) rather than a caller-pinned count."""
        work = tempfile.mkdtemp(prefix=f"regime_b{'auto' if auto else (buckets or 0)}_")
        in_dir = f"{work}/in"
        index_dir = f"{work}/index"
        corpus_dir = f"{work}/corpus"
        # seed ingest (real index + corpus + labels)
        seed_docs.repartition(args.seed_batches).write.mode(
            "overwrite"
        ).json(in_dir)
        run_dedup_ingest_pipeline(
            spark,
            input_dir=in_dir,
            index_dir=index_dir,
            corpus_dir=corpus_dir,
            rejects_dir=f"{work}/rejects",
            checkpoint_dir=f"{work}/ckpt",
            max_files_per_trigger=1,
            near_policy="label",
            label_cadence=args.label_cadence,
        ).awaitTermination()
        fold_pending_labels(spark, index_dir, corpus_dir)
        # pre-seed: real ∪ filler, in the twin's layout
        real = read_cluster_labels(spark, index_dir)
        t0 = time.perf_counter()
        write_label_snapshot(
            spark,
            index_dir,
            real.unionByName(filler_labels()),
            buckets=None if auto else buckets,
        )
        preseed_sec = round(time.perf_counter() - t0, 1)
        filler_before = fingerprint(
            read_cluster_labels(spark, index_dir).filter("doc_id < 0")
        )
        # stream at regime: fresh input dir, fresh checkpoint
        in2 = f"{work}/in2"
        for b in range(args.stream_batches):
            stream_batch(b).coalesce(1).write.mode("append").json(in2)
        metrics: list[dict] = []
        policy = (
            LabelLayoutPolicy(min_labels=args.policy_min_labels)
            if auto
            else None
        )
        t0 = time.perf_counter()
        run_dedup_ingest_pipeline(
            spark,
            input_dir=in2,
            index_dir=index_dir,
            corpus_dir=corpus_dir,
            rejects_dir=f"{work}/rejects2",
            checkpoint_dir=f"{work}/ckpt2",
            max_files_per_trigger=1,
            near_policy="label",
            label_cadence=args.label_cadence,
            label_buckets=None if auto else buckets,
            label_layout=policy,
            batch_metrics=metrics,
        ).awaitTermination()
        t_fin = time.perf_counter()
        stream_sec = round(t_fin - t0, 1)
        fold_pending_labels(spark, index_dir, corpus_dir)
        finalize_sec = round(time.perf_counter() - t_fin, 1)

        # ---- gates ----
        gates: dict[str, str] = {}
        labels = read_cluster_labels(spark, index_dir)
        got_real = labels.filter("doc_id >= 0").select(
            "doc_id", "cluster_id"
        )
        corpus = spark.read.parquet(corpus_dir).dropDuplicates(["doc_id"])
        want_real = connected_components(minhash_pairs(corpus))
        n_diff = (
            got_real.exceptAll(want_real).count()
            + want_real.exceptAll(got_real).count()
        )
        gates["labels_equal_batch_recompute"] = (
            "PASS" if n_diff == 0 else f"FAIL diff={n_diff}"
        )
        filler_after = fingerprint(labels.filter("doc_id < 0"))
        gates["filler_untouched"] = (
            "PASS"
            if filler_after == filler_before
            else f"FAIL {filler_before} -> {filler_after}"
        )
        got_b = _labels_buckets(index_dir)
        if auto:
            # the gate asserts the POLICY's own sizing rule, derived
            # from a scratch policy fed the planted regime (K identical
            # every fold, N = filler scale) — not a hand-pinned count
            k = args.families_per_batch * args.label_cadence
            probe = LabelLayoutPolicy(min_labels=args.policy_min_labels)
            for _ in range(probe.window):
                probe.observe(k, args.filler)
            expected_b = probe.decide(None)
            gates["layout_selected"] = (
                "PASS"
                if got_b == expected_b and len(policy.decisions) == 1
                else (
                    f"FAIL got={got_b} want={expected_b} "
                    f"migrations={len(policy.decisions)}"
                )
            )
        else:
            gates["layout_kept"] = (
                "PASS"
                if got_b == buckets
                else f"FAIL {got_b} != {buckets}"
            )
        label_secs = [
            m["label_sec"] for m in metrics if m.get("label_sec")
        ]
        out = {
            "buckets": got_b or 0,
            "preseed_sec": preseed_sec,
            "stream_sec": stream_sec,
            "finalize_sec": finalize_sec,
            "label_sec_sum": round(sum(label_secs), 1),
            "label_sec_max": max(label_secs) if label_secs else None,
            "label_secs": [round(s, 1) for s in label_secs],
            "n_folds": sum(
                1 for s in label_secs if s and s > 1.0
            ),  # spool-only batches are sub-second
            "gates": gates,
        }
        if auto:
            out["decisions"] = policy.decisions
        shutil.rmtree(work, ignore_errors=True)
        return out

    twin_runs = {
        "partitioned": lambda: run_twin(args.buckets),
        "monolithic": lambda: run_twin(None),
        "auto": lambda: run_twin(None, auto=True),
    }
    twins = {
        name: twin_runs[name]()
        for name in args.twins.split(",")
        if name in twin_runs
    }
    ok = all(
        v == "PASS" for t in twins.values() for v in t["gates"].values()
    )
    result = {
        "metric": "regime_stream_label_maintenance",
        "filler_labels": args.filler,
        "stream_batches": args.stream_batches,
        "docs_per_batch": args.docs_per_batch,
        "families_per_fold": args.families_per_batch
        * args.label_cadence,
        "label_cadence": args.label_cadence,
        "twins": twins,
        "all_gates": "PASS" if ok else "FAIL",
    }
    line = json.dumps(result)
    print(line, flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    spark.stop()
    if not ok:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
