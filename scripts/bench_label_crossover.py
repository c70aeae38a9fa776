#!/usr/bin/env python
"""Measure the monolithic-vs-partitioned label-fold crossover (VERDICT r10
next #1): the ONE 100 TB claim still resting on arithmetic — "monolithic
below ~1e8 labels, partitioned above" (SCALE.md §r10) — turned into a run.

Setup per grid point (N labels, B buckets, K touched clusters): a synthetic
label snapshot (clusters of 3 docs, cluster_id = min member id — the CC
min-label convention) is published in the target layout, then ONE cadence
fold applies a delta of K pairs, each attaching one NEW doc to a distinct
existing cluster chosen by a deterministic multiplicative hash (uniform
bucket spread — stride choices would alias into few buckets and flatter the
partitioned layout). Timed: apply_label_pairs only (the fold the cadence
pays). Untimed equality gate FIRST: the folded snapshot must have N+K rows
and every new doc must carry its target cluster's label — a fast wrong fold
is not a result.

Cost model being tested: monolithic fold rewrites all N rows per cadence;
partitioned rewrites E[touched] = B*(1-(1-1/B)^K) buckets of N/B rows each
plus per-bucket job overhead. Uniformly-spread deltas therefore only win
when K < B — the probe reports the measured expectation alongside wall.

    python scripts/bench_label_crossover.py \
        --labels 10000000,100000000 --buckets 0,16,64,256 --touched 100,10000
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

HASH_MULT = 2654435761  # Knuth multiplicative hash: deterministic, spreads


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--labels", default="10000000,100000000")
    ap.add_argument("--buckets", default="0,16,64,256")
    ap.add_argument("--touched", default="100,10000")
    ap.add_argument(
        "--id-mode",
        choices=["hashed", "sequential"],
        default="hashed",
        help="hashed (default): doc ids are xxhash64-scrambled and "
        "cluster ids scattered — the snapshot encodes at realistic "
        "bytes/row, like a real fold output written in shuffle order. "
        "sequential: range ids — parquet delta-encoding crushes them to "
        "a few bits/row, a best-case-compressibility LOWER bound that "
        "flatters the monolithic full rewrite (the r11 first-pass grid).",
    )
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    from cdc_worker_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("bench-label-crossover", **{"spark.driver.memory": args.driver_mem})
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_worker_spark.streaming.ingest import (
        apply_label_pairs,
        read_cluster_labels,
        write_label_snapshot,
    )

    n_grid = [int(x) for x in args.labels.split(",") if x]
    b_grid = [int(x) for x in args.buckets.split(",") if x != ""]
    k_grid = [int(x) for x in args.touched.split(",") if x]
    results: list[dict] = []

    for n_labels in n_grid:
        n_clusters = n_labels // 3
        if args.id_mode == "hashed":
            # scrambled doc ids, scattered cluster ids (min xxhash of the
            # 3 members — the CC min-label convention over real ids);
            # written in hash order like a fold's shuffle output
            base = F.col("id") - F.col("id") % 3
            labels = spark.range(n_labels).select(
                F.xxhash64(F.col("id")).alias("doc_id"),
                F.least(
                    F.xxhash64(base),
                    F.xxhash64(base + 1),
                    F.xxhash64(base + 2),
                ).alias("cluster_id"),
            )
        else:
            labels = spark.range(n_labels).select(
                F.col("id").alias("doc_id"),
                (F.col("id") - F.col("id") % 3).alias("cluster_id"),
            )
        for buckets in b_grid:
            build_dir = tempfile.mkdtemp(
                prefix=f"xover_b{buckets}_", dir=args.workdir
            )
            t0 = time.perf_counter()
            write_label_snapshot(
                spark, build_dir, labels, buckets=buckets or None
            )
            build_sec = round(time.perf_counter() - t0, 2)
            for k_touched in k_grid:
                fold_dir = tempfile.mkdtemp(
                    prefix=f"xover_fold_b{buckets}_k{k_touched}_",
                    dir=args.workdir,
                )
                shutil.rmtree(fold_dir)
                shutil.copytree(build_dir, fold_dir)
                # K delta pairs: new doc N+i <-> a member of a
                # hash-chosen cluster (c_orig is the cluster's smallest
                # ORIGINAL id; its label is the min member id in
                # sequential mode, the min member xxhash in hashed mode)
                sel = spark.range(k_touched).select(
                    (F.lit(n_labels) + F.col("id")).alias("doc_a"),
                    (
                        3
                        * F.pmod(
                            F.col("id") * F.lit(HASH_MULT),
                            F.lit(n_clusters),
                        )
                    ).alias("c_orig"),
                )
                if args.id_mode == "hashed":
                    c = F.col("c_orig")
                    c_lbl = F.least(
                        F.xxhash64(c), F.xxhash64(c + 1), F.xxhash64(c + 2)
                    )
                    pairs = sel.select(
                        "doc_a", F.xxhash64(c).alias("doc_b")
                    )
                    # min-label CC: a small new id can become the new
                    # cluster label (remapping the 3 members) — expected
                    # label is the min of both
                    expected_new = sel.select(
                        F.col("doc_a").alias("doc_id"),
                        F.least(c_lbl, F.col("doc_a")).alias(
                            "want_cluster"
                        ),
                    )
                else:
                    pairs = sel.select(
                        "doc_a", F.col("c_orig").alias("doc_b")
                    )
                    expected_new = sel.select(
                        F.col("doc_a").alias("doc_id"),
                        F.col("c_orig").alias("want_cluster"),
                    )
                t0 = time.perf_counter()
                changed = apply_label_pairs(spark, fold_dir, pairs)
                fold_sec = round(time.perf_counter() - t0, 2)
                assert changed, "fold reported no-op on a non-empty delta"

                # equality gate (untimed): N+K rows; every new doc labeled
                # with its target cluster's label (min-label convention)
                got = read_cluster_labels(spark, fold_dir)
                n_total = got.count()
                # join on doc_id (hashed existing ids can exceed N, so a
                # >=N filter would not isolate the new docs); wrong label
                # OR missing row both count as bad
                joined = got.join(expected_new, "doc_id").localCheckpoint(
                    eager=True
                )
                n_bad = (
                    joined.filter(
                        F.col("cluster_id") != F.col("want_cluster")
                    ).count()
                    + (k_touched - joined.count())
                )
                shutil.rmtree(fold_dir, ignore_errors=True)
                if n_total != n_labels + k_touched or n_bad:
                    raise SystemExit(
                        f"GATE FAILED n={n_labels} b={buckets} "
                        f"k={k_touched}: rows={n_total} "
                        f"(want {n_labels + k_touched}), bad_labels={n_bad}"
                    )
                exp_touched = (
                    None
                    if not buckets
                    else round(
                        buckets
                        * (1 - (1 - 1 / buckets) ** k_touched),
                        1,
                    )
                )
                row = {
                    "n_labels": n_labels,
                    "buckets": buckets,
                    "k_touched_clusters": k_touched,
                    "expected_touched_buckets": exp_touched,
                    "fold_sec": fold_sec,
                    "snapshot_build_sec": build_sec,
                    "gate": "equal",
                }
                results.append(row)
                print(json.dumps(row), flush=True)
            shutil.rmtree(build_dir, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "label_fold_crossover_sec",
                "cluster_size": 3,
                "grid": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
