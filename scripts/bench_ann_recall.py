#!/usr/bin/env python
"""ANN recall at scale (VERDICT r07 next #7): recall-vs-nprobe for the IVF
index probe and the IVF-PQ (ADC + re-rank) path at sf10, against exact
brute-force cosine top-k on a sampled query set.

The fixture-scale recall gates (tests/test_similarity_recall.py,
tests/test_traindata.py) prove mechanics; centroid quality and probe
counts behave differently at 200k+ vectors — this sweep measures that and
its table lands in SCALE.md §r8.

    python scripts/bench_ann_recall.py --sf-dir /root/repo/.fixtures/sf10
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/repo/.fixtures/sf10")
    ap.add_argument("--n-queries", type=int, default=32)
    ap.add_argument("--topk", type=int, default=10)
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument(
        "--pq-m", type=int, default=None,
        help="PQ subspace count (default: the registered query's PQ_M=4; "
        "the planted sf10p sweep uses 8 — see test_similarity_recall's "
        "planted gate for why the demo-scale codebook can't resolve "
        "micro neighborhoods)",
    )
    ap.add_argument("--pq-k", type=int, default=None,
                    help="PQ codes per subspace (default PQ_K=16)")
    args = ap.parse_args()

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cdc_worker_spark.session import get_spark

    spark = get_spark("bench-ann-recall", **{"spark.driver.memory": args.driver_mem})
    spark.sparkContext.setLogLevel("ERROR")

    import os

    from cdc_worker_spark.operators.dedup import with_double_vec
    from cdc_worker_spark.operators.ivf import (
        build_ivf_index,
        probe_ivf_index_batch,
    )
    from cdc_worker_spark.operators.similarity import _IVF_K, dot_col
    from cdc_worker_spark.operators.traindata import ivfpq_topk
    from cdc_worker_spark.sources.tables import load_table

    k = args.topk
    emb = with_double_vec(load_table(spark, args.sf_dir, "embeddings"))
    n_vec = emb.count()
    q_max = args.n_queries
    queries = emb.filter(F.col("vec_id") < q_max).localCheckpoint(eager=True)

    # exact ground truth: brute-force cosine top-k per sampled query
    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("dv").alias("q_dv"),
        F.col("nrm").alias("q_nrm"),
    )
    cv = emb.select(
        F.col("vec_id").alias("c_id"), F.col("dv").alias("c_dv"),
        F.col("nrm").alias("c_nrm"),
    )
    cos = dot_col(F.col("q_dv"), F.col("c_dv")) / (
        F.sqrt(F.col("q_nrm")) * F.sqrt(F.col("c_nrm"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "c_id")
    truth_df = (
        F.broadcast(qv)
        .join(cv, F.col("q_id") != F.col("c_id"))
        .withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "c_id")
    )
    t0 = time.perf_counter()
    truth: dict[int, set] = {}
    for r in truth_df.collect():
        truth.setdefault(r["q_id"], set()).add(r["c_id"])
    brute_sec = round(time.perf_counter() - t0, 2)

    def recall(df) -> float:
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r["q_id"], set()).add(r["c_id"])
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return round(hits / sum(len(t) for t in truth.values()), 4)

    workdir = tempfile.mkdtemp(prefix="bench_ann_recall_")
    idx_path = f"{workdir}/ivf"
    build_ivf_index(emb, idx_path)
    emb_path = os.path.join(args.sf_dir, "embeddings.parquet")

    rows = []
    for nprobe in (1, 2, 4, 8, _IVF_K):
        t0 = time.perf_counter()
        r_ivf = recall(
            probe_ivf_index_batch(spark, idx_path, queries, nprobe=nprobe, topk=k)
        )
        t_ivf = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        r_pq = recall(
            ivfpq_topk(
                spark, emb, emb_path, q_max_id=q_max, nprobe=nprobe,
                shortlist=4 * k, topk=k, pq_m=args.pq_m, pq_k=args.pq_k,
            )
        )
        t_pq = round(time.perf_counter() - t0, 2)
        rows.append(
            {
                "nprobe": nprobe,
                "ivf_recall": r_ivf,
                "ivf_sec": t_ivf,
                "ivfpq_recall": r_pq,
                "ivfpq_sec": t_pq,
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    print(
        json.dumps(
            {
                "metric": "ann_recall_at_k",
                "sf_dir": args.sf_dir,
                "n_vectors": n_vec,
                "n_queries": q_max,
                "k": k,
                "ivf_centroids": _IVF_K,
                "ivfpq_shortlist": 4 * k,
                "pq_m": args.pq_m,
                "pq_k": args.pq_k,
                "brute_force_sec": brute_sec,
                "curve": rows,
            }
        )
    )
    shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
