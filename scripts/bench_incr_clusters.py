#!/usr/bin/env python
"""Delta maintenance vs full recompute of near-dup CLUSTER LABELS
(VERDICT r07 next #6 "Done" criterion: a bench line showing delta label
maintenance beats the batch connected-components recompute at sf10).

Scenario: labels + the dedup index for 90% of docs are MATERIALIZED (the
steady state of a deployed corpus); 10% of docs arrive as the delta.
  full  = connected_components(minhash_pairs(all docs))       (what a
          non-incremental deployment pays every refresh)
  delta = delta_near_pairs(index, delta) + extend_dedup_clusters
          (what the incremental deployment pays)
Both label tables are asserted EQUAL before timing is reported — a fast
wrong answer is not a result. The one-time base build (labels + index) is
reported separately (migration price, not steady state).

    python scripts/bench_incr_clusters.py --sf-dir /root/repo/.fixtures/sf10
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
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--driver-mem", default="16g")
    args = ap.parse_args()

    from cdc_worker_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("bench-incr-clusters", **{"spark.driver.memory": args.driver_mem})
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_worker_spark.operators.cluster_incr import (
        DELTA_MOD,
        DELTA_REM,
        delta_near_pairs,
        extend_dedup_clusters,
    )
    from cdc_worker_spark.operators.dedup import (
        connected_components,
        minhash_pairs,
    )
    from cdc_worker_spark.operators.dedup_index import build_dedup_index
    from cdc_worker_spark.sources.tables import load_table

    docs = load_table(spark, args.sf_dir, "documents")
    is_delta = F.pmod(F.col("doc_id"), F.lit(DELTA_MOD)) == DELTA_REM
    base, delta = docs.filter(~is_delta), docs.filter(is_delta)

    workdir = tempfile.mkdtemp(prefix="bench_incr_clusters_")
    idx_path = f"{workdir}/index"
    lbl_path = f"{workdir}/base_labels.parquet"
    t0 = time.perf_counter()
    build_dedup_index(base, idx_path)
    connected_components(minhash_pairs(base)).write.mode("overwrite").parquet(
        lbl_path
    )
    base_build_sec = round(time.perf_counter() - t0, 3)

    def run_full():
        return connected_components(minhash_pairs(docs))

    def run_delta():
        stored = spark.read.parquet(lbl_path)
        pairs = delta_near_pairs(spark, idx_path, docs, delta)
        return extend_dedup_clusters(stored, pairs)

    # equality gate FIRST: a fast wrong answer is not a benchmark result
    full_set = {(r["doc_id"], r["cluster_id"]) for r in run_full().collect()}
    incr_set = {(r["doc_id"], r["cluster_id"]) for r in run_delta().collect()}
    if full_set != incr_set:
        raise SystemExit(
            f"incremental != batch: {len(incr_set ^ full_set)} differing rows"
        )

    def timed(make) -> float:
        best = None
        for _ in range(args.reps):
            t0 = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            best = el if best is None or el < best else best
        return round(best, 3)

    full_sec = timed(run_full)
    delta_sec = timed(run_delta)

    print(
        json.dumps(
            {
                "metric": "cluster_label_refresh_sec",
                "sf_dir": args.sf_dir,
                "reps": args.reps,
                "labels_equal": True,
                "n_labeled_docs": len(full_set),
                "full_recompute_sec": full_sec,
                "delta_maintenance_sec": delta_sec,
                "speedup": round(full_sec / delta_sec, 2) if delta_sec else None,
                "base_build_once_sec": base_build_sec,
                "delta_share": f"1/{DELTA_MOD} of docs",
            }
        )
    )
    shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
