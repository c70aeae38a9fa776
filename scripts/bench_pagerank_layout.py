#!/usr/bin/env python
"""Measure what the src-bucketed edge layout buys PageRank (VERDICT r05
next #4, wall-time half): plain pagerank(edges) re-derives and re-shuffles
the edge table into every src-keyed iteration join; pagerank_bucketed pays
a one-time bucketBy(src) write, after which every iteration reads the
bucketed scan with ZERO edge-side exchanges. This prints both wall times
plus the layout build cost, at any fixture scale:

    python scripts/bench_pagerank_layout.py --sf /root/repo/.fixtures/sf1

The honest accounting is {build_once, then iterate}: at 100 TB the edge
table is written once and ranked many times (and re-ranked on refresh), so
the figure that matters is the per-run time against the layout.
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


def copurchase_edges(spark, sf_dir: str):
    """Same edge derivation as q_graph_pagerank (graph.py)."""
    from pyspark.sql import functions as F

    from cdc_worker_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )
    pair_arr = F.flatten(
        F.transform(
            "parts",
            lambda x: F.filter(
                F.transform(
                    "parts",
                    lambda y: F.when(
                        x != y, F.struct(x.alias("src"), y.alias("dst"))
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )
    return (
        per_order.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--iters", type=int, default=10)
    args = ap.parse_args()

    from cdc_worker_spark.session import get_spark

    spark = get_spark("pagerank-layout-bench", **{"spark.driver.memory": "16g"})
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_worker_spark.operators.graph import pagerank, pagerank_bucketed

    out: dict = {"sf": args.sf, "iters": args.iters}

    # edge materialization is common to both paths: checkpoint it so the
    # plain run doesn't re-pay pair expansion per iteration branch
    t0 = time.time()
    edges = copurchase_edges(spark, args.sf).localCheckpoint()
    out["n_edges"] = edges.count()
    out["edge_derive_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    n = pagerank(edges, iters=args.iters).count()
    out["plain_sec"] = round(time.time() - t0, 3)
    out["n_nodes"] = n

    tmp = tempfile.mkdtemp(prefix="pr_bucketed_")
    try:
        t0 = time.time()
        ranks = pagerank_bucketed(
            spark, edges, "pr_bench_edges", tmp, iters=args.iters
        )
        # write_bucketed runs inside pagerank_bucketed; split build vs run
        # by timing a SECOND ranking pass against the already-written table
        n2 = ranks.count()
        out["bucketed_first_run_sec"] = round(time.time() - t0, 3)
        assert n2 == n, (n, n2)

        from cdc_worker_spark.operators.graph import _PR_DAMPING, _power_iterate
        from cdc_worker_spark.plans.checkpoints import disk_checkpoint

        ce = spark.table("pr_bench_edges")
        t0 = time.time()
        # steady-state: pagerank_bucketed's own loop against the existing
        # layout only (no bucketed write)
        ranks = _power_iterate(
            ce, lambda r: disk_checkpoint(r, "prb-ranks"), _PR_DAMPING, args.iters
        )
        assert ranks.count() == n
        out["bucketed_steady_run_sec"] = round(time.time() - t0, 3)
        out["layout_build_sec"] = round(
            out["bucketed_first_run_sec"] - out["bucketed_steady_run_sec"], 3
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS pr_bench_edges")
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
