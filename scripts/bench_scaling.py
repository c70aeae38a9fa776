#!/usr/bin/env python
"""Scaling experiment: the same queries at 1x/2x/4x/8x of sf0.1.

Builds key-shifted unions of the sf0.1 fixtures under a temp dir (each copy
offsets its join/entity keys, so join fan-outs and per-entity cardinalities
stay realistic — the data grows, the distributions don't degenerate), then
times representative queries at each scale and prints measured scaling
factors. The claim under test: the plans are linear-ish in input size —
shuffles carry aggregates/keys (not rescans), so 8x data costs ~8x work
spread over the same cores, NOT 8x wall on a big enough cluster; on a fixed
local[32] box wall growth should track data growth without superlinear
blowups.

Queries with data-DEPENDENT output volume (dedup candidate pairs explode if
you clone identical texts) are excluded by design; their scale story is the
bucketed plan shape asserted in tests/test_plans.py.

Usage: python scripts/bench_scaling.py [--scales 1,2,4,8]
Prints one JSON line per scale plus a final summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

BASE_SF = "/root/testdata/sf0.1"

#: queries timed at each scale (shuffle-heavy, output size ~input-proportional
#: or group-bounded)
QUERIES = [
    "q_agg_groupby",
    "q_join_multi",
    "q_cdc_latest_state",
    "q_win_topk_pergroup",
    "q_ts_gapfill",
]

#: per-table key columns shifted per copy so each copy is a disjoint
#: self-consistent shard (joins match within a copy, entities are new)
KEY_SHIFTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # dims stay as-is: every shard shares them (realistic star schema)
    "region": [],
    "nation": [],
    "supplier": [],
    "part": [],
}

#: key offset between copies — far above any base key at sf0.1
COPY_STRIDE = 100_000_000


def build_scaled(spark, factor: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from cdc_worker_spark.sources.tables import TABLES, load_table

    for name in TABLES:
        base = load_table(spark, BASE_SF, name)
        shifts = KEY_SHIFTS[name]
        parts = []
        for i in range(factor if shifts else 1):
            df = base
            for col in shifts:
                df = df.withColumn(
                    col, (F.col(col) + F.lit(i * COPY_STRIDE)).cast("long")
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        n_files = max(1, min(32, (out.count() + 49_999) // 50_000))
        out.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,2,4,8")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from cdc_worker_spark.session import get_spark

    spark = get_spark(
        "cdc-worker-spark-scaling",
        **{"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_worker_spark.plans import all_queries

    qs = all_queries()
    work = tempfile.mkdtemp(prefix="scaling_")
    results: dict[int, dict[str, float]] = {}
    try:
        for factor in scales:
            sdir = os.path.join(work, f"x{factor}")
            build_scaled(spark, factor, sdir)
            # warmup pass (codegen + footers), then best-of-2
            for name in QUERIES:
                qs[name](spark, sdir).write.format("noop").mode("overwrite").save()
            t: dict[str, float] = {}
            for _ in range(2):
                for name in QUERIES:
                    t0 = time.perf_counter()
                    qs[name](spark, sdir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    el = round(time.perf_counter() - t0, 3)
                    if name not in t or el < t[name]:
                        t[name] = el
            results[factor] = t
            print(json.dumps({"scale": factor, "queries": t}), flush=True)
            shutil.rmtree(sdir, ignore_errors=True)
        base = results[scales[0]]
        summary = {
            name: {
                f"x{f}": round(results[f][name] / base[name], 2)
                for f in scales
            }
            for name in QUERIES
        }
        print(json.dumps({"metric": "wall_vs_1x", "summary": summary}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
