#!/usr/bin/env python
"""Delta-maintenance vs full re-derivation of the co-purchase count table
(VERDICT r06 next #3 "Done" criterion: a bench line showing the monoid
merge beats re-deriving from the full fact table at sf10).

Scenario: the count table for 90% of orders is MATERIALIZED (the steady
state of a deployed graph layout); 10% of orders arrive as the delta.
  full  = copurchase_pair_counts(all lineitem)            (what a
          non-incremental deployment pays every refresh)
  delta = extend_copurchase_edges(stored counts, delta li) (what the
          incremental deployment pays)
Both run to a noop sink, best-of-N. The one-time base build cost is
reported separately (it is the migration price, not the steady state).

    python scripts/bench_incr_edges.py --sf-dir /root/repo/.fixtures/sf10
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

    spark = get_spark("bench-incr-edges", **{"spark.driver.memory": args.driver_mem})
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_worker_spark.operators.graph import copurchase_pair_counts
    from cdc_worker_spark.operators.graph_incr import (
        DELTA_MOD,
        DELTA_REM,
        extend_copurchase_edges,
    )
    from cdc_worker_spark.sources.tables import load_table

    li = load_table(spark, args.sf_dir, "lineitem")
    is_delta = F.pmod(F.col("l_orderkey"), F.lit(DELTA_MOD)) == DELTA_REM

    workdir = tempfile.mkdtemp(prefix="bench_incr_edges_")
    base_path = f"{workdir}/base_counts.parquet"
    t0 = time.perf_counter()
    copurchase_pair_counts(li.filter(~is_delta)).write.mode(
        "overwrite"
    ).parquet(base_path)
    base_build_sec = round(time.perf_counter() - t0, 3)

    def timed(df) -> float:
        best = None
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            best = el if best is None or el < best else best
        return round(best, 3)

    full_sec = timed(copurchase_pair_counts(li))
    stored = spark.read.parquet(base_path)
    delta_sec = timed(extend_copurchase_edges(stored, li.filter(is_delta)))

    print(
        json.dumps(
            {
                "metric": "copurchase_refresh_sec",
                "sf_dir": args.sf_dir,
                "reps": args.reps,
                "full_rederive_sec": full_sec,
                "delta_maintenance_sec": delta_sec,
                "speedup": round(full_sec / delta_sec, 2) if delta_sec else None,
                "base_build_once_sec": base_build_sec,
                "delta_share": f"1/{DELTA_MOD} of orders",
            }
        )
    )
    shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
