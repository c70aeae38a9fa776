#!/usr/bin/env python
"""Time a query list across fixture scales — the 3-point exponent table
(VERDICT r05 next #1: sf0.1 -> sf1 -> sf10, two measured decades).

One decade of scaling can hide an O(n^2) behind fixed overheads; two
cannot: a plan that is secretly quadratic shows e ~= 2 on the second decade
even if overheads flattened the first. Prints one JSON line per (sf, query)
and a final summary with per-decade exponents e = log10(t_hi / t_lo).

Usage:
    python scripts/bench_multi_sf.py --sfs /root/testdata/sf0.1,/root/repo/.fixtures/sf1,/root/repo/.fixtures/sf10 \
        [--reps 3] [--queries q_a,q_b] [--out /tmp/multi_sf.json]

Timing = full action (count) on the query DataFrame, best-of-``reps``,
fresh per-sf first-run discarded implicitly by best-of. Single JVM for the
whole run (local[32], 16g — the compute heap a per-executor slice of a real
cluster would have; driver-memory fidelity is drive_contract's job, not the
bench's).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

#: the r5 exponent-table query set (SCALE.md:247-300) — headline suite
#: minus data-dependent-output dedup pair dumps, plus the graph family
DEFAULT_QUERIES = [
    "q_text_repeated_passages",
    "q_dedup_ngram_jaccard",
    "q_pipeline_curation",
    "q_dedup_minhash",
    "q_agg_heavy_hitters",
    "q_text_top_terms",
    "q_cdc_incr_agg",
    "q_ts_gapfill",
    "q_events_rolling_dau",
    "q_dedup_embedding",
    "q_events_transitions",
    "q_events_winsorize",
    "q_join_asof",
    "q_docs_decontaminate",
    "q_cdc_sessionize",
    "q_cdc_latest_state",
    "q_dedup_exact",
    "q_scan_filter",
    "q_pipeline_train_export",
    "q_docs_pack",
    "q_udaf_grouped",
    "q_join_multi",
    "q_text_tokens",
    "q_win_topk_pergroup",
    "q_recursive_tree",
    "q_sim_cosine_topk",
    "q_udf_pandas",
    "q_sim_ann_ivf",
    "q_agg_groupby",
    "q_listagg_per_group",
    "q_text_gopher_rules",
    "q_graph_pagerank",
    "q_graph_pagerank_directed",
    "q_multimodal_decode_jpeg",
    "q_basket_pairs",
    "q_text_bigram_lm",
    "q_text_lm_score",
    "q_orders_rfm",
    "q_events_cum_distinct",
    "q_tpch_q3",
    "q_events_cusum",
    "q_cdc_scd2",
    "q_tpch_q5",
    "q_tpch_q1",
    "q_tpch_q8",
    "q_tpch_q18",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sfs", required=True, help="comma-separated sf dirs, ascending scale")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from cdc_worker_spark.session import get_spark

    spark = get_spark(
        "bench-multi-sf",
        **{"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    names = args.queries.split(",") if args.queries else DEFAULT_QUERIES
    sf_dirs = args.sfs.split(",")
    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf_dir in sf_dirs:
        tag = os.path.basename(sf_dir.rstrip("/"))
        for name in names:
            best = None
            err = None
            for _ in range(args.reps):
                t0 = time.time()
                try:
                    qs[name](spark, sf_dir).count()
                except Exception as ex:  # noqa: BLE001 — record, keep benching
                    err = str(ex)[:160]
                    break
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            results[name][tag] = round(best, 3) if best is not None else None
            print(
                json.dumps({"sf": tag, "query": name, "sec": results[name][tag], "err": err}),
                flush=True,
            )
            import gc

            spark.catalog.clearCache()
            gc.collect()

    # per-decade exponents between consecutive sf dirs
    summary = {}
    tags = [os.path.basename(s.rstrip("/")) for s in sf_dirs]
    for name in names:
        row = {"sec": results[name]}
        exps = {}
        for lo, hi in zip(tags, tags[1:]):
            a, b = results[name].get(lo), results[name].get(hi)
            if a and b and a > 0:
                exps[f"{lo}->{hi}"] = round(math.log10(b / a), 2)
        row["e"] = exps
        summary[name] = row
    print(json.dumps({"summary": summary}))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=2)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
