"""Command-line front door: list, run, explain, or show the oracle of any
registered query — the interface a user switching from the reference's CLI
invocations gets.

    python -m cdc_worker_spark list [--filter text]
    python -m cdc_worker_spark run q_cdc_latest_state --sf /root/testdata/sf0.001 [--limit 20]
    python -m cdc_worker_spark explain q_join_multi [--sf DIR]
    python -m cdc_worker_spark oracle q_agg_groupby

`run` prints the result as CSV-ish rows (bounded by --limit); `explain`
prints the formatted physical plan (the thing SCALE.md's claims are about).
"""

from __future__ import annotations

import argparse
import sys


def _spark():
    from cdc_worker_spark.session import get_spark

    s = get_spark("cdc-worker-spark-cli")
    s.sparkContext.setLogLevel("ERROR")
    return s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cdc_worker_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("--filter", default="", help="substring filter")

    p_run = sub.add_parser("run", help="run a query and print rows")
    p_run.add_argument("query")
    p_run.add_argument("--sf", default="/root/testdata/sf0.001")
    p_run.add_argument("--limit", type=int, default=20)

    p_exp = sub.add_parser("explain", help="print the formatted physical plan")
    p_exp.add_argument("query")
    p_exp.add_argument("--sf", default="/root/testdata/sf0.001")

    p_orc = sub.add_parser("oracle", help="print the DuckDB oracle SQL")
    p_orc.add_argument("query")

    args = ap.parse_args(argv)

    from cdc_worker_spark.plans import all_oracles, all_queries

    qs = all_queries()

    if args.cmd == "list":
        oracles = all_oracles()
        for name in sorted(qs):
            if args.filter in name:
                tag = "oracle" if name in oracles else "rows-only"
                print(f"{name}  [{tag}]")
        return 0

    if args.cmd == "oracle":
        sql = all_oracles().get(args.query)
        if sql is None:
            print(f"{args.query}: rows-only (no oracle)", file=sys.stderr)
            return 1
        print(sql.strip())
        return 0

    if args.query not in qs:
        print(f"unknown query {args.query!r}; try `list`", file=sys.stderr)
        return 2

    spark = _spark()
    try:
        df = qs[args.query](spark, args.sf)
        if args.cmd == "explain":
            qe = df._jdf.queryExecution()
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            print(qe.explainString(mode))
        else:
            rows = df.limit(args.limit).collect()
            print("\t".join(df.columns))
            for r in rows:
                print("\t".join(str(v) for v in r))
            print(f"({len(rows)} row(s) shown, limit {args.limit})")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
