#!/usr/bin/env python
"""Driver-format CORRECTNESS artifacts for registry windows beyond the
frozen first 50 (VERDICT r05 next #6).

The external driver's per-round CORRECTNESS_r{N}.json covers only the first
50 registry entries (frozen since r3 for round-over-round comparability),
which is now <30% of the registry. This reproduces the driver's harness
shape — a non-UTC session (the engine's, with ``--tz``; the vanilla
session is ``drive_contract.py``'s), DuckDB views over the same parquet,
per-query ``{rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}`` records, ``"err": "no_oracle"`` rows-only entries — over any
registry slice, so every query family has a driver-format artifact:

    python scripts/rotate_windows.py --start 50  --end 100 --out CORRECTNESS_r06_w2.json
    python scripts/rotate_windows.py --start 100 --end 150 --out CORRECTNESS_r06_w3.json
    python scripts/rotate_windows.py --start 150 --end 181 --out CORRECTNESS_r06_w4.json

hash_match here = order-insensitive full-value equality after sorting
columns by name (the driver hashes the same canonicalized values; equality
of every value implies equality of any hash of them).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def values_equal(x, y) -> bool:
    if x is None and y is None:
        return True
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) and math.isnan(y):
            return True
        return x == y or abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
    return x == y


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--start", type=int, default=None)
    ap.add_argument("--end", type=int, default=None)
    ap.add_argument(
        "--names",
        default=None,
        help="comma-separated query names (alternative to --start/--end "
        "for non-contiguous windows, e.g. late-round registry additions)",
    )
    ap.add_argument("--out", required=True)
    ap.add_argument("--tz", default="America/New_York")
    args = ap.parse_args()

    import duckdb

    from cdc_worker_spark.session import get_spark

    spark = get_spark(
        "rotate-windows",
        **{"spark.sql.session.timeZone": args.tz, "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    con = duckdb.connect()
    for t in TABLES.split():
        src = f"{args.sf}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs, osql = e.queries(), e.oracle_sql()
    if args.names:
        names = [n.strip() for n in args.names.split(",") if n.strip()]
    else:
        names = list(qs)[args.start : args.end]
    results: dict[str, dict] = {}
    n_bad = 0
    for name in names:
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            got = norm(qs[name](spark, args.sf).toPandas())
            rec["spark_rows"] = len(got)
            if name not in osql:
                rec["err"] = "no_oracle"
            else:
                want = norm(con.execute(osql[name]).df())
                rec["oracle_rows"] = len(want)
                rec["rows_match"] = len(got) == len(want)
                rec["schema_match"] = list(got.columns) == list(
                    want.columns
                ) and list(map(str, got.dtypes)) == list(map(str, want.dtypes))
                hm = rec["rows_match"] and rec["schema_match"]
                if hm:
                    for c in got.columns:
                        if not all(
                            values_equal(x, y)
                            for x, y in zip(got[c].tolist(), want[c].tolist())
                        ):
                            hm = False
                            break
                rec["hash_match"] = hm
                if not hm:
                    n_bad += 1
        except Exception as ex:  # noqa: BLE001 — record and continue
            rec["err"] = str(ex)[:300]
            n_bad += 1
        results[name] = rec
        status = rec["err"] or ("MATCH" if rec["hash_match"] else "MISMATCH")
        print(f"{name}: {status}", flush=True)
        import gc

        spark.catalog.clearCache()
        gc.collect()

    out: dict = {}
    if args.names is None and args.start is not None:
        # label the artifact with its registry range (VERDICT r06 "wrong"
        # #3: a reader must map artifact -> slice without a script). The
        # "_window" key is metadata, not a query record; 1-indexed
        # inclusive bounds over the CURRENT frozen registry order.
        out["_window"] = {
            "registry_slice": [args.start + 1, args.start + len(names)],
            "registry_total": len(qs),
            "sf": args.sf,
        }
    out.update(results)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(f"wrote {args.out}: {len(results)} queries, {n_bad} bad")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
