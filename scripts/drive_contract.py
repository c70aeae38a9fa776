#!/usr/bin/env python
"""Drive the public driver contract end-to-end, as the external driver would.

Vanilla SparkSession (deliberately hostile: non-UTC timezone, no engine
configs), import __spark_entry__, run entry() + every queries() entry and
compare against oracle_sql() via DuckDB. Non-zero exit on any mismatch.
"""

from __future__ import annotations

import argparse
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


def _type_tag(v) -> str:
    """Coarse type fingerprint for the streamed compare's schema check
    (the collected path compares pandas dtypes; this is the row-level
    twin: bigint vs double vs decimal vs string mismatches must fail)."""
    import datetime
    import decimal

    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, (list, tuple)):
        return "array"
    return type(v).__name__


def _as_ts(v):
    """date -> midnight datetime, mirroring pandas' datetime64 coercion in
    the collected path (DuckDB DATE and Spark date_trunc TIMESTAMP must
    compare equal, as they do there)."""
    import datetime

    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime(v.year, v.month, v.day)
    return v


def stream_compare(sdf, con, sql, chunk_rows: int = 8192):
    """Bounded-memory result compare (VERDICT r05 next #5): both engines
    emit their result in ONE canonical sort order (all columns asc, nulls
    first — Spark's asc default, pinned on the DuckDB session) and the
    driver merge-compares row pairs as they stream: Spark partitions
    arrive one at a time via toLocalIterator (the sort is distributed;
    the driver never holds the result), DuckDB pages via fetchmany. Same
    verdict semantics as the collected path — column names, row count,
    value equality under the 1e-9 relative tolerance, plus a per-value
    type fingerprint standing in for the dtype check — at O(partition)
    driver memory instead of O(result), so the sf1/sf10 sweeps run in the
    vanilla 1 GB driver."""
    cols = sorted(sdf.columns)
    res = con.execute(f"SELECT * FROM ({sql}) AS oracle_probe LIMIT 0")
    ocols = sorted(d[0] for d in res.description)
    if cols != ocols:
        return False, 0, f"columns {cols} != {ocols}"
    quoted = ", ".join(f'"{c}"' for c in cols)
    order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(cols)))
    cur = con.execute(
        f"SELECT {quoted} FROM ({sql}) AS oracle_q ORDER BY {order}"
    )
    # LTZ timestamps: toPandas renders session-tz wall time but
    # toLocalIterator renders SYSTEM-tz — cast to NTZ (session-tz wall
    # time) so the streamed path sees what the collected path saw.
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    sel = [
        F.col(c).cast("timestamp_ntz").alias(c)
        if isinstance(sdf.schema[c].dataType, TimestampType)
        else F.col(c)
        for c in cols
    ]
    sit = sdf.select(*sel).sort(*cols).toLocalIterator()
    n = 0
    while True:
        batch = cur.fetchmany(chunk_rows)
        if not batch:
            break
        for orow in batch:
            try:
                srow = next(sit)
            except StopIteration:
                return False, n, f"spark exhausted at oracle row {n}"
            # every row, not a prefix (ADVICE r6): a dtype split that first
            # appears past the head (int/float across groups) must fail here
            # exactly as the collected path's whole-column dtype check would
            for c, x, y in zip(cols, tuple(srow), orow):
                if x is not None and y is not None:
                    tx, ty = _type_tag(x), _type_tag(y)
                    # int/decimal and date/timestamp pairs coerce equal in
                    # the collected path's pandas frames — same verdict here
                    if tx != ty and {tx, ty} not in (
                        {"int", "decimal"},
                        {"date", "timestamp"},
                    ):
                        return False, n, f"type {c}: {tx} != {ty}"
            for c, x, y in zip(cols, tuple(srow), orow):
                if not values_equal(_as_ts(x), _as_ts(y)):
                    return False, n, f"value {c}: {x!r} != {y!r} at row {n}"
            n += 1
    try:
        next(sit)
        return False, n, f"oracle exhausted at spark row {n}"
    except StopIteration:
        pass
    return True, n, None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--tz", default="America/New_York")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--start-after",
        default=None,
        help="skip queries up to and including this name (resume a sweep "
        "after an infrastructure failure without repeating hours of "
        "already-green queries)",
    )
    ap.add_argument(
        "--hash-mode",
        choices=("collected", "streamed"),
        default="collected",
        help="collected: full toPandas + sort on the driver (byte-faithful "
        "to the external driver harness). streamed: distributed sort + "
        "toLocalIterator/fetchmany merge-compare — O(partition) driver "
        "memory, runs sf1/sf10 in the vanilla 1g driver.",
    )
    ap.add_argument(
        "--cpus",
        type=int,
        default=8,
        help="local[N] worker threads. 8 = the external driver's shape; "
        "the sf10 sweep raises it (correctness is thread-count-invariant; "
        "wall-clock is not).",
    )
    ap.add_argument(
        "--driver-mem",
        default=None,
        help="driver heap (e.g. 8g). Default: Spark's vanilla 1g — the "
        "external contract fidelity setting. Only the collected hash "
        "mode needs more at sf>=1 (it collects full result sets); "
        "--hash-mode streamed runs any sf in the default heap.",
    )
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    # not get_spark: this session stands in for the external driver's own
    builder = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("drive-contract")
        .config("spark.sql.session.timeZone", args.tz)
    )
    if args.driver_mem:
        builder = builder.config("spark.driver.memory", args.driver_mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    edf = e.entry(spark)
    n_entry = edf.count()
    print(f"entry(): rows={n_entry} schema={edf.schema.simpleString()}")
    assert n_entry > 0, "entry() returned no rows"

    con = duckdb.connect()
    # an in-memory DuckDB has NO temp spill path, so any blocking operator
    # that exceeds the memory limit hard-fails instead of offloading
    # ("Failed to allocate block" on the sf10 levenshtein oracle); give it
    # one, and a cap that coexists with the Spark JVM on the same box
    import tempfile

    con.execute(
        f"SET temp_directory='{tempfile.gettempdir()}/duckdb_spill_contract'"
    )
    # cap low enough to coexist with the Spark JVM, high enough that the
    # sf10 window oracles don't have to spill their whole working set (the
    # tmpfs budget here is smaller than the memory budget)
    con.execute("SET memory_limit='56GB'")
    if args.hash_mode == "streamed":
        # match Spark's asc-sort convention (nulls first) for the merge
        con.execute("SET default_null_order='nulls_first'")
    for t in TABLES.split():
        # driver fixtures are single files; Spark-written fixtures (e.g. the
        # sf1 scale set from scripts/make_sf1.py) are directories of parts
        src = f"{args.sf}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs, osql = e.queries(), e.oracle_sql()
    names = args.only.split(",") if args.only else sorted(qs)
    if args.start_after:
        names = names[names.index(args.start_after) + 1 :]
    fails = []
    for name in names:
        try:
            if args.hash_mode == "streamed":
                sdf = qs[name](spark, args.sf)
                if name not in osql:
                    print(f"{name}: rows-only, rows={sdf.count()} OK")
                    continue
                ok, n, why = stream_compare(sdf, con, osql[name])
                if not ok:
                    fails.append(name)
                print(
                    f"{name}: rows={n} "
                    f"{'MATCH' if ok else 'MISMATCH (' + str(why) + ')'}"
                )
                continue
            got = norm(qs[name](spark, args.sf).toPandas())
            if name not in osql:
                print(f"{name}: rows-only, rows={len(got)} OK")
                continue
            want = norm(con.execute(osql[name]).df())
            ok = (
                list(got.columns) == list(want.columns)
                and len(got) == len(want)
                and list(map(str, got.dtypes)) == list(map(str, want.dtypes))
            )
            if ok:
                for c in got.columns:
                    if not all(
                        values_equal(x, y) for x, y in zip(got[c].tolist(), want[c].tolist())
                    ):
                        ok = False
                        break
            if not ok:
                fails.append(name)
            print(f"{name}: rows={len(got)} {'MATCH' if ok else 'MISMATCH'}")
        except Exception as ex:  # noqa: BLE001 — report and continue the sweep
            fails.append(name)
            print(f"{name}: ERROR {str(ex)[:160]}")
        finally:
            # drop per-query block-manager state (localCheckpoint RDDs,
            # caches) before the next query: at sf>=1 in the vanilla 1g
            # driver ~90 queries' worth of lingering blocks otherwise
            # accumulate until the JVM dies mid-sweep (ContextCleaner
            # only fires on Python GC of the DataFrame refs)
            import gc

            spark.catalog.clearCache()
            gc.collect()
    print("FAILED:", fails if fails else "none")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
