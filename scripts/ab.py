#!/usr/bin/env python
"""Interleaved A/B of Spark confs over headline queries.

Each arm is a name plus ``--conf key=value`` pairs that go to ``get_spark``.
Every (round, arm) runs in a fresh JVM, so static confs such as
``spark.io.compression.codec`` or ``spark.driver.memory`` apply too. The arm
order is reversed every other round (A B, B A, A B, ...), so drift on the
box falls on both arms alike.

    python scripts/ab.py --arm p8 --conf spark.sql.shuffle.partitions=8 \\
        --arm p32 --conf spark.sql.shuffle.partitions=32 \\
        --sf-dir DIR [--rounds 3] [--queries q_a,q_b] [--out ab.json]

A child runs every query once untimed at ``--sf-dir`` (codegen, Python
workers, parquet footers, memoised state such as the IVF centroids), then
times one pass of the queries to a noop sink. ``shuffle_write_bytes`` is what
the timed pass wrote: the executors' total after it minus a snapshot taken
after the warm-up. Cores come from ``SPARK_GRAFT_CPUS``; the driver heap is
``SPARK_GRAFT_DRIVER_MEM`` (default 16g) unless an arm sets
``spark.driver.memory``.

The JSON (``--out``, else stdout) holds the arms, one record per (round,
arm) with per-query seconds, the pass total and the shuffle bytes, and per
arm the median pass total over the rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import statistics
import subprocess
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE  # noqa: E402

#: marks the child's result line on its stdout
RESULT = "AB_RESULT "


class _Arm(argparse.Action):
    """``--arm NAME`` opens an arm; each following ``--conf k=v`` joins it."""

    def __call__(self, parser, ns, value, option_string=None):
        arms = ns.arms if ns.arms is not None else {}
        if option_string == "--arm":
            if value in arms:
                parser.error(f"arm {value!r} given twice")
            arms[value] = {}
        else:
            key, sep, v = value.partition("=")
            if not arms or not sep or not key:
                parser.error(f"--conf {value!r}: want key=value after an --arm")
            arms[next(reversed(arms))][key] = v
        ns.arms = arms


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--arm", dest="arms", action=_Arm, required=True, metavar="NAME")
    ap.add_argument("--conf", dest="arms", action=_Arm, metavar="KEY=VALUE")
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    if len(args.arms) < 2:
        ap.error("an A/B needs at least two arms")
    args.queries = [q for q in args.queries.split(",") if q]
    return args


def child(spec: str) -> None:
    """One arm in this process's own JVM; prints its result line."""
    from cdc_worker_spark.plans import all_queries
    from cdc_worker_spark.session import get_spark

    job = json.loads(spec)
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark(f"ab-{job['arm']}", **{"spark.driver.memory": heap, **job["conf"]})
    spark.sparkContext.setLogLevel("ERROR")
    jsc = spark._jsparkSession.sparkContext()

    def shuffle_written() -> int:
        jsc.listenerBus().waitUntilEmpty()
        execs = jsc.statusStore().executorList(False)
        return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))

    qs = all_queries()

    def run(name: str) -> None:
        qs[name](spark, job["sf_dir"]).write.format("noop").mode("overwrite").save()

    for name in job["queries"]:
        run(name)
    before = shuffle_written()
    times = {}
    for name in job["queries"]:
        t0 = time.perf_counter()
        run(name)
        times[name] = round(time.perf_counter() - t0, 3)
    result = {"queries": times, "shuffle_write_bytes": shuffle_written() - before}
    print(RESULT + json.dumps(result))
    spark.stop()


def run_child(arm: str, conf: dict[str, str], queries: list[str], sf_dir: str) -> dict:
    """Run one arm in a fresh Python + JVM and return its result."""
    spec = json.dumps({"arm": arm, "conf": conf, "queries": queries, "sf_dir": sf_dir})
    code = "import sys; from scripts import ab; ab.child(sys.argv[1])"
    # the child and its Python workers import the engine by name
    path = os.pathsep.join(x for x in (str(REPO), os.environ.get("PYTHONPATH")) if x)
    p = subprocess.run(
        [sys.executable, "-c", code, spec],
        capture_output=True, text=True, timeout=3600, env=dict(os.environ, PYTHONPATH=path),
    )
    for line in p.stdout.splitlines():
        if line.startswith(RESULT):
            return json.loads(line[len(RESULT):])
    raise RuntimeError(
        f"arm {arm}: no result (exit {p.returncode}); stderr tail:\n{p.stderr[-2000:]}"
    )


def run_ab(
    arms: dict[str, dict[str, str]],
    queries: list[str],
    sf_dir: str,
    rounds: int,
    runner=run_child,
) -> dict:
    """Every arm once per round, the order reversed every other round."""
    names = list(arms)
    records = []
    for r in range(rounds):
        for arm in names if r % 2 == 0 else names[::-1]:
            res = runner(arm, arms[arm], queries, sf_dir)
            total = round(sum(res["queries"].values()), 3)
            records.append({"round": r, "arm": arm, "total_sec": total, **res})
            mb = res["shuffle_write_bytes"] / 1e6
            print(f"round {r} {arm}: {total:.2f} s, shuffle {mb:.1f} MB", file=sys.stderr)
    return {
        "sf_dir": sf_dir,
        "queries": queries,
        "arms": arms,
        "rounds": records,
        "median_total_sec": {
            a: round(statistics.median(x["total_sec"] for x in records if x["arm"] == a), 3)
            for a in names
        },
    }


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    out = run_ab(args.arms, args.queries, args.sf_dir, args.rounds)
    text = json.dumps(out, indent=2)
    if args.out:
        pathlib.Path(args.out).write_text(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
