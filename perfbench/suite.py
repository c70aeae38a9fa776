"""``query_suite``: closed-loop passes over headline queries.

A fixed slice of ``bench.HEADLINE`` with one query per operator family the
benchmark tracks, run over the sf0.01 fixtures shipped in ``perfbench/data``,
each into a noop sink, in an order drawn from the seed. Memoised builds make
a query's first run differ from later ones, so one untimed pass is part of
set-up; it collects every query's result and checks it against the
fingerprint recorded at the seed commit. Timed passes then repeat until the
measurement time is used up, and the suite time is their median.

    python3 perfbench/suite.py --record   # re-record perfbench/fingerprints.json
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import sys
import time
import traceback
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

#: one query per operator family; the whole headline suite takes ~45 s a
#: pass at sf0.01 on 4 cores, too long to repeat inside one run
QUERIES = (
    "q_scan_filter",
    "q_agg_groupby",
    "q_cdc_latest_state",
    "q_dedup_ngram_jaccard",
    "q_udf_pandas",
    "q_multimodal_decode_jpeg",
    "q_graph_pagerank",
    "q_tpch_q1",
)


def _norm(v):
    """Canonical form of a result value: floats to 9 significant digits
    (aggregation order may move the last bits), containers recursively."""
    if isinstance(v, float):
        return "nan" if v != v else float(f"{v:.9g}") + 0.0
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def fingerprint(rows) -> dict:
    """Row count and an order-insensitive hash of the collected rows' values."""
    total, n = 0, 0
    for row in rows:
        digest = hashlib.blake2b(repr(_norm(tuple(row))).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "big")) % (1 << 64)
        n += 1
    return {"rows": n, "hash": f"{total:016x}"}


def specs() -> dict:
    """Registry entries of the suite's queries, checked against the headline
    list so a renamed or dropped headline query fails loudly."""
    import bench
    from cdc_worker_spark.plans import REGISTRY, all_queries

    all_queries()
    missing = [q for q in QUERIES if q not in bench.HEADLINE or q not in REGISTRY]
    if missing:
        raise KeyError(f"not headline queries in the registry: {missing}")
    return {q: REGISTRY[q] for q in QUERIES}


def layer(spec) -> str:
    """Per-layer metric prefix: the defining module without the package,
    e.g. ``operators.graph``."""
    return spec.module.removeprefix("cdc_worker_spark.")


def _mismatch(name: str, spec, got: dict, want: dict) -> int:
    """1 if ``got`` differs from the recorded fingerprint; queries without
    an oracle in the registry (approximate or randomised results) compare
    their row count only."""
    if got["rows"] == want["rows"] and (spec.oracle is None or got["hash"] == want["hash"]):
        return 0
    print(f"query_suite mismatch: {name} expected {want} got {got}", file=sys.stderr)
    return 1


def _execute(spark, spec) -> None:
    spec.builder(spark, DATA).write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    from perfbench.harness import Section

    spark, tracer = ctx.spark, ctx.tracer
    qs = specs()
    with open(FINGERPRINTS) as f:
        expected = json.load(f)
    rng = random.Random(ctx.seed)
    sc = spark.sparkContext
    failed, attempted = 0, 0

    def one_pass(tag: str, check: bool = False) -> tuple[float, dict[str, float]]:
        """Every query once, in seed order; with ``check`` each result is
        collected and compared with its fingerprint instead of written to
        the noop sink."""
        nonlocal failed, attempted
        order = list(QUERIES)
        rng.shuffle(order)
        times = {}
        t_pass = time.perf_counter()
        for name in order:
            if tracer.enabled:
                sc.setJobGroup(f"{tag}/{name}", name)
            t0 = time.perf_counter()
            attempted += 1
            try:
                with tracer.span(f"query.{name}", tag):
                    if check:
                        rows = qs[name].builder(spark, DATA).collect()
                        t_check = time.perf_counter()
                        failed += _mismatch(name, qs[name], fingerprint(rows), expected[name])
                        # hashing in Python is the benchmark's check, not set-up
                        ctx.excluded_s += time.perf_counter() - t_check
                    else:
                        _execute(spark, qs[name])
            except Exception:  # noqa: BLE001 — counted and shown, the pass goes on
                traceback.print_exc()
                failed += 1
            times[name] = time.perf_counter() - t0
        if tracer.enabled:
            sc.setJobGroup("perfbench", "between queries")
        return time.perf_counter() - t_pass, times

    # set-up: the untimed first pass builds the memoised state and checks
    # every result
    one_pass("warmup", check=True)
    ctx.ready()

    walls, per_pass = [], []
    end = time.time() + ctx.seconds
    with Section() as section:
        while time.time() < end or len(walls) < 2:
            wall, times = one_pass(f"pass{len(walls)}")
            walls.append(wall)
            per_pass.append(times)

    print(f"query_suite: {len(walls)} passes, walls {[round(w, 2) for w in walls]}", file=sys.stderr)
    out = {
        "attempted": attempted,
        "failed": failed,
        "latency": walls,
        "cpu_s_per_unit": section.cpu_s / len(walls),
        "steal": section.steal,
    }
    if tracer.enabled:
        tracker = sc.statusTracker()
        layers: dict[str, float] = {}
        for name, spec in qs.items():
            prefix = layer(spec)
            secs = statistics.median(p[name] for p in per_pass)
            jobs = tracker.getJobIdsForGroup(f"pass0/{name}")
            stages = [
                si for j in jobs for s in tracker.getJobInfo(j).stageIds
                if (si := tracker.getStageInfo(s)) is not None and si.numCompletedTasks
            ]
            for suffix, v in (("s", secs), ("jobs", len(jobs)), ("stages", len(stages))):
                layers[f"{prefix}.{suffix}"] = layers.get(f"{prefix}.{suffix}", 0.0) + v
        out["layers"] = layers
    return out


def record() -> None:
    """Write the fingerprints of the current engine's results."""
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench.harness import WORK, build_session, launch_env

    import shutil

    run_dir = os.path.join(WORK, f"record-{os.getpid()}")
    launch_env(run_dir)
    spark, _ = build_session()
    try:
        qs = specs()
        out = {name: fingerprint(qs[name].builder(spark, DATA).collect()) for name in QUERIES}
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit(__doc__)
    record()
