"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload of ``BENCHMARK.json`` against the engine in this checkout
and prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A run whose outputs disagree with the reference prints its result and exits
with code 1; a run that raises prints the traceback and no result.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    ROOT,
    WORK,
    PeakMemory,
    Tracer,
    build_session,
    launch_env,
    process_start,
)

#: workload name -> module with ``run(ctx) -> dict``
WORKLOADS = {
    "cdc_backfill": "perfbench.backfill",
    "query_suite": "perfbench.suite",
}

#: share of the machine's CPU ticks stolen by the hypervisor above which a
#: run's wall times are flagged on standard error as taken under contention
STEAL_LIMIT = 0.02


@dataclass
class Context:
    """What a workload gets: its inputs' seed, how long to measure, the
    session, and where to report set-up time and the time of input
    generation and checks done inside it."""

    seed: int
    seconds: int
    run_dir: str
    tracer: Tracer
    spark: object = None
    ready_at: float | None = None
    excluded_s: float = 0.0

    def ready(self) -> None:
        """Mark the end of set-up."""
        self.ready_at = time.time()


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    t_proc = process_start()
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    spec = declared()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        launch_env(run_dir)
        workload = importlib.import_module(WORKLOADS[args.workload])
        # sampling /proc is tracing work: end-to-end runs go without it
        with PeakMemory() if args.trace else contextlib.nullcontext() as memory:
            ctx = Context(args.seed, args.seconds, run_dir, tracer)
            ctx.spark, build_s = build_session()
            try:
                out = workload.run(ctx)
            finally:
                stop_spark(ctx.spark)
        if ctx.ready_at is None:
            raise RuntimeError(f"{args.workload} never marked the end of set-up")
        latency = statistics.median(out["latency"])
        e2e = {
            "latency_p50_s": latency,
            "cpu_s_per_unit": out["cpu_s_per_unit"],
            "setup_s": ctx.ready_at - t_proc - ctx.excluded_s,
        }
        print(
            f"{args.workload}: latency p50 {latency:.3f} s, "
            f"CPU steal {out['steal']:.1%} in the timed section",
            file=sys.stderr,
        )
        if out["steal"] > STEAL_LIMIT:
            # the figures are reported as measured; this marks them as taken
            # while neighbours on the host held the CPUs
            print(
                f"{args.workload}: WARNING: CPU steal above {STEAL_LIMIT:.0%}; "
                "wall times of this run include host contention",
                file=sys.stderr,
            )
        if args.trace:
            metrics = {name: 0.0 for name in (m["name"] for m in spec["per_layer"])}
            layers = dict(out.get("layers", {}))
            layers["session.build_s"] = build_s
            layers["process.peak_rss_mb"] = memory.peak_mb
            layers["traced.latency_p50_s"] = e2e["latency_p50_s"]
            unknown = set(layers) - set(metrics)
            if unknown:
                raise RuntimeError(f"per-layer metrics not declared in BENCHMARK.json: {sorted(unknown)}")
            metrics.update(layers)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = e2e
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            if set(metrics) != set(units):
                raise RuntimeError("end-to-end metrics differ from BENCHMARK.json")
        result = {
            "correct": out["failed"] == 0,
            "attempted": int(out["attempted"]),
            "failed": int(out["failed"]),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
