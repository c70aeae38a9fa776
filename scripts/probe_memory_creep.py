"""Memory-footprint probe for the r11 runner-shape creep (VERDICT r11
next #1): why did the basket/range-bounds sf100 bespokes need a 28g
driver in r11 where r10's 14g sufficed, and why do 32 executor threads
OOM heavy-scan bespokes that 16 threads handle?

One invocation = one grid cell: build the EXACT session the sweep harness
uses (scripts/verify_invariants.py:main — ``get_spark`` with the given
driver heap, cores from SPARK_GRAFT_CPUS), run one query's builder plus its
bespoke checks, and measure:

- peak JVM heap (sampled at 4 Hz from a daemon thread via py4j
  Runtime.totalMemory()-freeMemory(); py4j gives each Python thread its
  own connection so sampling runs while the main thread blocks in
  collect());
- the stage active at the heap peak (StatusTracker), which names the
  allocation driver;
- per-stage peakExecutionMemory from the UI REST API (execution-manager
  bytes only — the UNSAFE side; the gap between heap peak and execution
  peak is the unmanaged allocation the OOMs come from).

Prints ONE JSON line; scripts/probe_memory_grid.sh (or a manual loop)
runs the cells and SCALE.md §r12 records the post-mortem.

Usage:
  python scripts/probe_memory_creep.py --query q_basket_pairs \
      --driver-mem 14g [--sf .fixtures/sf100]
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
import urllib.request

REPO = "/root/repo"
sys.path.insert(0, REPO)
sys.path.insert(0, f"{REPO}/scripts")


class HeapSampler:
    """4 Hz JVM heap sampler + active-stage attribution."""

    def __init__(self, spark):
        self.spark = spark
        self.samples: list[tuple[float, int, tuple]] = []
        self.peak = 0
        self.peak_stages: tuple = ()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        tracker = self.spark.sparkContext.statusTracker()
        while not self._stop.is_set():
            used = rt.totalMemory() - rt.freeMemory()
            try:
                active = tuple(tracker.getActiveStageIds())
            except Exception:
                active = ()
            self.samples.append((time.time(), used, active))
            if used > self.peak:
                self.peak = used
                self.peak_stages = active
            self._stop.wait(0.25)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


def rest_stages(spark) -> list[dict]:
    """Completed stages from the UI REST API, heaviest execution memory
    first. peakExecutionMemory here is the memory-manager (unsafe) side
    only — shuffle/sort/agg buffers, not parquet reader or codegen
    scratch."""
    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete",
            timeout=10,
        ) as r:
            stages = json.load(r)
    except Exception as ex:  # UI disabled / port taken: degrade, don't die
        return [{"error": f"rest unavailable: {ex}"}]
    out = []
    for s in stages:
        out.append(
            {
                "stage": s.get("stageId"),
                "name": (s.get("name") or "")[:80],
                "peak_exec_mb": round(
                    s.get("peakExecutionMemory", 0) / 1e6, 1
                ),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "shuffle_read_mb": round(
                    s.get("shuffleReadBytes", 0) / 1e6, 1
                ),
                "spill_mb": round(s.get("diskBytesSpilled", 0) / 1e6, 1),
                "tasks": s.get("numCompleteTasks"),
            }
        )
    out.sort(key=lambda d: -(d.get("peak_exec_mb") or 0))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True)
    ap.add_argument("--sf", default=f"{REPO}/.fixtures/sf100")
    ap.add_argument("--driver-mem", required=True)
    ap.add_argument(
        "--skip-bespoke",
        action="store_true",
        help="builder fingerprint only (isolates derivation from checks)",
    )
    args = ap.parse_args()

    from cdc_worker_spark.session import get_spark

    # EXACTLY the sweep harness session (verify_invariants.py:main): the
    # creep was observed THERE, so the probe must not add knobs of its own.
    spark = get_spark(f"probe-mem-{args.query}", **{"spark.driver.memory": args.driver_mem})
    spark.sparkContext.setLogLevel("ERROR")

    from verify_invariants import BESPOKE, Ctx, fingerprint

    from cdc_worker_spark.plans import all_queries

    qs = all_queries()
    ctx = Ctx(spark, args.sf, qs)
    t0 = time.time()
    status = "ok"
    checks = []
    with HeapSampler(spark) as hs:
        try:
            df = qs[args.query](spark, args.sf)
            fp = fingerprint(df)
            if not args.skip_bespoke:
                for fn in BESPOKE.get(args.query, []):
                    checks += [
                        (n, bool(ok)) for n, ok, _ in fn(ctx, df)
                    ]
        except Exception as ex:
            status = f"{type(ex).__name__}: {str(ex)[:200]}"
            fp = None
    wall = time.time() - t0
    stages = rest_stages(spark)
    max_jvm = (
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    print(
        json.dumps(
            {
                "query": args.query,
                "cpus": spark.sparkContext.defaultParallelism,
                "driver_mem": args.driver_mem,
                "status": status,
                "wall_sec": round(wall, 1),
                "peak_heap_gb": round(hs.peak / 2**30, 2),
                "jvm_max_gb": round(max_jvm / 2**30, 2),
                "peak_stage_ids": list(hs.peak_stages),
                "checks": checks,
                "fingerprint": list(fp) if fp else None,
                "top_stages_by_exec_mem": stages[:6],
            }
        )
    )
    spark.stop()
    return 0 if status == "ok" else 1


if __name__ == "__main__":
    raise SystemExit(main())
