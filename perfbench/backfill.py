"""``cdc_backfill``: drain a backlog of Avro-wire envelopes into empty state.

The backlog is the reference's real wire format (``codec="avro_py"``), so
every event goes through the Python/Arrow UDF decoder, while the fixed
per-batch cost is paid once per drain. Each drain is
``run_cdc_pipeline(available_now=True, max_files_per_trigger=None)`` into a
fresh state, dead-letter table and checkpoint. The first drain in a JVM is
much slower than later ones, so an untimed drain of the backlog's first files
is part of set-up; full drains then repeat, closed loop, until the
measurement time is used up.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from cdc_worker_spark.functions.avro_codec import encode, parse_schema
from cdc_worker_spark.streaming import run_cdc_pipeline
from cdc_worker_spark.streaming.envelope import account_payload_schema, avro_schema_json
from perfbench import cdc, gen, model
from perfbench.harness import Section

N_EVENTS = 20_000
N_KEYS = 5_000
PER_FILE = 1_000
#: deterministic commit stamps: event i is created STEP_MS after event i-1
BASE_TS_MS = 1_767_312_000_000  # 2026-01-02T00:00:00Z
STEP_MS = 10
#: the set-up drain takes the JVM's first-drain cost on a slice of the backlog
WARMUP_FILES = 2
#: a drain that has not terminated after this long has failed
DRAIN_TIMEOUT_S = 150


def make_backlog(bus_dir: str, seed: int) -> tuple[list[gen.Record], int]:
    """Write the seed's backlog; return its history and its size in bytes."""
    os.makedirs(bus_dir)
    schema = parse_schema(avro_schema_json(account_payload_schema()))
    specs = gen.plan_events(seed, N_EVENTS, N_KEYS)
    stamps: list[int] = []
    history, size = [], 0
    for f in range(N_EVENTS // PER_FILE):
        lines = []
        for i in range(f * PER_FILE, (f + 1) * PER_FILE):
            ts = gen.stamp(specs, i, BASE_TS_MS + i * STEP_MS, stamps)
            stamps.append(ts)
            lines.append(gen.avro_line(specs[i], ts, encode, schema))
            history.append(gen.record(specs[i], ts))
        gen.write_file(bus_dir, gen.file_name(f), lines)
        size += os.path.getsize(os.path.join(bus_dir, gen.file_name(f)))
    return history, size


def drain(spark, bus_dir: str, out_dir: str) -> tuple[float, object]:
    """One full drain; returns its wall time from ``start()`` to termination."""
    d = {k: os.path.join(out_dir, k) for k in ("state", "dlq", "chk")}
    t0 = time.time()
    query = run_cdc_pipeline(
        spark, bus_dir, d["state"], d["dlq"], d["chk"],
        available_now=True, max_files_per_trigger=None, codec="avro_py",
    )
    try:
        if not query.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(f"drain did not finish within {DRAIN_TIMEOUT_S} s")
    finally:
        if query.isActive:
            query.stop()
    wall = time.time() - t0
    if query.exception() is not None:
        raise RuntimeError("drain failed") from query.exception()
    return wall, query


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    bus = os.path.join(ctx.run_dir, "bus")
    t0 = time.time()
    history, wire_bytes = make_backlog(bus, ctx.seed)
    ctx.excluded_s += time.time() - t0
    expected, expected_dlq = model.latest_wins(history)

    warm_bus = os.path.join(ctx.run_dir, "warmup-bus")
    os.makedirs(warm_bus)
    for f in range(WARMUP_FILES):
        shutil.copy(os.path.join(bus, gen.file_name(f)), warm_bus)
    drain(spark, warm_bus, os.path.join(ctx.run_dir, "warmup"))
    ctx.ready()

    probe = cdc.BatchProbe(spark, tracer)
    if tracer.enabled:
        probe.install()
    walls, events, drain_dirs = [], [], []
    try:
        end = time.time() + ctx.seconds
        with Section() as section:
            while time.time() < end or len(walls) < 2:
                drain_dir = os.path.join(ctx.run_dir, f"drain{len(walls)}")
                wall, query = drain(spark, bus, drain_dir)
                walls.append(wall)
                drain_dirs.append(drain_dir)
                events.extend(cdc.progress(query))
    finally:
        probe.uninstall()

    failed = 0
    for drain_dir in drain_dirs:
        result = cdc.check(spark, os.path.join(drain_dir, "state"), os.path.join(drain_dir, "dlq"),
                           expected, expected_dlq)
        for note in result.notes:
            print(f"cdc_backfill mismatch in {os.path.basename(drain_dir)}: {note}", file=sys.stderr)
        failed += result.failed
    total = sum(walls)
    print(
        f"cdc_backfill: {len(walls)} drains of {N_EVENTS} events "
        f"({wire_bytes / 1e6:.1f} MB wire), walls {[round(w, 2) for w in walls]}, "
        f"{N_EVENTS * len(walls) / total:.0f} events/s, "
        f"{wire_bytes * len(walls) / total / 1e6:.2f} MB/s",
        file=sys.stderr,
    )
    out = {
        "attempted": N_EVENTS * len(walls),
        "failed": failed,
        "latency": walls,
        "cpu_s_per_unit": section.cpu_s / len(walls),
        "steal": section.steal,
    }
    if tracer.enabled:
        layers = cdc.progress_layers(events, tracer)
        layers.update(probe.counts_per_batch(events))
        layers.update(cdc.decode_pass(spark, bus, tracer))
        out["layers"] = layers
    return out
