#!/usr/bin/env python
"""Streaming throughput bench: wire-form envelopes through the FULL pipeline
(decode projection -> one-shuffle incremental bucketed latest-wins merge +
DLQ, no stream-state dedup) under availableNow, reporting events/s and wire MB/s.

The reference's only published number is ~4 MB/s sustained CDC per worker
(design doc:158); this measures the Spark engine's single-box equivalent on
the same wire shape. Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

N_EVENTS = int(os.environ.get("STREAM_BENCH_EVENTS", "300000"))
N_FILES = 10
N_KEYS = 5000


def gen_input(in_dir: str) -> int:
    """Write N_EVENTS wire envelopes as jsonl; returns total bytes."""
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tests"))
    from tests.test_cdc_event_model import make_envelope

    os.makedirs(in_dir)
    t0 = 1696444513000
    total = 0
    per_file = N_EVENTS // N_FILES
    for f_idx in range(N_FILES):
        lines = []
        for i in range(per_file):
            rid = f_idx * per_file + i
            e = make_envelope(
                rid,
                record_id=f"R{rid % N_KEYS}",
                change_type="UPDATE" if rid % 10 else "CREATE",
                commit_ts=t0 + rid,
                city=f"City{rid % 97}",
            )
            lines.append(json.dumps(e))
        blob = "\n".join(lines) + "\n"
        total += len(blob)
        with open(os.path.join(in_dir, f"b{f_idx:03d}.jsonl"), "w") as fh:
            fh.write(blob)
    return total


def run_bench(spark, rounds: int = 2) -> dict:
    """Run the streaming throughput bench on an existing session; returns the
    metric dict. Importable so bench.py can embed the streaming number in the
    per-round BENCH artifact (VERDICT r02 item 8 / r03 next #7).

    Best-of-``rounds`` over the same input (fresh state/checkpoint each
    round): this box shows external load spikes that swing a single run
    4-23 MB/s, and the plan's cost — like the query suite's best-of-3 — is
    the minimum wall, not the co-tenant lottery."""
    from cdc_worker_spark.streaming import LatestWinsState, run_cdc_pipeline

    work = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        in_dir = os.path.join(work, "in")
        wire_bytes = gen_input(in_dir)
        best_wall, n_state = None, 0
        for r in range(rounds):
            rdir = os.path.join(work, f"r{r}")
            t0 = time.perf_counter()
            q = run_cdc_pipeline(
                spark,
                input_dir=in_dir,
                state_dir=os.path.join(rdir, "state"),
                dlq_dir=os.path.join(rdir, "dlq"),
                checkpoint_dir=os.path.join(rdir, "chk"),
                max_files_per_trigger=None,  # throughput: drain the backlog
            )
            q.awaitTermination(600)
            wall = time.perf_counter() - t0
            if best_wall is None or wall < best_wall:
                best_wall = wall
                n_state = (
                    LatestWinsState(os.path.join(rdir, "state")).read(spark).count()
                )
        return {
            "metric": "cdc_stream_wire_mb_per_sec",
            "value": round(wire_bytes / best_wall / 1e6, 2),
            "unit": "MB/s",
            "events_per_sec": round(N_EVENTS / best_wall),
            "wall_sec": round(best_wall, 2),
            "n_events": N_EVENTS,
            "wire_mb": round(wire_bytes / 1e6, 1),
            "state_rows": n_state,
            "rounds": rounds,
            "avro_decode": _avro_decode_bench(spark, work),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


# 200k events ≈ 46 MB of payloads: enough that the timed decode dominates
# the ~1.3 s fixed job cost (at the old 50k the metric mostly measured job
# launch — r04's 5.8 MB/s was overhead-bound, not decode-bound)
AVRO_N = int(os.environ.get("STREAM_BENCH_AVRO_EVENTS", "200000"))


def _avro_decode_bench(spark, work: str) -> dict:
    """True-wire-format decode throughput: Avro binary payloads through
    ``decode_envelope(codec="avro_py")`` (the offline pure-Python decoder —
    the jar path would be strictly faster, so this is the floor). Directly
    comparable to the reference's ~4 MB/s/worker envelope (BASELINE.md),
    whose per-event cost is dominated by the same schema-driven decode."""
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tests"))
    from tests.test_cdc_event_model import make_envelope

    from cdc_worker_spark.functions.avro_codec import encode as avro_encode, parse_schema
    from cdc_worker_spark.streaming.envelope import (
        AVRO_ENVELOPE_SCHEMA,
        account_payload_schema,
        avro_schema_json,
        decode_envelope,
    )

    sch = parse_schema(avro_schema_json(account_payload_schema()))
    rows, total = [], 0
    for i in range(AVRO_N):
        e = make_envelope(i, record_id=f"R{i % N_KEYS}", city=f"City{i % 97}")
        payload = avro_encode(json.loads(e["payload"]), sch)
        total += len(payload)
        rows.append(
            {
                "replay_id_b64": e["replay_id_b64"],
                "schema_id": e["schema_id"],
                "payload": bytearray(payload),
            }
        )
    src = os.path.join(work, "avro_src")
    spark.createDataFrame(rows, AVRO_ENVELOPE_SCHEMA).repartition(8).write.parquet(src)
    raw = spark.read.parquet(src)
    decode_envelope(raw, codec="avro_py").write.format("noop").mode("overwrite").save()  # warmup
    t0 = time.perf_counter()
    decode_envelope(raw, codec="avro_py").write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    return {
        "payload_mb_per_sec": round(total / wall / 1e6, 2),
        "events_per_sec": round(AVRO_N / wall),
        "wall_sec": round(wall, 2),
        "n_events": AVRO_N,
    }


#: multi-topic scale-out bench (VERDICT r05 next #3): the reference's model
#: is ONE WORKER PER TOPIC at ~4 MB/s each (design doc:158); the engine
#: multiplexes topics through one stream and scales with cores instead.
MT_EVENTS = int(os.environ.get("STREAM_BENCH_MT_EVENTS", "1200000"))
MT_TOPICS = int(os.environ.get("STREAM_BENCH_MT_TOPICS", "6"))
MT_FILES = 12


def _mt_registry():
    from cdc_worker_spark.streaming.envelope import (
        ACCOUNT_FIELDS,
        account_payload_schema,
    )
    from cdc_worker_spark.streaming.registry import SchemaRegistry, TopicSchema

    reg = SchemaRegistry()
    for t in range(MT_TOPICS):
        reg.register(
            TopicSchema(
                schema_id=f"topic{t}-cdc-v1",
                fields=ACCOUNT_FIELDS,
                child_fields={},
                payload_schema=account_payload_schema(),
            )
        )
    return reg


def gen_multi_topic_input(in_dir: str) -> int:
    """MT_EVENTS wire envelopes round-robin across MT_TOPICS topics,
    interleaved in every file (the multiplexed bus shape); per topic the
    replay ids and commit timestamps are strictly increasing — the
    ordering invariant tests/test_schema_registry.py asserts end-to-end."""
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tests"))
    from tests.test_cdc_event_model import make_envelope

    os.makedirs(in_dir)
    t0 = 1696444513000
    total = 0
    per_file = MT_EVENTS // MT_FILES
    for f_idx in range(MT_FILES):
        lines = []
        for i in range(per_file):
            rid = f_idx * per_file + i
            topic = rid % MT_TOPICS
            e = make_envelope(
                rid,
                record_id=f"T{topic}R{rid % N_KEYS}",
                change_type="UPDATE" if rid % 10 else "CREATE",
                commit_ts=t0 + rid,
                city=f"City{rid % 97}",
            )
            e["schema_id"] = f"topic{topic}-cdc-v1"
            lines.append(json.dumps(e))
        blob = "\n".join(lines) + "\n"
        total += len(blob)
        with open(os.path.join(in_dir, f"mt{f_idx:03d}.jsonl"), "w") as fh:
            fh.write(blob)
    return total


def multi_topic_bench(spark, rounds: int = 2) -> dict:
    """Aggregate throughput of the MULTIPLEXED pipeline over MT_TOPICS
    concurrent topics: one stream decodes/demuxes all topics per
    micro-batch (registry.run_multiplexed_pipeline — decode + per-topic
    demux + DLQ split + parquet append). The reference would need
    MT_TOPICS workers for this bus; the engine's aggregate MB/s on one box
    is the scale-out evidence (BENCH streaming.multi_topic)."""
    from cdc_worker_spark.streaming.registry import run_multiplexed_pipeline

    work = tempfile.mkdtemp(prefix="stream_mt_bench_")
    try:
        in_dir = os.path.join(work, "in")
        wire_bytes = gen_multi_topic_input(in_dir)
        best_wall, out_rows, dlq_rows = None, 0, 0
        for r in range(rounds):
            rdir = os.path.join(work, f"r{r}")
            reg = _mt_registry()
            t0 = time.perf_counter()
            q = run_multiplexed_pipeline(
                spark,
                in_dir,
                os.path.join(rdir, "out"),
                os.path.join(rdir, "dlq"),
                os.path.join(rdir, "chk"),
                reg,
                max_files_per_trigger=None,  # throughput: drain the backlog
            )
            q.awaitTermination(900)
            wall = time.perf_counter() - t0
            if best_wall is None or wall < best_wall:
                best_wall = wall
                out = spark.read.parquet(os.path.join(rdir, "out"))
                out_rows = out.count()
        return {
            "metric": "multi_topic_wire_mb_per_sec",
            "value": round(wire_bytes / best_wall / 1e6, 2),
            "unit": "MB/s",
            "n_topics": MT_TOPICS,
            "events_per_sec": round(MT_EVENTS / best_wall),
            "wall_sec": round(best_wall, 2),
            "n_events": MT_EVENTS,
            "wire_mb": round(wire_bytes / 1e6, 1),
            "out_rows": out_rows,
            "rounds": rounds,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    from cdc_worker_spark.session import get_spark

    spark = get_spark(
        "cdc-stream-bench",
        **{"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = run_bench(spark)
    out["multi_topic"] = multi_topic_bench(spark)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
