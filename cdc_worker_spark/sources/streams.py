"""Streaming sources and publish sinks with the reference's replay-preset
semantics (SURVEY §2.1 A1-A4, C6-C7).

The reference subscribes to a gRPC Pub/Sub stream with three start presets —
LATEST (client.js:250-258), EARLIEST (client.js:205-218), CUSTOM replay id
(client.js:227-242; enum pubsub_api.proto:114-121) — and publishes single
events or batched streams (client.js:550-709). A real gRPC source is out of
scope by design (SURVEY §4); here the same *semantics* sit on built-in
sources, with a directory of JSON-line envelope files standing in for the
event bus (swap-in: ``format("kafka")`` with ``startingOffsets`` — option
mappings below).

Preset mapping onto Structured Streaming:
- LATEST   -> start with an empty checkpoint AFTER noting the current bus
  contents (file source has no server-side "latest"; we filter on replay_id
  > the current high-water mark — the decoded-offset predicate IS the preset).
- EARLIEST -> plain ``readStream`` from the bus directory (replays retention).
- CUSTOM   -> filter replay_id > the supplied offset; checkpoint restore
  covers the resume-after-crash case (A3/A6) as tests/test_streaming.py shows.

Flow control (A5): ``maxFilesPerTrigger`` bounds each micro-batch like the
reference's 100-event fetch batches (client.js:49).

Scale: the bus-directory stand-in is a test vehicle; the operators downstream
are source-agnostic — they only see the decoded envelope columns, so a Kafka
source at 1000 executors drops in without touching any operator.
"""

from __future__ import annotations

import base64
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_worker_spark.functions.offsets import decode_replay_id_col, encode_replay_id
from cdc_worker_spark.streaming.envelope import after_replay_id, decode_envelope
from cdc_worker_spark.streaming.pipeline import read_event_stream

#: option mapping for the Kafka swap-in of each preset (documented contract)
KAFKA_PRESET_OPTIONS = {
    "LATEST": {"startingOffsets": "latest"},
    "EARLIEST": {"startingOffsets": "earliest"},
    "CUSTOM": {"startingOffsets": '{"<topic>": {"<partition>": "<offset>"}}'},
}


def subscribe_earliest(
    spark: SparkSession, bus_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """A2: replay the whole retention window, decoded to envelope columns."""
    return decode_envelope(read_event_stream(spark, bus_dir, max_files_per_trigger))


def subscribe_from_replay_id(
    spark: SparkSession,
    bus_dir: str,
    replay_id: int,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """A3: resume strictly AFTER a specific replay id. The predicate is on the
    decoded offset column, so it composes with checkpoint restore (A6);
    corrupt rows pass whatever their offset (envelope.after_replay_id)."""
    return subscribe_earliest(spark, bus_dir, max_files_per_trigger).filter(
        after_replay_id(replay_id)
    )


def current_high_water_mark(spark: SparkSession, bus_dir: str) -> int:
    """Max replay id currently on the bus (batch read); -1 for an empty bus."""
    if not os.path.isdir(bus_dir) or not any(
        not f.startswith((".", "_")) for f in os.listdir(bus_dir)
    ):
        return -1
    offsets = spark.read.schema("replay_id_b64 STRING").json(bus_dir)
    row = offsets.agg(
        F.max(decode_replay_id_col(F.unbase64("replay_id_b64"))).alias("m")
    ).collect()[0]
    return int(row.m) if row.m is not None else -1


def subscribe_latest(
    spark: SparkSession, bus_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """A1: only events published after subscription time — the file-source
    form of ReplayPreset.LATEST (high-water mark captured now, filtered)."""
    return subscribe_from_replay_id(
        spark, bus_dir, current_high_water_mark(spark, bus_dir), max_files_per_trigger
    )


# ---------------------------------------------------------------- publish


def make_wire_envelope(
    replay_id: int, payload: dict, schema_id: str = "account-cdc-v1"
) -> dict:
    """One wire-form envelope row (pubsub_api.proto:57-80): JSON payload +
    base64 of the 8-byte big-endian replay id."""
    return {
        "replay_id_b64": base64.b64encode(encode_replay_id(replay_id)).decode(),
        "schema_id": schema_id,
        "payload": json.dumps(payload),
    }


def publish_batch(
    bus_dir: str,
    events: list[dict],
    next_replay_id: int,
    correlation_key: str | None = None,
) -> list[int]:
    """C7: append a batch of payloads to the bus as one file, assigning
    consecutive replay ids; returns the assigned ids (the PublishResult
    replay ids, client.js:584). Correlation key -> file name (message key)."""
    os.makedirs(bus_dir, exist_ok=True)
    ids = list(range(next_replay_id, next_replay_id + len(events)))
    name = f"{correlation_key or uuid.uuid4().hex}.jsonl"
    path = os.path.join(bus_dir, name)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for rid, payload in zip(ids, events):
            f.write(json.dumps(make_wire_envelope(rid, payload)) + "\n")
    os.rename(tmp, path)  # atomic appear: the file source never sees partials
    return ids


def publish_dataframe(
    df: DataFrame, bus_dir: str, payload_cols: list[str], replay_id_col: str
) -> None:
    """C6/C7 at scale: encode a DataFrame to wire envelopes and append to the
    bus distributed-writer style (one file per partition, no driver collect).

    ``to_json(struct(...))`` is the serialization path (reference B4); the
    Kafka swap-in is ``.write.format("kafka")`` with the same value column.
    """
    enveloped = df.select(
        # 8-byte big-endian uint64: decimal string -> hex (conv is unsigned
        # 64-bit, so ids above 2^63 survive) -> unhex, zero-padded to 8 bytes
        F.base64(
            F.unhex(
                F.lpad(
                    F.conv(F.col(replay_id_col).cast("decimal(20,0)").cast("string"), 10, 16),
                    16,
                    "0",
                )
            )
        ).alias("replay_id_b64"),
        F.lit("account-cdc-v1").alias("schema_id"),
        F.to_json(F.struct(*payload_cols)).alias("payload"),
    )
    enveloped.write.mode("append").json(bus_dir)
