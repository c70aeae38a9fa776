"""Forwarding sinks (reference C5: per-event HTTP POST to the downstream
store; C12/D9: bounded retries with exponential backoff; D10: permanent
failures audited to a cdcFailures table).

The reference forwards each parsed event to a Convex HTTP action and logs
failures without stopping the stream (index.ts:50-59); retries were a TODO
(index.ts:58) specified downstream as 4 attempts / 500 ms / x2 backoff
(design doc:626-632).

Spark-first shape: the POST happens EXECUTOR-side inside ``mapInPandas`` —
rows never collect to the driver, transport parallelism = partition count
(the reference's workpool `maxParallelism: 5` ↔ partition count here), and
the Arrow batch is the natural "batch of events" unit. Failed rows flow back
as ordinary result rows and land in the failures table, one directory per
micro-batch — a distributed dead-letter path with no side-channel state.

The transport is an injected callable ``poster(topic, payload_json) -> None``
(raise to fail) — the HTTP client in production, a recording fake in tests;
the gRPC/HTTP specifics are connector configuration, not operator logic
(SURVEY §2.1 C10).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_worker_spark.streaming.pipeline import start_batches

Poster = Callable[[str, str], None]

#: cdcFailures{topic, replayId, error, timestamp} (design doc:950-956)
FAILURES_SCHEMA = T.StructType(
    [
        T.StructField("entity", T.StringType()),
        T.StructField("replay_id", T.DecimalType(20, 0)),
        T.StructField("error", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
    ]
)


def _post_batches(
    poster: Poster, max_attempts: int, base_delay_s: float
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            failures: list[tuple] = []
            for entity, rid, payload in zip(
                pdf["entity"], pdf["replay_id"], pdf["payload_json"]
            ):
                err = None
                for attempt in range(1, max_attempts + 1):
                    try:
                        poster(entity, payload)
                        err = None
                        break
                    except Exception as e:  # noqa: BLE001 — transport errors by contract
                        err = f"{type(e).__name__}: {e}"
                        if attempt < max_attempts:
                            time.sleep(base_delay_s * (2 ** (attempt - 1)))
                if err is not None:
                    failures.append((entity, rid, err, max_attempts))
            yield pd.DataFrame(failures, columns=[f.name for f in FAILURES_SCHEMA])

    return run


def forward_events(
    decoded_batch: DataFrame,
    poster: Poster,
    max_attempts: int = 4,
    base_delay_s: float = 0.5,
) -> DataFrame:
    """POST one batch of decoded events executor-side; returns the failures
    DataFrame (empty when all deliveries succeeded). Payload = the full
    decoded event as JSON (reference B4 toJsonString)."""
    rows = decoded_batch.select(
        "entity",
        "replay_id",
        F.to_json(F.struct("replay_id", "entity", "record_id", "change_type",
                           "changed_fields", "event")).alias("payload_json"),
    )
    return rows.mapInPandas(
        _post_batches(poster, max_attempts, base_delay_s), FAILURES_SCHEMA
    )


def run_forwarding_sink(
    decoded_stream: DataFrame,
    poster: Poster,
    failures_dir: str,
    checkpoint_dir: str,
    max_attempts: int = 4,
    base_delay_s: float = 0.5,
    available_now: bool = True,
):
    """C5 end-to-end: stream -> per-batch executor-side POST with retries ->
    permanent failures written to the cdcFailures table; the stream never
    stops on a delivery failure (log-and-continue, index.ts:56-59). Each
    batch's failures overwrite their own ``failures_dir/batch=<id>``
    directory (one file, also when empty), so a batch replayed after a kill
    before the checkpoint commit cannot duplicate them."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        failures = forward_events(batch_df, poster, max_attempts, base_delay_s)
        failures.repartition(1).write.mode("overwrite").parquet(
            os.path.join(failures_dir, f"batch={batch_id}")
        )

    return start_batches(decoded_stream, apply_batch, checkpoint_dir, available_now)
