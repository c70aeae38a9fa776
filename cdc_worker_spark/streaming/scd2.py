"""Incremental SCD Type-2 maintenance over the CDC stream.

The batch operator (operators/warehouse.q_cdc_scd2) rebuilds the full
versioned history from scratch; a 100 TB deployment maintains it
INCREMENTALLY: each micro-batch closes the affected entities' open
intervals and appends new versions, leaving every untouched entity's
history on disk. The reference's design doc (:654-727) specifies
latest-wins upsert — SCD2 is the keep-every-version warehouse twin, fed by
the same decoded change stream.

Design (the same shapes the rest of the streaming layer uses):
- storage: the latest-wins table's store (streaming/pipeline.BucketedStore):
  bucketed manifest-versioned parquet, copy-on-write per touched bucket,
  time travel and vacuum. Only the user_id bucket hash, the SCD2 schema
  and the refusal of layout-v1 state are this module's own;
- commit record: a high-water mark, the last committed batch id, rides in
  the same manifest commit as the data. foreachBatch ids are monotone per
  checkpoint, so a replayed batch (id at or below the mark) is a no-op and
  interval counts never double-count;
- the stitch is the batch operator's kernel (operators/warehouse.
  stitch_versions): stored intervals ARE runs and an event is a one-event
  run, so "merge stored history with a new batch" = stitch the stored runs
  of TOUCHED buckets ∪ the batch's events, in one exchange on ``_bucket``.
  Re-collapsing is associative, which is what makes incremental == batch
  (asserted in tests/test_streaming_scd2.py).

Ordering: events are assumed watermark-ordered across batches per entity
(the feeding stream must guarantee this); within a batch any order is fine
— the collapse sorts by (ts_ms, event_id).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from cdc_worker_spark.operators.warehouse import event_runs, stitch_versions
from cdc_worker_spark.streaming.pipeline import (
    BucketedStore,
    read_json_stream,
    start_batches,
)

#: on-disk layout version. v1 had no anchor_id column; v2 (current) added
#: it as the deterministic stitch tiebreak. Reading v1 state with the v2
#: schema would silently yield NULL anchor_ids and quietly degrade the
#: tiebreak back to nondeterministic ordering — so v1 state is REFUSED
#: loudly instead (ADVICE r6): rebuild from the batch operator or replay.
SCD2_LAYOUT_VERSION = 2

#: stored interval rows (one per version per entity). anchor_id is the
#: event_id of the version's first event — the deterministic tiebreak that
#: keeps the stitch order total when two runs share a valid_from_ms.
SCD2_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("version", LongType()),
        StructField("event_type", StringType()),
        StructField("valid_from_ms", LongType()),
        StructField("valid_to_ms", LongType()),
        StructField("n_events", LongType()),
        StructField("anchor_id", LongType()),
    ]
)


class Scd2State(BucketedStore):
    """The SCD2 dimension table: one row per version per entity, bucketed
    on user_id in the shared bucketed store (vacuum and time travel come
    with it). Only a v2-layout manifest is read, and the last committed
    batch id rides in the same manifest commit as the data."""

    key = ("user_id",)
    schema = SCD2_SCHEMA

    def _manifest(self, at_version: int | None = None) -> dict:
        manifest = super()._manifest(at_version)
        # a manifest with data but no layout marker predates v2 (anchor_id)
        layout = manifest.setdefault(
            "layout", 1 if manifest["buckets"] else SCD2_LAYOUT_VERSION
        )
        if layout != SCD2_LAYOUT_VERSION:
            raise ValueError(
                f"SCD2 state at {self.path} has layout v{layout}; this engine "
                f"writes v{SCD2_LAYOUT_VERSION} (anchor_id tiebreak). Reading "
                "old-layout state would silently NULL anchor_id — rebuild the "
                "dimension from the batch operator or replay the stream into "
                "a fresh state directory."
            )
        # manifests written before the high-water mark kept every id
        ids = manifest.pop("committed_batch_ids", None)
        if ids is not None:
            manifest["committed_batch_id"] = max(ids, default=-1)
        return manifest

    def read(
        self, spark: SparkSession, at_version: int | None = None
    ) -> DataFrame | None:
        return self.read_full(spark, at_version=at_version)

    def committed_batch_id(self) -> int:
        """The last batch id folded into the stored history (-1: none).
        foreachBatch ids are monotone per checkpoint, so every id at or
        below it is committed. Recorded in the SAME manifest os.replace
        that publishes the data, so "state merged" and "batch committed"
        are one atomic step — no crash-between-two-writes replay corruption
        (a separate ledger file had exactly that window)."""
        return self._manifest().get("committed_batch_id", -1)

    def merge_batch(
        self, spark: SparkSession, batch: DataFrame, batch_id: int | None = None
    ) -> None:
        """Stitch one micro-batch of events into the stored history.

        One small aggregate finds the touched buckets; their stored runs ∪
        the batch's events (one-event runs) meet in ONE exchange on
        ``_bucket``, which also serves the kernel's (_bucket, user_id)
        windows, so each task re-stitches and writes whole buckets (one
        file per bucket) under a new manifest version. When ``batch_id`` is
        given, the merge is exactly-once: an id at or below the committed
        mark is a no-op, and the id becomes the mark in the same atomic
        manifest replace that publishes the buckets."""
        self.sync_layout()
        if batch_id is not None and batch_id <= self.committed_batch_id():
            return
        touched = sorted(batch.agg(F.collect_set(self.bucket_col())).first()[0] or [])
        runs = event_runs(batch)
        stored = self.read_full(spark, buckets=touched)
        if stored is not None:
            runs = runs.unionByName(stored.drop("version", "valid_to_ms"))
        merged = stitch_versions(
            runs.withColumn("_bucket", self.bucket_col()).repartition(
                self.n_buckets, "_bucket"
            ),
            ("_bucket", "user_id"),
        )
        stamp = {} if batch_id is None else {"committed_batch_id": int(batch_id)}
        self.write_buckets(
            merged.select(*SCD2_SCHEMA.fieldNames(), "_bucket"), touched, stamp
        )


def run_scd2_pipeline(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
):
    """Stream jsonl change events (user_id, event_type, ts_ms, event_id)
    into an incrementally-maintained SCD2 dimension and return the query.
    The batch id is committed INSIDE the state manifest (one os.replace
    publishes buckets + commit mark together) = exactly-once interval
    counts under replay, with no crash window between "merged" and
    "recorded". The checkpoint lives at ``checkpoint_dir/query``."""
    state = Scd2State(state_dir)
    stream = read_json_stream(
        spark,
        "user_id long, event_type string, ts_ms long, event_id long",
        input_dir,
        max_files_per_trigger,
    )
    return start_batches(
        stream,
        lambda batch_df, batch_id: state.merge_batch(spark, batch_df, batch_id=batch_id),
        os.path.join(checkpoint_dir, "query"),
        available_now,
    )
