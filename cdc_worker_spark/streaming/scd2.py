"""Incremental SCD Type-2 maintenance over the CDC stream.

The batch operator (operators/curation.q_cdc_scd2) rebuilds the full
versioned history from scratch; a 100 TB deployment maintains it
INCREMENTALLY: each micro-batch closes the affected entities' open
intervals and appends new versions, leaving every untouched entity's
history on disk. The reference's design doc (:654-727) specifies
latest-wins upsert — SCD2 is the keep-every-version warehouse twin, fed by
the same decoded change stream.

Design (the same shapes the rest of the streaming layer uses):
- storage: bucketed manifest-versioned parquet, copy-on-write per touched
  bucket (the streaming/pipeline.LatestWinsState layout — a merge that
  touches 1 bucket writes 1 bucket);
- idempotence: a committed-batch ledger (streaming/ingest.py pattern)
  makes foreachBatch replays no-ops, so interval counts never
  double-count;
- the stitch itself is pure DataFrame algebra: stored intervals ARE runs,
  so "merge stored history with a new batch" = union the stored runs of
  TOUCHED entities with the batch's collapsed runs, then re-run the
  gaps-and-islands collapse treating each run as a weighted pseudo-event.
  Re-collapsing is associative, which is what makes incremental == batch
  (asserted in tests/test_streaming_scd2.py).

Ordering: events are assumed watermark-ordered across batches per entity
(the feeding stream must guarantee this); within a batch any order is fine
— the collapse sorts by (ts_ms, event_id).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

#: on-disk layout version. v1 had no anchor_id column; v2 (current) added
#: it as the deterministic restitch tiebreak. Reading v1 state with the v2
#: schema would silently yield NULL anchor_ids and quietly degrade the
#: tiebreak back to nondeterministic ordering — so v1 state is REFUSED
#: loudly instead (ADVICE r6): rebuild from the batch operator or replay.
SCD2_LAYOUT_VERSION = 2

#: stored interval rows (one per version per entity). anchor_id is the
#: event_id of the version's first event — the deterministic tiebreak that
#: keeps restitch order total when two runs share a valid_from_ms.
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


def collapse_runs(events: DataFrame) -> DataFrame:
    """(user_id, event_type, ts_ms, event_id) -> closed/open runs
    (user_id, event_type, valid_from_ms, n_events, anchor_id), one row per
    maximal same-type run in (ts_ms, event_id) order. anchor_id = the
    event_id of the run's first event under that total order, carried so
    downstream stitching stays deterministic when two runs of one user
    start at the same ts_ms. The batch-side half of the SCD2 build;
    versions/valid_to are assigned after stitching."""
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    runs = events.select(
        "user_id",
        "event_type",
        "ts_ms",
        "event_id",
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("run_id"),
    )
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts_ms").alias("valid_from_ms"),
        F.count("*").alias("n_events"),
        F.min(F.struct("ts_ms", "event_id"))["event_id"].alias("anchor_id"),
    ).drop("run_id")


def _restitch(runs: DataFrame) -> DataFrame:
    """Re-collapse adjacent same-type runs (each run = a weighted pseudo-
    event at its valid_from) and assign version/valid_to/is-open. The
    second collapse is what makes incremental maintenance associative:
    collapse(collapse(A) ∪ collapse(B)) == collapse(A ∪ B) for
    time-ordered A, B. Runs are ordered by (valid_from_ms, anchor_id) —
    the anchor tiebreak mirrors the event-level (ts_ms, event_id) total
    order, so equal-timestamp adjacent runs stitch deterministically
    (matching the batch q_cdc_scd2 convention)."""
    w = Window.partitionBy("user_id").orderBy("valid_from_ms", "anchor_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    grouped = (
        runs.select(
            "user_id",
            "event_type",
            "valid_from_ms",
            "n_events",
            "anchor_id",
            F.sum(chg).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("version"),
        )
        .groupBy("user_id", "version", "event_type")
        .agg(
            F.min("valid_from_ms").alias("valid_from_ms"),
            F.sum("n_events").alias("n_events"),
            F.min(F.struct("valid_from_ms", "anchor_id"))["anchor_id"].alias(
                "anchor_id"
            ),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return grouped.select(
        "user_id",
        F.col("version").cast("long"),
        "event_type",
        "valid_from_ms",
        F.lead("valid_from_ms").over(w2).alias("valid_to_ms"),
        "n_events",
        "anchor_id",
    )


@dataclass
class Scd2State:
    """Bucketed manifest-versioned SCD2 dimension table (copy-on-write per
    touched bucket, same layout family as LatestWinsState)."""

    path: str
    n_buckets: int = 16

    def _manifest_file(self) -> str:
        return os.path.join(self.path, "_MANIFEST.json")

    def _manifest(self) -> dict:
        try:
            with open(self._manifest_file()) as f:
                manifest = json.load(f)
        except FileNotFoundError:
            return {
                "version": -1,
                "n_buckets": self.n_buckets,
                "buckets": {},
                "layout": SCD2_LAYOUT_VERSION,
            }
        # a manifest with data but no layout marker predates v2 (anchor_id)
        layout = manifest.get("layout", 1 if manifest["buckets"] else SCD2_LAYOUT_VERSION)
        if layout != SCD2_LAYOUT_VERSION:
            raise ValueError(
                f"SCD2 state at {self.path} has layout v{layout}; this engine "
                f"writes v{SCD2_LAYOUT_VERSION} (anchor_id tiebreak). Reading "
                "old-layout state would silently NULL anchor_id — rebuild the "
                "dimension from the batch operator or replay the stream into "
                "a fresh state directory."
            )
        manifest["layout"] = layout
        return manifest

    def _write_manifest(self, manifest: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._manifest_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_file())

    def sync_layout(self) -> None:
        manifest = self._manifest()
        if manifest["buckets"] and manifest["n_buckets"] != self.n_buckets:
            self.n_buckets = manifest["n_buckets"]

    def bucket_col(self) -> Column:
        return F.pmod(F.xxhash64("user_id"), F.lit(self.n_buckets))

    def read(self, spark: SparkSession, buckets=None) -> DataFrame | None:
        manifest = self._manifest()
        items = manifest["buckets"].items()
        if buckets is not None:
            want = {str(b) for b in buckets}
            items = [(b, v) for b, v in items if b in want]
        paths = [
            os.path.join(self.path, f"v{v}", f"_bucket={b}") for b, v in items
        ]
        if not paths:
            return None
        return spark.read.schema(SCD2_SCHEMA).parquet(*paths)

    def committed_batch_ids(self) -> set[int]:
        """Batch ids already folded into the stored history. Recorded in
        the SAME manifest os.replace that publishes the data, so "state
        merged" and "batch committed" are one atomic step — no
        crash-between-two-writes replay corruption (a separate ledger file
        had exactly that window)."""
        return set(self._manifest().get("committed_batch_ids", []))

    def merge_batch(
        self, spark: SparkSession, batch: DataFrame, batch_id: int | None = None
    ) -> None:
        """Stitch one micro-batch of events into the stored history.

        Reads ONLY the buckets the batch touches; unioned stored runs +
        batch runs re-collapse (associativity, see _restitch) and the
        touched buckets rewrite under a new manifest version. When
        ``batch_id`` is given, the merge is exactly-once: an id already in
        the manifest's committed set is a no-op, and the id is committed
        by the same atomic manifest replace that publishes the buckets."""
        self.sync_layout()
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return
        batch_runs = collapse_runs(batch).localCheckpoint(eager=True)
        touched = sorted(
            r[0]
            for r in batch_runs.select(self.bucket_col().alias("b"))
            .distinct()
            .collect()
        )
        if not touched:
            if batch_id is not None:
                manifest = self._manifest()
                ids = set(manifest.get("committed_batch_ids", []))
                ids.add(int(batch_id))
                manifest["committed_batch_ids"] = sorted(ids)
                self._write_manifest(manifest)
            return
        stored = self.read(spark, buckets=touched)
        stored_runs = (
            stored.select(
                "user_id", "event_type", "valid_from_ms", "n_events", "anchor_id"
            )
            if stored is not None
            else None
        )
        all_runs = (
            batch_runs
            if stored_runs is None
            else stored_runs.unionByName(batch_runs)
        )
        new_rows = _restitch(all_runs).withColumn("_bucket", self.bucket_col())
        # only rows whose bucket is touched belong here (stored read was
        # already bucket-pruned, so this is a no-op guard)
        manifest = self._manifest()
        new_version = manifest["version"] + 1
        out_dir = os.path.join(self.path, f"v{new_version}")
        (
            new_rows.filter(F.col("_bucket").isin([int(b) for b in touched]))
            .repartition("_bucket")
            .write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        manifest["version"] = new_version
        manifest["n_buckets"] = self.n_buckets
        manifest["layout"] = SCD2_LAYOUT_VERSION
        for b in touched:
            manifest["buckets"][str(b)] = new_version
        if batch_id is not None:
            ids = set(manifest.get("committed_batch_ids", []))
            ids.add(int(batch_id))
            manifest["committed_batch_ids"] = sorted(ids)
        self._write_manifest(manifest)


def run_scd2_pipeline(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
):
    """Stream jsonl change events (user_id, event_type, ts_ms, event_id)
    into an incrementally-maintained SCD2 dimension. foreachBatch with the
    batch id committed INSIDE the state manifest (one os.replace publishes
    buckets + commit record together) = exactly-once interval counts under
    replay, with no crash window between "merged" and "recorded"."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    state = Scd2State(state_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        state.merge_batch(spark, batch_df, batch_id=batch_id)

    event_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts_ms", LongType()),
            StructField("event_id", LongType()),
        ]
    )
    reader = spark.readStream.schema(event_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(input_dir)
    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "query")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()
