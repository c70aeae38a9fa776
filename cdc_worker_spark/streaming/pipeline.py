"""Structured Streaming pipeline (SURVEY §7 M3): file-source CDC stream ->
decode/enrich -> foreachBatch latest-wins merge + DLQ, with no state operator.

Reference mapping:
- A1-A4 source presets  : ``startingOffsets``/checkpoint restore; here a file
  source whose checkpoint IS the replay cursor (A3/A6) — restart resumes
  exactly after the last committed batch.
- A5 flow control       : ``maxFilesPerTrigger`` (declarative backpressure vs
  the reference's 100-event fetch batches, client.js:49).
- D1/D2 upsert/delete   : latest-wins MERGE per record key in foreachBatch.
- D4 dedup              : no state operator — the merge is idempotent in
  (commit_ts, replay_id); dead letters dedup on replay_id.
- D7/O5 ordered apply   : per-key ordering by (commit_ts, replay_id) in the
  merge's window — sort within key, not global.
- C4/D10 DLQ            : corrupt payloads appended to a failures table;
  the stream continues.

The micro-batch loop lives here once, for every foreachBatch pipeline in
the package (this one, the multiplexed, SCD2, dedup-ingest and forwarding
pipelines): ``read_json_stream`` is the one file-source reader,
``start_batches`` the one foreachBatch (persist, apply, unpersist,
checkpoint, availableNow) and ``fault_point`` the one chaos seam, a no-op
that tests monkeypatch to kill a batch at ``pre``, ``mid`` (between two
side effects) or ``post`` (before the checkpoint commit). Replays
re-deliver, so each pipeline's ``apply`` must be idempotent per batch id
(reference client.js:227-242).

State storage: a key-hash-BUCKETED manifest-versioned parquet table
(``BucketedStore``: an explicit, dependency-free stand-in for a
Delta/Iceberg MERGE target — the production swap-in is ``MERGE INTO state
USING batch ON key``). It has two users: the latest-wins table here and the
SCD2 dimension (streaming/scd2.Scd2State), which keeps every version. Each
merge rewrites ONLY the buckets touched by the batch (a batch over many
keys touches them all: ROADMAP D8). Latest-wins retains DELETEs as
tombstone rows (filtered out of the live view, garbage-collected past the
retention horizon) so a late out-of-order pre-delete event cannot
resurrect a deleted record.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import ClassVar

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from cdc_worker_spark.streaming.envelope import (
    AVRO_WIRE_SCHEMA,  # noqa: F401  callers read it as pipeline.AVRO_WIRE_SCHEMA
    after_replay_id,
    decode_envelope,
    wire_codec,
)


def read_json_stream(
    spark: SparkSession,
    schema: StructType | str,
    input_dir: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """The one file-source reader: JSON lines of ``schema`` from
    ``input_dir``, at most ``max_files_per_trigger`` files per micro-batch
    (A5 backpressure; None drains the whole backlog in one batch)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(input_dir)


def read_event_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = 1,
    codec: str = "json",
) -> DataFrame:
    """File-source CDC stream of wire envelopes (A1; A5 backpressure via
    maxFilesPerTrigger), as the raw (replay_id_b64, schema_id, payload)
    envelope of ``codec`` (envelope.wire_codec) that decode_envelope
    takes."""
    wire = wire_codec(codec)
    return wire.envelope(
        read_json_stream(spark, wire.line_schema, input_dir, max_files_per_trigger)
    )


def fault_point(batch_id: int, point: str) -> None:
    """Chaos seam: does nothing. Tests monkeypatch it (as
    ``pipeline.fault_point``, so callers look it up through this module) to
    raise at ``pre`` (before the batch's apply), ``mid`` (between a
    pipeline's two side effects) or ``post`` (after apply, before the
    checkpoint commit)."""


def start_batches(
    stream: DataFrame,
    apply: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool,
) -> StreamingQuery:
    """The one foreachBatch loop: each micro-batch is persisted, handed to
    ``apply(batch_df, batch_id)`` and unpersisted, between the ``pre`` and
    ``post`` fault points. The file source and ``checkpoint_dir`` make a
    batch replayable under its id after a crash, so ``apply`` must be
    idempotent per batch id. ``available_now`` drains the backlog and
    stops; otherwise the default trigger runs continuously."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        fault_point(batch_id, "pre")
        batch_df = batch_df.persist()
        try:
            apply(batch_df, batch_id)
        finally:
            batch_df.unpersist()
        fault_point(batch_id, "post")

    writer = stream.writeStream.foreachBatch(run).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@dataclass
class BucketedStore:
    """Bucketed, manifest-versioned parquet table: the one foreachBatch
    MERGE target, shared by :class:`LatestWinsState` and the SCD2
    dimension (streaming/scd2.Scd2State).

    Layout: ``path/v{N}/_bucket={K}/*.parquet`` — rows land in bucket
    ``pmod(xxhash64(*key), n_buckets)``. ``_MANIFEST.json`` maps each bucket
    to the version directory holding its latest data, so a merge that
    touches 1 bucket writes 1 bucket and repoints 1 manifest entry;
    untouched buckets keep serving their old files (the same copy-on-write
    shape as a Delta/Iceberg transaction log; a batch over many keys touches
    them all: ROADMAP D8). Subclasses name the bucket hash columns in
    ``key`` and may pin the read ``schema`` (None: the parquet footers').
    """

    key: ClassVar[tuple[str, ...]]
    schema: ClassVar[StructType | None] = None

    path: str
    n_buckets: int = 16

    def _manifest_file(self) -> str:
        return os.path.join(self.path, "_MANIFEST.json")

    def _manifest(self, at_version: int | None = None) -> dict:
        """Current manifest, or the snapshot taken when ``at_version`` was
        committed (time travel — vacuum may have removed its data files)."""
        path = (
            self._manifest_file()
            if at_version is None
            else os.path.join(self.path, f"_MANIFEST.v{at_version}.json")
        )
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            if at_version is not None:
                raise ValueError(
                    f"no manifest snapshot for version {at_version} "
                    f"(never committed, or beyond retention)"
                ) from None
            return {"version": -1, "n_buckets": self.n_buckets, "buckets": {}}

    def _write_manifest(self, manifest: dict) -> None:
        """Commit ``manifest``: its per-version snapshot FIRST, then the main
        manifest, each by tmp + atomic os.replace. Every version the main
        manifest can ever point at has a live AS-OF snapshot — the reverse
        order left a crash window where read(at_version=current) raised on a
        committed version (ADVICE r02)."""
        os.makedirs(self.path, exist_ok=True)
        for name in (f"_MANIFEST.v{manifest['version']}.json", "_MANIFEST.json"):
            dst = os.path.join(self.path, name)
            with open(dst + ".tmp", "w") as f:
                json.dump(manifest, f)
            os.replace(dst + ".tmp", dst)

    def _bucket_paths(self, manifest: dict, buckets=None) -> list[str]:
        items = manifest["buckets"].items()
        if buckets is not None:
            want = {str(b) for b in buckets}
            items = [(b, v) for b, v in items if b in want]
        return [
            os.path.join(self.path, f"v{v}", f"_bucket={b}") for b, v in items
        ]

    def sync_layout(self) -> None:
        """Adopt the STORED layout's bucket count before any bucket math.

        A non-empty store's n_buckets is part of its on-disk layout: opening
        it with a different constructor default and hashing with the wrong
        modulus would read the wrong bucket subset (a merge could lose to
        unread stored rows) and repoint manifest entries at data-less bucket
        dirs. Called at the top of every merge — BEFORE bucket_col() and
        read_full() — so the whole merge runs under one layout (ADVICE
        r02)."""
        manifest = self._manifest()
        if manifest["buckets"] and manifest["n_buckets"] != self.n_buckets:
            self.n_buckets = manifest["n_buckets"]

    def bucket_col(self) -> Column:
        return F.pmod(F.xxhash64(*self.key), F.lit(self.n_buckets))

    def read_full(
        self, spark: SparkSession, buckets=None, at_version: int | None = None
    ) -> DataFrame | None:
        """All stored rows — optionally only the given buckets (the merge
        path reads just the buckets a batch touches), or the table AS OF an
        earlier committed version (time travel via the per-version manifest
        snapshot; valid until vacuum reclaims the old files, exactly the
        Delta VACUUM contract)."""
        manifest = self._manifest(at_version)
        paths = self._bucket_paths(manifest, buckets)
        if not paths:
            return None
        reader = spark.read if self.schema is None else spark.read.schema(self.schema)
        return reader.parquet(*paths)

    def vacuum(self) -> list[str]:
        """Delete version directories no manifest entry references (each
        merge strands the touched buckets' PREVIOUS versions — the
        copy-on-write garbage a Delta VACUUM would collect). Safe w.r.t. the
        manifest: only wholly-unreferenced ``v{N}`` dirs are removed, and
        within referenced dirs only bucket partitions the manifest no longer
        points at. Time travel truncates to the current version (old
        manifest snapshots are dropped with their files — the Delta VACUUM
        contract). Returns the removed paths."""
        import shutil

        manifest = self._manifest()
        if os.path.isdir(self.path):
            for d in os.listdir(self.path):
                if (
                    d.startswith("_MANIFEST.v")
                    and d != f"_MANIFEST.v{manifest['version']}.json"
                ):
                    os.remove(os.path.join(self.path, d))
        live: dict[str, set[str]] = {}
        for b, v in manifest["buckets"].items():
            live.setdefault(f"v{v}", set()).add(f"_bucket={b}")
        removed = []
        try:
            entries = os.listdir(self.path)
        except FileNotFoundError:
            return removed
        for d in entries:
            full = os.path.join(self.path, d)
            if not (d.startswith("v") and os.path.isdir(full)):
                continue
            if d not in live:
                shutil.rmtree(full)
                removed.append(full)
                continue
            for sub in os.listdir(full):
                if sub.startswith("_bucket=") and sub not in live[d]:
                    subfull = os.path.join(full, sub)
                    shutil.rmtree(subfull)
                    removed.append(subfull)
        return removed

    def write_buckets(
        self, df: DataFrame, touched: list[int], stamp: dict | None = None
    ) -> None:
        """Commit ``df`` (rows of exactly the ``touched`` buckets, with their
        ``_bucket`` column) as a new version: write those bucket partitions,
        repoint their manifest entries, leave every other bucket untouched.
        ``stamp`` keys go into the same manifest commit as the data (a
        caller's own commit record, e.g. Scd2State's batch ids)."""
        manifest = self._manifest()
        if manifest["buckets"] and manifest["n_buckets"] != self.n_buckets:
            # layout mismatch mid-commit means bucket_col()/read_full already
            # ran with the wrong modulus — refusing beats corrupting the
            # store; merges call sync_layout() first
            raise ValueError(
                f"store at {self.path} has n_buckets="
                f"{manifest['n_buckets']}, writer has {self.n_buckets}; "
                f"call sync_layout() before computing buckets"
            )
        v = manifest["version"] + 1
        if touched:
            (
                df.write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(os.path.join(self.path, f"v{v}"))
            )
        manifest.update(stamp or {}, version=v, n_buckets=self.n_buckets)
        for b in touched:
            manifest["buckets"][str(b)] = v
        self._write_manifest(manifest)


class LatestWinsState(BucketedStore):
    """The latest-wins table: one row per (entity, record_id), bucketed on
    that key. Stored rows INCLUDE DELETE tombstones; :meth:`read` is the
    live view."""

    key = ("entity", "record_id")

    def read(
        self, spark: SparkSession, at_version: int | None = None
    ) -> DataFrame | None:
        """Live view: tombstoned (deleted) keys filtered out."""
        df = self.read_full(spark, at_version=at_version)
        return None if df is None else df.filter(F.col("change_type") != "DELETE")


def merge_latest_wins(
    state: LatestWinsState,
    batch_df: DataFrame,
    tombstone_retention_hours: float | None = 72.0,
) -> None:
    """D1/D2: upsert batch into state, latest wins; DELETE tombstones the key.

    Idempotent under redelivery: replaying events <= the stored replay id
    cannot change the outcome (latest-wins is monotone in (commit_ts,
    replay_id)) — including for deleted keys, because the DELETE row stays in
    the store as a tombstone carrying its (commit_ts, replay_id). A late
    out-of-order pre-delete UPDATE loses to the tombstone instead of
    resurrecting the record. Rows tied on (commit_ts, replay_id) but not on
    content resolve by a row hash, whatever the batch split or arrival order.

    One exchange: the batch and the touched buckets' stored rows are hash-
    partitioned on ``_bucket``, which already satisfies the per-key window,
    so each task ranks and writes whole buckets (one file per bucket). Only
    touched buckets are rewritten, but a batch over many keys touches them
    all, so cost still grows with |state| (ROADMAP D8).

    Tombstone GC: tombstones older than ``tombstone_retention_hours`` behind
    the batch's max event time are dropped (deterministic event-time horizon
    — matches the bus's 72 h retention window, past which no late event for
    that key can still arrive).
    """
    spark = batch_df.sparkSession
    state.sync_layout()  # stored layout wins BEFORE any bucket hashing
    # one tiny driver-side agg: which buckets does this batch touch, and the
    # batch's max event time (the GC horizon anchor) — <= n_buckets values
    stats = batch_df.agg(
        F.collect_set(state.bucket_col()).alias("buckets"),
        F.max("commit_ts").alias("max_ts"),
    ).collect()[0]
    touched = sorted(stats.buckets or [])
    if not touched:
        return
    existing = state.read_full(spark, buckets=touched)
    rows = batch_df if existing is None else batch_df.unionByName(existing)
    w = Window.partitionBy("_bucket", "entity", "record_id").orderBy(
        F.desc("commit_ts"), F.desc("replay_id"), F.xxhash64(*batch_df.columns).desc()
    )
    merged = (
        rows.withColumn("_bucket", state.bucket_col())
        .repartition(state.n_buckets, "_bucket")
        .withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    )
    if tombstone_retention_hours is not None and stats.max_ts is not None:
        horizon = F.lit(stats.max_ts) - F.expr(
            f"INTERVAL {int(tombstone_retention_hours * 3600)} SECONDS"
        )
        merged = merged.filter(
            (F.col("change_type") != "DELETE") | (F.col("commit_ts") >= horizon)
        )
    state.write_buckets(merged, touched)


def bootstrap_from_snapshot(
    snapshot_df: DataFrame, state_dir: str, snapshot_replay_id: int
) -> LatestWinsState:
    """D5 boot sequence (reference design doc:211-259): bulk-load a source
    snapshot into the latest-wins state table, stamped with the replay id
    captured BEFORE the snapshot was taken. Resume the stream with
    ``run_cdc_pipeline(..., start_after_replay_id=snapshot_replay_id)`` —
    events at or before the stamp are skipped (already reflected in the
    snapshot), later events apply on top; latest-wins makes the overlap
    window idempotent.

    ``snapshot_df`` columns: entity, record_id, commit_ts, event (the record
    struct). Synthesized rows carry change_type CREATE and the stamp as
    replay_id, so ordinary merge semantics handle them.
    """
    state = LatestWinsState(state_dir)
    stamped = snapshot_df.select(
        F.lit(snapshot_replay_id).cast("decimal(20,0)").alias("replay_id"),
        "commit_ts",
        "entity",
        "record_id",
        F.lit("CREATE").alias("change_type"),
        F.lit(None).cast("string").alias("txn_key"),
        F.lit(None).cast("int").alias("seq_no"),
        F.lit(None).cast("array<string>").alias("changed_fields"),
        "event",
    )
    merge_latest_wins(state, stamped)
    return state


def stale_topics(
    state_df: DataFrame, now_ts, max_age_hours: int = 70
) -> DataFrame:
    """D6 staleness / gap detection (design doc:306,376,1325-1348): per entity,
    the latest applied commit_ts; entities older than the resync threshold
    (70 h against the 72 h retention window) are flagged for full resync —
    the batch analogue of the daily resync cron."""
    age_limit = F.lit(max_age_hours * 3600)
    return (
        state_df.groupBy("entity")
        .agg(F.max("commit_ts").alias("last_commit_ts"))
        .withColumn(
            "needs_full_resync",
            F.unix_timestamp(F.lit(now_ts)) - F.unix_timestamp("last_commit_ts")
            > age_limit,
        )
    )


def run_cdc_pipeline(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
    start_after_replay_id: int | None = None,
    codec: str = "json",
):
    """Wire the full pipeline and start it (availableNow for tests — drains
    the backlog then stops; drop it for a continuous trigger).

    Flow: stream -> decode (one native projection) -> [A3 offset filter] ->
    foreachBatch: DLQ split, deduplicated on replay_id (D4) + latest-wins
    merge (D1), which absorbs redelivery without a state operator. ``codec``
    selects the payload wire format (json | avro_py — the reference's
    actual Avro wire, A8); every stage downstream of the decode is codec-
    identical.
    """
    decode_error = wire_codec(codec).decode_error
    decoded = decode_envelope(
        read_event_stream(spark, input_dir, max_files_per_trigger, codec=codec),
        codec=codec,
    )
    if start_after_replay_id is not None:
        # A3 subscribeFromReplayId: corrupt rows pass through (they must
        # reach the DLQ regardless of position)
        decoded = decoded.filter(after_replay_id(start_after_replay_id))

    state = LatestWinsState(state_dir)
    select_cols = [
        "replay_id",
        "commit_ts",
        "entity",
        "record_id",
        "change_type",
        "txn_key",
        "seq_no",
        "changed_fields",
        "event",
    ]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # C4/D10: corrupt events to the dead-letter table, stream goes on;
        # one row per replay id, also when the batch is replayed after a
        # kill between this append and the checkpoint commit (a NULL id
        # matches no earlier row: at most one per batch)
        dead = batch_df.filter("is_corrupt").dropDuplicates(["replay_id"])
        if os.path.isdir(dlq_dir):
            seen = spark.read.schema("replay_id DECIMAL(20,0)").parquet(dlq_dir)
            dead = dead.join(seen, "replay_id", "left_anti")
        (
            dead.select(
                "replay_id",
                F.col("schema_id"),
                F.col("raw_payload"),
                F.lit(decode_error).alias("error"),
                F.current_timestamp().alias("failed_at"),
            )
            .write.mode("append")
            .parquet(dlq_dir)
        )
        fault_point(batch_id, "mid")
        good = batch_df.filter(~F.col("is_corrupt")).select(*select_cols)
        merge_latest_wins(state, good)

    return start_batches(decoded, apply_batch, checkpoint_dir, available_now)
