"""Checks and probes of a CDC pipeline run: live state and dead letters
against the reference model, spans around the merge path, the per-batch
numbers from ``StreamingQueryProgress``, the status tracker and the state
store's manifest, and a decode-only pass."""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import functions as F

from cdc_worker_spark.streaming import LatestWinsState, pipeline
from perfbench import model
from perfbench.harness import Tracer


def live_state(spark, state_dir: str) -> model.Live:
    df = LatestWinsState(state_dir).read(spark)
    if df is None:
        return {}
    pdf = df.select(
        "record_id",
        F.unix_millis("commit_ts").alias("ts"),
        F.col("replay_id").cast("long").alias("rid"),
        F.col("event.BillingAddress.City").alias("city"),
    ).toPandas()
    return {
        k: (int(ts), int(rid), "" if c is None else c)
        for k, ts, rid, c in zip(pdf.record_id, pdf.ts, pdf.rid, pdf.city)
    }


def dead_letters(spark, dlq_dir: str) -> list[int]:
    if not os.path.isdir(dlq_dir):
        return []
    return [int(r[0]) for r in spark.read.parquet(dlq_dir).select("replay_id").collect()]


@dataclass
class Check:
    """Outcome of comparing one pipeline run with the reference model."""

    state_mismatches: int
    dlq_mismatches: int
    notes: list[str]

    @property
    def failed(self) -> int:
        return self.state_mismatches + self.dlq_mismatches


def check(spark, state_dir: str, dlq_dir: str, expected: model.Live, expected_dlq: set[int]) -> Check:
    n, notes = model.diff(expected, live_state(spark, state_dir))
    got = dead_letters(spark, dlq_dir)
    bad_dlq = len(set(got) ^ expected_dlq) + (len(got) - len(set(got)))
    if bad_dlq:
        notes.append(
            f"DLQ: expected {len(expected_dlq)} ids, got {len(got)} rows "
            f"({len(set(got) - expected_dlq)} unexpected, {len(expected_dlq - set(got))} missing)"
        )
    return Check(n, bad_dlq, notes)


@dataclass
class BatchProbe:
    """Spans around the merge path plus per-batch job/stage/task counts and
    state-store writes, recorded from outside the engine by wrapping
    ``merge_latest_wins``, ``LatestWinsState.read_full`` and
    ``LatestWinsState.write_buckets`` while installed.

    Inside a micro-batch the stream's thread carries its run id as the job
    group and the batch id as a local property; ``"<runId>/<batchId>"`` is
    the batch key used in spans and in :func:`progress_layers`."""

    spark: object
    tracer: Tracer
    jobs_at_merge: dict[tuple[str, int], set[int]] = field(default_factory=dict)
    buckets: dict[str, int] = field(default_factory=dict)
    bytes_written: dict[str, int] = field(default_factory=dict)
    _saved: list = field(default_factory=list)

    def _where(self) -> tuple[str | None, int | None]:
        sc = self.spark.sparkContext
        run, b = sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("streaming.sql.batchId")
        return run, None if b is None else int(b)

    def _key(self) -> str | None:
        run, b = self._where()
        return None if b is None else f"{run}/{b}"

    def install(self) -> None:
        tracer, probe = self.tracer, self
        merge, read_full, write = (
            pipeline.merge_latest_wins, LatestWinsState.read_full, LatestWinsState.write_buckets
        )

        def merge_latest_wins(state, batch_df, *a, **kw):
            run, b = probe._where()
            if run is not None and b is not None:
                jobs = probe.spark.sparkContext.statusTracker().getJobIdsForGroup(run)
                probe.jobs_at_merge[(run, b)] = set(jobs)
            with tracer.span("streaming.pipeline.merge", probe._key()):
                return merge(state, batch_df, *a, **kw)

        def read_full_traced(self, *a, **kw):
            with tracer.span("streaming.pipeline.read_full", probe._key()):
                return read_full(self, *a, **kw)

        def write_traced(self, df, touched):
            key = probe._key()
            with tracer.span("streaming.pipeline.write_buckets", key):
                write(self, df, touched)
            if key is not None:
                version = self._manifest()["version"]
                probe.buckets[key] = len(touched)
                probe.bytes_written[key] = _du(os.path.join(self.path, f"v{version}"))

        self._saved = [merge, read_full, write]
        pipeline.merge_latest_wins = merge_latest_wins
        LatestWinsState.read_full = read_full_traced
        LatestWinsState.write_buckets = write_traced

    def uninstall(self) -> None:
        if self._saved:
            merge, read_full, write = self._saved
            pipeline.merge_latest_wins = merge
            LatestWinsState.read_full = read_full
            LatestWinsState.write_buckets = write
            self._saved = []

    def counts_per_batch(self, events: list[dict]) -> dict[str, float]:
        """Median jobs, stages and tasks per batch with input rows. A batch
        counts the jobs from its merge's start to the next data batch's
        merge start in the same query (merge, commit, then the next batch's
        dedup and dead-letter write); a query with one data batch counts
        all its jobs."""
        tracker = self.spark.sparkContext.statusTracker()
        data: dict[str, list[int]] = {}
        for e in events:
            if e.get("numInputRows", 0) > 0 and (e["runId"], e["batchId"]) in self.jobs_at_merge:
                data.setdefault(e["runId"], []).append(e["batchId"])
        cycles = []
        for run, batches in data.items():
            snaps = [self.jobs_at_merge[(run, b)] for b in sorted(batches)]
            if len(snaps) == 1:
                cycles.append(set(tracker.getJobIdsForGroup(run)))
            cycles += [b - a for a, b in zip(snaps, snaps[1:])]
        jobs_, stages_, tasks_ = [], [], []
        for cycle in cycles:
            infos = []
            for j in cycle:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    si = tracker.getStageInfo(st)
                    if si is not None and si.numCompletedTasks:
                        infos.append(si)
            jobs_.append(len(cycle))
            stages_.append(len(infos))
            tasks_.append(sum(si.numCompletedTasks for si in infos))

        def med(xs) -> float:
            return float(statistics.median(xs)) if xs else 0.0

        return {
            "streaming.pipeline.jobs_per_batch": med(jobs_),
            "streaming.pipeline.stages_per_batch": med(stages_),
            "streaming.pipeline.tasks_per_batch": med(tasks_),
            "streaming.pipeline.buckets_touched_per_batch": med(list(self.buckets.values())),
            "streaming.pipeline.state_bytes_written_per_batch": med(list(self.bytes_written.values())),
        }


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def progress(query) -> list[dict]:
    """The query's ``StreamingQueryProgress`` events as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def progress_layers(events: list[dict], tracer: Tracer) -> dict[str, float]:
    """Per-batch medians from the progress events, and the merge-path spans
    split per batch; each progress event's ``durationMs`` is also rebuilt
    into child spans of a ``triggerExecution`` span."""
    rows = [e for e in events if e.get("numInputRows", 0) > 0]
    if not rows:
        raise RuntimeError("no progress event with input rows")
    for e in rows:
        start = _iso_epoch(e["timestamp"])
        end = start + e["durationMs"]["triggerExecution"] / 1000.0
        parent = tracer.add("streaming.pipeline.trigger", start, end, batch=_key(e))
        t = start
        for phase in ("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets"):
            ms = e["durationMs"].get(phase, 0)
            tracer.add(f"streaming.pipeline.{phase}", t, t + ms / 1000.0, parent, _key(e))
            t += ms / 1000.0

    def med(f) -> float:
        return float(statistics.median(f(e) for e in rows))

    def op(e, k):
        ops = e.get("stateOperators") or [{}]
        return ops[0].get(k, 0)

    merge = tracer.per_batch("streaming.pipeline.merge")
    dlq = [e["durationMs"].get("addBatch", 0) / 1000.0 - merge[_key(e)]
           for e in rows if _key(e) in merge]

    def span_med(name: str) -> float:
        per = tracer.per_batch(name)
        vals = [per[_key(e)] for e in rows if _key(e) in per]
        return float(statistics.median(vals)) if vals else 0.0

    return {
        "sources.latest_offset_ms": med(lambda e: e["durationMs"].get("latestOffset", 0)),
        "streaming.pipeline.trigger_ms": med(lambda e: e["durationMs"]["triggerExecution"]),
        "streaming.pipeline.add_batch_ms": med(lambda e: e["durationMs"].get("addBatch", 0)),
        "streaming.pipeline.query_planning_ms": med(lambda e: e["durationMs"].get("queryPlanning", 0)),
        "streaming.pipeline.checkpoint_ms": med(
            lambda e: e["durationMs"].get("walCommit", 0) + e["durationMs"].get("commitOffsets", 0)
        ),
        "streaming.pipeline.dedup_commit_ms": med(lambda e: op(e, "commitTimeMs")),
        "streaming.pipeline.dedup_state_rows": med(lambda e: op(e, "numRowsTotal")),
        "streaming.pipeline.dedup_dropped_rows": med(lambda e: e["numInputRows"] - op(e, "numRowsUpdated")),
        "streaming.pipeline.merge_s": span_med("streaming.pipeline.merge"),
        "streaming.pipeline.read_full_s": span_med("streaming.pipeline.read_full"),
        "streaming.pipeline.write_buckets_s": span_med("streaming.pipeline.write_buckets"),
        "streaming.pipeline.dlq_s": float(statistics.median(dlq)) if dlq else 0.0,
    }


def _key(e: dict) -> str:
    return f"{e['runId']}/{e['batchId']}"


def _iso_epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC with milliseconds."""
    return datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def decode_pass(spark, bus_dir: str, tracer: Tracer) -> dict[str, float]:
    """Decode-only pass over the workload's own Avro-wire bus files into a
    noop sink: envelope decode and the Arrow UDF, without dedup or merge."""
    from cdc_worker_spark.streaming.envelope import decode_envelope

    raw = spark.read.schema(pipeline.AVRO_WIRE_SCHEMA).json(bus_dir).select(
        "replay_id_b64", "schema_id", F.unbase64("payload_b64").alias("payload")
    )
    wire = sum(os.path.getsize(os.path.join(bus_dir, f)) for f in os.listdir(bus_dir))
    t0 = time.time()
    with tracer.span("streaming.envelope.decode"):
        decode_envelope(raw, codec="avro_py").write.format("noop").mode("overwrite").save()
    s = time.time() - t0
    return {
        "streaming.envelope.decode_s": s,
        "functions.avro_codec.decode_mb_per_s": wire / 1e6 / s,
    }
