"""Streaming windowed aggregations + stateful operators (SURVEY §2.3
streaming-only table).

Reference mapping:
- tumbling/sliding/session aggs: the north-star streaming analogues of the
  batch queries q_cdc_tumbling / q_cdc_sessionize.
- running per-topic counters (count + max offset): the reference's
  SubscriptionInfo bookkeeping — ``receivedEventCount++`` per event and
  ``lastReplayId`` advance (client.js:747-748,778; keepalive client.js:846-857)
  — reimplemented as an explicitly-stateful per-key operator
  (``applyInPandasWithState``), the Spark-native form of C3.
- stream-static enrich: dimension join against a batch table (D5 snapshot
  enrichment); the static side is broadcast by Catalyst when small, so the
  stream never shuffles.

Scale notes (100 TB): all window aggs carry a watermark so state is bounded
and evicted; per-key state for the counters is O(distinct keys), and the
key space here is topics/entities (small). Counts and maxes are
map-side-combined before touching state.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def tumbling_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "commit_ts",
    key_col: str = "entity",
) -> DataFrame:
    """Per-entity event counts in tumbling windows with late-data drop
    (watermark => bounded state, append-mode emission on window close)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_len).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n_events"), F.max("replay_id").alias("max_replay_id"))
        .select("win.start", "win.end", key_col, "n_events", "max_replay_id")
    )


def sliding_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "commit_ts",
    key_col: str = "entity",
) -> DataFrame:
    """Sliding-window counts: each event lands in window_len/slide windows."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_len, slide).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select("win.start", "win.end", key_col, "n_events")
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "commit_ts",
    key_col: str = "record_id",
) -> DataFrame:
    """Session windows: a session closes after ``gap`` of per-key silence
    (streaming twin of the batch q_cdc_sessionize lag+cumsum formulation)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select("win.start", "win.end", key_col, "n_events")
    )


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: list[str] | str, how: str = "left"
) -> DataFrame:
    """Enrich a stream against a static dimension table (D5). The static side
    re-resolves per micro-batch; small dims broadcast — no stream shuffle."""
    return stream.join(dim, on=on, how=how)


#: output schema of running_counters
COUNTERS_SCHEMA = T.StructType(
    [
        T.StructField("entity", T.StringType()),
        T.StructField("received_event_count", T.LongType()),
        T.StructField("last_replay_id", T.DecimalType(20, 0)),
    ]
)

_COUNTER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("max_rid", T.StringType()),  # uint64-safe as string
    ]
)


def _update_counters(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-key state update: fold this batch's (count, max replay id) into the
    running totals. Pure-Python ints (unbounded) keep uint64 offsets exact."""
    n, max_rid = state.get if state.exists else (0, None)
    cur = int(max_rid) if max_rid is not None else -1
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            cur = max(cur, max(int(r) for r in pdf["replay_id"]))
    state.update((n, str(cur) if cur >= 0 else None))
    yield pd.DataFrame(
        {
            "entity": [key[0]],
            "received_event_count": [n],
            "last_replay_id": [cur if cur >= 0 else None],
        }
    )


def running_counters(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Reference C3 as an arbitrary stateful op: per-entity
    ``receivedEventCount`` and ``lastReplayId``, updated every micro-batch and
    emitted in update mode (one row per touched key per batch).

    ``ttl_ms`` evicts state for keys idle longer than the TTL (processing
    time) — the reference drops idle subscription bookkeeping the same way,
    and at scale unbounded per-key state for dead topics is a leak. An
    evicted key restarts its counters from zero on its next event."""
    if ttl_ms is None:
        return events.groupBy("entity").applyInPandasWithState(
            _update_counters,
            outputStructType=COUNTERS_SCHEMA,
            stateStructType=_COUNTER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def update_with_ttl(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # idle past TTL: free the key's state, emit nothing
            return
        yield from _update_counters(key, pdfs, state)
        state.setTimeoutDuration(ttl_ms)

    return events.groupBy("entity").applyInPandasWithState(
        update_with_ttl,
        outputStructType=COUNTERS_SCHEMA,
        stateStructType=_COUNTER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "record_id",
    interval: str = "10 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "commit_ts",
) -> DataFrame:
    """Watermarked stream-stream join: rows of two live streams pair when
    they share ``key`` and their event times fall within ``interval`` of
    each other. Both sides carry a watermark AND the join carries the time
    bound, so Spark can size and EVICT the join state — without the
    interval condition, stream-stream join state grows forever (the classic
    unbounded-state trap). State per side is O(events within watermark +
    interval), the same bound as the windowed aggs."""
    l = left.select(
        F.col(key).alias("l_key"),
        F.col(ts_col).alias("l_ts"),
        F.col("replay_id").alias("l_replay_id"),
        F.col("change_type").alias("l_change_type"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key).alias("r_key"),
        F.col(ts_col).alias("r_ts"),
        F.col("replay_id").alias("r_replay_id"),
        F.col("change_type").alias("r_change_type"),
    ).withWatermark("r_ts", watermark)
    return l.join(
        r,
        F.expr(
            f"""
            l_key = r_key AND
            r_ts BETWEEN l_ts - INTERVAL {interval} AND l_ts + INTERVAL {interval}
            """
        ),
    )


SESSION_SUMMARY_SCHEMA = (
    "record_id string, n_events bigint, first_ts_ms bigint, last_ts_ms bigint"
)


#: session-close state: the key's open/pending sessions as parallel arrays
#: (ns[i], t0s[i], t1s[i]) sorted by t0 — normally 1-2 entries; bounded by
#: sessions inside the watermark horizon, same bound as the built-in agg.
_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ns", T.ArrayType(T.LongType())),
        T.StructField("t0s", T.ArrayType(T.LongType())),
        T.StructField("t1s", T.ArrayType(T.LongType())),
    ]
)


def session_close_summaries(events: DataFrame, gap_ms: int = 30 * 60_000) -> DataFrame:
    """Per-key session summaries on ``applyInPandasWithState`` +
    ``EventTimeTimeout``: one appended row per CLOSED session (count +
    span), emitted exactly when the event-time watermark passes
    last_event + ``gap_ms``. The watermark delay is the gap itself, so the
    closed set matches the built-in ``session_window`` aggregation's for
    the same gap (asserted in tests), and the operator is the template for
    session logic the built-in can't express (per-session payload digests,
    conditional emission, cross-session carry-over).

    A key's pending sessions live in ONE GroupState value (parallel
    arrays): new events merge/split against them by the gap rule (events
    later than last + gap open a NEW session, so a batch spanning a
    session boundary never glues two sessions together), sessions whose
    close time the watermark passed emit, and one event-time timeout
    re-arms at the earliest remaining close — O(sessions inside the
    watermark horizon) state per key."""

    def _close(key, sessions, wm):
        """Split sessions into (emit-frame, keep) by the watermark."""
        done = [s for s in sessions if s[2] + gap_ms <= wm]
        keep = [s for s in sessions if s[2] + gap_ms > wm]
        frame = pd.DataFrame(
            {
                "record_id": [key[0]] * len(done),
                "n_events": [s[0] for s in done],
                "first_ts_ms": [s[1] for s in done],
                "last_ts_ms": [s[2] for s in done],
            }
        )
        return frame, keep

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        sessions: list[list[int]] = []
        if state.exists:
            ns, t0s, t1s = state.get
            sessions = [[n, a, b] for n, a, b in zip(ns, t0s, t1s)]
        if not state.hasTimedOut:
            pts = []
            for pdf in pdfs:
                pts.extend(int(t) for t in pdf["ts_ms"])
            # merge points + stored sessions under the gap rule
            items = sorted(sessions + [[1, t, t] for t in pts], key=lambda s: s[1])
            sessions = []
            for it in items:
                if sessions and it[1] <= sessions[-1][2] + gap_ms:
                    last = sessions[-1]
                    last[0] += it[0]
                    last[2] = max(last[2], it[2])
                else:
                    sessions.append(it)
        wm = state.getCurrentWatermarkMs()
        frame, keep = _close(key, sessions, wm)
        if keep:
            state.update(
                ([s[0] for s in keep], [s[1] for s in keep], [s[2] for s in keep])
            )
            state.setTimeoutTimestamp(max(keep[0][2] + gap_ms, wm + 1))
        else:
            state.remove()
        if len(frame):
            yield frame

    with_ts = events.withColumn(
        "ts_ms", (F.col("commit_ts").cast("double") * 1000).cast("long")
    ).withWatermark("commit_ts", f"{gap_ms} milliseconds")
    return (
        with_ts.select("record_id", "commit_ts", "ts_ms")
        .groupBy("record_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SUMMARY_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
