"""Streaming windowed-agg + stateful-operator tests (SURVEY §2.3
streaming-only rows): tumbling/sliding/session windows with watermarked
eviction, stream-static enrichment, and the C3 running-counters stateful op —
all driven through a real file-source micro-batch stream (availableNow)."""

from __future__ import annotations

from decimal import Decimal

import pytest

from cdc_worker_spark.streaming import decode_envelope
from cdc_worker_spark.streaming.pipeline import read_event_stream
from cdc_worker_spark.streaming.windows import (
    running_counters,
    session_counts,
    sliding_counts,
    stream_static_enrich,
    tumbling_counts,
)

from tests.test_cdc_event_model import make_envelope
from tests.test_streaming import write_batch_file

T0 = 1696446000000  # 2023-10-04 19:00:00 UTC, on the hour

MIN = 60_000  # ms


@pytest.fixture()
def stream(spark, tmp_path):
    """Two-file stream: events across two hours, two entities/records."""
    write_batch_file(
        str(tmp_path / "in"), "b1.jsonl",
        [
            make_envelope(1, record_id="A", commit_ts=T0 + 1 * MIN),
            make_envelope(2, record_id="A", commit_ts=T0 + 10 * MIN),
            make_envelope(3, record_id="B", commit_ts=T0 + 50 * MIN),
        ],
    )
    write_batch_file(
        str(tmp_path / "in"), "b2.jsonl",
        [
            make_envelope(4, record_id="A", commit_ts=T0 + 65 * MIN),  # hour 2; >30min gap
            make_envelope(5, record_id="B", commit_ts=T0 + 70 * MIN),
        ],
    )
    return decode_envelope(
        read_event_stream(spark, str(tmp_path / "in"), max_files_per_trigger=1)
    )


def drain(df, tmp_path, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName("sink")
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    return df.sparkSession.sql("select * from sink")


def test_tumbling_counts(spark, stream, tmp_path):
    # complete-mode memory sink so closed AND open windows are observable
    out = drain(tumbling_counts(stream), tmp_path, mode="complete").collect()
    assert len(out) == 2  # two hourly windows for entity Account
    assert all(r.start.minute == 0 for r in out)  # hour-aligned boundaries
    assert sorted(r.n_events for r in out) == [2, 3]
    # max offset per window advances with the data (D3 checkpoint semantics)
    assert sorted(int(r.max_replay_id) for r in out) == [3, 5]


def test_sliding_counts(spark, stream, tmp_path):
    out = drain(
        sliding_counts(stream, window_len="1 hour", slide="30 minutes"),
        tmp_path,
        mode="complete",
    ).collect()
    # event at T0+1min lands in windows starting 15:30 and 16:00
    n_windows_event1 = [
        r for r in out if r.start.timestamp() * 1000 <= T0 + MIN < r.end.timestamp() * 1000
    ]
    assert len(n_windows_event1) == 2


def test_session_counts(spark, stream, tmp_path):
    out = drain(session_counts(stream, gap="30 minutes"), tmp_path, mode="complete").collect()
    sessions = {(r.record_id, r.n_events) for r in out}
    # A: events at +1,+10 min = one session of 2; +65 min after >30min gap = new session
    assert ("A", 2) in sessions and ("A", 1) in sessions
    # B: +50 and +70 within 30min gap = one session of 2
    assert ("B", 2) in sessions
    assert len(out) == 3


def test_stream_static_enrich(spark, stream, tmp_path):
    dim = spark.createDataFrame(
        [("A", "tier-1"), ("B", "tier-2")], ["record_id", "tier"]
    )
    out = drain(
        stream_static_enrich(stream, dim, on="record_id").select(
            "record_id", "replay_id", "tier"
        ),
        tmp_path,
    ).collect()
    assert len(out) == 5
    assert {(r.record_id, r.tier) for r in out} == {("A", "tier-1"), ("B", "tier-2")}


def test_running_counters_stateful(spark, stream, tmp_path):
    """C3: per-entity receivedEventCount / lastReplayId accumulate across
    micro-batches; the final update-mode row carries the totals."""
    out = drain(running_counters(stream), tmp_path, mode="update").collect()
    # one row per touched key per batch; the LAST row per key is the total
    final = {}
    for r in out:
        final[r.entity] = r
    assert final["Account"].received_event_count == 5
    assert final["Account"].last_replay_id == Decimal(5)


def test_running_counters_ttl_evicts_idle_keys(spark, tmp_path):
    """ttl_ms: a key idle past the TTL loses its state (the reference drops
    idle subscription bookkeeping); its next event restarts from zero.

    Processing-time timers keep a stream continuously triggerable, so this
    drives ONE live query (no availableNow, which never terminates with
    pending timers) and polls the sink between file drops."""
    import time

    in_dir = str(tmp_path / "in")
    write_batch_file(in_dir, "b1.jsonl", [
        make_envelope(1, record_id="A", commit_ts=T0),          # entity Account
        make_envelope(2, record_id="A", commit_ts=T0 + MIN),
    ])
    stream = decode_envelope(
        read_event_stream(spark, in_dir, max_files_per_trigger=None)
    )
    q = (
        running_counters(stream, ttl_ms=500)
        .writeStream.format("memory")
        .queryName("ttl_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )

    def latest(deadline=60):
        t0 = time.time()
        while time.time() - t0 < deadline:
            rows = spark.sql("select * from ttl_sink").collect()
            if rows:
                final = {}
                for r in rows:
                    final[r.entity] = r
                return rows, final
            time.sleep(0.5)
        raise AssertionError("sink never produced rows")

    try:
        # phase 1: Account accumulates to 2
        t0 = time.time()
        while time.time() - t0 < 60:
            _, final = latest()
            if final.get("Account") and final["Account"].received_event_count == 2:
                break
            time.sleep(0.5)
        assert final["Account"].received_event_count == 2

        time.sleep(1.5)  # idle past the 500 ms TTL; timer fires, state evicts
        # Account's next event must restart from zero
        write_batch_file(in_dir, "b2.jsonl", [
            make_envelope(4, record_id="A", commit_ts=T0 + 3 * MIN),
        ])
        t0 = time.time()
        seen = None
        while time.time() - t0 < 60:
            rows = spark.sql("select * from ttl_sink").collect()
            acct = [r for r in rows if r.entity == "Account"]
            if acct and acct[-1].last_replay_id == Decimal(4):
                seen = acct[-1]
                break
            time.sleep(0.5)
        assert seen is not None, "replay 4 never surfaced"
        assert seen.received_event_count == 1  # reset, not 3
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Two live streams join on key within a time interval; pairs outside
    the interval never materialize (state evicted by watermark + bound)."""
    from cdc_worker_spark.streaming.windows import stream_stream_interval_join

    left_dir, right_dir = str(tmp_path / "l"), str(tmp_path / "r")
    write_batch_file(left_dir, "b1.jsonl", [
        make_envelope(1, record_id="A", commit_ts=T0),
        make_envelope(2, record_id="B", commit_ts=T0 + 5 * MIN),
    ])
    write_batch_file(right_dir, "b1.jsonl", [
        make_envelope(10, record_id="A", commit_ts=T0 + 3 * MIN),   # within 10min of 1
        make_envelope(11, record_id="A", commit_ts=T0 + 40 * MIN),  # outside
        make_envelope(12, record_id="B", commit_ts=T0 + 6 * MIN),   # within
        make_envelope(13, record_id="C", commit_ts=T0 + 1 * MIN),   # no left key
    ])
    l = decode_envelope(read_event_stream(spark, left_dir, max_files_per_trigger=None))
    r = decode_envelope(read_event_stream(spark, right_dir, max_files_per_trigger=None))
    out = drain(
        stream_stream_interval_join(l, r), tmp_path, mode="append"
    ).collect()
    pairs = {(int(x.l_replay_id), int(x.r_replay_id)) for x in out}
    assert pairs == {(1, 10), (2, 12)}


@pytest.mark.parametrize(
    "gap_min, want",
    [
        # A: (+1,+10) split from (+65) by the 55-min gap; (+65) and B's
        # (+50,+70) close when b3's watermark passes. C never closes.
        (30, [("A", 1, 0), ("A", 2, 9), ("B", 2, 20)]),
        # a 10-min gap also splits B's 20-min pause into two sessions
        (10, [("A", 1, 0), ("A", 2, 9), ("B", 1, 0), ("B", 1, 0)]),
    ],
    ids=["gap30", "gap10"],
)
def test_session_close_matches_window_agg(spark, tmp_path, gap_min, want):
    """The applyInPandasWithState session closer emits exactly the CLOSED
    sessions the built-in session_window aggregation computes for the same
    gap: counts and spans equal, open sessions withheld. The one ``gap_ms``
    is both the close rule and the watermark delay.

    File mtimes are pinned strictly increasing: the file source orders
    same-mtime files arbitrarily, and processing the far-future batch
    FIRST would advance the watermark past every earlier event (they'd
    drop as late data) — a fixture hazard, not an operator bug."""
    import os as _os
    import time as _time

    from cdc_worker_spark.streaming.windows import session_close_summaries

    write_batch_file(
        str(tmp_path / "in"), "b1.jsonl",
        [
            make_envelope(1, record_id="A", commit_ts=T0 + 1 * MIN),
            make_envelope(2, record_id="A", commit_ts=T0 + 10 * MIN),
            make_envelope(3, record_id="B", commit_ts=T0 + 50 * MIN),
        ],
    )
    write_batch_file(
        str(tmp_path / "in"), "b2.jsonl",
        [
            make_envelope(4, record_id="A", commit_ts=T0 + 65 * MIN),
            make_envelope(5, record_id="B", commit_ts=T0 + 70 * MIN),
        ],
    )
    # far-future batch: advances the watermark past every gap, closing all
    write_batch_file(
        str(tmp_path / "in"), "b3.jsonl",
        [make_envelope(9, record_id="C", commit_ts=T0 + 600 * MIN)],
    )
    now = _time.time()
    for i, name in enumerate(("b1.jsonl", "b2.jsonl", "b3.jsonl")):
        _os.utime(str(tmp_path / "in" / name), (now + 2 * i, now + 2 * i))
    stream = decode_envelope(
        read_event_stream(spark, str(tmp_path / "in"), max_files_per_trigger=1)
    )
    out = drain(
        session_close_summaries(stream, gap_ms=gap_min * MIN), tmp_path
    ).collect()
    got = sorted(
        (r.record_id, r.n_events, (r.last_ts_ms - r.first_ts_ms) // MIN)
        for r in out
    )
    assert got == want
