"""Incremental SCD2 maintenance (streaming/scd2.py): the stitched
incremental result must equal a from-scratch build (a pure-Python
gaps-and-islands reference that shares no code with the engine), replays
must be no-ops (the manifest's committed-batch mark), and only touched
buckets may rewrite."""

from __future__ import annotations

import itertools
import json
import os

from hypothesis import given, settings
from hypothesis import strategies as st

from cdc_worker_spark.streaming.scd2 import Scd2State, run_scd2_pipeline

EVENTS = [
    # user 1: view view click view  (3 runs)
    (1, "view", 1000, 1),
    (1, "view", 2000, 2),
    (1, "click", 3000, 3),
    (1, "view", 4000, 4),
    # user 2: click click  (1 run)
    (2, "click", 1500, 5),
    # user 3: one event
    (3, "signup", 9000, 6),
]
COLS = ["user_id", "event_type", "ts_ms", "event_id"]


def _reference(rows):
    """SCD2 history of (user_id, event_type, ts_ms, event_id) rows as
    (user_id, version, event_type, valid_from_ms, valid_to_ms, n_events):
    per user, events in (ts_ms, event_id) order; a version is a maximal run
    of one event_type; valid_to is the next version's start."""
    by_user = {}
    for u, t, ts, e in rows:
        by_user.setdefault(u, []).append((ts, e, t))
    out = []
    for u, events in by_user.items():
        runs = []  # [event_type, valid_from_ms, n_events]
        for ts, _, t in sorted(events):
            if runs and runs[-1][0] == t:
                runs[-1][2] += 1
            else:
                runs.append([t, ts, 1])
        ends = [r[1] for r in runs[1:]] + [None]
        for v, ((t, start, n), end) in enumerate(zip(runs, ends), 1):
            out.append((u, v, t, start, end, n))
    return sorted(out)


def _write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for u, t, ts, e in rows:
            f.write(
                json.dumps(
                    {"user_id": u, "event_type": t, "ts_ms": ts, "event_id": e}
                )
                + "\n"
            )


def _rows(df):
    return sorted(
        (
            r["user_id"],
            r["version"],
            r["event_type"],
            r["valid_from_ms"],
            r["valid_to_ms"],
            r["n_events"],
        )
        for r in df.collect()
    )


def test_incremental_equals_batch(spark, tmp_path):
    """Split the event log at an arbitrary time boundary; merging the two
    halves incrementally must reproduce the one-shot build exactly —
    including a run that SPANS the split (user 1's trailing views)."""
    extra = [(1, "view", 5000, 7), (2, "view", 6000, 8), (4, "click", 100, 9)]
    state = Scd2State(str(tmp_path / "scd2"), n_buckets=4)
    state.merge_batch(spark, spark.createDataFrame(EVENTS, COLS))
    state.merge_batch(spark, spark.createDataFrame(extra, COLS))
    got = _rows(state.read(spark))
    want = _reference(EVENTS + extra)
    assert got == want
    # the spanning run merged instead of splitting: user 1 ends with ONE
    # open 'view' version covering events 4 and 7
    open_v1 = [r for r in got if r[0] == 1 and r[4] is None]
    assert len(open_v1) == 1 and open_v1[0][2] == "view" and open_v1[0][5] == 2


def test_merge_touches_only_affected_buckets(spark, tmp_path):
    state = Scd2State(str(tmp_path / "scd2"), n_buckets=8)
    state.merge_batch(spark, spark.createDataFrame(EVENTS, COLS))
    m1 = state._manifest()
    # second batch touches ONLY user 3
    state.merge_batch(
        spark, spark.createDataFrame([(3, "purchase", 9500, 10)], COLS)
    )
    m2 = state._manifest()
    changed = {
        b for b in m2["buckets"] if m1["buckets"].get(b) != m2["buckets"][b]
    }
    assert len(changed) == 1  # exactly user 3's bucket repointed
    untouched = set(m1["buckets"]) - changed
    assert untouched and all(
        m1["buckets"][b] == m2["buckets"][b] for b in untouched
    )
    # and user 3 now has two versions, signup closed at 9500
    u3 = sorted(r for r in _rows(state.read(spark)) if r[0] == 3)
    assert [(r[2], r[4]) for r in u3] == [("signup", 9500), ("purchase", None)]


def test_pipeline_replay_is_noop_and_restart_resumes(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _write_jsonl(os.path.join(input_dir, "b0.jsonl"), EVENTS)
    run_scd2_pipeline(spark, input_dir, state_dir, ckpt).awaitTermination()
    first = _rows(Scd2State(state_dir).read(spark))
    assert first == _reference(EVENTS)

    # simulate the foreachBatch replay window: the committed mark lives
    # INSIDE the state manifest (atomic with the data), so a replayed
    # apply of batch 0 is a no-op (counts unchanged)
    state = Scd2State(state_dir)
    assert state.committed_batch_id() == 0  # recorded with its merge
    run_scd2_pipeline(spark, input_dir, state_dir, ckpt).awaitTermination()
    assert _rows(Scd2State(state_dir).read(spark)) == first
    assert Scd2State(state_dir).committed_batch_id() == 0

    # a genuinely new file resumes from the checkpoint and stitches
    extra = [(1, "click", 6000, 20)]
    _write_jsonl(os.path.join(input_dir, "b1.jsonl"), extra)
    run_scd2_pipeline(spark, input_dir, state_dir, ckpt).awaitTermination()
    assert _rows(Scd2State(state_dir).read(spark)) == _reference(EVENTS + extra)


def test_unsafe_double_merge_without_ledger_double_counts(spark, tmp_path):
    """Documents WHY the commit record exists: merge_batch without a
    batch_id is NOT idempotent (re-collapsing the same events doubles
    n_events on the spanning run) — the manifest commit is load-bearing."""
    state = Scd2State(str(tmp_path / "scd2"))
    batch = spark.createDataFrame(EVENTS, COLS)
    state.merge_batch(spark, batch)
    state.merge_batch(spark, batch)
    u2 = [r for r in _rows(state.read(spark)) if r[0] == 2]
    assert u2[0][5] == 2  # 1 click counted twice — hence the commit record


def test_merge_with_batch_id_is_exactly_once(spark, tmp_path):
    """The replay-safe path: the batch id commits in the SAME manifest
    os.replace as the data, so re-applying the identical batch_id is a
    no-op — there is no crash window between 'merged' and 'recorded'."""
    state = Scd2State(str(tmp_path / "scd2"))
    batch = spark.createDataFrame(EVENTS, COLS)
    state.merge_batch(spark, batch, batch_id=0)
    once = _rows(state.read(spark))
    state.merge_batch(spark, batch, batch_id=0)  # foreachBatch replay
    assert _rows(state.read(spark)) == once
    assert state.committed_batch_id() == 0
    # an empty batch still records its id (no re-merge on replay)
    state.merge_batch(spark, spark.createDataFrame([], "user_id long, event_type string, ts_ms long, event_id long"), batch_id=1)
    assert state.committed_batch_id() == 1


def test_old_manifest_id_list_reads_as_its_max(spark, tmp_path):
    """A manifest written before the high-water mark lists every committed
    id; it reads as its max, an id at or below it is a no-op, and the next
    commit stores the mark alone."""
    state = Scd2State(str(tmp_path / "scd2"), n_buckets=4)
    state.merge_batch(spark, spark.createDataFrame(EVENTS, COLS), batch_id=0)
    manifest_file = os.path.join(state.path, "_MANIFEST.json")
    with open(manifest_file) as f:
        manifest = json.load(f)
    del manifest["committed_batch_id"]
    manifest["committed_batch_ids"] = [0, 1, 2]
    with open(manifest_file, "w") as f:
        json.dump(manifest, f)
    assert state.committed_batch_id() == 2
    extra = spark.createDataFrame([(3, "purchase", 9500, 10)], COLS)
    state.merge_batch(spark, extra, batch_id=2)  # replay: no-op
    assert _rows(state.read(spark)) == _reference(EVENTS)
    state.merge_batch(spark, extra, batch_id=3)
    assert _rows(state.read(spark)) == _reference(EVENTS + [(3, "purchase", 9500, 10)])
    with open(manifest_file) as f:
        manifest = json.load(f)
    assert manifest["committed_batch_id"] == 3
    assert "committed_batch_ids" not in manifest


def test_restitch_equal_timestamp_runs_deterministic(spark, tmp_path):
    """Two adjacent runs of one user starting at the SAME ts_ms: the
    anchor_id tiebreak orders them like the event-level (ts_ms, event_id)
    total order, so version numbering and valid_to_ms are deterministic
    and incremental == batch holds."""
    rows = [
        (9, "view", 1000, 1),
        (9, "click", 1000, 2),   # same ts as the first run's start
        (9, "view", 1000, 3),    # and a third run, still at ts 1000
        (9, "view", 2000, 4),
    ]
    want = _reference(rows)
    # versions must follow event_id order at the tied timestamp
    types_in_order = [r[2] for r in sorted(want, key=lambda r: r[1])]
    assert types_in_order == ["view", "click", "view"]
    for split in (1, 2, 3):
        state = Scd2State(str(tmp_path / f"scd2_{split}"), n_buckets=4)
        state.merge_batch(spark, spark.createDataFrame(rows[:split], COLS))
        state.merge_batch(spark, spark.createDataFrame(rows[split:], COLS))
        assert _rows(state.read(spark)) == want


def test_old_layout_state_refused(spark, tmp_path):
    """A v1-layout state directory (pre-anchor_id: data present, no layout
    marker) must be refused loudly — reading it with the v2 schema would
    silently NULL anchor_id and degrade the restitch tiebreak (ADVICE r6)."""
    import pytest

    state = Scd2State(str(tmp_path / "scd2_v1"), n_buckets=4)
    os.makedirs(state.path, exist_ok=True)
    with open(os.path.join(state.path, "_MANIFEST.json"), "w") as f:
        json.dump({"version": 0, "n_buckets": 4, "buckets": {"1": 0}}, f)
    with pytest.raises(ValueError, match="layout v1"):
        state.read(spark)
    with pytest.raises(ValueError, match="layout v1"):
        state.merge_batch(spark, spark.createDataFrame(EVENTS[:2], COLS))


def test_manifest_records_layout_version(spark, tmp_path):
    """Every manifest write stamps the current layout version, so a future
    schema change has a marker to dispatch on."""
    from cdc_worker_spark.streaming.scd2 import SCD2_LAYOUT_VERSION

    state = Scd2State(str(tmp_path / "scd2_stamp"), n_buckets=4)
    state.merge_batch(spark, spark.createDataFrame(EVENTS, COLS))
    with open(os.path.join(state.path, "_MANIFEST.json")) as f:
        assert json.load(f)["layout"] == SCD2_LAYOUT_VERSION


def test_merge_batch_equals_reference_property(spark, tmp_path):
    """Random histories (1-4 users, tied ts_ms, 1-3 time-ordered batch
    splits) merged batch by batch, with one committed batch replayed under
    its id at or after its own merge, equal the pure-Python reference."""
    dirs = itertools.count()
    event = st.tuples(
        st.integers(1, 4), st.sampled_from(["view", "click"]), st.integers(0, 3)
    )

    @settings(max_examples=12, deadline=None)
    @given(st.lists(event, min_size=1, max_size=10), st.data())
    def check(drawn, data):
        rows = sorted(
            ((u, t, ts * 1000, e) for e, (u, t, ts) in enumerate(drawn, 1)),
            key=lambda r: (r[2], r[3]),
        )
        cuts = sorted(
            data.draw(st.sets(st.integers(1, len(rows)), max_size=2))
            - {len(rows)}
        )
        batches = [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
        replay = data.draw(st.integers(0, len(batches) - 1))
        after = data.draw(st.integers(replay, len(batches) - 1))
        state = Scd2State(str(tmp_path / f"scd2_{next(dirs)}"), n_buckets=4)
        for i, b in enumerate(batches):
            state.merge_batch(spark, spark.createDataFrame(b, COLS), batch_id=i)
            if i == after:  # foreachBatch re-delivers a committed batch
                again = spark.createDataFrame(batches[replay], COLS)
                state.merge_batch(spark, again, batch_id=replay)
        assert _rows(state.read(spark)) == _reference(rows)
        assert state.committed_batch_id() == len(batches) - 1

    check()
