"""Streaming pipeline tests (SURVEY §5.2 item 4): D1-D7 semantics over a
file-source micro-batch stream — latest-wins state after N batches, delete
apply, dedup under duplicate delivery, DLQ on corrupt payloads, checkpoint
restart without loss or duplication (A3/A6)."""

from __future__ import annotations

import json
import os

import pytest

from cdc_worker_spark.streaming import LatestWinsState, run_cdc_pipeline

from tests.test_cdc_event_model import make_envelope


def write_batch_file(input_dir: str, name: str, envelopes: list[dict]) -> None:
    os.makedirs(input_dir, exist_ok=True)
    with open(os.path.join(input_dir, name), "w") as f:
        for e in envelopes:
            f.write(json.dumps(e) + "\n")


@pytest.fixture()
def dirs(tmp_path):
    return {
        "input": str(tmp_path / "input"),
        "state": str(tmp_path / "state"),
        "dlq": str(tmp_path / "dlq"),
        "chk": str(tmp_path / "chk"),
    }


def run_drain(spark, dirs):
    q = run_cdc_pipeline(
        spark,
        input_dir=dirs["input"],
        state_dir=dirs["state"],
        dlq_dir=dirs["dlq"],
        checkpoint_dir=dirs["chk"],
    )
    q.awaitTermination(120)
    assert not q.isActive


def read_state(spark, dirs):
    df = LatestWinsState(dirs["state"]).read(spark)
    return {} if df is None else {r.record_id: r for r in df.collect()}


def test_latest_wins_delete_and_dlq(spark, dirs):
    """D1 latest-wins, D2 delete apply, C4/D10 dead-letter — across multiple
    micro-batches (maxFilesPerTrigger=1 => one file per batch)."""
    t0 = 1696444513000
    write_batch_file(
        dirs["input"],
        "b1.jsonl",
        [
            make_envelope(100, record_id="A", change_type="CREATE", commit_ts=t0, city="NYC"),
            make_envelope(101, record_id="B", change_type="CREATE", commit_ts=t0 + 1),
        ],
    )
    write_batch_file(
        dirs["input"],
        "b2.jsonl",
        [
            make_envelope(102, record_id="A", change_type="UPDATE", commit_ts=t0 + 2,
                          city="San Francisco"),
            make_envelope(103, record_id="B", change_type="DELETE", commit_ts=t0 + 3),
            make_envelope(104, corrupt=True),
        ],
    )
    run_drain(spark, dirs)

    state = read_state(spark, dirs)
    assert set(state) == {"A"}  # B deleted (D2)
    assert int(state["A"].replay_id) == 102  # latest wins (D1)
    assert state["A"].event.BillingAddress.City == "San Francisco"

    dlq = spark.read.parquet(dirs["dlq"]).collect()
    assert len(dlq) == 1 and int(dlq[0].replay_id) == 104
    assert dlq[0].error == "payload JSON decode failed"


def test_checkpoint_restart_resumes_without_loss_or_dup(spark, dirs):
    """A3/A6: stop, append new files (including a stale update and an exact
    redelivery), restart with the same checkpoint — state converges with no
    loss and no double-apply."""
    t0 = 1696444513000
    write_batch_file(
        dirs["input"], "b1.jsonl",
        [make_envelope(200, record_id="A", change_type="CREATE", commit_ts=t0 + 10)],
    )
    run_drain(spark, dirs)
    assert int(read_state(spark, dirs)["A"].replay_id) == 200

    write_batch_file(
        dirs["input"], "b2.jsonl",
        [
            make_envelope(200, record_id="A", change_type="CREATE", commit_ts=t0 + 10),  # redelivery
            make_envelope(199, record_id="A", change_type="UPDATE", commit_ts=t0 + 5),   # stale
            make_envelope(201, record_id="C", change_type="CREATE", commit_ts=t0 + 20),
        ],
    )
    run_drain(spark, dirs)

    state = read_state(spark, dirs)
    assert set(state) == {"A", "C"}
    assert int(state["A"].replay_id) == 200  # stale 199 did not win; 200 idempotent
    assert int(state["C"].replay_id) == 201


def test_late_predelete_does_not_resurrect(spark, dirs):
    """A late out-of-order UPDATE that pre-dates an applied DELETE (not an
    exact-replay-id redelivery) must NOT bring the record back — the DELETE
    tombstone keeps its (commit_ts, replay_id) and wins the latest-per-key
    comparison."""
    t0 = 1696444513000
    write_batch_file(dirs["input"], "b1.jsonl", [
        make_envelope(100, record_id="A", change_type="CREATE", commit_ts=t0),
        make_envelope(102, record_id="A", change_type="DELETE", commit_ts=t0 + 2),
    ])
    run_drain(spark, dirs)
    assert read_state(spark, dirs) == {}

    write_batch_file(dirs["input"], "b2.jsonl", [
        make_envelope(101, record_id="A", change_type="UPDATE", commit_ts=t0 + 1),
    ])
    run_drain(spark, dirs)
    assert read_state(spark, dirs) == {}


def test_ordered_apply_within_batch(spark, dirs):
    """D7/O5: out-of-order arrival within one batch still applies in
    (commit_ts, replay_id) order — the within-key sort before merge."""
    t0 = 1696444513000
    write_batch_file(
        dirs["input"], "b1.jsonl",
        [
            # arrival order deliberately scrambled
            make_envelope(402, record_id="A", change_type="UPDATE", commit_ts=t0 + 2, city="v2"),
            make_envelope(400, record_id="A", change_type="CREATE", commit_ts=t0, city="v0"),
            make_envelope(401, record_id="A", change_type="UPDATE", commit_ts=t0 + 1, city="v1"),
        ],
    )
    run_drain(spark, dirs)
    state = read_state(spark, dirs)
    assert int(state["A"].replay_id) == 402
    assert state["A"].event.BillingAddress.City == "v2"


def test_missing_replay_id_is_corrupt_not_silently_dropped(spark, dirs):
    """An envelope whose replay id is missing or undecodable must surface as
    corrupt (DLQ), not vanish in NULL-valued offset predicates or collide in
    replay-id dedup."""
    t0 = 1696444513000
    good = make_envelope(500, record_id="A", commit_ts=t0)
    no_rid = dict(make_envelope(501, record_id="B", commit_ts=t0 + 1))
    no_rid["replay_id_b64"] = None
    write_batch_file(dirs["input"], "b1.jsonl", [good, no_rid])
    q = run_cdc_pipeline(
        spark, dirs["input"], dirs["state"], dirs["dlq"], dirs["chk"],
        start_after_replay_id=100,  # the NULL-trap filter path
    )
    q.awaitTermination(120)
    assert set(read_state(spark, dirs)) == {"A"}
    dlq = spark.read.parquet(dirs["dlq"]).collect()
    assert len(dlq) == 1 and dlq[0].replay_id is None


def test_poison_bitmap_entry_does_not_fail_the_batch(spark, dirs):
    """A changedFields entry outside the field dictionary is data, not a
    decode failure: under ANSI mode the batch still commits, the entry
    expands to nothing and the event's valid entries still name fields."""
    t0 = 1696444513000
    write_batch_file(
        dirs["input"], "b1.jsonl",
        [
            make_envelope(900, record_id="A", commit_ts=t0),
            make_envelope(901, record_id="B", commit_ts=t0 + 1,
                          changed_bitmaps=["99-0x1", "-0x1", "0x400000"]),
        ],
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    run_drain(spark, dirs)
    state = read_state(spark, dirs)
    assert set(state) == {"A", "B"}
    assert state["B"].changed_fields == ["LastModifiedDate"]
    assert state["A"].changed_fields == [
        "LastModifiedDate", "BillingAddress.City", "BillingAddress.State",
    ]
    assert not os.path.isdir(dirs["dlq"]) or not spark.read.parquet(dirs["dlq"]).collect()


def test_avro_wire_pipeline_end_to_end(spark, dirs):
    """The reference's ACTUAL wire format through the full pipeline: Avro
    binary payloads (base64-framed in the file source, as the gRPC bridge
    hands them off) -> avro_py decode -> dedup -> latest-wins merge, with
    undecodable bytes dead-lettered. Final state equals what the same
    logical events produce through the JSON codec."""
    import base64

    from cdc_worker_spark.functions.avro_codec import encode as avro_encode, parse_schema
    from cdc_worker_spark.streaming.envelope import (
        account_payload_schema,
        avro_schema_json,
    )

    sch = parse_schema(avro_schema_json(account_payload_schema()))

    def avro_env(replay_id: int, **kw) -> dict:
        e = make_envelope(replay_id, **kw)
        wire = avro_encode(json.loads(e["payload"]), sch)
        return {
            "replay_id_b64": e["replay_id_b64"],
            "schema_id": e["schema_id"],
            "payload_b64": base64.b64encode(wire).decode(),
        }

    bad = make_envelope(104)
    write_batch_file(dirs["input"], "b0.jsonl", [
        avro_env(100, record_id="A", city="Lagos"),
        avro_env(101, record_id="B", city="Quito"),
    ])
    write_batch_file(dirs["input"], "b1.jsonl", [
        avro_env(102, record_id="A", city="Oslo"),   # A updates
        avro_env(102, record_id="A", city="Oslo"),   # duplicate delivery
        {  # undecodable avro bytes -> DLQ
            "replay_id_b64": bad["replay_id_b64"],
            "schema_id": bad["schema_id"],
            "payload_b64": base64.b64encode(b"\xde\xad").decode(),
        },
    ])
    q = run_cdc_pipeline(
        spark,
        input_dir=dirs["input"],
        state_dir=dirs["state"],
        dlq_dir=dirs["dlq"],
        checkpoint_dir=dirs["chk"],
        codec="avro_py",
    )
    q.awaitTermination(120)
    assert not q.isActive

    state = read_state(spark, dirs)
    assert set(state) == {"A", "B"}
    assert int(state["A"].replay_id) == 102
    assert state["A"].event.BillingAddress.City == "Oslo"
    dlq = spark.read.parquet(dirs["dlq"]).collect()
    assert len(dlq) == 1 and int(dlq[0].replay_id) == 104
    assert "avro_py decode failed" in dlq[0].error


def dlq_ids(spark, dirs):
    return sorted(int(r.replay_id) for r in spark.read.parquet(dirs["dlq"]).collect())


def test_corrupt_redelivered_in_later_batch_dead_letters_once(spark, dirs):
    """A corrupt payload redelivered in a later batch (and twice within that
    batch) leaves exactly one DLQ row: dead letters dedup on replay_id
    against the batch and the existing DLQ."""
    t0 = 1696444513000
    write_batch_file(dirs["input"], "b1.jsonl", [
        make_envelope(600, record_id="A", commit_ts=t0),
        make_envelope(601, corrupt=True),
    ])
    write_batch_file(dirs["input"], "b2.jsonl", [
        make_envelope(601, corrupt=True),
        make_envelope(601, corrupt=True),
        make_envelope(602, record_id="B", commit_ts=t0 + 1),
    ])
    run_drain(spark, dirs)
    assert set(read_state(spark, dirs)) == {"A", "B"}
    assert dlq_ids(spark, dirs) == [601]


def test_replayed_batch_after_restart_no_duplicate_dlq(spark, dirs):
    """A kill between the DLQ append and the checkpoint commit replays the
    batch on restart (simulated by deleting its commit file): the replay
    re-runs the merge but appends no dead letter twice and leaves the live
    state unchanged."""
    t0 = 1696444513000
    write_batch_file(dirs["input"], "b1.jsonl", [
        make_envelope(700, record_id="A", change_type="CREATE", commit_ts=t0),
        make_envelope(701, record_id="A", change_type="UPDATE", commit_ts=t0 + 1,
                      city="Lima"),
        make_envelope(702, record_id="B", change_type="CREATE", commit_ts=t0 + 2),
        make_envelope(703, corrupt=True),
    ])
    run_drain(spark, dirs)
    before = read_state(spark, dirs)
    version = LatestWinsState(dirs["state"])._manifest()["version"]

    commits = os.path.join(dirs["chk"], "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    run_drain(spark, dirs)

    assert LatestWinsState(dirs["state"])._manifest()["version"] == version + 1
    assert read_state(spark, dirs) == before
    assert int(before["A"].replay_id) == 701
    assert dlq_ids(spark, dirs) == [703]


def test_same_replay_id_different_content_is_deterministic(spark, tmp_path):
    """Two events sharing (commit_ts, replay_id) but differing in content
    resolve by the merge's row-hash tiebreak: the same live row whether they
    arrive in one batch or in two, in either arrival order."""
    t0 = 1696444513000
    x = make_envelope(800, record_id="A", commit_ts=t0, city="Xi'an")
    y = make_envelope(800, record_id="A", commit_ts=t0, city="York")
    winners = set()
    for run, batches in enumerate(([[x, y]], [[y, x]], [[x], [y]], [[y], [x]])):
        d = {k: str(tmp_path / str(run) / k) for k in ("input", "state", "dlq", "chk")}
        for i, events in enumerate(batches):
            write_batch_file(d["input"], f"b{i}.jsonl", events)
        run_drain(spark, d)
        state = read_state(spark, d)
        assert set(state) == {"A"} and int(state["A"].replay_id) == 800
        winners.add(state["A"].event.BillingAddress.City)
    assert len(winners) == 1 and winners <= {"Xi'an", "York"}
