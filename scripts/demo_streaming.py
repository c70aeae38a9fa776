#!/usr/bin/env python
"""End-to-end drive of the streaming CDC pipeline under a hostile session: the
engine's, with a non-UTC timezone and Spark's default 200 shuffle partitions
(the verify recipe for diffs touching cdc_worker_spark/streaming/).

Scenario (reference semantics, SURVEY §2.2):
  run 1: CREATE A, CREATE B            -> state {A, B}
  run 2 (checkpoint restart, A3/A6):
         UPDATE A, DELETE B,           -> latest-wins (D1), delete apply (D2)
         redelivery of CREATE A,       -> idempotent (D4)
         stale UPDATE A (old offset),  -> does not win (D7 ordering)
         corrupt payload               -> DLQ row, stream continues (C4/D10)
Asserts final state table, DLQ contents, and exits non-zero on any mismatch.

Usage: python scripts/demo_streaming.py
"""

from __future__ import annotations

import base64
import json
import os
import pathlib
import shutil
import struct
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from cdc_worker_spark.session import get_spark  # noqa: E402


def make_envelope(replay_id, record_id="A", change_type="UPDATE",
                  commit_ts=1696444513000, city=None, corrupt=False):
    payload = {
        "ChangeEventHeader": {
            "entityName": "Account",
            "recordIds": [record_id],
            "changeType": change_type,
            "changeOrigin": "demo",
            "transactionKey": "txn-%d" % replay_id,
            "sequenceNumber": 1,
            "commitTimestamp": commit_ts,
            "commitNumber": replay_id,
            "commitUser": "demo",
            "nulledFields": [],
            "diffFields": [],
            "changedFields": ["0x400000", "4-0x6"],
        },
        "BillingAddress": {"City": city, "State": "CA"} if city else None,
        "LastModifiedDate": commit_ts,
    }
    return {
        "replay_id_b64": base64.b64encode(struct.pack(">Q", replay_id)).decode(),
        "schema_id": "account-cdc-v1",
        "payload": "{not-json!" if corrupt else json.dumps(payload),
    }


def write_batch(input_dir, name, envelopes):
    os.makedirs(input_dir, exist_ok=True)
    with open(os.path.join(input_dir, name), "w") as f:
        for e in envelopes:
            f.write(json.dumps(e) + "\n")


def main() -> int:
    from cdc_worker_spark.streaming import LatestWinsState, run_cdc_pipeline

    work = tempfile.mkdtemp(prefix="cdc_demo_")
    dirs = {k: os.path.join(work, k) for k in ("input", "state", "dlq", "chk")}
    # hostile session: non-UTC tz, Spark's default shuffle partitions
    spark = get_spark(
        "cdc-streaming-demo",
        **{
            "spark.sql.session.timeZone": "America/New_York",
            "spark.sql.shuffle.partitions": "200",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    failures: list[str] = []

    def check(cond, msg):
        print(("PASS: " if cond else "FAIL: ") + msg)
        if not cond:
            failures.append(msg)

    t0 = 1696444513000
    try:
        write_batch(dirs["input"], "b1.jsonl", [
            make_envelope(100, "A", "CREATE", t0, city="NYC"),
            make_envelope(101, "B", "CREATE", t0 + 1),
        ])
        q = run_cdc_pipeline(spark, dirs["input"], dirs["state"], dirs["dlq"], dirs["chk"])
        q.awaitTermination(180)
        state = {r.record_id: r for r in LatestWinsState(dirs["state"]).read(spark).collect()}
        check(set(state) == {"A", "B"}, "run1 state has A and B")

        write_batch(dirs["input"], "b2.jsonl", [
            make_envelope(102, "A", "UPDATE", t0 + 2, city="San Francisco"),
            make_envelope(103, "B", "DELETE", t0 + 3),
            make_envelope(100, "A", "CREATE", t0, city="NYC"),  # redelivery
            make_envelope(99, "A", "UPDATE", t0 - 5, city="stale"),  # stale offset
            make_envelope(104, corrupt=True),
        ])
        q = run_cdc_pipeline(spark, dirs["input"], dirs["state"], dirs["dlq"], dirs["chk"])
        q.awaitTermination(180)

        state = {r.record_id: r for r in LatestWinsState(dirs["state"]).read(spark).collect()}
        check(set(state) == {"A"}, "run2 delete applied: only A remains")
        check(int(state["A"].replay_id) == 102, "latest-wins: A at replay 102")
        check(state["A"].event.BillingAddress.City == "San Francisco",
              "A carries the latest payload")
        dlq = spark.read.parquet(dirs["dlq"]).collect()
        check(len(dlq) == 1 and int(dlq[0].replay_id) == 104,
              "corrupt event landed in DLQ, stream continued")

        # incremental SCD2 twin (streaming/scd2.py): two micro-batch runs
        # with a checkpoint restart in between must equal the one-shot
        # batch build, and the replayed first file must be a no-op
        from cdc_worker_spark.operators.warehouse import event_runs, stitch_versions
        from cdc_worker_spark.streaming.scd2 import Scd2State, run_scd2_pipeline

        scd_in = os.path.join(work, "scd_in")
        scd_state = os.path.join(work, "scd_state")
        scd_chk = os.path.join(work, "scd_chk")
        rows1 = [
            {"user_id": 1, "event_type": "view", "ts_ms": 1000, "event_id": 1},
            {"user_id": 1, "event_type": "click", "ts_ms": 2000, "event_id": 2},
        ]
        rows2 = [
            {"user_id": 1, "event_type": "click", "ts_ms": 3000, "event_id": 3},
            {"user_id": 2, "event_type": "signup", "ts_ms": 500, "event_id": 4},
        ]
        os.makedirs(scd_in, exist_ok=True)
        with open(os.path.join(scd_in, "s1.jsonl"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows1)
        run_scd2_pipeline(spark, scd_in, scd_state, scd_chk).awaitTermination()
        with open(os.path.join(scd_in, "s2.jsonl"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows2)
        # restart
        run_scd2_pipeline(spark, scd_in, scd_state, scd_chk).awaitTermination()
        got = sorted(
            (r.user_id, r.version, r.event_type, r.valid_from_ms,
             r.valid_to_ms, r.n_events)
            for r in Scd2State(scd_state).read(spark).collect()
        )
        all_rows = spark.createDataFrame(
            [(r["user_id"], r["event_type"], r["ts_ms"], r["event_id"])
             for r in rows1 + rows2],
            ["user_id", "event_type", "ts_ms", "event_id"],
        )
        want = sorted(
            (r.user_id, r.version, r.event_type, r.valid_from_ms,
             r.valid_to_ms, r.n_events)
            for r in stitch_versions(event_runs(all_rows), ("user_id",)).collect()
        )
        check(got == want,
              "incremental SCD2 across checkpoint restart == batch build")
        check(
            [r for r in got if r[0] == 1 and r[4] is None][0][5] == 2,
            "SCD2 run spanning the batch split merged (click x2 open)",
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    print("FAILED: " + (", ".join(failures) if failures else "none"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
