"""Streaming chaos: kill-and-resume the foreachBatch pipelines MID-BATCH
(VERDICT r06 next #5). The exactly-once story must survive a hard stop at
any point between the sink write and the checkpoint commit — not just
clean restarts. Every pipeline starts through pipeline.start_batches, so
one seam, ``pipeline.fault_point(batch_id, point)``, is monkeypatched to
raise at ``pre`` (before the batch's apply), ``mid`` (between a
pipeline's two side effects — the torn-write window) or ``post`` (after
apply, before the checkpoint commit — the classic replay-duplication
window). After every crash the query restarts from the checkpoint; the
final output must equal what one uninterrupted run produces. Reference
contract: client.js:227-242 + design doc :1137-1156 (replays re-deliver;
the consumer must be idempotent)."""

from __future__ import annotations

import json
import os
import random

import pytest

from cdc_worker_spark.functions.avro_codec import encode, parse_schema
from cdc_worker_spark.streaming import pipeline
from cdc_worker_spark.streaming.envelope import (
    ACCOUNT_CHILD_FIELDS,
    ACCOUNT_FIELDS,
    account_payload_schema,
    avro_schema_json,
    decode_envelope,
)
from cdc_worker_spark.streaming.registry import (
    SchemaRegistry,
    TopicSchema,
    run_multiplexed_pipeline,
)
from perfbench import cdc, gen, model
from tests.test_cdc_event_model import make_envelope
from tests.test_streaming import write_batch_file

N_TOPICS, N_FILES, PER_FILE = 4, 6, 40
POINTS = ("pre", "mid", "post")
#: seeds run in the default gate; between them they kill at every point
DEFAULT_SEEDS = (0, 8)


class Killer:
    """One-shot fault point: raises at each configured (batch, point)
    exactly once across the whole run, surviving query restarts."""

    def __init__(self, kills):
        self.pending = set(kills)
        self.fired = []

    def __call__(self, batch_id: int, point: str) -> None:
        key = (batch_id, point)
        if key in self.pending:
            self.pending.discard(key)
            self.fired.append(key)
            raise RuntimeError(f"chaos kill at batch={batch_id} point={point}")


def _install(monkeypatch, kills) -> Killer:
    killer = Killer(kills)
    monkeypatch.setattr(pipeline, "fault_point", killer)
    return killer


def _pin_mtimes(input_dir: str, names) -> None:
    """Strictly increasing mtimes, so micro-batch i reads file i."""
    for i, name in enumerate(names):
        os.utime(os.path.join(input_dir, name), (1_700_000_000 + 2 * i,) * 2)


def _run_until_done(start, max_restarts=12) -> int:
    """Start the query with ``start()`` and restart it after every chaos
    kill until it drains; returns the number of restarts."""
    restarts = 0
    while True:
        q = start()
        try:
            q.awaitTermination(300)
            if not q.isActive and q.exception() is None:
                return restarts
            raise RuntimeError(str(q.exception()))
        except Exception as ex:  # noqa: BLE001 — the injected crash
            if "chaos kill" not in str(ex):
                raise
            restarts += 1
            if restarts > max_restarts:
                raise AssertionError("pipeline never drained") from ex
        finally:
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                pass


# ------------------------------------------------------ multiplexed pipeline


def _registry():
    reg = SchemaRegistry()
    for t in range(N_TOPICS):
        reg.register(
            TopicSchema(
                schema_id=f"cht{t}-v1",
                fields=ACCOUNT_FIELDS,
                child_fields=ACCOUNT_CHILD_FIELDS,
                payload_schema=account_payload_schema(),
            )
        )
    return reg


def _write_input(input_dir: str):
    """Interleaved 4-topic bus, one file per micro-batch; returns the
    ledger: expected last (replay, city) per (topic, record) and the full
    per-topic replay-id sets."""
    expected, per_topic = {}, {t: set() for t in range(N_TOPICS)}
    rid = 0
    for f_idx in range(N_FILES):
        rows = []
        for _ in range(PER_FILE):
            topic = rid % N_TOPICS
            rec = f"T{topic}R{rid % 11}"
            city = f"City{rid}"
            e = make_envelope(
                rid, record_id=rec, commit_ts=1696444513000 + rid, city=city
            )
            e["schema_id"] = f"cht{topic}-v1"
            rows.append(e)
            expected[(topic, rec)] = (rid, city)
            per_topic[topic].add(rid)
            rid += 1
        write_batch_file(input_dir, f"f{f_idx:02d}.jsonl", rows)
    _pin_mtimes(input_dir, [f"f{f:02d}.jsonl" for f in range(N_FILES)])
    return expected, per_topic, rid


def _assert_exactly_once(spark, dirs, expected, per_topic, total):
    out = spark.read.parquet(dirs["out"]).collect()
    assert len(out) == total, f"loss/dup: {len(out)} rows vs {total} events"
    got = {t: set() for t in range(N_TOPICS)}
    latest = {}
    for r in out:
        topic = int(r.schema_id.removeprefix("cht").split("-")[0])
        rp = int(r.replay_id)
        got[topic].add(rp)
        key = (topic, r.record_id)
        if key not in latest or rp > latest[key][0]:
            city = (json.loads(r.event_json).get("BillingAddress") or {}).get(
                "City"
            )
            latest[key] = (rp, city)
    assert got == per_topic  # per-topic exactly-once
    assert latest == expected  # per-topic per-record ordering
    assert spark.read.parquet(dirs["dlq"]).filter("is_corrupt").count() == 0


@pytest.mark.parametrize(
    "seed",
    [
        pytest.param(s, marks=() if s in DEFAULT_SEEDS else pytest.mark.slow)
        for s in range(10)
    ],
)
def test_kill_and_resume_mid_batch(spark, tmp_path, monkeypatch, seed):
    rng = random.Random(seed)
    n_kills = rng.randint(1, 3)
    kills = set()
    while len(kills) < n_kills:
        kills.add((rng.randrange(N_FILES), rng.choice(POINTS)))
    dirs = {k: str(tmp_path / k) for k in ("input", "out", "dlq", "chk")}
    expected, per_topic, total = _write_input(dirs["input"])
    killer = _install(monkeypatch, kills)
    reg = _registry()
    restarts = _run_until_done(
        lambda: run_multiplexed_pipeline(
            spark, dirs["input"], dirs["out"], dirs["dlq"], dirs["chk"], reg,
            max_files_per_trigger=1,
        )
    )
    assert restarts == n_kills, (killer.fired, kills)
    assert not killer.pending  # every kill point actually fired
    _assert_exactly_once(spark, dirs, expected, per_topic, total)


@pytest.mark.slow
def test_post_write_kill_would_duplicate_under_append(spark, tmp_path):
    """Negative control: the pre-r7 append sink DOES double-write under a
    post-write kill — proving the chaos suite distinguishes the idempotent
    sink from the broken one (guards against a vacuous pass)."""
    from pyspark.sql import DataFrame

    dirs = {k: str(tmp_path / k) for k in ("input", "out", "chk")}
    _, _, total = _write_input(dirs["input"])
    reg = _registry()
    from cdc_worker_spark.streaming.envelope import ENVELOPE_SCHEMA
    from cdc_worker_spark.streaming.registry import (
        decode_multiplexed,
        resolve_new_ids,
    )

    killed = {"armed": True}

    def apply_batch_append(batch_df: DataFrame, batch_id: int) -> None:
        resolve_new_ids(reg, batch_df)
        decode_multiplexed(batch_df, reg).filter("NOT is_corrupt").write.mode(
            "append"
        ).parquet(dirs["out"])
        if batch_id == 2 and killed["armed"]:
            killed["armed"] = False
            raise RuntimeError("chaos kill post-append")

    def run():
        return (
            spark.readStream.schema(ENVELOPE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(dirs["input"])
            .writeStream.foreachBatch(apply_batch_append)
            .option("checkpointLocation", dirs["chk"])
            .trigger(availableNow=True)
            .start()
        )

    q = run()
    with pytest.raises(Exception, match="chaos kill"):
        q.awaitTermination(300)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    q.stop()
    q = run()
    q.awaitTermination(300)
    n = spark.read.parquet(dirs["out"]).count()
    assert n == total + PER_FILE  # batch 2 landed twice: the bug the
    # per-batch overwrite sink exists to prevent


# ---------------------------------------------------- latest-wins pipeline

#: a small Avro-wire backlog; seed 15's plan puts corrupt payloads in files
#: 2 and 3, and redeliveries, DELETEs and late UPDATEs across the files
CDC_SEED, CDC_EVENTS, CDC_KEYS, CDC_PER_FILE = 15, 600, 150, 100
CDC_BASE_TS_MS, CDC_STEP_MS = 1_767_312_000_000, 10


def _cdc_backlog(bus_dir: str) -> list[gen.Record]:
    """Write the backlog, one file per micro-batch; return its history."""
    os.makedirs(bus_dir)
    schema = parse_schema(avro_schema_json(account_payload_schema()))
    specs = gen.plan_events(CDC_SEED, CDC_EVENTS, CDC_KEYS)
    stamps: list[int] = []
    history = []
    n_files = CDC_EVENTS // CDC_PER_FILE
    for f in range(n_files):
        lines = []
        for i in range(f * CDC_PER_FILE, (f + 1) * CDC_PER_FILE):
            ts = gen.stamp(specs, i, CDC_BASE_TS_MS + i * CDC_STEP_MS, stamps)
            stamps.append(ts)
            lines.append(gen.avro_line(specs[i], ts, encode, schema))
            history.append(gen.record(specs[i], ts))
        gen.write_file(bus_dir, gen.file_name(f), lines)
    _pin_mtimes(bus_dir, [gen.file_name(f) for f in range(n_files)])
    return history


@pytest.mark.parametrize("point", POINTS)
def test_cdc_pipeline_kill_and_resume(spark, tmp_path, monkeypatch, point):
    """run_cdc_pipeline killed once at ``point`` of a batch holding corrupt
    payloads, then resumed from its checkpoint: the live state equals the
    shared latest-wins model and every dead replay id is in the DLQ
    exactly once."""
    d = {k: str(tmp_path / k) for k in ("bus", "state", "dlq", "chk")}
    history = _cdc_backlog(d["bus"])
    corrupt_files = sorted(
        {i // CDC_PER_FILE for i, r in enumerate(history) if r.corrupt}
    )
    assert corrupt_files  # the fixture plants dead letters...
    assert len({r.replay_id for r in history}) < len(history)  # ...and dups
    killer = _install(monkeypatch, {(corrupt_files[0], point)})
    restarts = _run_until_done(
        lambda: pipeline.run_cdc_pipeline(
            spark, d["bus"], d["state"], d["dlq"], d["chk"], codec="avro_py"
        )
    )
    assert restarts == 1 and not killer.pending
    expected, expected_dlq = model.latest_wins(history)
    result = cdc.check(spark, d["state"], d["dlq"], expected, expected_dlq)
    assert result.failed == 0, result.notes


# ------------------------------------------------------------ SCD2 pipeline


def test_scd2_pipeline_post_kill_does_not_double_count(spark, tmp_path, monkeypatch):
    """A kill after batch 0's merge, before its checkpoint commit, replays
    batch 0 under the same id: the committed mark makes it a no-op, so
    interval counts equal the one-shot reference."""
    from cdc_worker_spark.streaming.scd2 import Scd2State, run_scd2_pipeline
    from tests.test_streaming_scd2 import EVENTS, _reference, _rows, _write_jsonl

    d = {k: str(tmp_path / k) for k in ("in", "state", "chk")}
    halves = (EVENTS[:3], EVENTS[3:] + [(1, "view", 5000, 7)])
    for i, rows in enumerate(halves):
        _write_jsonl(os.path.join(d["in"], f"b{i}.jsonl"), rows)
    _pin_mtimes(d["in"], ["b0.jsonl", "b1.jsonl"])
    killer = _install(monkeypatch, {(0, "post")})
    restarts = _run_until_done(
        lambda: run_scd2_pipeline(spark, d["in"], d["state"], d["chk"])
    )
    assert restarts == 1 and not killer.pending
    state = Scd2State(d["state"])
    assert _rows(state.read(spark)) == _reference(halves[0] + halves[1])
    assert state.committed_batch_id() == 1


# ----------------------------------------------------------- forwarding sink


def _poster(dead: frozenset):
    def poster(entity: str, payload_json: str) -> None:
        if int(json.loads(payload_json)["replay_id"]) in dead:
            raise ConnectionError("endpoint permanently down")

    return poster


def test_forwarding_sink_post_kill_one_failure_per_dead_id(spark, tmp_path, monkeypatch):
    """A kill after batch 0's failures are written, before its checkpoint
    commit, replays batch 0: its failures overwrite their own batch
    directory, so each dead replay id leaves exactly one failure row."""
    from cdc_worker_spark.streaming.sinks import run_forwarding_sink

    d = {k: str(tmp_path / k) for k in ("in", "failures", "chk")}
    t0 = 1696444513000
    for f in range(2):
        write_batch_file(d["in"], f"b{f}.jsonl", [
            make_envelope(10 * f + i, record_id=f"R{i}", commit_ts=t0 + 10 * f + i)
            for i in range(3)
        ])
    _pin_mtimes(d["in"], ["b0.jsonl", "b1.jsonl"])
    dead = frozenset({1, 2, 11})
    killer = _install(monkeypatch, {(0, "post")})
    restarts = _run_until_done(
        lambda: run_forwarding_sink(
            decode_envelope(
                pipeline.read_event_stream(spark, d["in"], max_files_per_trigger=1)
            ),
            _poster(dead),
            failures_dir=d["failures"],
            checkpoint_dir=d["chk"],
            max_attempts=1,
        )
    )
    assert restarts == 1 and not killer.pending
    failed = sorted(
        int(r.replay_id) for r in spark.read.parquet(d["failures"]).collect()
    )
    assert failed == sorted(dead)
