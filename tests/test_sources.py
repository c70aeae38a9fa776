"""Publish -> subscribe round-trip tests (SURVEY §2.1 A1-A4, C6-C7): the
reference's replay presets and publish paths over the bus-directory stand-in,
mirroring the reference's own integration strategy (publish a Sample event,
subscribe, assert the round-trip — client.spec.js:84-98) without a live org."""

from __future__ import annotations

import json
import os
from decimal import Decimal

from cdc_worker_spark.sources.streams import (
    current_high_water_mark,
    publish_batch,
    publish_dataframe,
    subscribe_earliest,
    subscribe_from_replay_id,
    subscribe_latest,
)


def _payload(record_id: str, commit_ts: int, change_type: str = "CREATE") -> dict:
    return {
        "ChangeEventHeader": {
            "entityName": "Account",
            "recordIds": [record_id],
            "changeType": change_type,
            "transactionKey": "t",
            "sequenceNumber": 1,
            "commitTimestamp": commit_ts,
            "commitNumber": 1,
            "commitUser": "u",
            "nulledFields": [],
            "diffFields": [],
            "changedFields": ["0x400000"],
        },
        "LastModifiedDate": commit_ts,
    }


def drain_rows(stream_df, chk_dir):
    rows: list = []
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, _bid: rows.extend(df.collect())
        )
        .option("checkpointLocation", chk_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return rows


def test_publish_roundtrip_and_presets(spark, tmp_path):
    bus = str(tmp_path / "bus")
    t0 = 1696444513000

    ids = publish_batch(bus, [_payload("A", t0), _payload("B", t0 + 1)], next_replay_id=10)
    assert ids == [10, 11]  # PublishResult replay ids
    assert current_high_water_mark(spark, bus) == 11

    # EARLIEST replays everything
    rows = drain_rows(subscribe_earliest(spark, bus), str(tmp_path / "c1"))
    assert sorted(int(r.replay_id) for r in rows) == [10, 11]
    assert all(not r.is_corrupt for r in rows)

    # LATEST sees only post-subscription events
    latest = subscribe_latest(spark, bus)
    publish_batch(bus, [_payload("C", t0 + 2)], next_replay_id=12)
    rows = drain_rows(latest, str(tmp_path / "c2"))
    assert [int(r.replay_id) for r in rows] == [12]

    # CUSTOM resumes strictly after the given offset
    rows = drain_rows(subscribe_from_replay_id(spark, bus, 10), str(tmp_path / "c3"))
    assert sorted(int(r.replay_id) for r in rows) == [11, 12]


def test_subscribe_from_replay_id_keeps_envelope_without_offset(spark, tmp_path):
    """An envelope whose replay id is missing has a NULL offset, so a bare
    ``replay_id > X`` filter would drop it without a trace; it must come
    through flagged ``is_corrupt`` (the pipeline's DLQ rule), while the
    offset predicate still applies to the others."""
    bus = str(tmp_path / "bus")
    publish_batch(bus, [_payload("A", 1), _payload("B", 2)], next_replay_id=10)
    with open(os.path.join(bus, "no-offset.jsonl"), "w") as f:
        f.write(json.dumps({
            "replay_id_b64": None,
            "schema_id": "account-cdc-v1",
            "payload": json.dumps(_payload("C", 3)),
        }) + "\n")
    rows = drain_rows(
        subscribe_from_replay_id(spark, bus, 10, max_files_per_trigger=None),
        str(tmp_path / "chk"),
    )
    by_record = {r.record_id: r for r in rows}
    assert set(by_record) == {"B", "C"}
    assert by_record["C"].is_corrupt and by_record["C"].replay_id is None
    assert not by_record["B"].is_corrupt
    assert current_high_water_mark(spark, bus) == 11


def test_publish_dataframe_distributed(spark, tmp_path):
    """C6/C7 scale path: DataFrame -> wire envelopes with no driver collect;
    uint64 replay ids above 2^63 survive the conv-based encoder."""
    bus = str(tmp_path / "bus")
    big = (1 << 64) - 5
    df = spark.createDataFrame(
        [(Decimal(1), "A"), (Decimal(big), "B")], "rid decimal(20,0), name string"
    )
    publish_dataframe(df, bus, payload_cols=["name"], replay_id_col="rid")

    rows = drain_rows(subscribe_earliest(spark, bus), str(tmp_path / "chk"))
    assert sorted(r.replay_id for r in rows) == [Decimal(1), Decimal(big)]
    # payload is the to_json of the selected columns (reference B4)
    assert {r.raw_payload for r in rows} == {'{"name":"A"}', '{"name":"B"}'}


def test_register_views_sql_surface(spark, sf_dir):
    """Plain-SQL usability: every fixture table queryable via spark.sql."""
    from cdc_worker_spark.sources.tables import TABLES, register_views

    register_views(spark, sf_dir)
    for t in TABLES:
        assert spark.sql(f"SELECT count(*) AS n FROM {t}").collect()[0].n > 0
    joined = spark.sql(
        """
        SELECT r_name, count(*) AS n_nations
        FROM region JOIN nation ON r_regionkey = n_regionkey
        GROUP BY r_name ORDER BY r_name
        """
    ).collect()
    assert len(joined) == 5 and all(r.n_nations == 5 for r in joined)


def test_format_round_trip_orc_json_csv(spark, sf_dir, tmp_path):
    """customer survives a round trip through every supported interchange
    format with identical rows and (given the authoritative schema for the
    text formats) identical types."""
    from cdc_worker_spark.sources.tables import export_table, load_path, load_table

    orig = load_table(spark, sf_dir, "customer")
    want = sorted(tuple(r) for r in orig.collect())
    for fmt in ("orc", "json", "csv"):
        out = str(tmp_path / fmt)
        export_table(spark, sf_dir, "customer", out, fmt)
        back = load_path(spark, out, fmt, schema=orig.schema)
        assert back.schema == orig.schema, fmt
        assert sorted(tuple(r) for r in back.collect()) == want, fmt
