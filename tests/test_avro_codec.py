"""Avro codec seam (reference A8/A9: eventParser.js:13 decodes Avro payloads
against the registry schema; avroHelper.js:8-34 parses the schema text).

The engine's one Avro decoder is the pure-Python codec in
functions/avro_codec.py, run by ``decode_envelope(codec="avro_py")``:
spec-derived round-trip, malformed-input and cross-codec tests run here
without any Avro library. The wire codecs themselves are named in one
module, streaming/envelope.py."""

from __future__ import annotations

import json
import os
import re

import pytest

from cdc_worker_spark.streaming.envelope import (
    AVRO_ENVELOPE_SCHEMA,
    ENVELOPE_SCHEMA,
    account_payload_schema,
    avro_schema_json,
    decode_envelope,
)

from tests.test_cdc_event_model import make_envelope

ENVELOPE_COLS = [
    "replay_id", "schema_id", "commit_ts", "entity", "record_id",
    "change_type", "txn_key", "seq_no", "commit_number",
    "changed_fields", "nulled_fields", "diff_fields", "is_corrupt",
]


def test_avro_writer_schema_derivation():
    """The writer schema derives from the SAME StructType the JSON path uses:
    every field nullable (the CDC absent-when-unchanged convention), the
    _corrupt capture artifact excluded, nested records preserved."""
    schema = json.loads(avro_schema_json(account_payload_schema()))
    assert schema["type"] == "record"
    names = [f["name"] for f in schema["fields"]]
    assert "_corrupt" not in names
    assert names[0] == "ChangeEventHeader"
    by_name = {f["name"]: f for f in schema["fields"]}
    # nullable union with a null default on every field
    for f in schema["fields"]:
        assert isinstance(f["type"], list) and f["type"][0] == "null"
        assert f["default"] is None
    # nested record: BillingAddress is a record type inside the union
    ba = by_name["BillingAddress"]["type"][1]
    assert ba["type"] == "record"
    assert [c["name"] for c in ba["fields"]][:2] == ["Street", "City"]
    # header's array field maps to an avro array
    hdr = by_name["ChangeEventHeader"]["type"][1]
    rec_ids = next(f for f in hdr["fields"] if f["name"] == "recordIds")
    assert rec_ids["type"][1]["type"] == "array"


def test_unknown_codec_rejected(spark):
    """Two codecs exist; any other name, the retired ``"avro"`` included,
    raises a ValueError naming both."""
    df = spark.createDataFrame([], ENVELOPE_SCHEMA)
    for name in ("protobuf", "avro"):
        with pytest.raises(ValueError, match="'json' or 'avro_py'"):
            decode_envelope(df, codec=name)


def test_only_envelope_compares_codec_names():
    """streaming/envelope.py is the one module that knows the wire codecs
    (WireCodec); everything else asks it. A codec-name comparison anywhere
    else under the package is a second codec seam."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "cdc_worker_spark")
    compare = re.compile(r"\bcodec\s*(?:==|!=|\bin\b|\bnot\s+in\b)|(?:==|!=)\s*codec\b")
    hits = set()
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for name in filenames:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    if compare.search(f.read()):
                        hits.add(os.path.relpath(path, pkg))
    assert hits <= {"streaming/envelope.py"}, sorted(hits)


# ---------------------------------------------------------------------------
# pure-Python Avro binary codec (functions/avro_codec.py) — the offline wire
# decode. Spec-derived round-trip + malformed-input + cross-codec tests that
# RUN without any Avro library.
# ---------------------------------------------------------------------------

from cdc_worker_spark.functions.avro_codec import (  # noqa: E402
    decode as avro_decode,
    encode as avro_encode,
    parse_schema,
)


def _account_avro_schema():
    return parse_schema(avro_schema_json(account_payload_schema()))


def test_avro_py_roundtrip_primitives():
    """Zigzag varint edges, IEEE doubles, strings, arrays, unions: encode ->
    decode is identity over the spec-relevant edge values."""
    sch = parse_schema(json.dumps({
        "type": "record", "name": "t", "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "b", "type": "boolean"},
            {"name": "ns", "type": ["null", "string"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "int"}},
        ],
    }))
    for lval in (0, -1, 1, 63, 64, -64, -65, 2**31 - 1, -(2**31),
                 2**62, -(2**62), 11657372702432):
        rec = {"l": lval, "i": -7, "d": 3.5e5, "s": "héllo ",
               "ns": None, "b": True, "arr": [0, -1, 2**40], "m": {"a": 1}}
        assert avro_decode(avro_encode(rec, sch), sch) == rec
    rec2 = {"l": 5, "i": 0, "d": -0.0, "s": "", "ns": "x", "b": False,
            "arr": [], "m": {}}
    assert avro_decode(avro_encode(rec2, sch), sch) == rec2


def test_avro_py_roundtrip_golden_account_payload():
    """The golden Account change event round-trips through the derived
    writer schema: absent fields normalize to explicit nulls (the CDC
    absent-when-unchanged convention), everything else is preserved."""
    sch = _account_avro_schema()
    payload = json.loads(make_envelope(GOLDEN_REPLAY_ID := 18098167)["payload"])
    out = avro_decode(avro_encode(payload, sch), sch)
    assert out["ChangeEventHeader"] == payload["ChangeEventHeader"]
    assert out["BillingAddress"]["City"] == "San Francisco"
    assert out["LastModifiedDate"] == payload["LastModifiedDate"]
    assert out["Phone"] is None and out["Type"] is None  # absent -> null


def test_avro_py_malformed_inputs_raise():
    """Truncated varints, truncated bodies, bad union branches, and trailing
    bytes all raise (-> NULL -> is_corrupt downstream), never mis-decode."""
    sch = _account_avro_schema()
    good = avro_encode(json.loads(make_envelope(1)["payload"]), sch)
    for bad in (good[:-1], good[:1], good + b"\x00", b"\xff" * 11, b"\x07"):
        with pytest.raises(Exception):
            avro_decode(bad, sch)


def test_avro_py_json_codec_equivalence(spark):
    """THE wire-decode equivalence, executable offline: the same logical
    events encoded as Avro binary (own encoder) and as JSON text produce
    byte-identical envelope rows through decode_envelope (the
    eventParser.js:13 parity test)."""
    sch = _account_avro_schema()
    envs = [
        make_envelope(18098167, record_id="A"),
        make_envelope(18098168, record_id="B", change_type="CREATE",
                      name="Acme", city=None, state=None),
        make_envelope(2**62 + 11, record_id="C", seq_no=3,
                      changed_bitmaps=["0x2", "4-0x6"]),
    ]
    avro_rows = [
        {
            "replay_id_b64": e["replay_id_b64"],
            "schema_id": e["schema_id"],
            "payload": bytearray(avro_encode(json.loads(e["payload"]), sch)),
        }
        for e in envs
    ]
    json_df = spark.createDataFrame(envs, ENVELOPE_SCHEMA)
    avro_df = spark.createDataFrame(avro_rows, AVRO_ENVELOPE_SCHEMA)
    a = [r.asDict() for r in decode_envelope(json_df, codec="json")
         .select(*ENVELOPE_COLS).orderBy("replay_id").collect()]
    b = [r.asDict() for r in decode_envelope(avro_df, codec="avro_py")
         .select(*ENVELOPE_COLS).orderBy("replay_id").collect()]
    assert a == b
    assert not any(r["is_corrupt"] for r in b)


def test_avro_py_corrupt_bytes_flagged(spark):
    """Bytes that don't decode against the writer schema surface as
    is_corrupt=True with a NULL event — the EventParseError side channel
    (eventParseError.js:7-55), not a crash."""
    rows = [{
        "replay_id_b64": make_envelope(9)["replay_id_b64"],
        "schema_id": "account-cdc-v1",
        "payload": bytearray(b"\xde\xad\xbe\xef"),
    }]
    df = spark.createDataFrame(rows, AVRO_ENVELOPE_SCHEMA)
    out = decode_envelope(df, codec="avro_py").collect()[0]
    assert out.is_corrupt is True
    assert out.event is None or out.event.ChangeEventHeader is None


def test_avro_py_big_long_precision(spark):
    """Longs beyond 2^53 survive the full decode path exactly — the
    reference needs a custom Avro long type for this (avroHelper.js:8-34,
    BigInt fromBuffer); here Python ints + JSON canonicalization + LongType
    from_json are exact by construction. commitNumber is the field that
    overflows in practice."""
    big = (1 << 61) + 3
    sch = _account_avro_schema()
    env = make_envelope(77)
    payload = json.loads(env["payload"])
    payload["ChangeEventHeader"]["commitNumber"] = big
    rows = [{
        "replay_id_b64": env["replay_id_b64"],
        "schema_id": env["schema_id"],
        "payload": bytearray(avro_encode(payload, sch)),
    }]
    df = spark.createDataFrame(rows, AVRO_ENVELOPE_SCHEMA)
    out = decode_envelope(df, codec="avro_py").collect()[0]
    assert out.commit_number == big and not out.is_corrupt


def test_avro_py_roundtrip_property():
    """Property: any record drawn from the golden schema's value space
    round-trips exactly (hypothesis fuzz over the null-union field lattice,
    unicode strings, extreme longs/doubles)."""
    from hypothesis import given, settings, strategies as st

    sch = parse_schema(json.dumps({
        "type": "record", "name": "t", "fields": [
            {"name": "s", "type": ["null", "string"]},
            {"name": "l", "type": ["null", "long"]},
            {"name": "d", "type": ["null", "double"]},
            {"name": "b", "type": ["null", "boolean"]},
            {"name": "arr", "type": ["null", {"type": "array", "items": "string"}]},
            {"name": "rec", "type": ["null", {
                "type": "record", "name": "inner", "fields": [
                    {"name": "x", "type": ["null", "int"]},
                ]}]},
        ],
    }))
    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    # NaN compares unequal to itself — exclude from the == round-trip check
    doubles = st.floats(allow_nan=False)
    rec_strat = st.fixed_dictionaries({
        "s": st.none() | st.text(max_size=50),
        "l": st.none() | longs,
        "d": st.none() | doubles,
        "b": st.none() | st.booleans(),
        "arr": st.none() | st.lists(st.text(max_size=20), max_size=8),
        "rec": st.none() | st.fixed_dictionaries(
            {"x": st.none() | st.integers(min_value=-(2**31), max_value=2**31 - 1)}
        ),
    })

    from cdc_worker_spark.functions.avro_codec import compile_json_decoder

    compiled_json = compile_json_decoder(sch)

    @given(rec_strat)
    @settings(max_examples=300, deadline=None)
    def check(rec):
        wire = avro_encode(rec, sch)
        assert avro_decode(wire, sch) == rec
        # the direct-to-JSON decoder parses back to the same value tree
        assert json.loads(compiled_json(wire)) == rec

    check()


def test_avro_py_json_decoder_matches_dumps():
    """The direct-to-JSON decoder's TEXT is equivalent to
    json.dumps(decode(...)) modulo whitespace: same key order, same float
    rendering, map/array/unicode/nested coverage (the golden payload plus a
    map-typed schema the property test doesn't draw from)."""
    from cdc_worker_spark.functions.avro_codec import compile_json_decoder

    sch = _account_avro_schema()
    payload = json.loads(make_envelope(18098167)["payload"])
    wire = avro_encode(payload, sch)
    dec_json = compile_json_decoder(sch)
    assert json.loads(dec_json(wire)) == avro_decode(wire, sch)
    assert dec_json(wire) == json.dumps(
        avro_decode(wire, sch), separators=(",", ":"), ensure_ascii=True
    )

    msch = parse_schema(json.dumps({
        "type": "record", "name": "m", "fields": [
            {"name": "m", "type": {"type": "map", "values": ["null", "double"]}},
            {"name": "s", "type": "string"},
        ],
    }))
    rec = {"m": {"a\"b": 1.5, "ü": None, "": -0.0}, "s": "ünïcode\n\"q\""}
    wire2 = avro_encode(rec, msch)
    got = compile_json_decoder(msch)(wire2)
    assert json.loads(got) == rec
    assert got == json.dumps(rec, separators=(",", ":"), ensure_ascii=True)


def test_avro_py_json_decoder_malformed_raises():
    """Same malformed-input contract as `decode`: truncation anywhere, bad
    union branch, trailing bytes -> exception (never a mangled value)."""
    from cdc_worker_spark.functions.avro_codec import compile_json_decoder

    sch = _account_avro_schema()
    dec_json = compile_json_decoder(sch)
    good = avro_encode(json.loads(make_envelope(1)["payload"]), sch)
    for bad in (good[:-1], good[:1], good + b"\x00", b"\xff" * 11, b"\x07", b""):
        with pytest.raises(Exception):
            dec_json(bad)
