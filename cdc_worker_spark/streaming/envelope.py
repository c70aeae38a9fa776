"""CDC event envelope + decode/enrich projection (reference parity).

Wire shape (pubsub_api.proto:57-80): ``ConsumerEvent{event{id, schema_id,
payload: bytes}, replay_id: bytes}``. The reference decodes the Avro payload
against a registry-fetched schema (eventParser.js:13), expands the three
changed-field bitmaps (eventParser.js:15-46), and decodes the big-endian
uint64 replay id (eventParser.js:160-174).

Spark-first equivalents here:
- this module is the one place that knows the payload wire codecs
  (:class:`WireCodec`, looked up by name with :func:`wire_codec`): ``json``
  envelope lines carry the payload as JSON text, ``avro_py`` lines carry
  the Avro bytes as base64 text; the replay id is base64 of the 8-byte BE
  buffer in both. ``avro_py`` decodes the Avro binary in one Arrow-batched
  Python UDF (functions/avro_codec.py) to JSON text for the same
  ``from_json`` as the JSON codec, so there is one decoder for each wire
  form and one schema-to-struct seam for both;
- the rest of the reference's parseEvent (B1: offset decode, header
  projection, bitmap expansion) is ONE ``select`` of native expressions.
  The JSON codec has no Python in the per-event path; ``avro_py`` has
  exactly the one Arrow UDF. Each bitmap column is a single SQL expression
  (functions/bitmap.py), so building the projection costs a few hundred
  gateway calls, not thousands, and :func:`envelope_decoder` builds it once
  for callers that decode a frame per micro-batch.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_worker_spark.functions.bitmap import bitmap_names_col
from cdc_worker_spark.functions.offsets import decode_replay_id_col

#: raw stream envelope (one JSON line per event)
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("replay_id_b64", T.StringType()),
        T.StructField("schema_id", T.StringType()),
        T.StructField("payload", T.StringType()),
    ]
)

#: raw envelope for the avro_py codec: payload is the Avro-encoded bytes
#: (pubsub_api.proto:57-80 — the true wire form)
AVRO_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("replay_id_b64", T.StringType()),
        T.StructField("schema_id", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

#: one line of an Avro-payload envelope file: the binary payload ships as
#: base64 text inside the JSON line (file sources are text; the gRPC bridge
#: writes the same shape — grpc_bridge.py hands bytes off base64-encoded)
AVRO_WIRE_SCHEMA = "replay_id_b64 STRING, schema_id STRING, payload_b64 STRING"

#: ordered top-level field list of the Account change-event schema — the
#: field dictionary the bitmaps index (fixture form of README.md:275-346)
ACCOUNT_FIELDS = [
    "ChangeEventHeader",
    "Name",
    "Type",
    "ParentId",
    "BillingAddress",
    "ShippingAddress",
    "Phone",
    "Fax",
    "AccountNumber",
    "Website",
    "Sic",
    "Industry",
    "AnnualRevenue",
    "NumberOfEmployees",
    "Ownership",
    "TickerSymbol",
    "Description",
    "Rating",
    "Site",
    "OwnerId",
    "CreatedDate",
    "CreatedById",
    "LastModifiedDate",
    "LastModifiedById",
]

#: compound (nested record) fields and their ordered children
ACCOUNT_CHILD_FIELDS = {
    "BillingAddress": [
        "Street",
        "City",
        "State",
        "PostalCode",
        "Country",
        "StateCode",
        "CountryCode",
        "Latitude",
        "Longitude",
        "Xyz",
        "GeocodeAccuracy",
    ],
}

_ADDRESS_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ACCOUNT_CHILD_FIELDS["BillingAddress"]]
)

_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("entityName", T.StringType()),
        T.StructField("recordIds", T.ArrayType(T.StringType())),
        T.StructField("changeType", T.StringType()),
        T.StructField("changeOrigin", T.StringType()),
        T.StructField("transactionKey", T.StringType()),
        T.StructField("sequenceNumber", T.IntegerType()),
        T.StructField("commitTimestamp", T.LongType()),
        T.StructField("commitNumber", T.LongType()),
        T.StructField("commitUser", T.StringType()),
        # wire form: hex bitmaps ("0x..." / "<parentIdx>-0x...")
        T.StructField("nulledFields", T.ArrayType(T.StringType())),
        T.StructField("diffFields", T.ArrayType(T.StringType())),
        T.StructField("changedFields", T.ArrayType(T.StringType())),
    ]
)


def account_payload_schema() -> T.StructType:
    """Payload schema of the Account change event (fields NULL when
    unchanged — the CDC null convention, SURVEY §1.2). Includes a
    ``_corrupt`` capture column: Spark's from_json yields an all-null struct
    (not NULL) on malformed input, so corruption is detected via
    columnNameOfCorruptRecord, mirroring the reference's EventParseError
    side-channel (eventParseError.js:7-55)."""
    fields = [T.StructField("_corrupt", T.StringType()),
              T.StructField("ChangeEventHeader", _HEADER_SCHEMA)]
    for name in ACCOUNT_FIELDS[1:]:
        if name in ACCOUNT_CHILD_FIELDS:
            fields.append(T.StructField(name, _ADDRESS_SCHEMA))
        elif name in ("AnnualRevenue",):
            fields.append(T.StructField(name, T.DoubleType()))
        elif name in ("NumberOfEmployees",):
            fields.append(T.StructField(name, T.IntegerType()))
        elif name in ("CreatedDate", "LastModifiedDate"):
            fields.append(T.StructField(name, T.LongType()))
        else:
            fields.append(T.StructField(name, T.StringType()))
    return T.StructType(fields)


def _avro_type(dt: T.DataType, name: str) -> object:
    """Spark type -> nullable Avro type (the CDC null convention: every
    payload field is absent-when-unchanged, so everything is a null union)."""
    if isinstance(dt, T.StructType):
        return ["null", _avro_record(dt, name.capitalize())]
    if isinstance(dt, T.ArrayType):
        return ["null", {"type": "array", "items": _avro_type(dt.elementType, name + "Item")}]
    prim = {
        T.StringType: "string",
        T.LongType: "long",
        T.IntegerType: "int",
        T.DoubleType: "double",
        T.FloatType: "float",
        T.BooleanType: "boolean",
        T.BinaryType: "bytes",
    }
    for spark_t, avro_t in prim.items():
        if isinstance(dt, spark_t):
            return ["null", avro_t]
    raise TypeError(f"no Avro mapping for {dt} (field {name!r})")


def _avro_record(schema: T.StructType, name: str) -> dict:
    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": _avro_type(f.dataType, f.name), "default": None}
            for f in schema.fields
            if f.name != "_corrupt"  # JSON-codec capture artifact, not wire data
        ],
    }


def avro_schema_json(payload_schema: T.StructType, name: str = "ChangeEvent") -> str:
    """Writer-schema JSON for the Avro codec, derived from the same StructType
    the JSON path uses (reference avroHelper.js:8-34 parses the registry's
    schema text; here the registry entry's StructType is the single source of
    truth for both codecs)."""
    import json as _json

    return _json.dumps(_avro_record(payload_schema, name))


@dataclass(frozen=True)
class WireCodec:
    """One payload wire format: the JSON-line schema of an envelope file,
    whether the payload is Avro bytes (base64 text on the line) rather
    than JSON text, and the DLQ ``error`` text of a payload that does not
    decode."""

    line_schema: T.StructType | str
    binary: bool
    decode_error: str

    def envelope(self, lines: DataFrame) -> DataFrame:
        """File lines -> the raw (replay_id_b64, schema_id, payload)
        envelope that :func:`decode_envelope` takes."""
        if not self.binary:
            return lines
        return lines.select(
            "replay_id_b64", "schema_id", F.unbase64("payload_b64").alias("payload")
        )

    def raw_payload(self) -> Column:
        """The DLQ's ``raw_payload``: the payload as text."""
        return F.base64("payload") if self.binary else F.col("payload")


_CODECS = {
    "json": WireCodec(ENVELOPE_SCHEMA, False, "payload JSON decode failed"),
    "avro_py": WireCodec(AVRO_WIRE_SCHEMA, True, "payload avro_py decode failed"),
}


def wire_codec(codec: str) -> WireCodec:
    """The codec named ``codec``; ValueError for a name other than these."""
    try:
        return _CODECS[codec]
    except KeyError:
        raise ValueError(
            f"unknown codec {codec!r} (expected 'json' or 'avro_py')"
        ) from None


def after_replay_id(replay_id: int) -> Column:
    """A3 subscribeFromReplayId on decoded envelopes: rows after
    ``replay_id``, and every corrupt row. A row without offset bytes has a
    NULL ``replay_id``, so ``replay_id > X`` alone would drop it silently;
    it is corrupt, so it passes here and can reach the DLQ."""
    return (
        F.col("replay_id") > F.lit(replay_id).cast("decimal(20,0)")
    ) | F.col("is_corrupt")


def envelope_decoder(
    payload_schema: T.StructType | None = None,
    fields: list[str] | None = None,
    child_fields: dict[str, list[str]] | None = None,
    codec: str = "json",
) -> Callable[[DataFrame], DataFrame]:
    """:func:`decode_envelope`'s projection, built once (hundreds of Py4J
    round trips) and applied to any number of raw frames (a few each)."""
    wire = wire_codec(codec)
    payload_schema = payload_schema or account_payload_schema()
    fields = fields or ACCOUNT_FIELDS
    child_fields = child_fields if child_fields is not None else ACCOUNT_CHILD_FIELDS
    if wire.binary:
        from cdc_worker_spark.functions.avro_codec import avro_decode_col

        # pure-Python wire decode -> canonical JSON -> the same typed
        # from_json projection as the JSON codec (one schema seam)
        payload = avro_decode_col(F.col("payload"), avro_schema_json(payload_schema))
        # a change event always carries its header; a NULL header means the
        # bytes did not decode against the writer schema
        is_corrupt = F.col("event.ChangeEventHeader").isNull()
    else:
        payload = F.col("payload")
        # corrupt = JSON decode failed (C4: EventParseError side-channel)
        is_corrupt = F.col("event._corrupt").isNotNull()
    event = F.from_json(
        payload,
        payload_schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    replay_id = decode_replay_id_col(F.unbase64("replay_id_b64"))
    hdr = F.col("event.ChangeEventHeader")
    columns = [
        "replay_id",
        "schema_id",
        F.timestamp_millis(hdr.commitTimestamp).alias("commit_ts"),
        hdr.entityName.alias("entity"),
        F.element_at(hdr.recordIds, 1).alias("record_id"),
        hdr.changeType.alias("change_type"),
        hdr.transactionKey.alias("txn_key"),
        hdr.sequenceNumber.alias("seq_no"),
        hdr.commitNumber.alias("commit_number"),
        *[
            bitmap_names_col(f"event.ChangeEventHeader.{wire_name}", fields, child_fields)
            .alias(name)
            for wire_name, name in (
                ("changedFields", "changed_fields"),
                ("nulledFields", "nulled_fields"),
                ("diffFields", "diff_fields"),
            )
        ],
        # NB: the drop must not wrap `event` itself — projection collapse
        # inlines `event` into every header consumer above, and an
        # UpdateFields wrapper re-copies the whole struct per consumer
        # (measured 3.0 s -> 0.9 s at 50k events with the drop here)
        F.col("event").dropFields("_corrupt").alias("event"),
        # a NULL replay id (missing/malformed offset bytes) is corrupt too:
        # it would otherwise vanish in NULL-valued offset predicates and
        # collide in replay-id dedup — same trap as NULL schema_id
        (is_corrupt | F.col("replay_id").isNull()).alias("is_corrupt"),
        wire.raw_payload().alias("raw_payload"),
    ]
    return lambda raw: (
        raw.withColumn("event", event).withColumn("replay_id", replay_id).select(*columns)
    )


def decode_envelope(
    raw: DataFrame,
    payload_schema: T.StructType | None = None,
    fields: list[str] | None = None,
    child_fields: dict[str, list[str]] | None = None,
    codec: str = "json",
) -> DataFrame:
    """The reference's parseEvent (B1) as one projection, parameterized by the
    topic's schema (defaults: the golden Account change-event schema).

    raw(replay_id_b64, schema_id, payload) ->
      replay_id DECIMAL(20,0), commit_ts TIMESTAMP, record_id, entity,
      change_type, txn_key, seq_no, changed_fields/nulled_fields/diff_fields
      (bitmaps expanded to names), event STRUCT (full decoded payload),
      is_corrupt flag (C4 dead-letter routing), raw_payload (DLQ text).

    ``codec`` selects the payload decode (reference eventParser.js:13 decodes
    Avro against the registry schema; A8/A9):
    - ``"json"``: payload is JSON text -> ``from_json`` with a ``_corrupt``
      capture column.
    - ``"avro_py"``: payload is Avro bytes -> the pure-Python Avro binary
      decoder (functions/avro_codec.py — the Avro 1.11 wire format
      implemented from the public spec) turns them into canonical JSON text
      in one Arrow-batch UDF, against the writer schema derived from the
      SAME StructType (:func:`avro_schema_json`), then the same
      ``from_json`` projection as the JSON codec. A payload that fails to
      decode yields a NULL header -> is_corrupt.
    Every column downstream of the payload decode is identical between
    codecs.
    """
    return envelope_decoder(payload_schema, fields, child_fields, codec)(raw)
