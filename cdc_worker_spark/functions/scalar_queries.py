"""Scalar function packs (SURVEY §2.3): string/date/math/json/hex/bitmap/
array/map/UDF — all JVM-side built-ins except the declared pandas-UDF query.

Provenance: JSON serialization (reference eventParser.js:182-187 — B4), offset
hex codec (eventParser.js:160-174 — A11), bitmap expansion
(eventParser.js:79-152 — B3), commitTimestamp epoch-millis handling
(README.md:287), EventHeader key/value metadata (pubsub_api.proto:49-52).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from cdc_worker_spark.plans.registry import query
from cdc_worker_spark.sources.tables import load_events_ms, load_table


@query(
    "q_str_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           substr(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS INT) AS name_len,
           trim(concat(c_name, '  ')) AS name_trim,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_num,
           regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
           string_split(c_name, '#')[1] AS name_head,
           c_name LIKE 'Customer%' AS is_cust
    FROM customer
    """,
)
def q_str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substr/upper/lower/trim/concat/length/split/regexp_*/LIKE."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.trim(F.concat(F.col("c_name"), F.lit("  "))).alias("name_trim"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_num"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        F.split("c_name", "#").getItem(0).alias("name_head"),
        F.col("c_name").like("Customer%").alias("is_cust"),
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           CAST(isodow(o_orderdate) - 1 AS INT) AS wd,
           date_trunc('month', o_orderdate) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS plus30,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT)
               AS days_to_98,
           CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT)
               AS epoch_days
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/weekday, date_trunc, interval add, datediff, epoch days
    (commitTimestamp-style time handling — all tz-free on TIMESTAMP_NTZ)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.weekday("o_orderdate").alias("wd"),  # Monday = 0 (= isodow - 1)
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("plus30"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_98"
        ),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "epoch_days"
        ),
    )


@query(
    "q_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 0) AS price_round,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(ceil(l_extendedprice / 7) AS BIGINT) AS price_ceil,
           CAST(floor(l_extendedprice / 7) AS BIGINT) AS price_floor,
           l_orderkey % 5 AS key_mod,
           pow(l_quantity, 2) AS qty_sq,
           sqrt(l_extendedprice) AS price_sqrt,
           CAST(sign(l_discount - 0.05) AS INT) AS disc_sign
    FROM lineitem
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/abs/ceil/floor/mod/power/sqrt/sign (per-row IEEE — exact both
    engines; sqrt is correctly-rounded, pow over integral bases exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 0).alias("price_round"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_extendedprice") / 7).cast("bigint").alias("price_ceil"),
        F.floor(F.col("l_extendedprice") / 7).cast("bigint").alias("price_floor"),
        (F.col("l_orderkey") % 5).alias("key_mod"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
    )


@query(
    "q_json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
           json_extract_string(props, '$.missing') AS missing
    FROM events
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the event props payload (reverse direction
    of the reference's toJsonString, eventParser.js:182-187)."""
    ev = load_events_ms(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


@query(
    "q_hex_funcs",
    oracle="""
    SELECT event_id,
           lower(to_hex(event_id)) AS replay_hex,
           lpad(lower(to_hex(event_id)), 16, '0') AS replay_be_hex,
           CAST('0x' || to_hex(event_id) AS BIGINT) AS replay_back
    FROM events
    """,
)
def q_hex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset hex codec (A11): replayId -> hex -> 8-byte-BE hex form -> back.
    The same conv/hex/lpad expressions back functions.offsets column codecs."""
    ev = load_events_ms(spark, sf_dir)
    return ev.select(
        "event_id",
        F.lower(F.hex("event_id")).alias("replay_hex"),
        F.lpad(F.lower(F.hex("event_id")), 16, "0").alias("replay_be_hex"),
        F.conv(F.hex("event_id"), 16, 10).cast("bigint").alias("replay_back"),
    )


#: the fixture schema field list for q_cdc_bitmap (8 fields = 8 bitmap bits)
BITMAP_FIELDS = [
    "Id",
    "Name",
    "Phone",
    "Email",
    "Industry",
    "BillingAddress",
    "Website",
    "LastModifiedDate",
]


@query(
    "q_cdc_bitmap",
    oracle=f"""
    WITH b AS (SELECT event_id,
                      CAST('0x' || to_hex(event_id % 256) AS BIGINT) AS bm
               FROM events)
    SELECT event_id,
           unnest(list_filter(
             list_transform(range(8),
               i -> CASE WHEN (bm >> CAST(i AS INT)) & 1 = 1
                         THEN {BITMAP_FIELDS!r}[CAST(i + 1 AS INT)] END),
             x -> x IS NOT NULL)) AS field_name
    FROM b
    """,
)
def q_cdc_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changed-field bitmap expansion (B3, eventParser.js:79-152) in batch
    form: a hex bitmap per event (derived from the replay id) expands to the
    set field names of an 8-field schema, exploded to scalar rows. One
    native expression (functions/bitmap.py): conv parses the hex, one
    inlined getbit CASE per field names the set bits; no UDF."""
    from cdc_worker_spark.functions.bitmap import bitmap_names_col

    ev = load_events_ms(spark, sf_dir)
    with_bm = ev.select(
        "event_id", F.lower(F.hex(F.col("event_id") % 256)).alias("bitmap_hex")
    )
    expanded = with_bm.select(
        "event_id",
        bitmap_names_col("array(bitmap_hex)", BITMAP_FIELDS).alias("field_names"),
    )
    return expanded.select("event_id", F.explode("field_names").alias("field_name"))


@query(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           embedding[1] AS e0,
           round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             (a, b) -> a + b), 4) AS vec_sum,
           round(list_reduce(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)),
                             (a, b) -> a + b), 4) AS head_sum
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array size / element_at / slice / fold-sum over the embedding column —
    higher-order functions (both engines fold sequentially -> deterministic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = F.transform("embedding", lambda x: x.cast("double"))

    def fold_sum(arr):
        # seed with the first element (list_reduce has no init in DuckDB)
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda acc, x: acc + x,
        )

    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("e0"),
        F.round(fold_sum(elems), 4).alias("vec_sum"),
        F.round(fold_sum(F.slice(elems, 1, 8)), 4).alias("head_sum"),
    )


@query(
    "q_map_funcs",
    oracle="""
    SELECT event_id,
           map(['type', 'user'], [event_type, CAST(user_id AS VARCHAR)])['type'][1]
             AS type_val,
           map(['type', 'user'], [event_type, CAST(user_id AS VARCHAR)])['user'][1]
             AS user_val
    FROM events
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map creation + lookup (EventHeader key/value metadata shape,
    pubsub_api.proto:49-52)."""
    ev = load_events_ms(spark, sf_dir)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("user"), F.col("user_id").cast("string")
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.element_at(m, "user").alias("user_val"),
    )


@query(
    "q_udf_pandas",
    oracle="""
    SELECT event_id, round(1.0 / (1.0 + exp(-value / 100.0)), 6) AS score
    FROM events
    """,
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF (Arrow-batched — the 10-100x-over-row-Python
    path; reference extension point = the per-event subscribeCallback,
    index.ts:44-71). Rounded to 6 so libm-vs-numpy exp ulp noise can't flip
    the hash."""
    import numpy as np

    @F.pandas_udf(DoubleType())
    def sigmoid_score(v: pd.Series) -> pd.Series:
        return (1.0 / (1.0 + np.exp(-v / 100.0))).round(6)

    ev = load_events_ms(spark, sf_dir)
    return ev.select("event_id", sigmoid_score("value").alias("score"))
