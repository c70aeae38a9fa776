"""Bitmap-expansion tests (SURVEY §5.2 item 3): FIXTURES.md §B3 cases + a
hypothesis property test of the native column expression against the plain
Python twin (the reference's trickiest pure function had zero direct tests —
eventParser.js:79-152)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cdc_worker_spark.functions.bitmap import bitmap_names_col, expand_bitmap_py

FIELDS3 = ["Id", "Name", "Phone"]
FIELDS10 = [
    "Id", "Name", "Phone", "Email", "Industry",
    "BillingAddress", "Website", "Rating", "OwnerId", "LastModifiedDate",
]
CHILDREN = {"BillingAddress": ["Street", "City", "State", "PostalCode"]}

# FIXTURES.md §B3 table
B3_CASES = [
    (FIELDS3, ["0x2"], ["Name"]),
    (FIELDS3, ["0x5"], ["Id", "Phone"]),
    (FIELDS10, ["0x200"], ["LastModifiedDate"]),
    (FIELDS10, ["0x0", "5-0x6"], ["BillingAddress.City", "BillingAddress.State"]),
    (FIELDS10, [], []),
]


@pytest.mark.parametrize("fields,bitmaps,expected", B3_CASES)
def test_python_twin_b3_cases(fields, bitmaps, expected):
    assert expand_bitmap_py(fields, bitmaps, CHILDREN) == expected


@pytest.mark.parametrize("fields,bitmaps,expected", B3_CASES)
def test_column_expr_b3_cases(spark, fields, bitmaps, expected):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(bitmaps,)], "bitmaps: array<string>")
    got = df.select(
        bitmap_names_col("bitmaps", fields, CHILDREN).alias("out")
    ).collect()[0].out
    assert got == expected


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=(1 << 63) - 1))
def test_python_twin_matches_reference_bit_semantics(value):
    """LSB = field 0 over a 63-field dictionary."""
    fields = [f"F{i}" for i in range(63)]
    expected = [f"F{i}" for i in range(63) if (value >> i) & 1]
    assert expand_bitmap_py(fields, [f"0x{value:X}"]) == expected


def test_column_expr_matches_python_twin_random(spark):
    """Differential: the native expression vs the Python twin over random
    bitmaps (single Spark job for all cases — keeps the test fast)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    fields = [f"F{i}" for i in range(40)]
    cases = [rng.getrandbits(40) for _ in range(200)]
    df = spark.createDataFrame(
        [(i, f"0x{v:x}") for i, v in enumerate(cases)], "i: int, bm: string"
    )
    got = {
        r.i: r.out
        for r in df.select(
            "i", bitmap_names_col("array(bm)", fields).alias("out")
        ).collect()
    }
    for i, v in enumerate(cases):
        assert got[i] == expand_bitmap_py(fields, [f"0x{v:x}"]), f"case {i}: 0x{v:x}"


def test_wide_bitmap_beyond_63_bits(spark):
    """Bitmaps wider than 63 bits must decode every bit — the naive
    conv->bigint path overflows to NULL at bit 63+ and silently drops the
    whole entry (real change-event schemas routinely exceed 63 fields)."""
    fields = [f"F{i}" for i in range(130)]
    cases = [
        1 << 63,                       # exactly the overflow bit
        1 << 64,
        1 << 100,
        (1 << 129) | (1 << 63) | 1,    # straddles all three 60-bit chunks
        (1 << 120) - 1,                # 120 consecutive set bits
    ]
    df = spark.createDataFrame(
        [(i, [f"0x{v:x}"]) for i, v in enumerate(cases)],
        "i: int, bms: array<string>",
    )
    got = {
        r.i: r.out
        for r in df.select(
            "i", bitmap_names_col("bms", fields).alias("out")
        ).collect()
    }
    for i, v in enumerate(cases):
        assert got[i] == expand_bitmap_py(fields, [f"0x{v:x}"]), f"0x{v:x}"


def test_wide_bitmap_differential_random(spark):
    """Differential vs the Python twin over random 200-bit bitmaps."""
    import random

    rng = random.Random(13)
    fields = [f"F{i}" for i in range(200)]
    cases = [rng.getrandbits(200) for _ in range(60)]
    df = spark.createDataFrame(
        [(i, [f"0x{v:x}"]) for i, v in enumerate(cases)],
        "i: int, bms: array<string>",
    )
    got = {
        r.i: r.out
        for r in df.select(
            "i", bitmap_names_col("bms", fields).alias("out")
        ).collect()
    }
    for i, v in enumerate(cases):
        assert got[i] == expand_bitmap_py(fields, [f"0x{v:x}"]), f"case {i}"


def test_wide_compound_children(spark):
    """Compound entries whose CHILD list exceeds 63 fields."""
    children = {"Big": [f"C{i}" for i in range(80)]}
    fields = ["Id", "Big"]
    bms = [f"1-0x{(1 << 79) | (1 << 63) | 2:x}"]
    df = spark.createDataFrame([(bms,)], "bms: array<string>")
    got = df.select(
        bitmap_names_col("bms", fields, children).alias("out")
    ).collect()[0].out
    assert got == expand_bitmap_py(fields, bms, children)
    assert "Big.C79" in got and "Big.C63" in got and "Big.C1" in got


def test_compound_entries_differential(spark):
    """Compound "<parentIdx>-<hex>" entries against the Python twin."""
    import random

    rng = random.Random(7)
    children = {"BillingAddress": [f"C{i}" for i in range(11)]}
    fields = ["Id", "Name", "BillingAddress", "Phone"]
    cases = []
    for i in range(50):
        plain = rng.getrandbits(4)
        child = rng.getrandbits(11)
        cases.append((i, [f"0x{plain:x}", f"2-0x{child:x}"]))
    df = spark.createDataFrame(cases, "i: int, bms: array<string>")
    got = {
        r.i: r.out
        for r in df.select(
            "i", bitmap_names_col("bms", fields, children).alias("out")
        ).collect()
    }
    for i, bms in cases:
        assert got[i] == expand_bitmap_py(fields, bms, children), f"case {bms}"


# the entry rule (functions/bitmap.py): bits and parents outside the
# dictionary, parents without a child list, NULL and malformed entries
# expand to nothing
ENTRY_RULE_CASES = [
    (["99-0x1"], []),     # parent outside the dictionary
    (["-0x1"], []),       # no parent digits
    (["9-0x1"], []),      # parent without a child list
    (["0x400"], []),      # bit 10 of a 10-field dictionary
    (["0xZZ"], []),       # not hex
    (["0x1Z"], []),       # hex prefix, then not hex
    (["1-2-0x3"], []),    # a second dash
    (["0x1\n"], []),      # trailing line terminator
    (["99999999999999999999-0x1"], []),  # parent beyond INT
    ([None, "0x3"], ["Id", "Name"]),
    (["0x", "05-0X2"], ["BillingAddress.City"]),
    (["0x99-0x1", "5-0x10", "0x201"], ["Id", "LastModifiedDate"]),
]


@pytest.mark.parametrize("bitmaps,expected", ENTRY_RULE_CASES)
def test_python_twin_entry_rule(bitmaps, expected):
    assert expand_bitmap_py(FIELDS10, bitmaps, CHILDREN) == expected


def test_column_expr_entry_rule_under_ansi(spark):
    """Under ANSI mode no entry raises (the HOF form raised
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT on "99-0x1" and CAST_INVALID_INPUT on
    "-0x1", failing the whole decode), and every case matches the twin."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [(i, bms) for i, (bms, _) in enumerate(ENTRY_RULE_CASES)],
            "i: int, bms: array<string>",
        )
        got = {
            r.i: r.out
            for r in df.select(
                "i", bitmap_names_col("bms", FIELDS10, CHILDREN).alias("out")
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    for i, (bms, expected) in enumerate(ENTRY_RULE_CASES):
        assert got[i] == expected, bms


def test_null_entry_array_stays_null(spark):
    df = spark.createDataFrame([(None,)], "bms: array<string>")
    out = df.select(bitmap_names_col("bms", FIELDS10, CHILDREN).alias("out"))
    assert out.collect()[0].out is None
    assert out.schema["out"].dataType.simpleString() == "array<string>"


def test_random_entries_match_twin_on_account_dictionary(spark):
    """Differential over random entry lists on the Account dictionary:
    valid plain and compound entries mixed with out-of-range bits and
    parents, childless parents and malformed text."""
    import random

    from cdc_worker_spark.streaming.envelope import (
        ACCOUNT_CHILD_FIELDS,
        ACCOUNT_FIELDS,
    )

    rng = random.Random(11)

    def entry() -> str | None:
        kind = rng.randrange(6)
        if kind == 0:
            return f"0x{rng.getrandbits(30):x}"
        if kind == 1:
            return f"{rng.choice([4, 5])}-0X{rng.getrandbits(14):X}"
        if kind == 2:
            return f"{rng.randrange(40)}-0x{rng.getrandbits(8):x}"
        if kind == 3:
            return rng.choice(["", "0x", "-", "0xG1", "4-", "4--0x1", " 0x1", None])
        if kind == 4:
            return f"{rng.getrandbits(70):x}"
        return f"0{rng.randrange(9)}-{rng.getrandbits(12):x}"

    cases = [[entry() for _ in range(rng.randrange(5))] for _ in range(300)]
    df = spark.createDataFrame(list(enumerate(cases)), "i: int, bms: array<string>")
    got = {
        r.i: r.out
        for r in df.select(
            "i",
            bitmap_names_col("bms", ACCOUNT_FIELDS, ACCOUNT_CHILD_FIELDS).alias("out"),
        ).collect()
    }
    for i, bms in enumerate(cases):
        assert got[i] == expand_bitmap_py(
            ACCOUNT_FIELDS, bms, ACCOUNT_CHILD_FIELDS
        ), bms
