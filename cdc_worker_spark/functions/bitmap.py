"""Changed-field bitmap expansion — the reference's most distinctive scalar
operator (eventParser.js:79-152,195-214 `parseFieldBitmaps`).

Wire form: `ChangeEventHeader.changedFields/nulledFields/diffFields` arrive as
hex bitmaps over the schema's field list, LSB = field 0. Compound (nested
record) fields appear as `"<parentFieldIndex>-<hexBitmap>"` entries whose bits
index the child field list, expanded to `Parent.Child` names.

Entry rule, shared by both functions below: an entry is
``[<decimal parent index>-][0x]<hex digits>`` (:data:`ENTRY_PATTERN`). Bits
beyond the dictionary, parent indices outside it or without a child list,
NULL entries and entries of any other form (non-hex digits, a sign, a second
dash) expand to nothing. A poison entry therefore never fails a decode.

One implementation and its oracle:
- :func:`bitmap_names_col` — a native Spark column: ONE SQL expression per
  field dictionary, built with a single ``F.expr`` (O(1) gateway calls,
  whatever the dictionary width), JVM-side and codegen'd, no Python in the
  per-event path. Used by the streaming decode and the batch queries.
- :func:`expand_bitmap_py` — plain Python, the test oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: one bitmap entry; group 1 = parent index, group 2 = hex digits. `(?!.)`
#: under DOTALL is the absolute end of input in both Java and Python regex
#: (`$` would also match before a trailing line terminator)
ENTRY_PATTERN = r"(?s)^(?:([0-9]+)-)?(?:0[xX])?([0-9A-Fa-f]*)(?!.)"

#: hex digits per chunk: 15 digits = 60 bits, so a chunk value is < 2^60 and
#: always fits a BIGINT (the conv -> cast never overflows)
_CHUNK_HEX = 15
_CHUNK_BITS = _CHUNK_HEX * 4


def expand_bitmap_py(
    fields: list[str],
    bitmaps: list[str],
    child_fields: dict[str, list[str]] | None = None,
) -> list[str]:
    """Expand hex bitmaps to field names (eventParser.js:79-152 semantics,
    under the module's entry rule).

    ``fields`` is the schema's ordered top-level field list; ``child_fields``
    maps a compound field's name to its ordered child field list. Plain
    entries (`"0x..."`) index ``fields``; compound entries
    (`"<parentIdx>-0x..."`) index the parent's children, producing
    `Parent.Child` names.
    """
    child_fields = child_fields or {}
    out: list[str] = []
    for entry in bitmaps:
        m = re.match(ENTRY_PATTERN, entry) if entry is not None else None
        if m is None:
            continue
        parent, digits = m.groups()
        names = fields
        if parent is not None:
            p = int(parent)
            if p >= len(fields) or fields[p] not in child_fields:
                continue
            names = [f"{fields[p]}.{c}" for c in child_fields[fields[p]]]
        value = int(digits or "0", 16)
        out.extend(n for i, n in enumerate(names) if value >> i & 1)
    return out


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _names_sql(digits: str, names: list[str]) -> str:
    """SQL: the names of the set bits of the hex string ``digits`` (a SQL
    expression) over the dictionary ``names``, NULL-padded.

    The digits are cut from the right into 15-digit (60-bit) chunks, as
    many as the dictionary needs (digits beyond it are ignored), so any
    width decodes; the naive ``conv(hex,16,10)`` to BIGINT overflows once
    bit 63 is set. The chunk values are bound once by one lambda over their
    array; each bit is one inlined ``CASE`` on ``getbit`` with its name as a
    literal, so there is no per-bit lambda and no ``sequence``."""
    n_chunks = max(1, -(-len(names) // _CHUNK_BITS))
    width = n_chunks * _CHUNK_HEX
    padded = f"lpad(right({digits}, {width}), {width}, '0')"
    values = ", ".join(
        f"CAST(conv(substr({padded}, {width - _CHUNK_HEX * (c + 1) + 1}, "
        f"{_CHUNK_HEX}), 16, 10) AS BIGINT)"
        for c in range(n_chunks)
    )
    arms = " ".join(
        f"WHEN {c} THEN array("
        + ", ".join(
            f"CASE WHEN getbit(v, {b}) = 1 THEN {_sql_str(n)} END"
            for b, n in enumerate(names[c * _CHUNK_BITS : (c + 1) * _CHUNK_BITS])
        )
        + ")"
        for c in range(n_chunks)
    )
    return f"flatten(transform(array({values}), (v, k) -> CASE k {arms} END))"


def bitmap_names_col(
    entries: str,
    fields: list[str],
    child_fields: dict[str, list[str]] | None = None,
) -> Column:
    """Native column: bitmap entries -> array of set field names, with the
    full reference semantics (compound `"<parentIdx>-<hex>"` entries ->
    `Parent.Child`) under the module's entry rule.

    ``entries`` is the SQL text of an ``array<string>`` column (a column
    name, a nested field path, or e.g. ``array(hex_col)`` for a single
    bitmap). The result is NULL for a NULL array. Compound entries dispatch
    with a ``CASE`` on the parent index over the parents that have a child
    list."""
    child_fields = child_fields or {}
    digits = f"regexp_extract(e, {_sql_str(ENTRY_PATTERN)}, 2)"
    compound = " ".join(
        f"WHEN {p} THEN "
        + _names_sql(digits, [f"{f}.{c}" for c in child_fields[f]])
        for p, f in enumerate(fields)
        if f in child_fields
    )
    per_entry = f"CASE WHEN instr(e, '-') = 0 THEN {_names_sql(digits, fields)}"
    if compound:
        per_entry += (
            f" ELSE CASE try_cast(substring_index(e, '-', 1) AS INT) {compound} END"
        )
    return F.expr(
        f"array_compact(flatten(transform({entries}, e -> coalesce("
        f"{per_entry} END, CAST(array() AS ARRAY<STRING>)))))"
    )
