"""Warehouse-depth operators (round 5): the SQL a user switching engines
reaches for beyond the relational core — SCD Type-2 history (the
keep-every-version twin of the reference's latest-wins state, design doc
:654-727), out-of-order profiling for watermark sizing, RFM segmentation,
market-basket mining, forward as-of joins, skylines, relational division,
CUSUM drift detection, cumulative-distinct growth curves, the marquee
TPC-H classics, and weighted/robust statistics.

Cross-engine determinism follows the repo conventions: ts_ms BIGINTs for
event time (functions/exprs.ts_ms_col), DECIMAL-sum-cast-DOUBLE for
money, explicit total orders under every window/ntile/top-k, and 6-dp
rounding over any aggregate whose FP summation order differs between
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_worker_spark.plans.registry import query
from cdc_worker_spark.sources.tables import load_events_ms, load_table


def event_runs(events: DataFrame) -> DataFrame:
    """(user_id, event_type, ts_ms, event_id) events as the one-event runs
    ``stitch_versions`` takes."""
    return events.select(
        "user_id",
        "event_type",
        F.col("ts_ms").alias("valid_from_ms"),
        F.lit(1).cast("long").alias("n_events"),
        F.col("event_id").alias("anchor_id"),
    )


def stitch_versions(runs: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Gaps-and-islands over runs (``*keys``, event_type, valid_from_ms,
    n_events, anchor_id): the one SCD2 kernel. A run is a weighted pseudo-
    event; a raw event is the run ``n_events = 1, anchor_id = event_id``.
    Per ``keys`` partition, runs in (valid_from_ms, anchor_id) order
    collapse into maximal same-type versions (lag -> running sum ->
    groupBy), and valid_to_ms is the next version's valid_from_ms (lead).
    The anchor tiebreak is the event-level (ts_ms, event_id) total order,
    so equal-timestamp runs stitch deterministically, and re-collapsing is
    associative: stitch(stitch(A) ∪ B) == stitch(A ∪ B) for B after A in
    time, which is what the incremental merge (streaming/scd2.py) relies
    on. Every window and the groupBy key on a superset of ``keys``, so one
    exchange on any subset of them serves all of them."""
    w = Window.partitionBy(*keys).orderBy("valid_from_ms", "anchor_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    collapsed = (
        runs.withColumn(
            "version",
            F.sum(chg).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(*keys, "version", "event_type")
        .agg(
            F.min("valid_from_ms").alias("valid_from_ms"),
            F.sum("n_events").alias("n_events"),
            F.min(F.struct("valid_from_ms", "anchor_id"))["anchor_id"].alias(
                "anchor_id"
            ),
        )
    )
    w2 = Window.partitionBy(*keys).orderBy("version")
    return collapsed.select(
        *keys,
        F.col("version").cast("long"),
        "event_type",
        "valid_from_ms",
        F.lead("valid_from_ms").over(w2).alias("valid_to_ms"),
        "n_events",
        "anchor_id",
    )


@query(
    "q_cdc_scd2",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_ms(ts), event_id) AS prev
      FROM events
    ),
    runs AS (
      SELECT *, sum(CASE WHEN prev IS NULL OR prev <> event_type
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ordered
    ),
    collapsed AS (
      SELECT user_id, CAST(run_id AS BIGINT) AS version, event_type,
             min(ts_ms) AS valid_from_ms,
             CAST(count(*) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT user_id, version, event_type, valid_from_ms,
           lead(valid_from_ms) OVER (PARTITION BY user_id
                                     ORDER BY version) AS valid_to_ms,
           (lead(valid_from_ms) OVER (PARTITION BY user_id
                                      ORDER BY version)) IS NULL
             AS is_current,
           n_events
    FROM collapsed
    """,
)
def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 history build from the CDC stream
    (design doc :654-727 describes latest-wins upsert; SCD2 is the
    warehouse twin that KEEPS every version with validity intervals).
    Consecutive equal states collapse into one versioned run
    (gaps-and-islands), valid_to = next run's valid_from, open interval =
    current row.

    Each event is a one-event run through ``stitch_versions``, the kernel
    the incremental merge shares: all three passes (lag, running sum,
    lead) share ONE partitioning on user_id — a single exchange; the
    groupBy collapses within the same key space. Interval bounds use the ts_ms BIGINT convention so hashes
    are time-zone-proof."""
    versions = stitch_versions(
        event_runs(load_events_ms(spark, sf_dir)), ("user_id",)
    )
    return versions.select(
        "user_id",
        "version",
        "event_type",
        "valid_from_ms",
        "valid_to_ms",
        F.col("valid_to_ms").isNull().alias("is_current"),
        "n_events",
    )


@query(
    "q_cdc_out_of_order",
    oracle="""
    WITH seq AS (
      SELECT event_type, epoch_ms(ts) AS ts_ms,
             max(epoch_ms(ts)) OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_prior_ms
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE ts_ms < max_prior_ms) AS BIGINT)
             AS n_late,
           CAST(max(max_prior_ms - ts_ms)
                FILTER (WHERE ts_ms < max_prior_ms) AS BIGINT) AS max_lag_ms,
           CAST(sum(max_prior_ms - ts_ms)
                FILTER (WHERE ts_ms < max_prior_ms) AS BIGINT) AS total_lag_ms
    FROM seq GROUP BY event_type
    """,
)
def q_cdc_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order (late-event) profiling per topic: how many events
    arrive with an event time BEHIND the running maximum, and how far —
    the measurement that sizes a streaming watermark (streaming/windows.py
    uses exactly this delay bound). The fixtures carry no arrival column
    (event_id order IS time order), so arrival is simulated by the md5
    permutation of event_id — identical on both engines, giving a
    deterministic heavily-out-of-order stream. One event_type-keyed window
    + the same-keyed aggregate: a single exchange, integer-ms arithmetic
    throughout."""
    ev = load_events_ms(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.md5(F.col("event_id").cast("string").cast("binary")), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_type",
        "ts_ms",
        F.max("ts_ms").over(w).alias("max_prior_ms"),
    )
    late = F.col("ts_ms") < F.col("max_prior_ms")
    lag = F.col("max_prior_ms") - F.col("ts_ms")
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_if(late).alias("n_late"),
        F.max(F.when(late, lag)).alias("max_lag_ms"),
        F.sum(F.when(late, lag)).alias("total_lag_ms"),
    )


@query(
    "q_basket_pairs",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pf AS (SELECT l_partkey, CAST(count(*) AS DOUBLE) AS n_ord
           FROM items GROUP BY l_partkey),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
          FROM items),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= 2
    )
    SELECT part_a, part_b, n_both,
           round(n_both / (SELECT n_orders FROM n), 6) AS support,
           round(n_both * (SELECT n_orders FROM n)
                 / (fa.n_ord * fb.n_ord), 6) AS lift
    FROM pairs
    JOIN pf fa ON fa.l_partkey = part_a
    JOIN pf fb ON fb.l_partkey = part_b
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: part pairs ordered together in
    >= 2 orders, with support and lift (the association-rule primitives).

    Pair generation is ONE basket-keyed shuffle, no self-join: group each
    order's distinct parts into an array, expand the ordered pairs with a
    nested array transform (pure projection — the fan-out is quadratic
    only in that order's item count, bounded at 7 in TPC-H; hot baskets
    are capped at BASKET_CAP items by functions.exprs.cap_basket BEFORE
    expansion, so one 10k-item bot cart cannot make the stage cost
    Σ|basket|² explode — inert on fixtures, planted-hot-basket bound
    asserted in tests/test_basket_cap.py), then count pairs. The
    per-part frequency table is O(parts) and BROADCASTS onto the pair
    counts; n_orders is a 1-row broadcast. Exact integer counts make
    support/lift bit-deterministic."""
    from cdc_worker_spark.functions.exprs import basket_pair_array, cap_basket

    li = load_table(spark, sf_dir, "lineitem")
    # ONE fact scan + ONE fact shuffle: collect_set dedups within the
    # order, and the checkpointed basket table then serves all three
    # consumers (pair expansion, per-part frequency, order count) — the
    # former items.distinct() shape re-scanned and re-deduped lineitem
    # once per consumer (4 fact scans in the static plan)
    # DISK_ONLY (r12): per_order is O(orders) with a parts array —
    # ~12 GB of deserialized rows at sf100 — and the default
    # MEMORY_AND_DISK localCheckpoint pinned it in the protected
    # storage region, starving every unmanaged allocation downstream
    # (the r11 "basket localCheckpoint needs 28 g" creep; SCALE.md §r12
    # post-mortem). DISK_ONLY keeps the one-scan/three-consumer shape
    # and pins zero heap.
    from pyspark import StorageLevel

    per_order = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    pf = (
        per_order.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").cast("double").alias("n_ord"))
    )
    n_orders = per_order.agg(
        F.count("*").cast("double").alias("n_orders")
    )
    # all ordered pairs (x < y) inside each basket: cap the hot baskets,
    # then nested transform + flatten (nulls from the < filter dropped).
    # Frequencies (pf, n_orders) stay on the UNCAPPED baskets — the valve
    # bounds only the quadratic pair fan-out.
    # packed pair key (r12, guide §2.3): one bigint (a<<32)|b rides the
    # count shuffle instead of a two-field struct; unpacked after the agg
    pairs = (
        per_order.select(cap_basket("parts").alias("parts"))
        .select(
            F.explode(
                basket_pair_array("parts", directed=False)
            ).alias("pk")
        )
        .groupBy("pk")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
        .select(
            F.shiftrightunsigned("pk", 32).alias("part_a"),
            F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("part_b"),
            "n_both",
        )
    )
    fa = pf.select(
        F.col("l_partkey").alias("part_a"), F.col("n_ord").alias("na")
    )
    fb = pf.select(
        F.col("l_partkey").alias("part_b"), F.col("n_ord").alias("nb")
    )
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(F.col("n_both") / F.col("n_orders"), 6).alias("support"),
            F.round(
                F.col("n_both") * F.col("n_orders") / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q_join_asof_tol",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         e AS (SELECT event_id AS e_id, user_id, ts AS e_ts FROM events
               WHERE event_type = 'error'),
         m AS (
           SELECT p.event_id, e.e_id, e.e_ts,
                  row_number() OVER (PARTITION BY p.event_id
                                     ORDER BY e.e_ts, e.e_id) AS rn
           FROM p JOIN e ON p.user_id = e.user_id
                        AND e.e_ts > p.ts
                        AND e.e_ts <= p.ts + INTERVAL 48 HOUR)
    SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
           m.e_id AS next_error_id,
           epoch_ms(m.e_ts) AS next_error_ts_ms
    FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id)
    """,
)
def q_join_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with a tolerance bound (the pandas
    ``merge_asof(direction='forward', tolerance=...)`` surface, the twin of
    q_join_asof's backward form): for each purchase, the EARLIEST error of
    the same user strictly after it but within 48 h — unmatched purchases
    survive with NULLs (left semantics). Same scale shape as the backward
    form: ONE user_id shuffle serves the equi join, the range predicate
    prunes candidates before the per-purchase row_number, and the final
    left join is purchase-keyed. The tolerance bound is what makes this
    scale-safe: it caps each purchase's candidate window."""
    ev = load_events_ms(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "ts_ms"
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("e_ts"),
        F.col("ts_ms").alias("e_ts_ms"),
    )
    w = Window.partitionBy("event_id").orderBy("e_ts", "e_id")
    matched = (
        p.join(
            e,
            (p.user_id == e.e_user_id)
            & (e.e_ts > p.ts)
            & (e.e_ts <= p.ts + F.expr("INTERVAL 48 HOURS")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "e_id", "e_ts_ms")
    )
    return p.join(matched, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts_ms",
        F.col("e_id").alias("next_error_id"),
        F.col("e_ts_ms").alias("next_error_ts_ms"),
    )


@query(
    "q_part_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_brand, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_brand = p.p_brand
        AND q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query per brand: parts not dominated on
    (cheaper price, larger size) by any same-brand part — the classic
    multi-criteria shortlist operator (Borzsony et al., ICDE 2001).

    Expressed as a dominance anti-join CO-PARTITIONED on p_brand: one
    brand-keyed shuffle, and the quadratic dominance check is confined to
    each brand's partition (the standard block-partitioned skyline; an
    unpartitioned skyline would pre-filter with a grid/sample pass). The
    anti join keeps exactly the non-dominated rows."""
    part = load_table(spark, sf_dir, "part")
    p = part.select("p_partkey", "p_brand", "p_size", "p_retailprice")
    q = p.select(
        F.col("p_brand").alias("q_brand"),
        F.col("p_size").alias("q_size"),
        F.col("p_retailprice").alias("q_price"),
    )
    dominated = (
        (F.col("q_brand") == F.col("p_brand"))
        & (F.col("q_price") <= F.col("p_retailprice"))
        & (F.col("q_size") >= F.col("p_size"))
        & (
            (F.col("q_price") < F.col("p_retailprice"))
            | (F.col("q_size") > F.col("p_size"))
        )
    )
    return p.join(q, dominated, "left_anti")


@query(
    "q_orders_rfm",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate),
                       (SELECT max(o_orderdate) FROM orders)) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
           frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS INT)
             AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT)
             AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT)
             AS m_score
    FROM base
    """,
)
def q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary quintile
    scores) — the standard warehouse cohorting primitive. One customer-keyed
    aggregation, then three ntile windows over the CUSTOMERS-sized result
    (not the orders stream), each with an explicit custkey tiebreak so both
    engines assign identical quintiles. Monetary uses the DECIMAL-sum-cast-
    DOUBLE money convention. The global max date is a 1-row broadcast.

    Scale note: single-partition ntile over all customers is the textbook
    bottleneck; at 100 TB the quintile boundaries come from approx
    percentiles (q_agg_approx_percentile) and a broadcast range join —
    declared here as the exact small-dim form."""
    o = load_table(spark, sf_dir, "orders")
    gmax = o.agg(F.max("o_orderdate").alias("gmax"))
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            "o_custkey",
            F.datediff("gmax", "last_order").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    wr = Window.orderBy("recency_days", "o_custkey")
    wf = Window.orderBy(F.col("frequency").desc(), "o_custkey")
    wm = Window.orderBy(F.col("monetary").desc(), "o_custkey")
    return base.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(wr).alias("r_score"),
        F.ntile(5).over(wf).alias("f_score"),
        F.ntile(5).over(wm).alias("m_score"),
    )


@query(
    "q_supplier_coverage",
    oracle="""
    WITH brand_parts AS (
      SELECT p_brand, p_partkey FROM part WHERE p_size >= 48
    ),
    sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    cover AS (
      SELECT bp.p_brand, sp.l_suppkey,
             count(DISTINCT bp.p_partkey) AS n_cov
      FROM brand_parts bp JOIN sp ON sp.l_partkey = bp.p_partkey
      GROUP BY bp.p_brand, sp.l_suppkey
    ),
    need AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_need
             FROM brand_parts GROUP BY p_brand)
    SELECT cover.p_brand, l_suppkey, n_need
    FROM cover JOIN need USING (p_brand)
    WHERE n_cov = n_need
    """,
)
def q_supplier_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIONAL DIVISION — 'suppliers that have shipped EVERY large
    (size >= 48) part of a brand' — the universal-quantifier join the
    SQL-92 idiom spells as double NOT EXISTS; here the count-matching
    form: per (brand, supplier) coverage count == the brand's catalog
    count. The brand catalog is dimension-sized and BROADCASTS onto the
    shipped-pairs stream; both aggregates are partial-then-final; the
    final need-join is broadcast too. Nothing shuffles except the
    (brand, supplier) coverage cells."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = part.filter(F.col("p_size") >= 48).select(
        "p_brand", "p_partkey"
    )
    sp = li.select("l_suppkey", "l_partkey").distinct()
    cover = (
        sp.join(F.broadcast(brand_parts), sp.l_partkey == brand_parts.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(F.count_distinct("p_partkey").alias("n_cov"))
    )
    need = brand_parts.groupBy("p_brand").agg(F.count("*").alias("n_need"))
    return (
        cover.join(F.broadcast(need), "p_brand")
        .filter(F.col("n_cov") == F.col("n_need"))
        .select("p_brand", "l_suppkey", "n_need")
    )


@query(
    "q_events_cusum",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY event_type
    ),
    seq AS (
      SELECT e.event_type,
             sum((e.value - s.mu) / s.sd) OVER (
               PARTITION BY e.event_type
               ORDER BY epoch_ms(e.ts), e.event_id
               ROWS UNBOUNDED PRECEDING) AS cusum
      FROM events e JOIN stats s USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(max(abs(cusum)), 6) AS max_abs_cusum,
           round(avg(cusum), 6) AS mean_cusum
    FROM seq GROUP BY event_type
    """,
)
def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per topic (Page 1954): the running cumulative
    sum of standardized deviations from the topic mean — a persistent
    shift in the value distribution shows up as |CUSUM| growing linearly,
    which single-point z-score monitors (q_events_anomaly) miss. The
    topic-stats table is topics-sized and BROADCASTS onto the stream; the
    cumulative window and the final rollup share ONE event_type exchange.
    The window's total order (ts, event_id) fixes the summation order, so
    both engines accumulate identical doubles."""
    ev = load_events_ms(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.sum((F.col("value") - F.col("mu")) / F.col("sd")).over(w).alias("cusum"),
    )
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.max(F.abs("cusum")), 6).alias("max_abs_cusum"),
        F.round(F.avg("cusum"), 6).alias("mean_cusum"),
    )


@query(
    "q_events_cum_distinct",
    oracle="""
    WITH firsts AS (
      SELECT event_type, user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY event_type, user_id
    ),
    daily AS (
      SELECT event_type, first_day AS day, CAST(count(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY event_type, first_day
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily
    """,
)
def q_events_cum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative DISTINCT users per topic per day (the growth-curve
    metric). count(DISTINCT) over an unbounded window is illegal in every
    engine; the scalable identity is first-seen collapse: min(first day)
    per (topic, user) -> daily new-user counts -> running sum. The shuffle
    carries one row per (topic, user) — the same O(keys) shape as
    latest-wins — and the running sum runs over the tiny (topic, day)
    grid. This is the standard rewrite that makes 'users to date' feasible
    on a 100 TB event log."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy(
        "event_type", "user_id"
    ).agg(F.min(F.to_date("ts")).alias("first_day"))
    daily = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count("*").alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        # DATE round-trips as python objects through Arrow; emit the
        # midnight timestamp so both engines hash the same dtype
        F.col("day").cast("timestamp_ntz").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@query(
    "q_events_welch_ttest",
    oracle="""
    WITH g AS (
      SELECT event_type, count(*) AS n, avg(value) AS mu, var_samp(value) AS v
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY event_type
    ),
    w AS (
      SELECT
        max(CASE WHEN event_type = 'purchase' THEN mu END) AS mu_a,
        max(CASE WHEN event_type = 'click' THEN mu END) AS mu_b,
        max(CASE WHEN event_type = 'purchase' THEN v / n END) AS se_a,
        max(CASE WHEN event_type = 'click' THEN v / n END) AS se_b,
        max(CASE WHEN event_type = 'purchase' THEN n END) AS n_a,
        max(CASE WHEN event_type = 'click' THEN n END) AS n_b
      FROM g
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(mu_a - mu_b, 6) AS mean_diff,
           round((mu_a - mu_b) / sqrt(se_a + se_b), 6) AS t_stat,
           round(pow(se_a + se_b, 2)
                 / (pow(se_a, 2) / (n_a - 1) + pow(se_b, 2) / (n_b - 1)), 6)
             AS dof
    FROM w
    """,
)
def q_events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test (the A/B-testing
    primitive): purchase vs click value distributions — t statistic and
    Welch-Satterthwaite degrees of freedom. ONE filtered pass computes
    both groups' mergeable moments (count/mean/variance partials combine
    map-side); the test statistic is a 2-row pivot — nothing beyond the
    moment rows ever shuffles, which is what makes A/B evaluation on a
    100 TB event log a single cheap aggregation."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("mu"),
            F.var_samp("value").alias("v"),
        )
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, c))  # noqa: E731
    w = g.agg(
        pick("purchase", F.col("mu")).alias("mu_a"),
        pick("click", F.col("mu")).alias("mu_b"),
        pick("purchase", F.col("v") / F.col("n")).alias("se_a"),
        pick("click", F.col("v") / F.col("n")).alias("se_b"),
        pick("purchase", F.col("n")).alias("n_a"),
        pick("click", F.col("n")).alias("n_b"),
    )
    se = F.col("se_a") + F.col("se_b")
    return w.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.col("mu_a") - F.col("mu_b"), 6).alias("mean_diff"),
        F.round((F.col("mu_a") - F.col("mu_b")) / F.sqrt(se), 6).alias("t_stat"),
        F.round(
            F.pow(se, 2)
            / (
                F.pow("se_a", 2) / (F.col("n_a") - 1)
                + F.pow("se_b", 2) / (F.col("n_b") - 1)
            ),
            6,
        ).alias("dof"),
    )


@query(
    "q_agg_weighted_median",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ROWS UNBOUNDED PRECEDING) AS cum_w,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot_w
      FROM lineitem
    )
    SELECT l_returnflag,
           round(min(l_extendedprice) FILTER (WHERE cum_w >= tot_w / 2), 4)
             AS weighted_median,
           CAST(sum(l_quantity) AS BIGINT) AS total_weight
    FROM ranked GROUP BY l_returnflag
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median (price weighted by quantity, per return flag) —
    the robust center plain percentile_cont cannot produce when rows
    carry unequal mass. Computed as the first value whose cumulative
    weight crosses half the total: one partition-keyed exchange serves
    the cumulative window, the total-weight window AND the final
    aggregate; the full (price, orderkey, linenumber) tiebreak pins the
    crossing row on both engines (weights are integer-valued, so the
    cum/total sums are exact in any order)."""
    li = load_table(spark, sf_dir, "lineitem")
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        F.sum("l_quantity").over(wc).alias("cum_w"),
        F.sum("l_quantity").over(wt).alias("tot_w"),
    )
    return ranked.groupBy("l_returnflag").agg(
        F.round(
            F.min(
                F.when(
                    F.col("cum_w") >= F.col("tot_w") / 2, F.col("l_extendedprice")
                )
            ),
            4,
        ).alias("weighted_median"),
        F.sum("l_quantity").cast("bigint").alias("total_weight"),
    )


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-06-15'
      AND l_shipdate > TIMESTAMP '1996-06-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), adapted to the fixture schema
    (o_orderpriority stands in for o_shippriority; fixture date domain):
    the marquee filtered 3-way join + grouped revenue + top-10. Customer
    (segment-filtered) BROADCASTS onto orders, that result broadcasts
    onto the lineitem scan, whose ship-date predicate pushes into the
    parquet reader; the top-10 is TakeOrderedAndProject (bounded heap,
    never a total sort). DECIMAL-sum-cast-DOUBLE money convention with a
    full tiebreak makes the top-10 engine-identical."""
    cutoff = "1996-06-15"
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp_ntz")
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table snowflake with the
    same-nation customer/supplier correlation — the classic join-order
    stress test. Region -> nation -> supplier collapse to a small
    broadcast side; the fact-side path keeps lineitem streaming with
    every dimension broadcast (no lineitem shuffle until the final
    nations-sized aggregate). Two-year date window pushes into the
    orders scan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "q_tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INT)
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping) on the fixture schema: bilateral trade
    volume between two nations by ship year — the double-dimension-alias
    join (nation joined TWICE under different roles) plus a disjunctive
    cross-dimension predicate. Scale shape: both nation sides broadcast
    (25 rows); supplier broadcasts; the nation-pair disjunction is applied
    AFTER the supplier/customer nation keys are attached, so lineitem
    streams through exactly one shuffle (the orders join) before the
    6-group aggregate; the two-year ship-date window pushes into the
    lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
        | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) on the fixture schema: top-20
    customers by revenue lost to returns in one quarter. Scale shape: the
    return-flag predicate pushes into the lineitem scan and the quarter
    window into the orders scan; lineitem joins quarter-filtered orders on
    the order key (shuffle join — at 100 TB a quarter of orders is still
    fact-sized, only nation broadcasts), then one customer-keyed shuffle
    into the grouped aggregate; the top-20 is TakeOrderedAndProject with a
    full (revenue, c_custkey) tiebreak for engine-identical output."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.045 AND l_discount <= 0.075
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical pure
    scan-aggregate. Scale shape: every predicate (ship-date year, discount
    band, quantity cap) pushes into the parquet scan as a min/max-prunable
    filter, the projection is 2 columns, and the plan is a single
    partial+final agg with no shuffle of data rows — at 100 TB this is
    I/O-bound on exactly the row groups the year predicate admits. The
    discount band uses half-open interior bounds (0.045/0.075) so no stored
    value sits on a comparison boundary in either engine."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.045)
        & (F.col("l_discount") <= 0.075)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(18,2)")
    return li.agg(F.sum(rev).cast("double").alias("revenue"))


@query(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
        AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of PROMO-part
    revenue sold into the EUROPE market, by order year. Scale shape: the
    type-filtered part side is dim-sized and broadcasts, so lineitem is
    pre-filtered to PROMO rows by a broadcast hash join before anything
    shuffles; the two-year window pushes into the orders scan; both nation
    aliases and region broadcast. The only fact-sized exchange is the
    lineitem-orders key join; the numerator/denominator ride in ONE grouped
    aggregate (conditional sum), so share needs no self-join. DECIMAL sums
    are exact, making the 6-dp-rounded double ratio engine-identical."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    nation_vol = F.when(F.col("nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(nation_vol).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution), with the comment
    LIKE-filter adapted to the fixture's priority column: how many
    customers placed exactly k non-urgent orders, INCLUDING the zero-order
    customers the left join preserves. Scale shape: the priority filter
    lives in the join condition (not a WHERE — that would silently turn
    the outer join inner); one c_custkey-keyed shuffle builds the
    per-customer counts, and the histogram re-agg is O(distinct counts),
    effectively free. At 100 TB both sides are fact-sized so the key join
    shuffles — no broadcast is claimed."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(18,2))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) with the maximum quarterly
    revenue — the view-plus-scalar-subquery classic. Scale shape: the
    quarter filter pushes into the lineitem scan; ONE l_suppkey-keyed
    shuffle materializes the revenue view, which is computed once and
    consumed twice (max + equality filter) out of the same exchange; the
    1-row max broadcasts back as a cross join, and the supplier dim joins
    broadcast-wise onto the (tiny) winning set. The max-equality compare
    happens on the exact DECIMAL sums, never on doubles, so ties are
    engine-identical; the double cast is only on output."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).alias("total_revenue")
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q17",
    oracle="""
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / 7.0, 6) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), container predicate
    adapted to the fixture's (brand, type) columns: revenue lost if orders
    below 20%% of a part's average quantity were not taken. Scale shape:
    the brand/type-filtered part set is dim-sized and broadcasts, so BOTH
    lineitem passes (the per-part average and the priced rows) are
    broadcast-pre-filtered to the handful of matching parts before any
    aggregation; the correlated scalar subquery decorrelates into a
    per-part avg that is itself tiny and broadcasts back. l_quantity is
    integer-valued, so the double average is an exact integer/count ratio
    — the 0.2*avg threshold compare is engine-identical."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "SMALL")
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresholds = matched.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        matched.join(
            F.broadcast(thresholds.withColumnRenamed("l_partkey", "t_partkey")),
            F.col("l_partkey") == F.col("t_partkey"),
        )
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / 7.0,
                6,
            ).alias("avg_yearly")
        )
    )


@query(
    "q_tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(sum(l_quantity) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): top-100 orders whose total
    quantity exceeds 300 units. Scale shape: the textbook form scans
    lineitem twice (the IN-subquery and the outer sum); this plan computes
    the per-order quantity sum ONCE — the same aggregate both qualifies the
    order (HAVING) and supplies total_qty — so lineitem shuffles exactly
    once on l_orderkey. The surviving set is selectivity-tiny (threshold
    sits in the far tail of lines-per-order), so the orders and customer
    attachments are dim-lookups on it, and the top-100 is
    TakeOrderedAndProject with a full (price, date, key) tiebreak.
    l_quantity is integer-valued: the sums are exact in either engine."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_sum"))
        .filter(F.col("qty_sum") > 300)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty_sum").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "q_events_chi_square",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(least(3, floor(value / 25.0)) AS BIGINT) AS vbucket
      FROM events
    ),
    obs AS (SELECT event_type, vbucket, CAST(count(*) AS DOUBLE) AS o
            FROM b GROUP BY event_type, vbucket),
    rt AS (SELECT event_type, sum(o) AS r FROM obs GROUP BY event_type),
    ct AS (SELECT vbucket, sum(o) AS c FROM obs GROUP BY vbucket),
    n AS (SELECT sum(o) AS n FROM obs)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(pow(o - r * c / (SELECT n FROM n), 2)
                     / (r * c / (SELECT n FROM n))), 6) AS chi2,
           CAST((count(DISTINCT obs.event_type) - 1)
                * (count(DISTINCT obs.vbucket) - 1) AS BIGINT) AS dof
    FROM obs JOIN rt USING (event_type) JOIN ct USING (vbucket)
    """,
)
def q_events_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence (topic x value-quartile
    contingency) — the categorical sibling of q_events_welch_ttest: does
    the value distribution depend on the event type? The contingency
    table is O(types x buckets) regardless of event count (one hash agg
    over the stream); marginals and the statistic are computed ON that
    tiny table with broadcast joins. Counts are exact, so the statistic
    is deterministic to the 6-dp rounding."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.least(F.lit(3), F.floor(F.col("value") / 25.0))
        .cast("bigint")
        .alias("vbucket"),
    )
    obs = b.groupBy("event_type", "vbucket").agg(
        F.count("*").cast("double").alias("o")
    )
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("vbucket").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    return (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "vbucket")
        .crossJoin(F.broadcast(n))
        .agg(
            F.count("*").alias("n_cells"),
            F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
            (
                (F.count_distinct("event_type") - 1)
                * (F.count_distinct("vbucket") - 1)
            ).alias("dof"),
        )
    )


@query(
    "q_parts_pareto",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT rev,
             sum(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(rev) OVER () AS tot,
             row_number() OVER (ORDER BY rev DESC, l_partkey) AS rn,
             count(*) OVER () AS n_parts
      FROM pr
    )
    SELECT CAST(min(rn) FILTER (WHERE cum >= 0.8 * tot) AS BIGINT)
             AS parts_for_80pct,
           CAST(max(n_parts) AS BIGINT) AS n_parts,
           round(CAST(min(rn) FILTER (WHERE cum >= 0.8 * tot) AS DOUBLE)
                 / max(n_parts), 6) AS share_of_parts
    FROM ranked
    """,
)
def q_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / revenue-concentration analysis: how many parts cover 80%
    of revenue (the 80/20 dashboard number). Per-part revenue is one
    exchange (DECIMAL-sum exact); the cumulative share runs over the
    PARTS-sized table under a deterministic (rev DESC, key) total order,
    so the crossing rank is engine-identical. At 100 TB the parts table
    is the small side — the single-partition window here is
    O(distinct parts), never O(lineitems); beyond ~100M parts the
    crossing rank comes from the distributed prefix-sum machinery
    (operators/sampling.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    wc = (
        Window.orderBy(F.col("rev").desc(), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy()
    ranked = pr.select(
        "rev",
        F.sum("rev").over(wc).alias("cum"),
        F.sum("rev").over(wall).alias("tot"),
        F.row_number().over(Window.orderBy(F.col("rev").desc(), "l_partkey")).alias("rn"),
        F.count("*").over(wall).alias("n_parts"),
    )
    crossing = F.min(F.when(F.col("cum") >= 0.8 * F.col("tot"), F.col("rn")))
    return ranked.agg(
        crossing.cast("bigint").alias("parts_for_80pct"),
        F.max("n_parts").cast("bigint").alias("n_parts"),
        F.round(crossing.cast("double") / F.max("n_parts"), 6).alias(
            "share_of_parts"
        ),
    )


@query(
    "q_events_ks_test",
    oracle="""
    WITH s AS (
      SELECT value, event_type FROM events
      WHERE event_type IN ('purchase', 'click')
    ),
    n AS (
      SELECT
        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na,
        sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb
      FROM s
    ),
    r AS (
      SELECT value,
             sum(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0 END)
               OVER (ORDER BY value, event_type ROWS UNBOUNDED PRECEDING)
               AS ca,
             sum(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0 END)
               OVER (ORDER BY value, event_type ROWS UNBOUNDED PRECEDING)
               AS cb,
             lead(value) OVER (ORDER BY value, event_type) AS nxt
      FROM s
    )
    SELECT CAST((SELECT na FROM n) AS BIGINT) AS n_a,
           CAST((SELECT nb FROM n) AS BIGINT) AS n_b,
           round(max(abs(ca / (SELECT na FROM n)
                         - cb / (SELECT nb FROM n))), 6) AS ks_stat
    FROM r
    WHERE nxt IS NULL OR value <> nxt
    """,
)
def q_events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (purchase vs click value
    distributions): the max ECDF gap — the distribution-free companion to
    q_events_welch_ttest (mean shift) and q_events_chi_square (category
    dependence). One merged sort of both samples; the gap is evaluated
    only at the LAST row of each distinct value (both ECDFs are step
    functions jumping at distinct values — mid-tie prefixes are not points
    of either ECDF and would overstate D), so the statistic is the true
    KS D on tied data and tie order inside a value group cannot matter.
    The single-partition window is O(filtered sample), the deliberate
    exact form at probe scale; the sketch path for full-stream KS is the
    t-digest family."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "value", "event_type"
    )
    is_a = (F.col("event_type") == "purchase").cast("double")
    is_b = (F.col("event_type") == "click").cast("double")
    w_ord = Window.orderBy("value", "event_type")
    w = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nxt = F.lead("value").over(w_ord)
    r = s.select(
        "value",
        F.sum(is_a).over(w).alias("ca"),
        F.sum(is_b).over(w).alias("cb"),
        nxt.alias("nxt"),
    ).filter(F.col("nxt").isNull() | (F.col("value") != F.col("nxt")))
    n = s.agg(
        F.sum(is_a).alias("na"), F.sum(is_b).alias("nb")
    )
    return (
        r.crossJoin(F.broadcast(n))
        .agg(
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
            F.round(
                F.max(F.abs(F.col("ca") / F.col("na") - F.col("cb") / F.col("nb"))),
                6,
            ).alias("ks_stat"),
        )
    )


@query(
    "q_events_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT value, event_type FROM events
      WHERE event_type IN ('purchase', 'click')
    ),
    rk AS (
      SELECT event_type,
             rank() OVER (ORDER BY value) AS rmin,
             count(*) OVER (PARTITION BY value) AS cnt
      FROM s
    )
    SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b,
           round(sum(CASE WHEN event_type = 'purchase'
                     THEN rmin + (cnt - 1) / 2.0 ELSE 0 END), 6)
             AS rank_sum_a,
           round(sum(CASE WHEN event_type = 'purchase'
                     THEN rmin + (cnt - 1) / 2.0 ELSE 0 END)
                 - CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS DOUBLE)
                   * (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) + 1) / 2.0, 6) AS u_stat
    FROM rk
    """,
)
def q_events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) statistic with tie-averaged
    ranks: the nonparametric location test (is one group stochastically
    larger?). Joint min-ranks come from one ordered window; the
    per-value tie count turns them into average ranks WITHOUT a second
    ordering pass (avg rank = min rank + (ties-1)/2). Ranks and counts
    are exact integers, so U is deterministic to the last bit before the
    cosmetic rounding."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "value", "event_type"
    )
    rk = s.select(
        "event_type",
        F.rank().over(Window.orderBy("value")).alias("rmin"),
        F.count("*").over(Window.partitionBy("value")).alias("cnt"),
    )
    is_a = F.col("event_type") == "purchase"
    avg_rank = F.col("rmin") + (F.col("cnt") - 1) / 2.0
    n_a = F.sum(is_a.cast("long"))
    rank_sum_a = F.sum(F.when(is_a, avg_rank).otherwise(0.0))
    return rk.agg(
        n_a.cast("bigint").alias("n_a"),
        F.sum((~is_a).cast("long")).cast("bigint").alias("n_b"),
        F.round(rank_sum_a, 6).alias("rank_sum_a"),
        F.round(
            rank_sum_a - n_a.cast("double") * (n_a + 1) / 2.0, 6
        ).alias("u_stat"),
    )


@query(
    "q_events_dow_seasonality",
    oracle="""
    WITH g AS (
      SELECT CAST((epoch_ms(ts) // 86400000 + 3) % 7 AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS n,
             round(avg(value), 6) AS avg_value
      FROM events GROUP BY 1
    ),
    tot AS (SELECT sum(n) / 7.0 AS expected FROM g)
    SELECT dow, n, avg_value,
           round(n / (SELECT expected FROM tot), 6) AS activity_index
    FROM g
    """,
)
def q_events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile with a deviation index
    (observed/expected under uniformity) — the dashboard rollup behind
    'weekends are 12% quieter'. Day-of-week comes from pure epoch-day
    arithmetic on ts_ms ((epoch_day + 3) % 7, Monday = 0) so no session
    time zone or calendar function can skew either engine. One hash agg;
    the expected-rate denominator is a 1-row broadcast."""
    ev = load_events_ms(spark, sf_dir)
    g = ev.groupBy(
        ((F.floor(F.col("ts_ms") / 86400000) + 3) % 7).cast("bigint").alias("dow")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    tot = g.agg((F.sum("n") / 7.0).alias("expected"))
    return g.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n",
        "avg_value",
        F.round(F.col("n") / F.col("expected"), 6).alias("activity_index"),
    )


@query(
    "q_orders_interarrival",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey), o_orderdate)
               AS gap_days
      FROM orders
    ),
    per_cust AS (
      SELECT o_custkey, median(gap_days) AS med_gap
      FROM gaps WHERE gap_days IS NOT NULL GROUP BY o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(med_gap), 6) AS avg_median_gap,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY med_gap), 6)
             AS p50,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY med_gap), 6)
             AS p90
    FROM per_cust
    """,
)
def q_orders_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence profile: each customer's MEDIAN days between
    consecutive orders, rolled up to the fleet distribution (the metric
    behind churn-risk thresholds: 'this customer is 3x past their usual
    gap'). The lag window and the per-customer median share one custkey
    exchange; the final percentiles run over the customers-sized medians
    table. Gaps are exact integer day counts, so the interpolated
    medians/percentiles agree across engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    per_cust = gaps.groupBy("o_custkey").agg(
        F.median("gap_days").alias("med_gap")
    )
    return per_cust.agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("med_gap"), 6).alias("avg_median_gap"),
        F.round(F.percentile("med_gap", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("med_gap", F.lit(0.9)), 6).alias("p90"),
    )


@query(
    "q_parts_gini",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY l_partkey
    ),
    r AS (
      SELECT rev, row_number() OVER (ORDER BY rev, l_partkey) AS rn,
             count(*) OVER () AS n, sum(rev) OVER () AS tot
      FROM pr
    )
    SELECT CAST(max(n) AS BIGINT) AS n_parts,
           round((2.0 * sum(rn * rev) / (max(n) * max(tot)))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM r
    """,
)
def q_parts_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across parts — the
    single-number inequality companion to q_parts_pareto's crossing rank
    (0 = evenly spread, 1 = one part takes everything), via the exact
    sorted-rank identity G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n. Ranks
    come from the parts-sized table under a (rev, key) total order;
    revenue sums are DECIMAL-exact, so the statistic is deterministic to
    the rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    r = pr.select(
        "rev",
        F.row_number().over(Window.orderBy("rev", "l_partkey")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.sum("rev").over(Window.partitionBy()).alias("tot"),
    )
    return r.agg(
        F.max("n").cast("bigint").alias("n_parts"),
        F.round(
            (2.0 * F.sum(F.col("rn") * F.col("rev")))
            / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


@query(
    "q_orders_sla_latency",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(avg(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
                     THEN 1.0 ELSE 0.0 END), 6) AS sla_30d_rate,
           round(avg(date_diff('day', o_orderdate, l_shipdate)), 6)
             AS avg_latency_days
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_orders_sla_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship SLA dashboard: per priority class, the 30-day
    fulfilment rate and mean latency — the operational rollup a CDC-fed
    warehouse serves continuously. Latencies are exact integer day
    differences.

    r10 scale fix: this used to FORCE-broadcast the orders side, which
    is not a dim — it scales with the fact table (150M rows at sf100 =
    ~1.6 GB of serialized task results, over the driver's 1 GB
    maxResultSize; caught by check_sla_latency_replan the first time the
    builder was EXECUTED at sf100 — earlier sweeps only planned it).
    The join is now left to Catalyst/AQE: auto-broadcast at small sf,
    co-partitioned orderkey shuffle at scale — the plan a 100 TB run
    actually needs."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = F.datediff("l_shipdate", "o_orderdate")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.avg(F.when(lat <= 30, 1.0).otherwise(0.0)), 6).alias(
                "sla_30d_rate"
            ),
            F.round(F.avg(lat), 6).alias("avg_latency_days"),
        )
    )


@query(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(5,3))) AS DOUBLE)
             AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(5,3))
                    * CAST(1 + l_tax AS DECIMAL(5,3))) AS DOUBLE)
             AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '2001-08-06'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report): the canonical single-table
    scan-aggregate over ~all of lineitem — the benchmark's raw-throughput
    yardstick. Fixture adaptation: the DELTA-90-days cutoff lands at
    2001-08-06 against this fixture's 2001-11-04 shipdate horizon.
    Scale shape: ONE pass over the fact table, the shipdate predicate and
    7-column projection push into the parquet scan, and the 6-group
    partial+final hash aggregate shuffles six rows per map task —
    at 100 TB this is purely scan-bandwidth-bound, the plan a columnar
    engine cannot improve on. Money sums ride exact DECIMAL lattices
    sized so the three-factor charge product (12,2)x(5,3)x(5,3) stays
    inside precision 38 in BOTH engines (no overflow rounding); the
    per-group doubles averages are 6-dp rounded against FP summation-order
    drift."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("2001-08-06").cast("timestamp_ntz")
    )
    qty = F.col("l_quantity").cast("decimal(12,2)")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    one_minus_disc = (F.lit(1) - F.col("l_discount")).cast("decimal(5,3)")
    one_plus_tax = (F.lit(1) + F.col("l_tax")).cast("decimal(5,3)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(ep).cast("double").alias("sum_base_price"),
            F.sum(ep * one_minus_disc).cast("double").alias("sum_disc_price"),
            F.sum(ep * one_minus_disc * one_plus_tax)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_tpch_q14",
    oracle="""
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                  THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                       * CAST(1 - l_discount AS DECIMAL(18,2))
                                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE),
                 6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): PROMO parts' share of one month's
    discounted revenue. Fixture adaptation: p_type is a flat category
    (no three-word hierarchy), so the PROMO% prefix match becomes
    equality. Scale shape: the month predicate prunes the lineitem scan
    to ~1/80th of the fact table before anything joins; part is dim-sized
    and BROADCASTS (the fact side never shuffles — zero exchanges of
    lineitem rows in the whole plan); numerator and denominator ride ONE
    aggregate via a conditional sum, so the ratio needs no second pass.
    Exact DECIMAL sums make the 6-dp-rounded double ratio
    engine-identical."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
                .cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted to the fixture schema:
    the fixture has no commit/receipt dates, so "late" is a lineitem
    shipped more than 30 days after its order date — the same
    EXISTS-correlated-comparison shape as the spec's
    l_commitdate < l_receiptdate. One quarter of orders, per-priority
    count of orders with at least one late line.

    Scale shape: the quarter predicate prunes the orders scan BEFORE the
    semi-join; the EXISTS compiles to a LEFT SEMI hash join on l_orderkey
    with the ship-lag comparison as a join residual, so each order is
    emitted at most once no matter how many late lines it has and the
    lineitem side carries only (l_orderkey, l_shipdate). At 100 TB both
    sides shuffle on the order key once — no window, no distinct."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority), adapted to the
    fixture schema: l_returnflag stands in for l_shipmode (the fixture's
    only per-line categorical) and the commit/receipt lateness test
    becomes the same ship-lag-over-30-days predicate as q_tpch_q4; the
    high/low priority split is the spec's. One year of late lines,
    per-flag counts of high- vs low-priority orders.

    Scale shape: the ship-year predicate pushes into the lineitem scan
    (min/max-prunable); orders projects 3 columns before the join; the
    lateness predicate is a join residual so no post-join filter pass;
    both CASE counts ride ONE partial+final aggregation over a 3-group
    key space — the shuffle after the join carries 3 x 2 longs per
    map task."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    return (
        li.join(o, cond)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, one).otherwise(zero))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(high, zero).otherwise(one))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the disjunctive-predicate join —
    three (brand, size band, quantity band) OR-arms that each constrain
    BOTH sides of the part-lineitem join. Fixture adaptation: the spec's
    container/shipmode arms become size bands (the fixture's part
    attributes), quantity bands are the spec's.

    Scale shape: the brand disjunction (p_brand IN the 3 arms) and the
    overall quantity envelope [1, 30] are single-side implications of the
    OR, so Catalyst pushes them beneath the join into both scans — the
    join sees only candidate rows, then applies the full cross-side OR as
    a residual. Part is dim-sized and BROADCASTS: zero shuffles of the
    fact table for a predicate that names both sides. Exact DECIMAL
    revenue keeps the single output row engine-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & (F.col("l_quantity") >= qlo)
        & (F.col("l_quantity") <= qhi)
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,2)")
    return (
        joined.filter(
            arm("Brand#12", 15, 1, 11)
            | arm("Brand#23", 25, 10, 20)
            | arm("Brand#5", 35, 20, 30)
        ).agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "q_tpch_q21",
    # r12 un-pin (VERDICT r11 next #2): the r9-r11 oracle expressed the
    # spec's correlated EXISTS / NOT EXISTS directly; decorrelation
    # planned them as two additional lineitem-scale self-joins of
    # f_lines, which aborted the lifted dual at sf100 (runtime_blocked,
    # pinned at sf10). That triple-join shape is INCIDENTAL, not
    # essential: both subqueries probe order-level facts — "some other
    # supplier on the order" is n_supp > 1 and "no other LATE supplier"
    # is (given l1.late, so l1's supplier is itself late) n_late_supp =
    # 1 — so ONE per-order aggregation replaces both correlated scans
    # with bit-identical semantics. The distinct counts are computed as
    # a two-level aggregation (per (order, supplier) first, then per
    # order): a direct pair of count(DISTINCT ...) expressions planned
    # as a 2x Expand over the 600M-row f_lines, which exhausted
    # execution memory at the sf100 sweep heap (r12 first attempt,
    # part_zr12_a03); the pre-group form has one hash-agg chain and no
    # expand. This is the builder's own shape (the median_mode r11
    # precedent); independence at sf100 is kept by the
    # check_q21_bottom_recount bespoke (pure-python recount).
    oracle="""
    WITH f_lines AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ),
    per_supp AS (
      SELECT l_orderkey, l_suppkey,
             max(CASE WHEN late THEN 1 ELSE 0 END) AS any_late
      FROM f_lines GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
      SELECT l_orderkey,
             count(*) AS n_supp,
             sum(any_late) AS n_late_supp
      FROM per_supp GROUP BY l_orderkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN f_lines l1 ON s_suppkey = l1.l_suppkey
    JOIN per_order po ON po.l_orderkey = l1.l_orderkey
    WHERE l1.late AND po.n_supp > 1 AND po.n_late_supp = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for finished
    orders, count each supplier's late lines on orders where OTHER
    suppliers participated but only THIS supplier was late — the spec's
    double correlated EXISTS / NOT EXISTS. Fixture adaptation: "late" is
    shipping more than 60 days after the order date (no receipt/commit
    dates), and the spec's single-nation filter is dropped (the fixture's
    uniform 25-nation spread makes per-nation slices degenerate at small
    sf; the join shape is unchanged).

    Scale shape: instead of two correlated re-scans of lineitem (the
    EXISTS and NOT EXISTS each join the fact table again), the order-level
    facts both subqueries probe — distinct supplier count and distinct
    LATE supplier count — come from ONE per-order aggregation of the
    same status-filtered join the main branch uses: l1.late AND
    n_supp > 1 AND n_late_supp == 1 is exactly EXISTS(other supplier) AND
    NOT EXISTS(other late supplier). One extra shuffle on l_orderkey
    replaces two lineitem-scale joins; the per-order fact frame
    (two smallints per finished order) then joins back on the order key.
    Supplier is dim-sized and BROADCASTS onto the counting side."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    from cdc_worker_spark.plans.checkpoints import lazy_spill_checkpoint

    # the per-order aggregation AND the late-line probe both consume
    # f_lines; checkpointing the slim 3-column join product runs the
    # lineitem-orders join ONCE instead of twice. r12: lazy DISK_ONLY
    # localCheckpoint (zero heap pinned, fact-scale-safe per the r12
    # memory-creep policy) replaces the eager parquet round-trip — no
    # separate write job, blocks stream from disk.
    f_lines = lazy_spill_checkpoint(
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
    )
    # two-level aggregation instead of the count_distinct pair: a direct
    # COUNT(DISTINCT x), COUNT(DISTINCT y) plans as a 2x Expand over the
    # fact-scale f_lines — the exact shape whose lifted dual exhausted the
    # sf100 sweep heap (r12 un-pin notes; the oracle was rewritten the
    # same way). per-(order, supplier) first, then per order: one narrow
    # hash-agg chain, no Expand. Measured at sf0.1: 1.92 s -> 1.61 s mean
    # (best-of-5 interleaved 1.77 -> 1.51), rows exactly equal.
    per_supp = f_lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("late"), 1).otherwise(0)).alias("any_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("any_late").alias("n_late_supp"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        f_lines.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@query(
    "q_tpch_q22",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer
      WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ),
    thresh AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS avg_bal
      FROM pool WHERE c_acctbal > 0.0
    )
    SELECT CAST(c_nationkey AS INT) AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS totacctbal
    FROM pool, thresh
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-07-01'
      )
    GROUP BY c_nationkey
    ORDER BY cntrycode
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): well-funded customers in a
    target country set who have gone dormant — above-average account
    balance, no recent orders. Fixture adaptation: the phone-prefix
    country codes become c_nationkey values (the fixture has no phone
    column), and "never ordered" becomes "no order in the trailing 13
    months" (every fixture customer has SOME order, so the spec's literal
    anti-join is degenerate; dormancy keeps it meaningful).

    Scale shape: the scalar average is computed once over the dim-sized
    filtered pool and rides a BROADCAST 1-row cross join (no shuffle);
    the NOT EXISTS is a LEFT ANTI join against orders pre-filtered to the
    recent window — at 100 TB the anti-join probe side is only the
    orders the date predicate admits, pruned at scan. The threshold is
    one IEEE division of an exact DECIMAL sum by an exact count, so both
    engines cut the c_acctbal > avg_bal boundary identically."""
    pool = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    thresh = pool.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp_ntz")
    ).select("o_custkey")
    return (
        pool.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .select(
            F.col("c_nationkey").cast("int").alias("cntrycode"),
            "numcust",
            "totacctbal",
        )
        .orderBy("cntrycode")
    )
