"""Event-analytics operators over the CDC stream: session rollups, funnel
conversion, and cohort retention — the standard product-analytics queries a
consumer of the reference's change feed (design doc
Node-based_Salesforce_PubSub_Setup.md:211-259 downstream-consumption
sections) runs on the materialized event log.

Scale design (100 TB):
- Session stats build ON TOP of the sessionize window (one entity-key
  exchange) and aggregate per (entity, session) — the agg reuses the
  window's hash partitioning on user_id, so the whole rollup is one
  shuffle of the event log plus map-side-combined partials.
- The funnel is two hash aggregations and one broadcast-able join of
  per-entity FIRST-STEP timestamps against the candidate second-step
  events; per-entity state is O(steps), never the event list.
- Retention joins each entity's cohort day (one row per entity) back to its
  events; the cohort side is entity-cardinality, shuffles once on the
  entity key, and the final matrix is (cohorts x offsets) — tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_worker_spark.plans.registry import query
from cdc_worker_spark.sources.tables import load_events_ms

_DAY_MS = 86_400_000
_GAP_MS = 1_800_000  # 30-min session gap, same as q_cdc_sessionize


def sessionized(ev: DataFrame) -> DataFrame:
    """events + session_seq (the q_cdc_sessionize assignment, shared)."""
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w)
    new_session = F.when(gap.isNull() | (gap > _GAP_MS), 1).otherwise(0)
    return ev.withColumn(
        "session_seq", F.sum(new_session).over(run).cast("bigint")
    )


@query(
    "q_cdc_session_stats",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY epoch_ms(ts), event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq
      FROM (
        SELECT *,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                         OVER (PARTITION BY user_id
                               ORDER BY epoch_ms(ts), event_id) > {_GAP_MS}
                    OR lag(epoch_ms(ts))
                         OVER (PARTITION BY user_id
                               ORDER BY epoch_ms(ts), event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events) t)
    SELECT user_id, session_seq, count(*) AS n_events,
           min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
           max(ts_ms) - min(ts_ms) AS duration_ms,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_cdc_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup (count, span, duration, exact decimal total) on
    top of the sessionize assignment. The aggregation keys on
    (user_id, session_seq) with the input already hash-partitioned by
    user_id from the sessionize window — the agg adds no new shuffle of the
    event log."""
    ev = sessionized(load_events_ms(spark, sf_dir))
    return ev.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts_ms").alias("start_ms"),
        F.max("ts_ms").alias("end_ms"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("duration_ms"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "q_events_funnel",
    oracle="""
    WITH step1 AS (
      SELECT user_id, min(epoch_ms(ts)) AS t1
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    step2 AS (
      SELECT e.user_id, min(epoch_ms(e.ts)) AS t2
      FROM events e JOIN step1 s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= s.t1
      GROUP BY e.user_id)
    SELECT count(*) AS n_entered,
           count(t2) AS n_converted,
           CAST(sum(CASE WHEN t2 IS NOT NULL THEN t2 - t1 END) AS BIGINT)
             AS total_delay_ms
    FROM step1 LEFT JOIN step2 USING (user_id)
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered two-step funnel: entities whose first 'signup' is later
    followed by a 'purchase' (strictly ordered conversion — a purchase
    BEFORE the first signup does not count). Per-entity state is two
    timestamps: the entered set aggregates once, then ONE left join (equi
    key + ordering predicate in the join condition) attaches candidate
    conversions, and the per-entity re-aggregation reuses the join's
    entity-key partitioning. The type filters push to the scan, so each
    side reads only its step's events; the final count row is a
    driver-sized reduction."""
    ev = load_events_ms(spark, sf_dir)
    step1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("t1"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_ms").alias("p_ts")
    )
    # ONE left join from the entered set to candidate conversions (equi key +
    # the ordering predicate inside the join condition), so step1 is consumed
    # once — no double-scan of the first-step aggregation at 100 TB
    per_user = (
        step1.join(
            purchases,
            (step1.user_id == purchases.user_id) & (purchases.p_ts >= step1.t1),
            "left",
        )
        .groupBy(step1.user_id)
        .agg(F.min("t1").alias("t1"), F.min("p_ts").alias("t2"))
    )
    return per_user.agg(
        F.count("*").alias("n_entered"),
        F.count("t2").alias("n_converted"),
        F.sum(
            F.when(F.col("t2").isNotNull(), F.col("t2") - F.col("t1"))
        ).cast("bigint").alias("total_delay_ms"),
    )


@query(
    "q_events_retention",
    oracle=f"""
    WITH cohort AS (
      SELECT user_id,
             min(epoch_ms(ts)) - min(epoch_ms(ts)) % {_DAY_MS * 7}
               AS cohort_wk
      FROM events GROUP BY user_id)
    SELECT c.cohort_wk,
           (epoch_ms(e.ts) - epoch_ms(e.ts) % {_DAY_MS * 7}) - c.cohort_wk
             AS wk_offset_ms,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: entities grouped by first-seen week, counted
    distinct per (cohort week, weeks-since-cohort). The cohort table is one
    row per entity (entity-key shuffle it shares with every CDC query);
    events join it on the same key and reduce to the (cohorts x offsets)
    matrix — the distinct-count shuffles (entity, cohort, offset) tuples,
    already near-unique, and the output is dashboard-sized."""
    ev = load_events_ms(spark, sf_dir)
    wk = F.lit(_DAY_MS * 7)
    cohort = ev.groupBy("user_id").agg(
        (F.min("ts_ms") - F.min("ts_ms") % wk).alias("cohort_wk")
    )
    return (
        ev.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            (
                (F.col("ts_ms") - F.col("ts_ms") % wk) - F.col("cohort_wk")
            ).alias("wk_offset_ms"),
        )
        .groupBy("cohort_wk", "wk_offset_ms")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "q_events_winsorize",
    oracle="""
    WITH b AS (
      SELECT event_type,
             round(percentile_cont(0.05) WITHIN GROUP (ORDER BY value), 6)
               AS lo,
             round(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 6)
               AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           least(greatest(e.value, b.lo), b.hi) AS value_w,
           e.value < b.lo OR e.value > b.hi AS clipped
    FROM events e JOIN b USING (event_type)
    """,
)
def q_events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping): measures clamp to their topic's
    [p05, p95] band — the standard outlier treatment before training on a
    noisy measure. The per-topic bounds are a groups-sized aggregate that
    BROADCASTS back onto the stream (no event shuffle for the clip: the
    expensive side stays a projection). Bounds are rounded to 6 dp on both
    engines so the clip comparisons agree bit-for-bit."""
    ev = load_events_ms(spark, sf_dir)
    bounds = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("hi"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest("value", F.col("lo")), F.col("hi")).alias(
                "value_w"
            ),
            ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
            .alias("clipped"),
        )
    )


@query(
    "q_events_anomaly",
    oracle="""
    WITH s AS (
      SELECT event_type, round(avg(value), 6) AS mu,
             round(stddev_samp(value), 6) AS sd
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sd, 6) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs(round((e.value - s.mu) / s.sd, 6)) > 2
    """,
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flagging: events more than 2 sample standard
    deviations from their topic mean — the data-quality screen a CDC
    consumer runs before trusting a measure. Same shape as the winsorize:
    groups-sized moment aggregate broadcast onto a pure projection, then a
    selective filter (output is anomaly-sized, not corpus-sized). Moments
    round to 6 dp before the z computation so both engines rank
    identically."""
    ev = load_events_ms(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sd"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 6)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2)
    )


@query(
    "q_text_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok
      WHERE term <> '' GROUP BY term)
    SELECT doc_id, term, tf, df, tf / CAST(df AS DOUBLE) AS score
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf / CAST(df.df AS DOUBLE) DESC, tf.term) AS rn
      FROM tf JOIN df USING (term)) t
    WHERE rn <= 3
    """,
)
def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document by document-frequency-
    normalized term frequency (tf/df — monotone in tf-idf for any fixed
    corpus size, but free of ln(), whose libm rounding differs across
    engines; ties break on the term). The df table is vocabulary-sized and
    BROADCASTS onto the tf side; the per-doc top-k is the WindowGroupLimit
    plan (partial top-3 before the shuffle). Exact double division ranks
    identically on both engines."""
    from cdc_worker_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    score = F.col("tf") / F.col("df").cast("double")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), "term")
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", score.alias("score"))
    )


@query(
    "q_agg_salted_hot",
    oracle="""
    SELECT event_type, n_events, CAST(total_dec AS DOUBLE) AS total_value,
           max_value
    FROM (SELECT event_type, count(*) AS n_events,
                 sum(CAST(value AS DECIMAL(18,2))) AS total_dec,
                 max(value) AS max_value
          FROM events GROUP BY event_type) t
    """,
)
def q_agg_salted_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew path in the oracle-checked registry: two-stage salted
    aggregation (operators/skew.salted_agg) over the 5-topic event stream —
    a hot topic's final state spreads over 16 reducers before the
    groups-only merge. The ORACLE is the plain one-stage group-by, so the
    hash match is the proof that salting is equivalence-preserving (count/
    decimal-sum/max are all commutative monoids; the decimal cast makes the
    two-stage sum associative-exact)."""
    from cdc_worker_spark.operators.skew import salted_agg

    ev = load_events_ms(spark, sf_dir).withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        [
            # count "*" (not value_dec): the oracle is count(*), and a
            # non-null-count of value would silently diverge on NULL values
            ("count", "*", "n_events"),
            ("sum", "value_dec", "total_dec"),
            ("max", "value", "max_value"),
        ],
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
        "max_value",
    )


@query(
    "q_dedup_levenshtein",
    oracle="""
    WITH tri_all AS (
      SELECT DISTINCT doc_id, lang,
             hash(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents) d,
           LATERAL unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
    ),
    keep AS (
      SELECT lang, g FROM tri_all GROUP BY lang, g HAVING count(*) <= 100
    ),
    tri AS (
      SELECT t.doc_id, t.lang, t.g FROM tri_all t JOIN keep k USING (lang, g)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tri a JOIN tri b ON a.g = b.g AND a.lang = b.lang
                           AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT doc_a, doc_b, levenshtein(da.text, db.text) AS dist,
           round(levenshtein(da.text, db.text)
                 / CAST(greatest(len(da.text), len(db.text)) AS DOUBLE), 6)
             AS rel_dist
    FROM cand
    JOIN documents da ON doc_a = da.doc_id
    JOIN documents db ON doc_b = db.doc_id
    WHERE levenshtein(da.text, db.text) * 10
          <= 3 * greatest(len(da.text), len(db.text))
    """,
)
def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification: candidate pairs from the
    df-capped shingle blocking (shared with q_dedup_ngram_jaccard — never
    an all-pairs product), pre-gated to >= 3 shared trigrams so the
    O(len_a x len_b) Levenshtein verify runs only on plausible pairs, then
    kept when the distance is <= 30% of the longer text. The threshold
    compares INTEGERS (dist*10 <= 3*maxlen) — no float boundary; rel_dist
    is reported rounded. The oracle applies the engine's df<=100 cap in
    its trigram CTE (same as q_dedup_ngram_jaccard): the DECLARED
    candidate semantics is the capped blocking, and an uncapped oracle
    self-join is quadratic in hot-gram df — at sf10 it spilled past the
    sandbox disk (r6) while the capped form is bounded by df^2 per gram.
    The oracle also ships 8-byte hash(g) keys and expresses the cap as an
    aggregate + semi-join rather than a QUALIFY window: DuckDB's window
    over ~10^8 40-byte gram STRINGS at sf10 overran RAM past its memory
    cap (OOM-killed at 121 GB RSS), while the hashed aggregate form
    spills; each engine's hash is independent (Spark xxhash64, DuckDB
    hash) — only collision-freedom on the observed grams matters, the
    same assumption the engine side already makes.
    The edit-distance pass is the expensive exact
    verifier of the dedup family: blocking bounds candidates, the verify
    cost per pair is explicit, and both engines' levenshtein agree
    exactly."""
    from cdc_worker_spark.operators.dedup import (
        ngram_candidate_pairs,
        shingles_distinct,
    )
    from cdc_worker_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    # 8-byte hashed gram keys through the df window + self-join, as in
    # q_dedup_ngram_jaccard — the gram string itself never shuffles
    tri = shingles_distinct(docs).withColumn("g", F.xxhash64("g"))
    cand = (
        ngram_candidate_pairs(tri, max_shingle_df=100)
        .filter(F.col("n_common") >= 3)
        .select("doc_a", "doc_b")
    )
    ta = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta")
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb")
    )
    # thresholded (banded) DP: any KEPT pair satisfies dist <= 3*maxlen/10
    # <= 3*corpus_max_len/10, so banding at that global bound is exact for
    # keepers while the dominant dissimilar pairs exit the band early —
    # O(bound * min_len) per pair instead of O(len_a * len_b). The bound is
    # a 1-row plan constant (same literalization discipline as IVF nprobe).
    max_len = docs.agg(F.max(F.length("text"))).collect()[0][0] or 0
    bound = int(3 * max_len // 10)
    dist = F.levenshtein("_ta", "_tb", bound)  # -1 when dist > bound
    maxlen = F.greatest(F.length("_ta"), F.length("_tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("dist", dist.cast("long"))  # DuckDB levenshtein is BIGINT
        .filter((F.col("dist") >= 0) & (F.col("dist") * 10 <= 3 * maxlen))
        .select(
            "doc_a",
            "doc_b",
            "dist",
            F.round(F.col("dist") / maxlen.cast("double"), 6).alias(
                "rel_dist"
            ),
        )
    )


@query(
    "q_events_histogram",
    oracle="""
    SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bin,
           count(*) AS n_events,
           min(value) AS lo_value, max(value) AS hi_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the measure per topic (bin width 10):
    one partial+final hash aggregate on (topic, bin) — the shuffle carries
    O(topics x bins) cells, never rows. IEEE division by the literal and
    floor are bit-identical across engines, so the binning needs no
    rounding guard."""
    ev = load_events_ms(spark, sf_dir)
    bin_ = F.floor(F.col("value") / 10).cast("long").alias("bin")
    return ev.groupBy("event_type", bin_).agg(
        F.count("*").alias("n_events"),
        F.min("value").alias("lo_value"),
        F.max("value").alias("hi_value"),
    )


@query(
    "q_events_rolling_dau",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             epoch_ms(ts) - epoch_ms(ts) % {_DAY_MS} AS day_ms
      FROM events),
    fan AS (
      SELECT user_id,
             unnest(generate_series(day_ms, day_ms + {6 * _DAY_MS},
                                    {_DAY_MS})) AS day_ms
      FROM ud),
    mx AS (SELECT max(day_ms) AS m FROM ud)
    SELECT f.day_ms, count(DISTINCT f.user_id) AS dau7
    FROM fan f, mx WHERE f.day_ms <= mx.m
    GROUP BY f.day_ms
    """,
)
def q_events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active entities per day (rolling DAU/WAU) —
    the metric every event consumer maintains. COUNT DISTINCT over a
    sliding frame isn't windowable, and the textbook range self-join
    re-shuffles the event log once per window day; instead each (entity,
    day) FANS OUT to the <=7 future days it contributes to — a pure
    projection (`sequence`+`explode`, same primitive as the gap-fill
    spine) — and one distinct-count aggregate finishes it. Shuffle volume
    is 7x the (entity, day) table, independent of the raw event count."""
    ev = load_events_ms(spark, sf_dir)
    day = (F.col("ts_ms") - F.col("ts_ms") % _DAY_MS).alias("day_ms")
    ud = ev.select("user_id", day).distinct()
    mx = ud.agg(F.max("day_ms").alias("m"))
    fan = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                "day_ms",
                F.col("day_ms") + 6 * _DAY_MS,
                F.lit(_DAY_MS),
            )
        ).alias("day_ms"),
    )
    return (
        fan.join(F.broadcast(mx), fan.day_ms <= mx.m)
        .drop("m")
        .groupBy("day_ms")
        .agg(F.countDistinct("user_id").alias("dau7"))
    )


@query(
    "q_events_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_ms(ts), event_id)
               AS next_type
      FROM events),
    pairs AS (
      SELECT event_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2)
    SELECT event_type, next_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6)
             AS p_next
    FROM pairs
    """,
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event transition matrix (the Markov next-step view of the stream):
    per ordered (event, next-event) pair within each entity, the count and
    the conditional probability of the transition. One entity-key window
    builds the bigram stream; the transition aggregate shrinks it to
    O(topics^2) cells, and the row-normalization window runs on that tiny
    matrix — the heavy exchange is the same single entity shuffle every
    CDC query pays. Integer count ratio, one exact double division."""
    ev = load_events_ms(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    pairs = (
        ev.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    w_row = Window.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(w_row).cast("double"), 6
        ).alias("p_next"),
    )


_N_RANGE_BUCKETS = 8


@query(
    "q_layout_range_bounds",
    # r12 un-pin (VERDICT r11 next #2): the r9-r11 oracle ranked every
    # row with row_number() OVER (ORDER BY l_orderkey) — a no-partition
    # global window that Spark plans as a ONE-TASK sort of the whole
    # fact table, the sf100 OOM. The global window is INCIDENTAL: the
    # spec is "the key VALUE at global rank r_i", so the oracle now uses
    # the builder's own two-level shape in portable SQL — coarse
    # order-preserving buckets (floor(key/2^20): equal keys can never
    # straddle a bucket), a tiny window over the per-bucket counts for
    # rows-below, then row_number PARTITIONED by target i over only the
    # one bucket each target rank lands in (rows-below + within-bucket
    # rank = global rank; with duplicate keys the value at any rank is
    # well-defined even though tie order isn't, exactly as before).
    # Spark broadcasts the <=K-row hit table onto the fact scan, so no
    # fact-scale sort or shuffle exists anywhere in the lifted plan.
    oracle=f"""
    WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
    coarse AS (
      SELECT CAST(floor(l_orderkey / 1048576.0) AS BIGINT) AS cb,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT cb, cnt,
             sum(cnt) OVER (ORDER BY cb) - cnt AS below
      FROM coarse
    ),
    targets AS (
      SELECT CAST(s.i AS INT) AS i,
             CAST(ceil(s.i * c.n / {_N_RANGE_BUCKETS}.0) AS BIGINT) AS r
      FROM range(1, {_N_RANGE_BUCKETS}) s(i), c
    ),
    hit AS (
      SELECT t.i, t.r, m.cb, m.below
      FROM targets t
      JOIN cum m ON t.r > m.below AND t.r <= m.below + m.cnt
    ),
    ranked AS (
      SELECT h.i, l.l_orderkey,
             h.below + row_number()
               OVER (PARTITION BY h.i ORDER BY l.l_orderkey) AS rn,
             h.r
      FROM hit h
      JOIN lineitem l
        ON CAST(floor(l.l_orderkey / 1048576.0) AS BIGINT) = h.cb
    )
    SELECT i AS bucket_idx, l_orderkey AS boundary
    FROM ranked WHERE rn = r
    """,
)
def q_layout_range_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition boundaries: the K-1 split keys that give
    each output range an equal row share — what a range-partitioned 100 TB
    write (or a custom range partitioner) needs. Boundary i = the key at
    global rank ceil(i*n/K); with duplicate keys the VALUE at any rank is
    well-defined even though tie order isn't, so both engines agree.

    The global rank comes from the distributed prefix sum over ones (the
    no-partition-columns form q_docs_shuffle uses) — never a one-task
    row_number; the boundary probe joins a 7-row target table broadcast
    against the ranked stream. Spark's own range partitioner SAMPLES for
    boundaries; this is the exact version, and doubles as its audit."""
    from cdc_worker_spark.operators.sampling import distributed_prefix_sum
    from cdc_worker_spark.sources.tables import load_table

    k = _N_RANGE_BUCKETS
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ranked = distributed_prefix_sum(
        li.withColumn("_one", F.lit(1).cast("long")),
        [],
        ["l_orderkey"],
        "_one",
        "_rank0",
    )
    targets = (
        li.agg(F.count("*").alias("n"))
        .select(
            "n", F.explode(F.sequence(F.lit(1), F.lit(k - 1))).alias("bucket_idx")
        )
        .select(
            F.col("bucket_idx").cast("int").alias("bucket_idx"),
            F.ceil(F.col("bucket_idx") * F.col("n") / float(k))
            .cast("long")
            .alias("_rn"),
        )
    )
    return (
        ranked.join(
            F.broadcast(targets), ranked._rank0 + 1 == targets._rn
        )
        .select("bucket_idx", F.col("l_orderkey").alias("boundary"))
    )


@query(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
      SELECT nullif(event_type, 'error') AS tkey, count(*) AS n_all
      FROM events GROUP BY 1),
    b AS (
      SELECT nullif(event_type, 'error') AS tkey, count(*) AS n_big
      FROM events WHERE value > 50 GROUP BY 1)
    SELECT a.tkey, a.n_all, b.n_big
    FROM a LEFT JOIN b ON a.tkey IS NOT DISTINCT FROM b.tkey
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi join (`<=>` / IS NOT DISTINCT FROM): the CDC
    convention makes NULL a real key value ('unchanged' markers, tombstoned
    attributes), and a plain equi join silently drops those rows — the
    null-safe comparator keeps them joinable. Plans as a normal hash join
    (null-safe equality is still a hashable key), so the scale story is
    unchanged from q_join_inner."""
    ev = load_events_ms(spark, sf_dir)
    tkey = F.nullif("event_type", F.lit("error")).alias("tkey")
    a = ev.select(tkey).groupBy("tkey").agg(F.count("*").alias("n_all"))
    b = (
        ev.filter(F.col("value") > 50)
        .select(tkey)
        .groupBy("tkey")
        .agg(F.count("*").alias("n_big"))
    )
    return a.join(b, a.tkey.eqNullSafe(b.tkey), "left").select(
        a.tkey.alias("tkey"), "n_all", "n_big"
    )


@query(
    "q_cdc_field_churn",
    oracle="""
    WITH b AS (SELECT event_id, event_type,
                      CAST('0x' || to_hex(event_id % 256) AS BIGINT) AS bm
               FROM events),
    x AS (
      SELECT event_id, event_type,
             unnest(list_filter(
               list_transform(range(8),
                 i -> CASE WHEN (bm >> CAST(i AS INT)) & 1 = 1
                           THEN ['Id','Name','Phone','Email','Industry',
                                 'BillingAddress','Website',
                                 'LastModifiedDate'][CAST(i + 1 AS INT)] END),
               x -> x IS NOT NULL)) AS field_name
      FROM b)
    SELECT event_type, field_name, count(*) AS n_changes,
           min(event_id) AS first_replay_id, max(event_id) AS last_replay_id
    FROM x GROUP BY 1, 2
    """,
)
def q_cdc_field_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-churn governance rollup: how often each schema field changes
    per topic, with the first/last replay offsets that touched it — the
    'which columns actually churn' question that drives replication
    filtering and column-family layout at 100 TB. Composes the bitmap
    expansion (B3, eventParser.js:79-152) with one partial+final aggregate:
    the explode happens map-side, and the shuffle carries
    O(topics x fields) cells."""
    from cdc_worker_spark.functions.bitmap import bitmap_names_col
    from cdc_worker_spark.functions.scalar_queries import BITMAP_FIELDS

    ev = load_events_ms(spark, sf_dir)
    expanded = ev.select(
        "event_id",
        "event_type",
        F.explode(
            bitmap_names_col("array(lower(hex(event_id % 256)))", BITMAP_FIELDS)
        ).alias("field_name"),
    )
    return expanded.groupBy("event_type", "field_name").agg(
        F.count("*").alias("n_changes"),
        F.min("event_id").alias("first_replay_id"),
        F.max("event_id").alias("last_replay_id"),
    )


#: one bucket of the dup-rate oracle's pair aggregation (see the docstring:
#: bucketing bounds DuckDB's peak aggregate spill; buckets run sequentially)
_DUP_RATE_BRANCH = """
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tri a JOIN tri b ON a.g = b.g AND a.lang = b.lang
                             AND a.doc_id < b.doc_id
        WHERE a.doc_id % 16 = {k}
        GROUP BY 1, 2) i
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.3"""


@query(
    "q_docs_dup_rate",
    oracle="""
    WITH tri_all AS MATERIALIZED (
      SELECT DISTINCT doc_id, lang,
             hash(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents) d,
           LATERAL unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
    ),
    keep AS MATERIALIZED (
      SELECT lang, g FROM tri_all GROUP BY lang, g HAVING count(*) <= 100
    ),
    tri AS MATERIALIZED (
      SELECT t.doc_id, t.lang, t.g FROM tri_all t JOIN keep k USING (lang, g)
    ),
    sizes AS MATERIALIZED (
      SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id
    ),
    pairs AS (
"""
    + "\n      UNION ALL\n".join(
        _DUP_RATE_BRANCH.format(k=k) for k in range(16)
    )
    + """
    ),
    dup_ids AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs))
    SELECT d.lang, count(*) AS n_docs,
           count(di.doc_id) AS n_dup_docs,
           round(count(di.doc_id) / CAST(count(*) AS DOUBLE), 6) AS dup_share
    FROM documents d LEFT JOIN dup_ids di USING (doc_id)
    GROUP BY d.lang
    """,
)
def q_docs_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health dashboard rollup: per-language share of documents with
    at least one exact-Jaccard near-duplicate (>= 0.3) — the number a
    curation run reports before/after dedup. Composes the df-capped shingle
    blocking + verify pipeline and reduces to a languages-sized summary;
    the dup-id set is doc-cardinality at worst and broadcasts onto the
    per-language count. Jaccard here is the CAPPED estimator of
    q_dedup_ngram_jaccard — sizes and intersections both exclude df>100
    shingles, and the oracle applies the identical cap (r6: the
    old uncapped-sizes/uncapped-oracle form was both inconsistent with the
    declared capped semantics and disk-infeasible at sf10, where the
    uncapped oracle self-join spilled past the sandbox disk). The oracle
    hashes grams to 8 bytes and expresses the cap as an aggregate +
    semi-join instead of a QUALIFY window — the window over sf10's ~10^8
    gram strings overran DuckDB's memory cap (see q_dedup_levenshtein) —
    and BUCKETS the pair aggregation into 16 sequential UNION ALL branches
    on doc_a % 16 over a MATERIALIZED tri: unlike this query's Jaccard>=0.3
    output filter, the aggregate's hash table holds EVERY co-gram pair, and
    one monolithic aggregate spilled past the sandbox disk at sf10 (>78 GB);
    per-bucket spill is ~1/16 and is reclaimed between branches. The engine
    needs no such split — Spark's partial aggregation spreads the same
    table across executors, which is the point of the comparison."""
    from cdc_worker_spark.operators.dedup import (
        df_capped_shingles,
        ngram_candidate_pairs,
        shingles_distinct,
    )
    from cdc_worker_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tri = df_capped_shingles(
        shingles_distinct(docs).withColumn("g", F.xxhash64("g")),
        max_shingle_df=100,
    )
    sizes = tri.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = ngram_candidate_pairs(tri, max_shingle_df=None)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    pairs = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.3)
        .select("doc_a", "doc_b")
    )
    dup_ids = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(dup_ids), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("_dup").alias("n_dup_docs"),
            F.round(
                F.count("_dup") / F.count("*").cast("double"), 6
            ).alias("dup_share"),
        )
    )


@query(
    "q_win_trailing",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_window,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             AS sum_window,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / count(*) OVER w, 6) AS avg_window
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_win_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing bounded-rows frame (last 7 observations per entity) — the
    moving-average shape q_win_running's unbounded frame doesn't cover.
    Exact decimal sum inside the frame, ratio as one double division, so
    both engines agree regardless of their internal frame-aggregation
    strategy (DuckDB segment trees vs Spark's running frame). Same single
    entity-key exchange as every other window op."""
    ev = load_events_ms(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    n = F.count("*").over(w)
    s = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    return ev.select(
        "event_id",
        "user_id",
        n.alias("n_window"),
        s.alias("sum_window"),
        F.round(s / n, 6).alias("avg_window"),
    )
