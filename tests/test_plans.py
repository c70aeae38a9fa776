"""Physical-plan assertions (the 100 TB contract, SURVEY §4).

Correctness tests prove the operators compute the right answer; these prove
they compute it with the plan that survives a 1000-executor scale-up:
predicates pushed into the parquet scan, columns pruned, small dims broadcast,
aggregates map-side-combined, top-k executed as TakeOrderedAndProject, and
latest-wins pruned by WindowGroupLimit before the shuffle. A regression that
silently turns a broadcast join into a shuffle join, or un-pushes a filter,
fails here long before it would show up as a bench number.
"""

from __future__ import annotations

import pytest

from cdc_worker_spark.plans import all_queries


def plan_of(spark, name: str, sf_dir: str) -> str:
    df = all_queries()[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def tree_of(spark, name: str, sf_dir: str) -> str:
    """Just the operator tree (formatted explain repeats every operator in the
    detail section below the tree, which would double the counts)."""
    plan = plan_of(spark, name, sf_dir)
    return plan.split("\n(1)")[0]


def test_scan_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, "q_scan_filter", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads exactly the 3 projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_shipdate:timestamp_ntz>" in plan


def test_point_lookup_pushes_key_predicate(spark, sf_dir):
    plan = plan_of(spark, "q_point_lookup", sf_dir)
    assert "EqualTo(c_custkey," in plan  # key predicate reaches the scan


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = plan_of(spark, "q_join_broadcast", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    """5-table star join: every dimension side broadcasts; the only shuffle
    is the final aggregation exchange."""
    tree = tree_of(spark, "q_join_multi", sf_dir)
    assert tree.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in tree


def test_groupby_agg_is_partial_then_final(spark, sf_dir):
    """Map-side combine: HashAggregate(partial) -> Exchange -> HashAggregate."""
    tree = tree_of(spark, "q_agg_groupby", sf_dir)
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1  # one shuffle on the grouping keys


def test_topk_is_take_ordered(spark, sf_dir):
    """Global top-k must never materialize a total sort of the input."""
    plan = plan_of(spark, "q_limit_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_latest_state_prunes_before_shuffle(spark, sf_dir):
    """The flagship latest-wins query: WindowGroupLimit runs in Partial mode
    below the exchange, so only per-partition top-1 candidates shuffle."""
    plan = plan_of(spark, "q_cdc_latest_state", sf_dir)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_asof_join_prunes_before_shuffle(spark, sf_dir):
    """As-of join (join + latest-at-or-before window): the window's top-1 is
    likewise pre-pruned per partition before the exchange."""
    tree = tree_of(spark, "q_join_asof", sf_dir)
    assert "WindowGroupLimit" in tree
    assert tree.index("WindowGroupLimit") < tree.rindex("WindowGroupLimit")  # partial + final


def test_dedup_exact_shuffles_digest_not_text(spark, sf_dir):
    """Exact dedup groups on the 64-hex-char digest; the document text column
    must not survive past the scan projection."""
    plan = plan_of(spark, "q_dedup_exact", sf_dir)
    exchange_section = plan[plan.index("Exchange") :]
    assert "text#" not in exchange_section.split("(1) Scan parquet")[0]


def test_udf_queries_use_arrow_not_row_python(spark, sf_dir):
    """Python in the hot path must be Arrow-batched (ArrowEvalPython), never
    row-at-a-time BatchEvalPython."""
    plan = plan_of(spark, "q_udf_pandas", sf_dir)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_decode_envelope_is_pure_native_projection(spark):
    """The streaming decode path (B1: offset decode + payload decode + B3
    bitmap expansion) must stay ONE native projection: no Python evaluator
    of any kind in the plan, bitmap expansion as native expressions
    (transform over the entries, conv per chunk, getbit per field), per-event
    at 100 TB."""
    from cdc_worker_spark.streaming.envelope import ENVELOPE_SCHEMA, decode_envelope

    df = decode_envelope(spark.createDataFrame([], ENVELOPE_SCHEMA))
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = qe.explainString(mode)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # not even vectorized Python here
    assert "PythonUDF" not in plan
    # B3 runs as HOF expressions over the field-dictionary literals:
    # transform/conv/getbit (the chunk-wise bit test) all JVM-side
    assert "transform(" in plan and "conv(" in plan and "getbit(" in plan


def test_decode_envelope_builds_in_few_gateway_calls(spark):
    """Building the decode projection is client-side work paid on every
    pipeline start: the three bitmap expressions are one ``F.expr`` each
    and the Avro UDF ships no generated code, so one ``decode_envelope``
    call stays within a bounded number of Py4J round trips (the per-node
    HOF trees it replaced made ~4,200)."""
    from cdc_worker_spark.streaming.envelope import (
        AVRO_ENVELOPE_SCHEMA,
        decode_envelope,
    )

    raw = spark.createDataFrame([], AVRO_ENVELOPE_SCHEMA)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        decode_envelope(raw, codec="avro_py")
    finally:
        client.send_command = send
    assert len(calls) <= 1000, f"{len(calls)} gateway round trips"


def test_multiplexed_decode_stays_native(spark):
    """The multi-topic demux (decode + union + unknown-branch) likewise
    carries no Python evaluator."""
    from cdc_worker_spark.streaming.envelope import ENVELOPE_SCHEMA
    from cdc_worker_spark.streaming.registry import SchemaRegistry, decode_multiplexed
    from tests.test_schema_registry import account_schema_entry, contact_schema_entry

    reg = SchemaRegistry()
    reg.register(account_schema_entry())
    reg.register(contact_schema_entry())
    df = decode_multiplexed(spark.createDataFrame([], ENVELOPE_SCHEMA), reg)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_multiplexed_decode_reuses_topic_projections(spark):
    """decode_multiplexed runs once per micro-batch: with the registry
    unchanged, a second call reuses each topic's decode projection instead
    of rebuilding it, so it makes at most a quarter of the first call's Py4J
    round trips (cyclic GC is paused so finalizer traffic does not count)."""
    import gc

    from cdc_worker_spark.streaming.envelope import ENVELOPE_SCHEMA
    from cdc_worker_spark.streaming.registry import SchemaRegistry, decode_multiplexed
    from tests.test_schema_registry import account_schema_entry, contact_schema_entry

    reg = SchemaRegistry()
    reg.register(account_schema_entry())
    reg.register(contact_schema_entry())
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def round_trips() -> int:
        raw = spark.createDataFrame([], ENVELOPE_SCHEMA)
        calls = []

        def counting(*args, **kwargs):
            calls.append(1)
            return send(*args, **kwargs)

        gc.collect()
        gc.disable()
        client.send_command = counting
        try:
            decode_multiplexed(raw, reg)
        finally:
            client.send_command = send
            gc.enable()
        return len(calls)

    first, second = round_trips(), round_trips()
    assert second * 4 <= first, f"first {first}, second {second} round trips"


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval/benchmark shingle side must broadcast: the corpus-scale side
    streams through the match map-side and only (doc, eval) hits shuffle."""
    plan = plan_of(spark, "q_docs_decontaminate", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_split_and_quantize_are_pure_projections(spark, sf_dir):
    """Deterministic split and int8 quantization must not shuffle: both are
    per-row decisions (Exchange only appears if something regressed). The
    quantize plan tolerates the ensure_parallelism round-robin (a repartition
    of an under-split source), but never a hash/range exchange."""
    plan = tree_of(spark, "q_docs_split", sf_dir)
    assert "Exchange" not in plan
    qplan = plan_of(spark, "q_emb_quantize", sf_dir)
    assert "hashpartitioning" not in qplan and "rangepartitioning" not in qplan


def test_heavy_hitters_aggregates_partially(spark, sf_dir):
    """The sketch build must map-side combine (ObjectHashAggregate partial
    then final) — one bounded-size partial per partition, not a row shuffle."""
    plan = plan_of(spark, "q_agg_heavy_hitters", sf_dir)
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan
    # the token explode's rows must NOT all shuffle to one reducer: the only
    # single-partition exchange allowed is for the final 1-row sketch merge
    assert plan.count("Exchange SinglePartition") <= 1


def test_unpivot_is_exchange_free_projection(spark, sf_dir):
    """Unpivot must compile to an Expand projection — no shuffle, no Python:
    wide->long is a per-row rewrite."""
    plan = tree_of(spark, "q_unpivot_orders", sf_dir)
    assert "Expand" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_pivot_single_aggregation_no_discovery_job(spark, sf_dir):
    """The pivot lowering is ONE conditional hash agg: one scan, one
    exchange, partial+final — no pivotfirst pre-agg, no category-discovery
    job, no self-join."""
    plan = tree_of(spark, "q_pivot_events", sf_dir)
    assert "HashAggregate" in plan
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "pivotfirst" not in plan


def test_ohlc_is_single_exchange_hash_agg(spark, sf_dir):
    """min_by/max_by open/close ride the SAME hash aggregate as high/low:
    one exchange total, partial+final, no window pass over the raw events."""
    tree = tree_of(spark, "q_ts_resample_ohlc", sf_dir)
    assert tree.count("Exchange") == 1
    assert "Window" not in tree
    assert "HashAggregate" in tree or "SortAggregate" in tree


def test_gapfill_window_reuses_spine_partitioning(spark, sf_dir):
    """The daily grid's fill window partitions by user_id, which the spine
    side already satisfies from the span aggregation — the only shuffle
    exchanges are the two aggregations; the spine-daily join broadcasts and
    the window adds NO exchange."""
    tree = tree_of(spark, "q_ts_gapfill", sf_dir)
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles == 2, tree
    assert "Window" in tree


def test_incr_agg_merge_reuses_agg_partitioning(spark, sf_dir):
    """The full-outer state merge joins on the same key both aggregate
    states are hash-partitioned by — the join itself must add no exchange:
    2 shuffle exchanges total (one keyed state agg per side; the 1-row
    cutoff is checkpointed once and broadcast into both branches instead
    of re-running its scan+agg exchange per side)."""
    tree = tree_of(spark, "q_cdc_incr_agg", sf_dir)
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles == 2, tree
    assert "FullOuter" in tree


def test_zorder_topk_is_take_ordered(spark, sf_dir):
    """Z-key computation is pure codegen projection; the LIMIT plans as
    TakeOrderedAndProject (per-partition top-k + driver merge), never a
    global sort materialization."""
    tree = tree_of(spark, "q_layout_zorder", sf_dir)
    assert "TakeOrderedAndProject" in tree
    assert "Exchange" not in tree
    assert "BatchEvalPython" not in tree


def test_session_stats_single_event_shuffle(spark, sf_dir):
    """The per-session rollup keys on (user_id, session_seq) with input
    already partitioned by user_id from the sessionize window — the agg must
    add no second shuffle of the event log."""
    tree = tree_of(spark, "q_cdc_session_stats", sf_dir)
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles == 1, tree
    assert "Window" in tree


def test_funnel_consumes_entered_set_once(spark, sf_dir):
    """The funnel must not recompute the first-step aggregation: exactly two
    event scans (one per step filter), and the per-entity re-agg reuses the
    join partitioning — shuffle exchanges <= 3 (step-1 agg, purchase-side
    join shuffle at most, final 1-row reduction)."""
    tree = tree_of(spark, "q_events_funnel", sf_dir)
    assert tree.count("Scan parquet") == 2, tree
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles <= 3, tree


def test_weighted_sample_is_projection_topk(spark, sf_dir):
    """Priority sampling is a pure integer projection + TakeOrderedAndProject
    — no shuffle, no RNG, no Python."""
    tree = tree_of(spark, "q_docs_sample_weighted", sf_dir)
    assert "TakeOrderedAndProject" in tree
    assert "Exchange" not in tree
    assert "BatchEvalPython" not in tree


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Catalyst's runtime row-level filtering (the shuffle-join analogue of
    broadcast pruning, on by default): a selective filter on the build side
    of a fact-fact join must inject a bloom_filter_agg subquery and a
    might_contain predicate into the probe-side scan. The size thresholds
    are tuned for clusters (10 GB probe scans), so the test lowers them to
    fire at fixture scale — the assertion is that the MECHANISM engages,
    which is scale-independent."""
    from cdc_worker_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_dir, "lineitem")
        od = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_of_df(spark, j)
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
        # and the result is unaffected by the injected filter
        rows = {r.o_orderpriority: r["count"] for r in j.collect()}
        base = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders").filter(
                    F.col("o_orderpriority") == "1-URGENT"
                ),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert rows.get("1-URGENT", 0) == base
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def plan_of_df(spark, df) -> str:
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def test_winsorize_and_anomaly_broadcast_stats_onto_projection(spark, sf_dir):
    """Percentile/moment screens: the groups-sized stats aggregate must
    broadcast back onto the event stream — the event side is never
    shuffled for the clip/flag."""
    for q in ("q_events_winsorize", "q_events_anomaly"):
        tree = tree_of(spark, q, sf_dir)
        assert "BroadcastHashJoin" in tree, q
        assert "SortMergeJoin" not in tree, q


def test_top_terms_broadcasts_df_and_group_limits(spark, sf_dir):
    """tf/df ranking: vocabulary-sized df side broadcasts; the per-doc
    top-3 runs the WindowGroupLimit pruned plan."""
    tree = tree_of(spark, "q_text_top_terms", sf_dir)
    assert "BroadcastHashJoin" in tree
    assert "WindowGroupLimit" in tree


def test_rolling_dau_is_fanout_not_range_join(spark, sf_dir):
    """The trailing-window distinct count must use the sequence+explode
    fan-out projection — never a per-day range self-join of the event log."""
    tree = tree_of(spark, "q_events_rolling_dau", sf_dir)
    assert "SortMergeJoin" not in tree
    assert "Generate" in tree  # the explode fan-out


def test_interp_single_window_two_shuffles(spark, sf_dir):
    """Both interpolation context directions (prev/next) must come from ONE
    Window operator on the entity partitioning — two frames, one node, the
    same 2-shuffle budget as the forward fill."""
    tree = tree_of(spark, "q_ts_interp", sf_dir)
    assert tree.count("Window ") == 1, tree
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles == 2, tree


def test_gopher_rules_is_exchange_free_codegen_projection(spark, sf_dir):
    """Quality rules are a pure per-row projection: no exchange, no Python
    eval — the whole filter runs inside one codegen stage over the scan."""
    tree = tree_of(spark, "q_text_gopher_rules", sf_dir)
    assert "Exchange" not in tree
    assert "ArrowEvalPython" not in tree and "BatchEvalPython" not in tree


def test_lm_score_broadcasts_vocab_onto_token_stream(spark, sf_dir):
    """The vocab (bounded by distinct tokens) broadcasts; the corpus-side
    token stream must NOT sort-merge for the score join."""
    tree = tree_of(spark, "q_text_lm_score", sf_dir)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_scd2_shares_one_user_partitioning(spark, sf_dir):
    """lag -> running sum -> collapse -> lead all key on user_id; the
    windows coalesce into at most two Window nodes over ONE exchange of
    the event stream (plus the post-groupBy exchange AQE may add)."""
    tree = tree_of(spark, "q_cdc_scd2", sf_dir)
    assert tree.count("Window") <= 3
    # the raw event stream is exchanged once: user_id hash partitioning
    assert tree.count("Exchange hashpartitioning(user_id") <= 2


def test_basket_pairs_co_partitions_on_orderkey_no_cartesian(spark, sf_dir):
    """Pair generation joins on the basket key (equi); the freq/n_orders
    sides broadcast. No cartesian product anywhere."""
    tree = tree_of(spark, "q_basket_pairs", sf_dir)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin Cross" in tree or "BroadcastHashJoin" in tree


def test_pagerank_iterations_reuse_checkpointed_state(spark, sf_dir):
    """Fixed-iteration PageRank: the per-iteration join must be on the
    src equi key (no cartesian, no node-count cross join), and
    localCheckpoint keeps the final plan from growing with iteration count
    (scans, not 10 nested joins)."""
    tree = tree_of(spark, "q_graph_pagerank", sf_dir)
    assert "CartesianProduct" not in tree
    # ranks are N-scaled: no node count broadcast into a cross join
    assert "BroadcastNestedLoopJoin" not in tree
    # plan is O(1): the checkpoint truncates lineage, so the tree holds
    # at most the last <=3 un-checkpointed iterations (~2 joins each),
    # not all 10
    assert tree.count("HashJoin") + tree.count("SortMergeJoin") <= 8


def test_skyline_confines_quadratic_check_to_brand_partitions(spark, sf_dir):
    """The dominance anti-join is keyed on p_brand (equi) — Spark must NOT
    plan a cartesian over the whole part table."""
    tree = tree_of(spark, "q_part_skyline", sf_dir)
    assert "CartesianProduct" not in tree
    assert "LeftAnti" in tree


def test_tpch_q1_is_single_pass_scan_agg(spark, sf_dir):
    """Q1 (the scan-bandwidth yardstick): shipdate predicate pushed into the
    parquet scan, no joins at all, one partial+final hash aggregate — the
    only exchange in the plan carries six groups per map task."""
    plan = plan_of(spark, "q_tpch_q1", sf_dir)
    tree = plan.split("\n(1)")[0]
    assert "Join" not in tree
    # one fact agg exchange + the 6-row output sort exchange, nothing else
    assert tree.count("Exchange") <= 2, tree
    assert tree.count("HashAggregate") == 2, tree  # partial + final
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    assert plan.count("lineitem.parquet") == 1, plan


def test_tpch_q14_and_q19_zero_fact_shuffles(spark, sf_dir):
    """Q14 and Q19: the part side broadcasts, so the lineitem fact never
    shuffles for the join — the only exchanges are the final single-group
    aggregate (and Q19's pushed one-side implications reach the scan)."""
    for q in ("q_tpch_q14", "q_tpch_q19"):
        tree = tree_of(spark, q, sf_dir)
        assert "BroadcastHashJoin" in tree, q
        assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree, q
        wide = tree.count("Exchange") - tree.count("BroadcastExchange")
        assert wide <= 1, (q, tree)
    # Q19's quantity bounds (the OR's one-side implication) reach the scan
    plan = plan_of(spark, "q_tpch_q19", sf_dir)
    assert "GreaterThanOrEqual(l_quantity" in plan, plan[-2000:]


def test_tpch_q18_single_lineitem_shuffle_shared_agg(spark, sf_dir):
    """Q18: the per-order quantity aggregate is computed ONCE and serves both
    the HAVING cut and the output sum — lineitem contributes one orderkey
    shuffle, not the textbook second scan-and-join."""
    plan = plan_of(spark, "q_tpch_q18", sf_dir)
    assert plan.count("lineitem.parquet") == 1, plan


def test_tpch_q21_decorrelates_to_one_per_order_agg(spark, sf_dir):
    """Q21: the double correlated EXISTS/NOT EXISTS must not appear as two
    extra fact-scale joins — one per-order aggregation (distinct suppliers /
    distinct late suppliers) joins back on the order key, and the supplier
    dim broadcasts."""
    plan = plan_of(spark, "q_tpch_q21", sf_dir)
    tree = plan.split("\n(1)")[0]
    assert "BroadcastHashJoin" in tree
    assert plan.count("lineitem.parquet") <= 2, plan
    # no cartesian anywhere in the decorrelation
    assert "CartesianProduct" not in tree


def test_bm25_zero_wide_exchange_topk(spark, sf_dir):
    """BM25: corpus stats are a 1-row broadcast, scoring is a projection,
    top-k is TakeOrderedAndProject — the corpus is never hash-repartitioned
    and no Python worker is involved."""
    tree = tree_of(spark, "q_text_bm25", sf_dir)
    assert "TakeOrderedAndProject" in tree
    assert "ArrowEvalPython" not in tree and "BatchEvalPython" not in tree
    wide = tree.count("Exchange") - tree.count("BroadcastExchange")
    # the only permitted exchange is the single-partition 1-row stats agg
    assert wide <= 1, tree
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree
