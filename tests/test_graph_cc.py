"""Large-star/small-star connected components vs a union-find reference,
and vs the pointer-jumping implementation the near-dup clustering uses."""

from __future__ import annotations

import random

import pytest


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _labels_of(spark, edges):
    from cdc_worker_spark.operators.graph import cc_star

    df = spark.createDataFrame(edges, "a: long, b: long")
    return {r.node: r.component for r in cc_star(df).collect()}


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2)],
        [(1, 2), (2, 3), (3, 4), (4, 5)],              # chain
        [(i, i + 1) for i in range(1, 30)],             # long chain
        [(1, 2), (1, 3), (1, 4), (10, 11), (12, 12)],   # star + pair + loop
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)],  # clique
    ],
)
def test_cc_star_matches_union_find(spark, edges):
    want = _union_find(edges)
    got = _labels_of(spark, edges)
    # union-find roots are component minima here (union by min), so the
    # label maps must be identical up to self-loop-only nodes
    for n, c in got.items():
        assert want.get(n, n) == c, (n, c, want.get(n))


@pytest.mark.slow
def test_cc_star_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for _ in range(3):
        n = 40
        edges = [
            (rng.randint(1, n), rng.randint(1, n)) for _ in range(35)
        ]
        want = _union_find(edges)
        got = _labels_of(spark, edges)
        for node, comp in got.items():
            assert want.get(node, node) == comp


def test_cc_star_agrees_with_pointer_jumping(spark):
    from cdc_worker_spark.operators.dedup import connected_components
    from cdc_worker_spark.operators.graph import cc_star

    edges = [(1, 2), (2, 3), (5, 6), (7, 7), (8, 9), (9, 10), (10, 11)]
    df = spark.createDataFrame(edges, "a: long, b: long")
    star = {r.node: r.component for r in cc_star(df).collect()}
    pj_df = connected_components(
        df.selectExpr("a as doc_a", "b as doc_b")
    )
    cols = pj_df.columns
    node_c, comp_c = cols[0], cols[1]
    pj = {r[node_c]: r[comp_c] for r in pj_df.collect()}
    for n in pj:
        assert star.get(n, n) == pj[n], (n, star.get(n), pj[n])


def test_cluster_star_matches_cluster_near(spark, sf_dir):
    """Both CC strategies over the same MinHash pair graph must assign the
    same clusters (same components, same min-id roots)."""
    from cdc_worker_spark.plans import all_queries

    qs = all_queries()
    star = {
        r.doc_id: r.cluster_id
        for r in qs["q_dedup_cluster_star"](spark, sf_dir).collect()
    }
    pj_df = qs["q_dedup_cluster_near"](spark, sf_dir)
    a, b = pj_df.columns[0], pj_df.columns[1]
    pj = {r[a]: r[b] for r in pj_df.collect()}
    assert star == pj


def _copurchase_edges(spark, sf_dir):
    from pyspark.sql import functions as F

    from cdc_worker_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )


@pytest.mark.slow
def test_pagerank_bucketed_no_edge_side_exchange(spark, sf_dir, tmp_path):
    """The materialized src-bucketed edge layout (VERDICT r05 next #4):
    one iteration's plan, with broadcast disabled, must read the edge
    table from the bucketed scan with ZERO edge-side exchanges — the only
    shuffles are the two rank-side ones (ranks into the join, contribs out
    of the dst-keyed sum). And the full 10-iteration run must equal plain
    pagerank exactly (same float ops, same order => bit-equal at 9dp)."""
    from pyspark.sql import functions as F

    from cdc_worker_spark.operators.graph import pagerank, pagerank_bucketed

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = pagerank_bucketed(
            spark, edges, "pr_edges_b", str(tmp_path / "prb")
        )
        # plan-assert ONE iteration, with ranks shaped the way the loop
        # really produces them (a dst-keyed aggregate output): the edge
        # side of the SortMergeJoin must come straight off the bucketed
        # scan with NO Exchange anywhere on that branch
        ce = spark.table("pr_edges_b")
        ranks = ce.groupBy(F.col("dst").alias("node")).agg(
            F.sum("deg").alias("rank")
        )
        one_iter = (
            ce.join(ranks, ce["src"] == ranks["node"])
            .groupBy(F.col("dst"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        plan = one_iter._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Bucketed: true" in plan  # the edge scan IS the bucketed one
        assert "SortMergeJoin" in plan
        tree = plan.split("\n\n")[0]
        # the SMJ's LEFT branch (lines prefixed ':') is the edge side:
        # scan -> filter -> sort, and NOT ONE Exchange on it
        left_branch = [ln for ln in tree.splitlines() if ln.lstrip().startswith(":")]
        assert left_branch and not any("Exchange" in ln for ln in left_branch), tree
        # the rank side still shuffles (that's the O(nodes) state moving)
        assert "Exchange" in tree
        got = {
            r.node: round(r.rank, 9) for r in bucketed.collect()
        }
        want = {
            r.node: round(r.rank, 9) for r in pagerank(edges).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS pr_edges_b")


#: undirected hand graph: a triangle 1-2-3, a chord 2-4, and the path
#: 3-4-5 whose end node 5 has degree 1
_PR_HAND_EDGES = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)]


def _numpy_pagerank_scaled(und_edges, iters, d=0.85):
    """N-scaled power iteration: start at 1.0, r' = (1-d) + d·Σ r/deg."""
    import numpy as np

    nodes = sorted({n for e in und_edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    out = {n: [] for n in nodes}
    for a, b in und_edges:
        out[a].append(b)
        out[b].append(a)
    r = np.ones(len(nodes))
    for _ in range(iters):
        nxt = np.full(len(nodes), 1.0 - d)
        for s, ds in out.items():
            for t in ds:
                nxt[idx[t]] += d * r[idx[s]] / len(ds)
        r = nxt
    return {n: r[idx[n]] for n in nodes}


@pytest.mark.parametrize("iters", [1, 10])
def test_pagerank_n_scaled_matches_numpy(spark, tmp_path, iters):
    """pagerank returns N-scaled ranks (sum N, mean 1) equal to a numpy
    power iteration — at iters=1 (the folded first step, no join) and at
    iters=10 (through both rank checkpoints). pagerank_bucketed runs the
    same loop over the bucketed layout, so it agrees too."""
    from cdc_worker_spark.operators.graph import pagerank, pagerank_bucketed

    sym = _PR_HAND_EDGES + [(b, a) for a, b in _PR_HAND_EDGES]
    edges = spark.createDataFrame(sym, "src: long, dst: long")
    got = {r.node: r.rank for r in pagerank(edges, iters=iters).collect()}
    want = _numpy_pagerank_scaled(_PR_HAND_EDGES, iters)
    assert set(got) == set(want)
    for n, w in want.items():
        assert abs(got[n] - w) < 1e-12, (n, got[n], w)
    assert abs(sum(got.values()) - len(want)) < 1e-9
    try:
        bucketed = pagerank_bucketed(
            spark, edges, "pr_hand_b", str(tmp_path / "prb"), iters=iters
        )
        b = {r.node: r.rank for r in bucketed.collect()}
        assert set(b) == set(got)
        assert all(abs(b[n] - got[n]) < 1e-12 for n in got), (b, got)
    finally:
        spark.sql("DROP TABLE IF EXISTS pr_hand_b")


def test_pagerank_general_conserves_mass_and_handles_sinks(spark):
    """Dangling-mass correctness on a tiny hand-checked directed graph:
    total rank stays exactly 1 (no leak through the sink), sink-only
    nodes hold rank, and values match a numpy power iteration."""
    from cdc_worker_spark.operators.graph import pagerank_general

    # 1 -> 2, 1 -> 3, 2 -> 3 ; node 3 is a pure sink
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src: long, dst: long"
    )
    ranks = {r.node: r.rank for r in pagerank_general(edges, iters=10).collect()}
    assert set(ranks) == {1, 2, 3}
    assert abs(sum(ranks.values()) - 1.0) < 1e-12  # mass conserved
    # numpy reference: same update rule, same iteration count
    import numpy as np

    n = 3
    r = np.full(n, 1.0 / n)
    out = {1: [2, 3], 2: [3]}
    for _ in range(10):
        nxt = np.full(n, 0.15 / n)
        dm = r[2]  # node 3 (index 2) is dangling
        nxt += 0.85 * dm / n
        for s, ds in out.items():
            for d in ds:
                nxt[d - 1] += 0.85 * r[s - 1] / len(ds)
        r = nxt
    for i in range(3):
        assert abs(ranks[i + 1] - r[i]) < 1e-12, (i + 1, ranks[i + 1], r[i])
