"""Scale-shape tests for the dedup operators (VERDICT r01 'What's wrong'
#1/#2): embedding dedup must generate candidates from LSH buckets (recall
gated on planted near-dup clusters), and ngram-Jaccard candidate volume must
stay bounded in the presence of a hot (stop-phrase) shingle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_worker_spark.operators.dedup import (
    embedding_dedup_pairs,
    ngram_candidate_pairs,
    shingles_distinct,
    with_double_vec,
)
from cdc_worker_spark.operators.lsh import with_lsh_buckets

DIM = 64
N_CLUSTERS = 5
CLUSTER_SIZE = 20
N_RANDOM = 400


def _planted_vectors():
    """5 clusters of 20 near-dups (intra-pair cos ≈ 0.97+) + 400 random
    vectors. Deterministic (seeded numpy)."""
    rng = np.random.default_rng(42)
    rows = []
    vid = 0
    for c in range(N_CLUSTERS):
        base = rng.normal(size=DIM)
        base /= np.linalg.norm(base)
        for _ in range(CLUSTER_SIZE):
            v = base + 0.02 * rng.normal(size=DIM)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    for _ in range(N_RANDOM):
        v = rng.normal(size=DIM)
        rows.append((vid, 99, [float(x) for x in v]))
        vid += 1
    return rows


def _ground_truth_pairs(rows, threshold):
    mat = np.array([r[2] for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)
    ids = [r[0] for r in rows]
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cos[i, j] > threshold:
                out.add((ids[i], ids[j]))
    return out


@pytest.fixture(scope="module")
def planted(spark):
    rows = _planted_vectors()
    df = with_double_vec(
        spark.createDataFrame(
            rows, "vec_id: long, label: int, embedding: array<double>"
        )
    )
    return rows, df.persist()


def test_embedding_dedup_finds_all_planted_pairs(spark, planted):
    """100% recall on planted near-dup clusters: LSH candidates + exact
    verify reproduce the exact all-pairs result."""
    rows, df = planted
    truth = _ground_truth_pairs(rows, 0.9)
    assert len(truth) >= N_CLUSTERS * (CLUSTER_SIZE * (CLUSTER_SIZE - 1)) // 2 * 0.9
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_dedup_pairs(df, threshold=0.9).collect()
    }
    assert got == truth  # exact: no missed pair, no false positive


def test_embedding_candidate_volume_tracks_buckets_not_n2(spark, planted):
    """Candidate pair volume must be a small fraction of n(n-1)/2 — the
    band join meets same-bucket vectors only."""
    rows, df = planted
    n = len(rows)
    all_pairs = n * (n - 1) // 2
    keyed = with_lsh_buckets(df.select("vec_id", "dv"), 16, 8).select(
        "vec_id", "tbl", "sig"
    )
    x = keyed.select("tbl", "sig", F.col("vec_id").alias("a"))
    y = keyed.select("tbl", "sig", F.col("vec_id").alias("b"))
    n_cand = (
        x.join(y, ["tbl", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )
    assert n_cand < 0.15 * all_pairs, f"{n_cand} candidates vs {all_pairs} pairs"


def test_embedding_same_label_block(spark, planted):
    """same_label=True restricts pairs to matching labels (the oracle's
    blocking key)."""
    rows, df = planted
    got = embedding_dedup_pairs(df, threshold=0.9, same_label=True)
    labels = {r[0]: r[1] for r in rows}
    for r in got.collect():
        assert labels[r.vec_a] == labels[r.vec_b]


def test_embedding_fixture_has_no_threshold_pairs(spark, sf_dir):
    """The EXACT all-pairs ground truth at fixture scale is empty: no
    same-label pair exceeds cos 0.8 — which is WHY q_dedup_embedding is
    rows-only (ADVICE r02: an all-pairs oracle over an empty result proves
    nothing, and near-threshold fixture pairs could deterministically
    diverge from the ~6%-miss LSH candidates). If a fixture regen ever
    plants such pairs, this fails and the query's evidence strategy must be
    revisited."""
    import numpy as np

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r.embedding)
    n_pairs = 0
    for vecs in by_label.values():
        if len(vecs) < 2:
            continue
        mat = np.array(vecs, dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        cos = (mat @ mat.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(vecs), k=1)
        n_pairs += int((cos[iu] > 0.8).sum())
    assert n_pairs == 0


def test_lsh_null_and_malformed_vectors_tolerated(spark, planted):
    """A NULL or wrong-length embedding row must not fail the Arrow batch
    (ADVICE r02): bad rows get NULL signatures (so they never enter a
    bucket), and results over the good rows are unchanged."""
    rows, df = planted
    bad = spark.createDataFrame(
        [(90001, 0, None), (90002, 0, [1.0, 2.0])],
        "vec_id: long, label: int, dv: array<double>",
    ).withColumn("nrm", F.lit(1.0))
    mixed = df.select("vec_id", "label", "dv", "nrm").unionByName(bad)
    keyed = with_lsh_buckets(mixed, 4, 8)
    assert keyed.filter(F.col("vec_id") >= 90001).count() == 0  # no bucket rows
    clean_pairs = {
        (r.vec_a, r.vec_b)
        for r in embedding_dedup_pairs(df, threshold=0.9).collect()
    }
    mixed_pairs = {
        (r.vec_a, r.vec_b)
        for r in embedding_dedup_pairs(mixed, threshold=0.9).collect()
    }
    assert mixed_pairs == clean_pairs


def test_ivf_assignment_null_vector_tolerated(spark):
    """centroid_dists_udf NULL-guards the batch: NULL vectors get NULL
    buckets instead of crashing the whole partition."""
    from cdc_worker_spark.operators.ivf import assign_buckets

    df = spark.createDataFrame(
        [(1, [1.0] * 4), (2, None), (3, [0.0, 1.0, 0.0, 1.0])],
        "vec_id: long, dv: array<double>",
    )
    cents = [[1.0, 1.0, 1.0, 1.0], [0.0, 1.0, 0.0, 1.0]]
    got = {r.vec_id: r.bucket for r in assign_buckets(df, cents).collect()}
    assert got[1] == 0 and got[3] == 1 and got[2] is None


def _docs_with_hot_shingle(spark, n_docs=60):
    """Every doc shares one stop-phrase trigram; docs 0/1 are true near-dups."""
    base = "quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(n_docs):
        unique = " ".join(f"tok{i}w{j}" for j in range(8))
        text = f"the common phrase {unique}" if i > 1 else f"the common phrase {base}"
        rows.append((i, "en", text))
    return spark.createDataFrame(rows, "doc_id: long, lang: string, text: string")


def test_ngram_hot_shingle_candidates_bounded(spark):
    docs = _docs_with_hot_shingle(spark)
    tri = shingles_distinct(docs)
    uncapped = ngram_candidate_pairs(tri, max_shingle_df=10**9).count()
    capped = ngram_candidate_pairs(tri, max_shingle_df=10).count()
    n = 60
    assert uncapped >= n * (n - 1) // 2  # the hot shingle pairs everyone
    # capped: only genuinely shared (rare) shingles generate pairs — here the
    # two planted near-dups plus nothing else
    assert capped <= 5, f"hot shingle leaked {capped} candidate pairs"


def test_ngram_cap_inert_below_threshold(spark):
    """With the cap above every shingle's df, results are identical to the
    uncapped join (the production cap of 100 is far above the fixture's max
    df, so the driver's DuckDB oracle match is unaffected)."""
    docs = _docs_with_hot_shingle(spark, n_docs=20)
    tri = shingles_distinct(docs)
    a = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in ngram_candidate_pairs(tri, max_shingle_df=10**9).collect()
    }
    b = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in ngram_candidate_pairs(tri, max_shingle_df=1000).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# Adaptive LSH sizing (round-6 scale bug, found by the sf1->sf10 sweep):
# with FIXED signature bits a random pair collides per table at the constant
# rate 2^-bits, so candidate volume is O(n^2/2^bits) — invisible across one
# decade of scale-up (sf0.1->sf1 exponent 0.33), quadratic on the second
# (sf1->sf10 exponent 1.86, 3.9 s -> 283 s). adaptive_lsh_params grows bits
# with log2(n) (constant expected bucket occupancy) and tables with bits
# (boundary recall), so pair volume stays ~linear in n.
# ---------------------------------------------------------------------------


def _random_vectors(n, seed=7):
    rng = np.random.default_rng(seed)
    return [(i, 0, [float(x) for x in rng.normal(size=DIM)]) for i in range(n)]


def _bucket_pair_volume(spark, rows, n_tables, n_bits):
    """sum over (tbl, sig) buckets of c*(c-1)/2 == exact number of raw
    candidate pairs the band equi-join would generate (before distinct)."""
    df = with_double_vec(
        spark.createDataFrame(rows, "vec_id: long, label: long, embedding: array<float>")
    )
    keyed = with_lsh_buckets(df.select("vec_id", "dv"), n_tables, n_bits)
    return (
        keyed.groupBy("tbl", "sig")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) / 2")).alias("pairs"))
        .first()["pairs"]
    )


def test_adaptive_lsh_params_floor_and_growth():
    from cdc_worker_spark.operators.dedup import adaptive_lsh_params

    # small corpora keep the (16, 8) floor — existing recall tests unchanged
    assert adaptive_lsh_params(500) == (16, 8)
    assert adaptive_lsh_params(4096) == (16, 8)
    # each 16x of corpus adds ~4 bits / 32 tables
    assert adaptive_lsh_params(20_000)[1] == 11
    assert adaptive_lsh_params(200_000)[1] == 14
    # deterministic and monotone in n
    assert adaptive_lsh_params(200_000) == adaptive_lsh_params(200_000)
    assert adaptive_lsh_params(2_000_000)[1] >= adaptive_lsh_params(200_000)[1]


def test_adaptive_bits_keep_candidate_volume_linear(spark):
    """4x the corpus: fixed 8-bit signatures multiply candidate PAIRS ~16x
    (quadratic), adaptive sizing keeps pairs-per-vector roughly flat."""
    from cdc_worker_spark.operators.dedup import adaptive_lsh_params

    n_small, n_big = 3_000, 12_000
    small_rows, big_rows = _random_vectors(n_small), _random_vectors(n_big)

    fixed_small = _bucket_pair_volume(spark, small_rows, 16, 8)
    fixed_big = _bucket_pair_volume(spark, big_rows, 16, 8)
    # quadratic: pairs-per-vector grows ~4x with 4x data
    assert fixed_big / n_big > 2.5 * (fixed_small / n_small)

    t_b, b_b = adaptive_lsh_params(n_big)
    assert (t_b, b_b) == (32, 10)
    adaptive_big = _bucket_pair_volume(spark, big_rows, t_b, b_b)
    # adaptive sizing bends the curve: at 4x data it generates about half
    # the raw pairs of the fixed config (expected ratio T_a/2^b_a over
    # T_f/2^b_f = 32*2^-10 / 16*2^-8 = 0.5), and pairs-per-vector grows
    # ~2x instead of the fixed config's ~4x — per decade of data that is
    # ~n^0.5 candidate growth instead of n^2
    assert adaptive_big < 0.7 * fixed_big
    assert adaptive_big / n_big < 2.5 * (fixed_small / n_small), (
        f"adaptive pair volume {adaptive_big} vs fixed-small {fixed_small}"
    )


def test_bucket_cap_inert_on_dispersed_data_and_fires_on_degenerate(spark):
    """The skew valve: on dispersed corpora no bucket nears the cap (pairs
    identical with the cap on/off); a degenerate corpus (every vector
    identical -> one megabucket per table) is excluded from pair emission
    instead of emitting n^2 pairs."""
    rows = _planted_vectors()
    df = with_double_vec(
        spark.createDataFrame(rows, "vec_id: long, label: long, embedding: array<float>")
    )
    with_cap = {
        (r.vec_a, r.vec_b)
        for r in embedding_dedup_pairs(df, threshold=0.9, bucket_cap=4096).collect()
    }
    no_cap = {
        (r.vec_a, r.vec_b)
        for r in embedding_dedup_pairs(df, threshold=0.9, bucket_cap=None).collect()
    }
    assert with_cap == no_cap

    one = [(i, 0, [1.0] + [0.0] * (DIM - 1)) for i in range(300)]
    deg = with_double_vec(
        spark.createDataFrame(one, "vec_id: long, label: long, embedding: array<float>")
    )
    assert embedding_dedup_pairs(deg, threshold=0.9, bucket_cap=100).count() == 0


def test_lsh_keys_udf_equals_two_pass_form(spark):
    """r12: the fused one-Arrow-pass LSH key UDF (simhash + banded
    signatures in one stacked matmul) must be BIT-EQUAL to the original
    two-UDF form for good vectors and yield NULLs for bad ones — the
    optimization changed the boundary crossing, not the math."""
    from pyspark.sql import functions as F

    from cdc_worker_spark.operators.lsh import (
        lsh_keys_udf,
        prefilter_simhash_udf,
        with_lsh_buckets,
    )

    rows = _planted_vectors()[:50]
    # plant one NULL and one wrong-length vector
    rows.append((9001, 0, None))
    rows.append((9002, 0, [1.0, 2.0]))
    df = with_double_vec(
        spark.createDataFrame(
            rows, "vec_id: long, label: long, embedding: array<float>"
        )
    ).select("vec_id", "dv")
    n_tables, n_bits = 16, 8
    fused = {
        r.vec_id: (r.sh, r.sigs)
        for r in df.withColumn("_ss", lsh_keys_udf(n_tables, n_bits)(F.col("dv")))
        .select("vec_id", F.col("_ss.sh").alias("sh"), F.col("_ss.sigs").alias("sigs"))
        .collect()
    }
    sh_two = {
        r.vec_id: r.sh
        for r in df.withColumn("sh", prefilter_simhash_udf()(F.col("dv")))
        .select("vec_id", "sh")
        .collect()
    }
    sigs_two = {}
    for r in (
        with_lsh_buckets(df, n_tables, n_bits).select("vec_id", "tbl", "sig").collect()
    ):
        sigs_two.setdefault(r.vec_id, {})[r.tbl] = r.sig
    for vid, (sh, sigs) in fused.items():
        assert sh == sh_two[vid], vid
        if vid in (9001, 9002):
            assert sh is None and sigs is None
            assert vid not in sigs_two  # posexplode of NULL: no bucket rows
        else:
            assert sigs == [sigs_two[vid][t] for t in range(n_tables)], vid


def test_basket_pair_array_unpacks_to_itertools_pairs(spark):
    """The packed (a<<32)|b bigints unpack to exactly the pairs an
    itertools oracle draws from each basket (items are distinct, as
    collect_set makes them): every ordered pair when directed, a < b when
    not, none from 0- or 1-item baskets."""
    import itertools

    from pyspark.sql import functions as F

    from cdc_worker_spark.functions.exprs import basket_pair_array

    baskets = [[1, 5, 3, 4294967295], [7], []]
    df = spark.createDataFrame([(b,) for b in baskets], "parts: array<long>")
    for directed in (True, False):
        want = sorted(
            (a, b)
            for basket in baskets
            for a, b in itertools.permutations(basket, 2)
            if directed or a < b
        )
        got = sorted(
            (r.a, r.b)
            for r in df.select(
                F.explode(basket_pair_array("parts", directed=directed)).alias("pk")
            )
            .select(
                F.shiftrightunsigned("pk", 32).alias("a"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("b"),
            )
            .collect()
        )
        assert got == want and got, directed


def test_basket_pair_array_packed_null_key_no_pair_out_of_domain_raises(spark):
    """Packed-pair domain guard: a NULL item key yields no pair and does
    not fail the task; a key outside [0, 2^32) still fails it with the
    named error."""
    from pyspark.sql import functions as F

    from cdc_worker_spark.functions.exprs import basket_pair_array

    def pairs(rows):
        df = spark.createDataFrame([(r,) for r in rows], "parts: array<long>")
        return sorted(
            r.pk
            for r in df.select(
                F.explode(
                    basket_pair_array("parts", directed=True)
                ).alias("pk")
            ).collect()
        )

    assert pairs([[1, None, 2], [None]]) == [(1 << 32) | 2, (2 << 32) | 1]
    with pytest.raises(Exception, match="outside"):
        pairs([[1, 1 << 32]])
