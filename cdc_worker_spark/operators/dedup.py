"""Deduplication operators (north-star extension set; BASELINE.json).

Exact dedup, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup
over the ``documents`` / ``embeddings`` tables.

Scale design (100 TB):
- Exact dedup is a hash-groupBy on a normalized digest — one shuffle of
  (digest, doc_id), never of document text.
- MinHash/SimHash/LSH banding turns the O(n^2) pair space into equi-joins on
  band keys: only same-bucket docs ever meet in a shuffle.
- Verification (exact Jaccard / cosine) runs on candidate pairs only.
- Blocking keys (lang, label) bound bucket sizes; at real scale add length
  buckets and salt hot buckets.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_worker_spark.plans.registry import query
from cdc_worker_spark.sources.tables import load_table

# ---------------------------------------------------------------- helpers


def tokens_distinct(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, w): distinct unigram tokens per document."""
    return docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )


def shingles_distinct(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, g): distinct word-trigram shingles per document.

    Built from three array slices zipped together — NOT ``element_at(ws, i)``
    inside a ``transform`` lambda, which re-evaluates the ``split`` for every
    element (O(len^2) per document; measured 4.3 s -> 0.6 s for the shingle
    stage at sf0.1)."""
    ws = F.split("text", " ")
    n = F.greatest(F.size(ws) - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice(ws, 1, n),
            F.slice(ws, 2, n),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice(ws, 3, n),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    # NB: deliberately NOT ensure_parallelism'd — the shingle table is read
    # twice by its consumers (signatures+sets, df-window+join), and adding a
    # round-robin exchange ahead of the explode measurably REGRESSED the
    # full queries (minhash 1.1 -> 2.3 s at sf0.1) even though the isolated
    # shingle stage got faster; the (lang, g)/doc_id shuffles right after
    # already spread the heavy work.
    return docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(tri)).alias("g")
    )


def seq_fold_sum(arr: Column) -> Column:
    """Strictly sequential left-fold sum (seeded with the first element) —
    bitwise-identical to DuckDB's list_reduce, unlike a parallel SUM."""
    return F.aggregate(
        F.slice(arr, 2, F.size(arr) - 1), F.element_at(arr, 1), lambda acc, x: acc + x
    )


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays."""
    return seq_fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Restore parallelism when the source under-splits: a small parquet file
    arrives as ONE input partition, which serializes every downstream per-row
    computation (LSH signatures, centroid assignment — measured 12.6 s on one
    task vs <1 s spread over 32). At scale this is a no-op: a large table's
    split count already exceeds defaultParallelism, so no shuffle is added."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def with_double_vec(emb: DataFrame) -> DataFrame:
    """embeddings + dv (double vector) + nrm (squared norm, sequential fold).
    Vector operators fan out per-row folds, so under-split sources are
    re-parallelized here (:func:`ensure_parallelism`)."""
    dv = F.transform("embedding", lambda x: x.cast("double"))
    return (
        ensure_parallelism(emb)
        .withColumn("dv", dv)
        .withColumn("nrm", dot_col(F.col("dv"), F.col("dv")))
    )


# ---------------------------------------------------------------- queries


@query(
    "q_dedup_exact",
    oracle=r"""
    WITH h AS (SELECT doc_id,
                      sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                        AS text_hash
               FROM documents)
    SELECT text_hash, count(*) AS n_dups, min(doc_id) AS first_doc_id
    FROM h GROUP BY text_hash HAVING count(*) > 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize (collapse whitespace, lowercase) -> sha256
    digest -> hash-groupBy. The digest, not the text, is what shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), 256)
    return (
        docs.select("doc_id", digest.alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("first_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH tri_all AS (
      SELECT DISTINCT doc_id, lang,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents) d,
           LATERAL unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
    ),
    tri AS (
      SELECT doc_id, lang, g FROM tri_all
      QUALIFY count(*) OVER (PARTITION BY lang, g) <= 100
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM tri a JOIN tri b ON a.g = b.g AND a.lang = b.lang
                                   AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.3
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (word trigram) Jaccard near-dup pairs, blocked by lang.

    Pair generation is an equi-join on shingle+lang (no O(n^2) cross join)
    with a document-frequency cap on shingles (:func:`ngram_candidate_pairs`)
    so one stop-phrase trigram cannot create a quadratic bucket. The
    DECLARED semantics is Jaccard over the CAPPED shingle space — sizes
    and intersections both exclude df>100 shingles, and the oracle applies
    the identical QUALIFY cap — so numerator and denominator stay
    consistent at any scale (r5: the sf1 sweep caught the old
    uncapped-sizes form diverging once shard-shared shingles crossed the
    cap). A df>cap shingle says nothing about any particular pair, so
    dropping it from BOTH sides is the principled estimator, not an
    approximation."""
    docs = load_table(spark, sf_dir, "documents")
    # the shingle STRING never leaves the map side: an 8-byte xxhash64 key
    # replaces ~40-byte text through the df window + self-join (the same
    # move q_text_repeated_passages documents; collision odds ~ n^2/2^65,
    # so counts — and the oracle hash — are unchanged)
    tri = df_capped_shingles(
        shingles_distinct(docs).withColumn("g", F.xxhash64("g")),
        max_shingle_df=100,
    )
    sizes = tri.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = ngram_candidate_pairs(tri, max_shingle_df=None)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
    )


def df_capped_shingles(tri: DataFrame, max_shingle_df: int) -> DataFrame:
    """Drop shingles with document frequency > ``max_shingle_df`` — the
    hot-token guard shared by the jaccard/levenshtein/dup-rate blockers.
    The df window shares the (lang, g) partitioning the pair join needs,
    so the cap costs no extra shuffle of the shingle table."""
    w_df = Window.partitionBy("lang", "g")
    return (
        tri.withColumn("df", F.count("*").over(w_df))
        .filter(F.col("df") <= max_shingle_df)
        .drop("df")
    )


def ngram_candidate_pairs(tri: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """(doc_a, doc_b, n_common) candidate pairs from a (doc_id, lang, g)
    shingle table, bounded by shingle document frequency.

    The classic hot-token blowup: a stop-phrase trigram shared by 1% of a
    corpus creates a join bucket whose pair count is quadratic in corpus
    size. Shingles with df > ``max_shingle_df`` are dropped BEFORE the
    self-join — they carry no discriminative signal (a shingle appearing in
    thousands of documents says nothing about any particular pair), so the
    bucket pair volume is bounded by df^2 per shingle. Pass ``None`` when
    the input is already capped (:func:`df_capped_shingles`)."""
    tri_f = (
        tri if max_shingle_df is None
        else df_capped_shingles(tri, max_shingle_df)
    )
    a = tri_f.alias("a")
    b = tri_f.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )


#: MinHash configuration: 8 permutations, 4 bands x 2 rows
_MINHASH_K = 8
_MINHASH_BANDS = 4


@query("q_dedup_minhash")  # rows-only: xxhash64 permutations are engine-specific
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection: trigram shingle -> K minhashes
    (xxhash64 with K seeds) -> band -> bucket equi-join -> exact-Jaccard
    verify of candidates.

    The LSH banding is what scales: candidate pairs come from joins on band
    values, so cost tracks true-duplicate density, not n^2. Shingles (not
    unigrams) keep signatures selective — the fixture vocabulary is tiny, so
    unigram signatures collide pathologically (measured: 92 s -> ~5 s at
    sf0.1). Verification = exact shingle Jaccard on the candidate set only."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_pairs(docs)


def minhash_signatures_from_tokens(tok: DataFrame) -> DataFrame:
    """(doc_id, h0..h{K-1}) MinHash signature per doc from a (doc_id, w)
    token/shingle table: min of K seeded xxhash64 permutations."""
    return tok.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("w"), F.lit(k))).alias(f"h{k}") for k in range(_MINHASH_K)]
    )


def minhash_band_table(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) long-format LSH band table from a
    signature frame. Long format means candidates come from ONE equi-join
    on the band key instead of one self-join per band — a single shuffle,
    and the shape that scales (bucket join, never a doc x doc cross
    product)."""
    rows_per_band = _MINHASH_K // _MINHASH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.xxhash64(
                    F.lit(b),
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
                ).alias("band_val"),
            )
            for b in range(_MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_val"
    )


def minhash_band_pairs(bands: DataFrame) -> DataFrame:
    """(doc_a < doc_b) distinct candidate pairs of one band table: the LSH
    self-join — two docs are candidates iff they share a band value."""
    x = bands.select("band_idx", "band_val", F.col("doc_id").alias("doc_a"))
    y = bands.select("band_idx", "band_val", F.col("doc_id").alias("doc_b"))
    return (
        x.join(y, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_estimate(a: str, b: str) -> Column:
    """Estimated Jaccard of two signatures held in columns ``{a}0..`` and
    ``{b}0..``: the fraction of the K minhash components that agree."""
    agree = sum(
        F.when(F.col(f"{a}{k}") == F.col(f"{b}{k}"), 1).otherwise(0)
        for k in range(_MINHASH_K)
    )
    return (agree / F.lit(float(_MINHASH_K))).cast("double")


def jaccard_verify(
    cand: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, jaccard >= threshold) exact shingle Jaccard of the
    (doc_a, doc_b) candidate pairs, from a (doc_id, ws) shingle-set frame.

    Each side joins the shingle SET (one array row per doc, not the
    exploded (doc, shingle) table — the candidate x shingle intermediate
    is the thing that blows up at scale); the intersection size comes
    from array_intersect. Join hints on ``sets`` carry into both joins."""
    inter = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a")
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b")
            ),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("ws_a", "ws_b")))
    )
    jac = F.col("n_common").cast("double") / (
        F.size("ws_a") + F.size("ws_b") - F.col("n_common")
    )
    return (
        inter.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jaccard >= threshold) near-dup pairs — the MinHash-LSH
    candidates-then-verify pipeline shared by q_dedup_minhash and the
    cluster assignment operator."""
    # shingle set is read twice (signatures, verify sets): persist instead of
    # recomputing the explode. At cluster scale this is the stage you'd
    # materialize to a shuffle-friendly layout (operators/dedup_index.py is
    # exactly that materialization).
    tok = shingles_distinct(docs).withColumnRenamed("g", "w").persist()
    cand = minhash_band_pairs(
        minhash_band_table(minhash_signatures_from_tokens(tok))
    )
    # the shingle-set side is O(corpus) rows of ARRAYS: its in-memory hash
    # relation is far larger than its compressed shuffle size, so an AQE
    # broadcast "upgrade" of this join is always wrong (at 100 TB it cannot
    # fit; in the 1 GB sf1 contract sweep it concretely failed with "Not
    # enough memory to build and broadcast"). Pin both verify joins to
    # sort-merge — spillable, and co-partitioned on the doc key.
    sets = tok.groupBy("doc_id").agg(F.collect_set("w").alias("ws"))
    return jaccard_verify(cand, sets.hint("merge"), threshold)


#: SimHash configuration: signature bits and band layout. 32 bits over
#: trigram SHINGLES (not unigrams — the fixture vocabulary is tiny, so
#: unigram bit votes collapse and every doc pairs with every doc: measured
#: 72k candidate pairs over 500 docs at 16 bits; 32-bit shingle signatures
#: keep candidate volume proportional to true near-dup density, which is the
#: property that matters at scale).
_SIMHASH_BITS = 32
_SIMHASH_BANDS = 4


@query("q_dedup_simhash")  # rows-only: xxhash64 bit votes are engine-specific
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: _SIMHASH_BITS-bit signature from
    per-shingle hash bit votes; candidate pairs share one of _SIMHASH_BANDS
    bands and pass hamming(xor) <= 3 (bit_count — JVM-side). Pair generation
    is ONE equi-join on (band_idx, band_val) in long format — a single
    shuffle, like the MinHash banding."""
    docs = load_table(spark, sf_dir, "documents")
    tok = shingles_distinct(docs).withColumnRenamed("g", "w").withColumn(
        "h", F.xxhash64("w")
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    simhash = votes.select(
        "doc_id",
        reduce(
            lambda acc, b: acc
            + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)),
            range(_SIMHASH_BITS),
            F.lit(0).cast("bigint"),
        ).alias("simhash"),
    )
    bits_per_band = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << bits_per_band) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), bits_per_band * b)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    long = simhash.select(
        "doc_id", "simhash", F.explode(band_structs).alias("b")
    ).select("doc_id", "simhash", "b.band_idx", "b.band_val")
    x = long.select("band_idx", "band_val", F.col("doc_id").alias("doc_a"),
                    F.col("simhash").alias("sh_a"))
    y = long.select("band_idx", "band_val", F.col("doc_id").alias("doc_b"),
                    F.col("simhash").alias("sh_b"))
    pairs = (
        x.join(y, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


@query("q_dedup_embedding")  # rows-only: LSH candidate set is approximate by design
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos > 0.8), same-label blocked.

    Candidates-then-verify, NOT all-pairs: LSH banded buckets generate the
    candidate pairs (same shape as q_dedup_minhash — the label-block
    all-pairs join is O(n^2/L), a cartesian product in disguise at 100 TB),
    then the exact sequential-fold cosine runs on candidates only.

    Rows-only like the other approximate dedup queries (ADVICE r02): the
    banding math gives ~6% miss probability for a pair at exactly cos 0.8,
    so an exact all-pairs SQL oracle can deterministically disagree near the
    threshold — the r01/r02 oracle only ever matched because the fixture
    yields zero pairs (empty-vs-empty). The fixture's 0 rows is VERIFIED
    truthful, not an LSH miss: a DuckDB all-pairs sweep at sf0.01 shows the
    max cosine between any two fixture embeddings is 0.513, far below the
    0.8 threshold (checked r4). Exactness evidence instead comes from
    tests/test_dedup_scale.py: planted clusters at cos >= 0.9 (where
    banding miss probability is negligible) compared pair-for-pair against
    a Spark all-pairs exact twin, plus the candidate-volume gate."""
    emb = with_double_vec(load_table(spark, sf_dir, "embeddings"))
    return embedding_dedup_pairs(emb, threshold=0.8, same_label=True).select(
        "vec_a", "vec_b", F.round("cos", 6).alias("cos_sim")
    )


#: LSH banding floor for embedding dedup: 16 tables x 8 bits. A pair at
#: angle θ collides in one table with p = (1-θ/π)^8 and is missed overall
#: with (1-p)^16: ~1e-8 at cos 0.99, 1.4e-4 at cos 0.95, ~6% at exactly
#: 0.8 — designed for the near-dup regime. These are the SMALL-n floor:
#: :func:`adaptive_lsh_params` widens both with n, because with FIXED
#: signature bits a random pair (cos~0) collides per table at the constant
#: rate 2^-bits, making candidate volume O(n^2 / 2^bits) — invisible on
#: one decade of scale-up, quadratic on the second (measured: sf1->sf10
#: exponent 1.86, 3.9 s -> 283 s, before this was adaptive; 12-25 s after).
_EMB_LSH_TABLES = 16
_EMB_LSH_BITS = 8


def adaptive_lsh_params(n_vectors: int) -> tuple[int, int]:
    """(n_tables, n_bits) sized to the corpus: bits grow with log2(n) so
    expected random-bucket occupancy stays constant (candidate volume
    ~linear in n, never n^2/2^bits), and tables grow 8 per extra bit so
    boundary recall holds (miss at cos 0.8: 6% @ 8 bits/16 tables,
    3.5% @ 11/40, 7% @ 14/64; at cos 0.9 all configs are <1%). Below
    ~64k vectors this returns the (16, 8) floor — small-fixture behavior
    (and every existing recall test) is unchanged. Deterministic in n, so
    plans and artifacts stay stable run-to-run.

    Bits cap at 20 (occupancy stays ~16 up to ~16M vectors). Past that the
    per-table collision constant stops shrinking, and the simhash pre-gate
    in :func:`embedding_dedup_pairs` is what bounds the verify set; at
    billion-vector scale pairwise LSH at threshold 0.8 is inherently
    ~n^1.33 (rho = ln(1/p1)/ln(1/p2) for random-hyperplane LSH) and the
    cluster-then-compare path (q_dedup_semantic) is the recommended
    recipe — its candidate volume is bounded by cluster sizes, not
    collision statistics."""
    n_bits = max(_EMB_LSH_BITS, min(20, math.ceil(math.log2(max(n_vectors, 2))) - 4))
    n_tables = _EMB_LSH_TABLES + 8 * (n_bits - _EMB_LSH_BITS)
    return n_tables, n_bits


def embedding_dedup_pairs(
    emb: DataFrame,
    threshold: float,
    same_label: bool = False,
    n_tables: int | None = None,
    n_bits: int | None = None,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """Near-dup pairs (vec_a, vec_b, cos > threshold) via LSH candidates +
    exact-cosine verification.

    Scale shape: only (vec_id, label, sh, tbl, sig) flows through the band
    shuffle (sh = the 64-bit prefilter simhash) — vectors are joined back
    AFTER the candidate set is Hamming-gated and distinct, so the wide
    embedding column is shuffled O(|gated candidates|) times, never
    O(n x tables) and never O(|raw collisions|) (the sf100 disk-fill:
    2M vectors x 80 tables produced ~1e9 raw collisions; sorting them for
    distinct + joining vectors spilled past the disk. The 8-byte Hamming
    gate kills ~98.5% of random collisions in-stream first).
    ``emb`` must carry dv/nrm (:func:`with_double_vec`).

    ``n_tables``/``n_bits`` default to :func:`adaptive_lsh_params` of the
    corpus size (one cheap count over the id column). ``bucket_cap`` is the
    skew valve: a (tbl, sig) bucket larger than the cap is excluded from
    pair generation — on non-adversarial data adaptive bits keep expected
    occupancy ~16 so the cap never fires (asserted for the fixtures in
    tests/test_dedup_scale.py), but a degenerate corpus (everything
    near-identical) would otherwise regenerate the n^2 pair set inside one
    bucket; such clusters are cluster-assignment work (q_dedup_cluster_*),
    not pair-emission work."""
    if n_tables is None or n_bits is None:
        a_tables, a_bits = adaptive_lsh_params(emb.select("vec_id").count())
        n_tables = a_tables if n_tables is None else n_tables
        n_bits = a_bits if n_bits is None else n_bits
    # 64-bit sign-projection simhash rides the band shuffle as ONE BIGINT:
    # a candidate pair at cos >= threshold has expected Hamming distance
    # 64*acos(threshold)/pi, a random bucket collision E[H]=32 — gating at
    # mean + 3.5*sigma kills ~98.5% of junk collisions IN-STREAM, before
    # the distinct sort and the wide-vector verify join ever see them.
    # (This is what makes the 100x decade survivable: at sf100 the
    # pre-distinct candidate stream is ~1e9 rows; sorting it for distinct
    # and joining 64-dim vectors to it filled the disk. After the gate the
    # distinct sees ~1e7.) Miss cost for a TRUE pair at the threshold is
    # the 3.5-sigma binomial tail, ~2e-4 — far below the banding miss
    # probability the rows-only contract already accepts.
    theta_frac = math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    h_sigma = math.sqrt(64.0 * theta_frac * (1.0 - theta_frac))
    h_max = int(math.ceil(64.0 * theta_frac + 3.5 * h_sigma))
    # checkpoint both Python-UDF products: the keyed table is consumed by
    # the bucket-cap count AND both pair sides, the vector frame by both
    # verify-join sides — without the checkpoints each consumer re-runs
    # the LSH-keys matmul UDF over the whole corpus (the static plan
    # showed SIX embedding scans; now one).
    #
    # r12 (guide §4.1 + §1.2): the simhash and the banded signatures are
    # ONE Arrow pass now (lsh_keys_udf stacks both plane families into a
    # single matmul) — previously two pandas UDFs shipped every vector
    # across the JVM↔Python boundary twice. And the keyed table's eager
    # parquet round-trip (write job + read-back) is a lazy DISK_ONLY
    # localCheckpoint: zero heap pinned (the sf100 failure that forced
    # parquet here was the DEFAULT-level block cache starving the
    # bucket-cap aggregation; DISK_ONLY keeps the streams-from-disk
    # property with no extra job — r12 memory-creep policy). Measured at
    # sf0.1: 3.59 s -> 3.10 s best-of-5 interleaved (every round faster),
    # candidate pairs and cosines identical at 9dp.
    from cdc_worker_spark.operators.lsh import lsh_keys_udf
    from cdc_worker_spark.plans.checkpoints import lazy_spill_checkpoint

    # the O(n) vector frame localCheckpoints at the default level (block
    # cache — small enough at any n that fits one executor's vector shard)
    vecs = emb.select("vec_id", "dv", "nrm").localCheckpoint(eager=False)
    keys = lsh_keys_udf(n_tables, n_bits)
    keyed = lazy_spill_checkpoint(
        emb.withColumn("_ss", keys(F.col("dv")))
        .select(
            "vec_id",
            "label",
            F.col("_ss.sh").alias("sh"),
            F.col("_ss.sigs").alias("_sigs"),
        )
        .select(
            "vec_id", "label", "sh", F.posexplode("_sigs").alias("tbl", "sig")
        )
    )
    if bucket_cap is not None:
        # skew valve as a broadcast ANTI join: overfull buckets are at most
        # n*tables/cap keys (tiny), and the partial-agg count shuffles only
        # per-bucket partials — unlike the old window count, which SORTED
        # the full n*tables keyed table just to read its own group size.
        over = (
            keyed.groupBy("tbl", "sig")
            .count()
            .filter(F.col("count") > bucket_cap)
            .select("tbl", "sig")
        )
        keyed = keyed.join(F.broadcast(over), ["tbl", "sig"], "left_anti")
    x = keyed.select(
        "tbl", "sig", F.col("vec_id").alias("vec_a"),
        F.col("label").alias("label_a"), F.col("sh").alias("sh_a"),
    )
    y = keyed.select(
        "tbl", "sig", F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"), F.col("sh").alias("sh_b"),
    )
    pair_filter = F.col("vec_a") < F.col("vec_b")
    if same_label:
        pair_filter = pair_filter & (F.col("label_a") == F.col("label_b"))
    hamming_gate = (
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= F.lit(h_max)
    )
    cand = (
        x.join(y, ["tbl", "sig"])
        .filter(pair_filter & hamming_gate)
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("dv").alias("dv_a"),
        F.col("nrm").alias("nrm_a"),
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("dv").alias("dv_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = dot_col(F.col("dv_a"), F.col("dv_b")) / (
        F.sqrt(F.col("nrm_a")) * F.sqrt(F.col("nrm_b"))
    )
    # vector sides are O(corpus) rows of dense arrays — same
    # never-broadcast rule as minhash_pairs' shingle sets (the in-memory
    # hash relation dwarfs the compressed size estimate AQE sees)
    return (
        cand.join(va.hint("merge"), "vec_a")
        .join(vb.hint("merge"), "vec_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") > threshold)
    )


@query(
    "q_dedup_cluster_exact",
    oracle=r"""
    WITH h AS (SELECT doc_id,
                      sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                        AS text_hash
               FROM documents)
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY text_hash) AS cluster_id,
           CAST(count(*) OVER (PARTITION BY text_hash) AS BIGINT) AS n_members
    FROM h
    """,
)
def q_dedup_cluster_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-duplicate cluster assignment: cluster_id = min
    doc_id sharing the normalized digest — the mapping a pipeline applies to
    drop duplicates (keep rows where doc_id == cluster_id). Same
    digest-shuffle shape as q_dedup_exact; the window adds no extra
    exchange (both run on the digest partitioning)."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), 256)
    w = Window.partitionBy("text_hash")
    return (
        docs.select("doc_id", digest.alias("text_hash"))
        .withColumn("cluster_id", F.min("doc_id").over(w))
        .withColumn("n_members", F.count("*").over(w))
        .select("doc_id", "cluster_id", "n_members")
    )


def connected_components(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """(doc_id, cluster_id) connected components of an undirected edge list
    (doc_a, doc_b), cluster_id = smallest doc_id in the component.

    Each round does min-label propagation (every node adopts the smallest
    label among itself and its neighbors) FOLLOWED by one pointer-jumping
    step (lbl := lbl(lbl) — label paths halve, the same contraction idea as
    large-star/small-star). Propagation alone needs diameter rounds — a
    22-doc template-drift chain silently exceeded the old 20-round cap
    (VERDICT r02 wrong #2); with jumping, convergence is O(log diameter), so
    ``max_rounds=20`` covers any graph a real corpus can produce (diameter
    ~2^20). If the loop still exhausts ``max_rounds`` without a fixpoint it
    RAISES rather than returning partial labels.

    Only nodes present in ``pairs`` participate, so the iteration state is
    |dup docs|, not |corpus|. Each round is two joins + one min-agg, all
    JVM-side; the convergence check is the only driver action."""
    pairs = pairs.select("doc_a", "doc_b").persist()
    # undirected edge list, both directions + self-loop via the node itself
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    # localCheckpoint (not persist) for the iteration state: the jump step
    # references `propagated` twice, so without lineage TRUNCATION the
    # logical plan doubles per round and the driver OOMs just generating the
    # plan string (VERDICT r03 wrong #2 — persist caches data, not lineage).
    # Each round therefore restarts from a leaf plan; state is |dup docs|
    # rows of (long, long), so the checkpoint blocks are tiny.
    labels = (
        edges.select(F.col("doc_a").alias("doc_id")).distinct()
        .withColumn("lbl", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        propagated = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id", F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl")
        )
        # pointer jump: follow the label's own label (labels hold every
        # participating node, and lbl is always some node's id, so the inner
        # join is total). This is what turns chains from O(n) into O(log n).
        parent = propagated.select(
            F.col("doc_id").alias("p_id"), F.col("lbl").alias("p_lbl")
        )
        jumped = (
            propagated.join(parent, propagated.lbl == parent.p_id)
            .select("doc_id", F.least("lbl", "p_lbl").alias("lbl"))
        )
        new_labels = (
            labels.withColumnRenamed("lbl", "old_lbl")
            .join(jumped, "doc_id")
            .select(
                "doc_id", "lbl", (F.col("lbl") < F.col("old_lbl")).alias("_chg")
            )
            .localCheckpoint(eager=True)  # truncate lineage each round
        )
        changed = new_labels.filter("_chg").count()  # convergence check
        labels = new_labels.drop("_chg")
        if changed == 0:
            converged = True
            break
    # labels is materialized (checkpoint blocks + the convergence count), so
    # the edge caches can go; labels no longer depends on their lineage
    pairs.unpersist()
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} rounds "
            f"— raise max_rounds (diameter up to ~2^rounds is covered)"
        )
    return labels.select("doc_id", F.col("lbl").alias("cluster_id")).orderBy("doc_id")


@query("q_dedup_cluster_near")  # rows-only: iterative; candidates are engine-specific
def q_dedup_cluster_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate cluster assignment: connected components over the
    MinHash near-dup pair graph (jaccard >= 0.5) via min-label propagation
    with pointer jumping (:func:`connected_components` — O(log diameter)
    rounds, raises instead of returning partial labels on non-convergence).

    This is the genuinely-iterative operator class (no SQL oracle): a driver
    loop with a convergence check per round, every round JVM-side joins."""
    docs = load_table(spark, sf_dir, "documents")
    return connected_components(minhash_pairs(docs))
