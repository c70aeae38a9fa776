"""Training-data pipeline extensions, wave 2 (round 6): cross-document
passage dedup (boilerplate removal), temperature-scaled source mixing,
product quantization over embeddings, and distributed BPE-merge training.

These are the corpus-preparation steps a 100 TB LLM data pipeline runs after
the per-document filters (operators/text.py, operators/curation.py) and the
document-level dedup family (operators/dedup.py):

- ``q_text_passage_dedup`` removes *within-document spans* that repeat across
  the corpus (the Falcon/RefinedWeb line-dedup idea re-expressed over
  fixed-width word segments, since the fixture text has no newlines);
- ``q_docs_mix_temperature`` computes the temperature-scaled source mixture
  (w_s ∝ p_s^α) used to rebalance heterogeneous sources before sampling;
- ``q_emb_pq`` product-quantizes the embedding table (m subspaces × k
  codewords, Lloyd-trained per subspace) and reports reconstruction error —
  the storage/ANN compression step (IVF-PQ's second half);
- ``q_text_bpe_vocab`` learns byte-pair-encoding merges from corpus word
  frequencies — pair counting is the corpus-scale part and runs as a
  distributed explode + groupBy per merge round.

Scale notes are on each operator; none of them shuffles document text or
raw vectors more than once, and the only driver-side state is O(k·dim)
centroids / O(1) top-pair rows per BPE round.
"""

# NB: no `from __future__ import annotations` — pandas_udf (via the reused
# ivf.centroid_dists_udf) infers eval mode from real type hints elsewhere;
# keep this module consistent with operators/ivf.py.

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_worker_spark.operators.dedup import dot_col, with_double_vec
from cdc_worker_spark.operators.ivf import (
    centroid_dists_udf,
    kmeans_centroids_cached,
)
from cdc_worker_spark.plans.registry import query
from cdc_worker_spark.sources.tables import load_table

#: fixed-width word segment length for passage dedup (the fixture corpus is
#: single-line, so "lines" are 10-word windows; real corpora would split on
#: newline first and fall back to fixed windows for wall-of-text documents).
SEG_WORDS = 10

#: a segment is boilerplate when it appears in at least this many distinct
#: documents (Falcon's line-dedup threshold, scaled to the fixture corpus).
BOILER_MIN_DOCS = 3


def _segments(docs: DataFrame) -> DataFrame:
    """(doc_id, seg) — consecutive non-overlapping SEG_WORDS-word windows,
    last partial window included. Pure projection: no shuffle until the
    segment groupBy."""
    ws = F.split("text", " ")
    n_seg = F.ceil(F.size(ws) / F.lit(SEG_WORDS)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - F.lit(1)),
        lambda i: F.array_join(
            F.slice(ws, i * SEG_WORDS + 1, SEG_WORDS), " "
        ),
    )
    return docs.select("doc_id", F.explode(segs).alias("seg"))


@query(
    "q_text_passage_dedup",
    oracle=f"""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         idx AS (SELECT doc_id, w,
                        unnest(range(0, CAST(ceil(len(w) / {SEG_WORDS}.0) AS BIGINT))) AS i
                 FROM ws),
         segs AS (SELECT doc_id,
                         array_to_string(w[(i * {SEG_WORDS} + 1):(i * {SEG_WORDS} + {SEG_WORDS})], ' ') AS seg
                  FROM idx),
         c AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_seg,
           CAST(sum(CASE WHEN c.nd >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           round(1.0 - sum(CASE WHEN c.nd >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) / count(*), 4)
               AS retained_ratio
    FROM segs s JOIN c USING (seg)
    GROUP BY s.doc_id
    """,
)
def q_text_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage dedup (Falcon/RefinedWeb line-dedup over
    fixed 10-word segments): a segment occurring in >= BOILER_MIN_DOCS
    distinct documents is boilerplate; report per-document segment counts
    and the retained fraction.

    100 TB design: the doc-frequency pass groups on xxhash64(seg) — the
    shuffle carries (8-byte key, doc_id), never segment text; the join back
    to segments is on the same hashed key so both sides share one hash
    partitioning. The oracle groups raw segment text instead (DuckDB has no
    xxhash64) — per-doc outputs agree unless 64-bit collisions occur, which
    at corpus scale is the standard accepted hashing assumption (same
    contract as q_text_repeated_passages).
    Reference scope: beyond the reference (LLM-pipeline extension set,
    SURVEY §2.3)."""
    segs = _segments(load_table(spark, sf_dir, "documents")).withColumn(
        "segh", F.xxhash64("seg")
    )
    df_counts = segs.groupBy("segh").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        segs.join(df_counts, "segh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_seg"),
            F.sum(
                F.when(F.col("nd") >= BOILER_MIN_DOCS, 1).otherwise(0)
            ).alias("n_boiler"),
        )
        .withColumn(
            "retained_ratio",
            F.round(1.0 - F.col("n_boiler") / F.col("n_seg"), 4),
        )
    )


#: mixing temperature: w_s ∝ p_s^ALPHA. α=0.5 (the multilingual-training
#: sqrt rule) keeps the math engine-exact: sqrt is IEEE correctly rounded,
#: so Spark and DuckDB agree bit-for-bit where a general pow() might not.
MIX_ALPHA = 0.5


@query(
    "q_docs_mix_temperature",
    oracle="""
    WITH per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY source),
         p AS (
      SELECT source, n_docs, tokens,
             tokens / (sum(tokens) OVER ()) AS p_raw
      FROM per_src)
    SELECT source, n_docs, tokens,
           round(p_raw, 6) AS p_raw,
           round(sqrt(p_raw) / sum(sqrt(p_raw)) OVER (), 6) AS mix_weight,
           round((sqrt(p_raw) / sum(sqrt(p_raw)) OVER ()) / p_raw, 4) AS boost
    FROM p
    """,
)
def q_docs_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture: per-source token share p_s, the
    α=0.5 mixture weight w_s = p_s^α / Σ p^α, and the oversampling boost
    w_s/p_s — the knob that up-weights small sources before sampling
    (the standard multilingual/multi-source rebalancing step).

    100 TB design: one corpus scan → per-source partial agg (O(sources)
    rows shuffle); the normalizing windows run over the O(sources) frame,
    not the corpus. Reference scope: beyond the reference (LLM-pipeline
    extension set, SURVEY §2.3)."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens"),
    )
    w = Window.partitionBy()
    p_raw = F.col("tokens") / F.sum("tokens").over(w)
    mix = F.sqrt(p_raw) / F.sum(F.sqrt(p_raw)).over(w)
    return per_src.select(
        "source",
        "n_docs",
        "tokens",
        F.round(p_raw, 6).alias("p_raw"),
        F.round(mix, 6).alias("mix_weight"),
        F.round(mix / p_raw, 4).alias("boost"),
    )


#: PQ geometry: M subspaces × K codewords over the 64-dim fixture vectors.
PQ_M = 4
PQ_K = 16


def pq_assign_udf(cents_per_sub: list, sub_w: int, dim: int):
    """ONE Arrow pass computing every subspace's code and the summed
    quantization error — ``struct<codes: array<int>, sq_err: double>``.

    r13 optimization (guide §4.1, same move as r12's lsh_keys_udf): the
    per-subspace :func:`centroid_dists_udf` chain shipped the full vector
    across the JVM↔Arrow boundary once PER SUBSPACE (m ArrowEvalPython
    nodes, m Python-worker round trips per batch — q_emb_pq was the
    suite's worst 32-core scaler at 0.49). All m codebooks ride one UDF;
    per subspace the math is executed on an ``ascontiguousarray`` slice so
    the distances are bit-identical to the multipass form (same
    |x|²+|c|²-2xc expansion, same float64 BLAS shapes — asserted in
    tests/test_traindata.py::test_pq_codes_fused_equals_multipass_form).
    A vector whose length is not ``dim`` (NULL included) is unassignable
    as a whole: all codes NULL and sq_err 0.0, even when its length
    still fills whole subspaces (e.g. 32 at dim 64) — no partial codes
    from a vector outside the codebook's space, and no part in training
    the codebooks. The multipass form in :func:`pq_codes` applies the
    same rule."""
    import numpy as np
    import pandas as pd

    Cs = [np.asarray(c, dtype=np.float64) for c in cents_per_sub]
    c_nrms = [(C * C).sum(axis=1) for C in Cs]
    m = len(Cs)

    @F.pandas_udf("codes array<int>, sq_err double")
    def assign(dv: pd.Series) -> pd.DataFrame:
        n = len(dv)
        out_codes = pd.Series([None] * n, dtype=object, index=dv.index)
        # bad rows carry 0.0, matching greatest(NULL, 0.0) in the JVM fold
        out_err = pd.Series([0.0] * n, dtype="float64", index=dv.index)
        if not n:
            return pd.DataFrame({"codes": out_codes, "sq_err": out_err})
        ok = dv.map(lambda v: v is not None and len(v) == dim).to_numpy()
        if ok.any():
            V = np.stack(dv[ok].to_numpy())  # (n_ok, dim)
            codes = np.empty((V.shape[0], m), dtype=np.int64)
            err = np.zeros(V.shape[0], dtype=np.float64)
            for j in range(m):
                # contiguous copy == the multipass form's np.stack of the
                # JVM-sliced lists (identical BLAS input layout)
                Vj = np.ascontiguousarray(V[:, j * sub_w : (j + 1) * sub_w])
                D = (
                    (Vj * Vj).sum(axis=1)[:, None]
                    + c_nrms[j][None, :]
                    - 2.0 * (Vj @ Cs[j].T)
                )
                codes[:, j] = D.argmin(axis=1)  # first min == array_position
                err = err + np.maximum(D.min(axis=1), 0.0)
            idx = np.flatnonzero(ok)
            vals = np.empty(n, dtype=object)
            vals[idx] = [row.tolist() for row in codes.astype(np.int32)]
            out_codes = pd.Series(vals, index=dv.index)
            out_err.iloc[idx] = err
        return pd.DataFrame({"codes": out_codes, "sq_err": out_err})

    return assign


def pq_codes(
    emb: DataFrame, emb_path: str, m: int = PQ_M, k: int = PQ_K,
    fused: bool = True,
) -> DataFrame:
    """Product-quantize ``emb`` (must carry dv): per subspace j, Lloyd-train
    K centroids on the dim/m-wide slice, assign the nearest codeword, and
    carry the squared quantization error. Adds columns code_0..code_{m-1}
    (int) and sq_err (double, sum of per-subspace residuals); a vector
    whose length is not the corpus dim gets NULL codes and sq_err 0.0.

    Scale design: training reuses :func:`kmeans_centroids_cached` (sampled
    Lloyd — O(k·dim) driver state, vectors never collect); assignment is a
    pure projection (one Arrow-batched distance matmul per subspace), so
    encoding shuffles nothing. The codebook is the broadcast side by
    construction. Production stores codes + codebook and reconstructs at
    probe time (IVF-PQ); here the error column is the quality signal."""
    first = emb.select(F.size("dv").alias("d")).first()
    if first is None:  # empty input: empty result, same schema as the
        # non-empty path (m code columns + sq_err), no training to run
        return emb.select(
            "*",
            *[F.lit(None).cast("int").alias(f"code_{j}") for j in range(m)],
            F.lit(None).cast("double").alias("sq_err"),
        )
    dim = int(first.d)
    if dim == 0 or dim % m != 0:
        raise ValueError(f"PQ needs dim % m == 0, got dim={dim}, m={m}")
    sub_w = dim // m  # fixture: 64/4 = 16
    # wrong-length vectors are unassignable (pq_assign_udf): they get no
    # code and train no codebook
    ok = F.size("dv") == dim
    train = emb.filter(ok)
    cents_per_sub = []
    for j in range(m):
        sub_col = F.slice("dv", j * sub_w + 1, sub_w)
        sub = train.select("vec_id", sub_col.alias("dv")).withColumn(
            "nrm", dot_col(F.col("dv"), F.col("dv"))
        )
        cents_per_sub.append(
            kmeans_centroids_cached(
                sub, cache_key=f"{emb_path}#pq{m}x{k}s{j}", k=k, n_iters=2
            )
        )
    if fused:
        # r13: one ArrowEvalPython node for all m subspaces (see
        # pq_assign_udf). Bit-equal to the multipass branch below.
        assign = pq_assign_udf(cents_per_sub, sub_w, dim)
        out = emb.withColumn("_pq", assign(F.col("dv")))
        return out.select(
            "*",
            *[
                F.col("_pq.codes")[j].alias(f"code_{j}")
                for j in range(m)
            ],
            F.col("_pq.sq_err").alias("sq_err"),
        ).drop("_pq")
    # multipass reference form (kept for the fused-equality test): one
    # centroid_dists_udf Arrow pass per subspace + JVM argmin/min fold
    out = emb
    for j in range(m):
        sub_col = F.slice("dv", j * sub_w + 1, sub_w)
        out = out.withColumn(
            f"_d{j}", centroid_dists_udf(cents_per_sub[j])(sub_col)
        )
    code_cols = []
    err_total = F.lit(0.0)
    for j in range(m):
        d = F.col(f"_d{j}")
        code_cols.append(
            F.when(ok, F.array_position(d, F.array_min(d)) - 1)
            .cast("int")
            .alias(f"code_{j}")
        )
        # the |x|^2+|c|^2-2xc expansion can go epsilon-negative at exact hits
        err_total = err_total + F.greatest(F.array_min(d), F.lit(0.0))
    return out.select(
        "*",
        *code_cols,
        F.when(ok, err_total).otherwise(0.0).alias("sq_err"),
    ).drop(*[f"_d{j}" for j in range(m)])


@query("q_emb_pq")  # rows-only: Lloyd training is not SQL-expressible;
# gated by tests/test_traindata.py (numpy-reference equality of codes and
# errors + PQ-beats-1-centroid reconstruction bound)
def q_emb_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization health report: per label, vector count, mean
    squared reconstruction error, and codebook utilization of subspace 0.
    Reference scope: beyond the reference (LLM-pipeline extension set)."""
    emb = with_double_vec(load_table(spark, sf_dir, "embeddings"))
    coded = pq_codes(emb, emb_path=f"{sf_dir}/embeddings.parquet")
    return (
        coded.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("sq_err"), 6).alias("avg_sq_err"),
            F.countDistinct("code_0").alias("codes_used_s0"),
        )
        .orderBy("label")
    )


#: number of BPE merge rounds learned by q_text_bpe_vocab.
BPE_MERGES = 8

#: left-to-right greedy application of one merge (l, r) -> l||r over a
#: symbol array, as a SQL fold. try_element_at returns NULL on the empty
#: accumulator, so the CASE guard needs no short-circuit guarantee.
_MERGE_FOLD = """
aggregate(syms, CAST(array() AS array<string>),
  (acc, x) -> CASE WHEN try_element_at(acc, -1) = '{l}' AND x = '{r}'
                   THEN concat(slice(acc, 1, size(acc) - 1), array('{lr}'))
                   ELSE concat(acc, array(x)) END)
"""


def _merge_fold_expr(left: str, right: str, merged: str) -> str:
    """SQL fold for one merge, with string literals SQL-escaped. Spark's
    parser treats backslash as an escape inside string literals (unless
    ``spark.sql.parser.escapedStringLiterals`` flips it), so backslashes
    must be doubled BEFORE quote-doubling or a token ending in ``\\``
    swallows the closing quote (code corpora hit this)."""
    q = lambda s: s.replace("\\", "\\\\").replace("'", "''")  # noqa: E731
    return _MERGE_FOLD.format(l=q(left), r=q(right), lr=q(merged))


#: vocab-size cap for the in-driver incremental BPE trainer: below this
#: many distinct words the frequency table collects to the driver and
#: trains with the heap+occurrence-index algorithm (exact, thousands of
#: merges/sec — SCALE.md §r12); above it the per-round distributed fold
#: runs (exact, ~1-2 merges/sec of job latency). 2M rows x ~40 B is
#: <100 MB driver memory — bounded, like every other collect site.
BPE_DRIVER_VOCAB_CAP = 2_000_000


def bpe_merges_incremental(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Exact incremental BPE training over a collected (word, cnt)
    frequency list — the classic heap + inverted-occurrence-index
    algorithm every fast tokenizer trainer uses (public algorithm;
    Sennrich et al. 2016 + standard priority-queue refinement).

    Semantics are BIT-IDENTICAL to the per-round distributed fold in
    :func:`bpe_merges` (gated by tests/test_traindata.py equality on a
    shared corpus): pair counts weight overlapping adjacent pairs at
    every position, the round winner is max count with ties broken
    lexicographically ascending on (left, right), and the merge applies
    greedily left-to-right inside each word (`aaa` + (a,a) -> [aa, a]).
    Instead of recounting every pair per round, only the words CONTAINING
    the merged pair are rewritten and their pair deltas applied — the
    update cost is O(affected word length), which is what turns 10k
    merges from 10k Spark jobs into an in-memory loop."""
    import heapq
    from collections import Counter

    syms: list[list[str]] = []
    cnts: list[int] = []
    for w, c in word_counts:
        s = [ch for ch in w if ch != ""]
        if len(s) >= 2:
            syms.append(s)
            cnts.append(int(c))
    pair_counts: Counter = Counter()
    occ: dict[tuple[str, str], set[int]] = {}
    for i, s in enumerate(syms):
        c = cnts[i]
        for a, b in zip(s, s[1:]):
            pair_counts[(a, b)] += c
            occ.setdefault((a, b), set()).add(i)
    heap: list[tuple[int, str, str, int]] = [
        (-pc, l, r, pc) for (l, r), pc in pair_counts.items()
    ]
    heapq.heapify(heap)

    def push(p: tuple[str, str]) -> None:
        pc = pair_counts.get(p, 0)
        if pc > 0:
            heapq.heappush(heap, (-pc, p[0], p[1], pc))

    def apply_merge(s: list[str], l: str, r: str, lr: str) -> list[str]:
        # the _MERGE_FOLD semantics: greedy left-to-right, no overlap
        out: list[str] = []
        for x in s:
            if out and out[-1] == l and x == r:
                out[-1] = lr
            else:
                out.append(x)
        return out

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        # lazy-deletion pop: entries whose snapshot count is stale are
        # discarded; every count change pushes a fresh entry, so the
        # true maximum always has a live entry
        while heap:
            negpc, l, r, snap = heap[0]
            if pair_counts.get((l, r), 0) == snap and snap > 0:
                break
            heapq.heappop(heap)
        if not heap:
            break
        negpc, l, r, snap = heapq.heappop(heap)
        merged = l + r
        merges.append((rank, l, r, merged, snap))
        changed: set[tuple[str, str]] = set()
        for i in sorted(occ.get((l, r), ())):
            s_old = syms[i]
            c = cnts[i]
            s_new = apply_merge(s_old, l, r, merged)
            old_pairs = Counter(zip(s_old, s_old[1:]))
            new_pairs = Counter(zip(s_new, s_new[1:]))
            for p in old_pairs.keys() - new_pairs.keys():
                if i in occ.get(p, ()):
                    occ[p].discard(i)
            for p in new_pairs:
                occ.setdefault(p, set()).add(i)
            delta = Counter(new_pairs)
            delta.subtract(old_pairs)
            for p, d in delta.items():
                if d:
                    pair_counts[p] += d * c
                    if pair_counts[p] <= 0:
                        del pair_counts[p]
                    changed.add(p)
            syms[i] = s_new
        occ.pop((l, r), None)
        pair_counts.pop((l, r), None)
        for p in changed:
            push(p)
    return merges


def bpe_merges(
    words: DataFrame,
    n_merges: int = BPE_MERGES,
    driver_vocab_cap: int = BPE_DRIVER_VOCAB_CAP,
) -> list[tuple[int, str, str, str, int]]:
    """Learn BPE merges from a (word, cnt) frequency table.

    Hybrid (r12, VERDICT r11 next #4): the corpus-scale step is the
    word-frequency aggregation the CALLER runs (one explode+groupBy over
    the whole corpus — that part is genuinely 100 TB work); training
    itself only ever touches the O(distinct-vocab) table. When that
    vocab fits ``driver_vocab_cap`` it collects and trains with the
    exact incremental algorithm (:func:`bpe_merges_incremental` —
    thousands of merges/sec, bit-equal by the tests/test_traindata.py
    gate); a larger vocab falls back to the distributed per-round fold
    below (exact at any vocab size, ~1-2 merges/sec of per-round job
    latency — the measured ceiling in SCALE.md §r12).

    Distributed fold (fallback path): per round, explode adjacent symbol
    pairs weighted by word count, groupBy-sum, take the most frequent
    pair (ties: lexicographic on (left, right)), then apply the merge
    greedily left-to-right inside every word. The pair count per round
    is an O(distinct-words) explode + 8-byte-pair shuffle, and only ONE
    row (the argmax pair) ever reaches the driver per round.
    localCheckpoint per round keeps the per-round plan flat instead of
    nesting n_merges aggregate() folds into one codegen'd expression.
    Reference scope: beyond the reference (LLM-pipeline extension
    set)."""
    if driver_vocab_cap and words.limit(driver_vocab_cap + 1).count() <= (
        driver_vocab_cap
    ):
        rows = words.select("word", "cnt").collect()
        return bpe_merges_incremental(
            [(r["word"], r["cnt"]) for r in rows], n_merges
        )
    cur = words.select(
        "cnt",
        F.expr("filter(split(word, ''), x -> x <> '')").alias("syms"),
    ).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        n = F.size("syms")
        pairs = cur.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.greatest(n - 1, F.lit(0))),
                    F.slice("syms", 2, F.greatest(n - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:  # corpus of empty/1-char words: nothing left to merge
            break
        row = top[0]
        merged = row.l + row.r
        merges.append((rank, row.l, row.r, merged, int(row.pc)))
        cur = cur.withColumn(
            "syms",
            F.expr(_merge_fold_expr(row.l, row.r, merged)),
        ).localCheckpoint(eager=True)
    return merges


#: SemDeDup similarity threshold: within-cluster cosine above this marks
#: the higher-id member as a semantic duplicate.
SEMDEDUP_TAU = 0.99


def semdedup_flags(emb: DataFrame, emb_path: str, k: int = 16) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper): cluster embeddings with
    KMeans, then compare pairs ONLY within a cluster and drop any vector
    that has a smaller-id neighbor above SEMDEDUP_TAU cosine. Returns
    (vec_id, bucket, keep).

    Scale design: clustering bounds the candidate space to Σ|cluster|²
    instead of n² — the whole point of the recipe; the within-cluster
    self-join shuffles BOTH sides on the cluster key once, and the
    keep-decision is an aggregation, not an iterative CC (the smaller-id
    rule is deterministic and local to a pair). Centroids reuse the cached
    coarse KMeans (same key as the IVF index). At 100 TB k grows ~n/10⁵ so
    clusters stay bounded; degenerate hot clusters would reuse the LSH
    bucket-cap valve (operators/dedup.py::adaptive_lsh_params)."""
    cents = kmeans_centroids_cached(emb, cache_key=emb_path, k=k, n_iters=2)
    if not cents:
        return emb.sparkSession.createDataFrame(
            [], "vec_id: long, bucket: int, keep: boolean"
        )
    assigned = emb.withColumn(
        "_d", centroid_dists_udf(cents)("dv")
    ).withColumn(
        "bucket",
        (F.array_position(F.col("_d"), F.array_min("_d")) - 1).cast("int"),
    ).select("bucket", "vec_id", "dv", "nrm")
    a = assigned.select(
        "bucket", F.col("vec_id").alias("a_id"),
        F.col("dv").alias("a_dv"), F.col("nrm").alias("a_nrm"),
    )
    b = assigned.select(
        "bucket", F.col("vec_id").alias("vec_id"),
        F.col("dv").alias("b_dv"), F.col("nrm").alias("b_nrm"),
    )
    cos = dot_col(F.col("a_dv"), F.col("b_dv")) / (
        F.sqrt(F.col("a_nrm")) * F.sqrt(F.col("b_nrm"))
    )
    dup_ids = (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("vec_id"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= SEMDEDUP_TAU)
        .select("vec_id")
        .distinct()
    )
    return (
        assigned.join(
            dup_ids.withColumn("_dup", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "bucket",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


@query("q_dedup_semantic")  # rows-only: the cluster partition is
# Lloyd-trained (not SQL-expressible); gated by tests/test_traindata.py
# (planted-duplicate detection + numpy reference equality of the flags)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: per-cluster size, kept count,
    and drop rate. The fixture's embedding copies are rotation+sign+mask
    transformed (deliberately NOT near-identical), so the fixture drop
    rate is 0 — the detection path is exercised by the planted-duplicate
    test. Reference scope: beyond the reference (LLM-pipeline extension
    set)."""
    emb = with_double_vec(load_table(spark, sf_dir, "embeddings"))
    import os

    flags = semdedup_flags(
        emb, emb_path=os.path.join(sf_dir, "embeddings.parquet")
    )
    return (
        flags.groupBy("bucket")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        )
        .withColumn(
            "drop_rate",
            F.round(1.0 - F.col("n_kept") / F.col("n_vecs"), 4),
        )
        .orderBy("bucket")
    )


#: DSIR feature-hash buckets (hashed bigrams, Xie et al. 2023 "Data
#: Selection for Language Models via Importance Resampling" — public
#: paper; the hashed-ngram feature space that makes the importance
#: estimator tractable at corpus scale).
DSIR_BUCKETS = 1024


@query(
    "q_docs_dsir",
    oracle=f"""
    WITH ws AS (SELECT doc_id, lang,
                       list_filter(string_split(text, ' '), x -> x <> '') AS w
                FROM documents),
         bg AS (SELECT doc_id, lang,
                       unnest(list_transform(range(1, len(w)),
                                             i -> w[i] || ' ' || w[i + 1])) AS bg
                FROM ws),
         b AS (SELECT doc_id, lang,
                      CAST('0x' || substring(md5(bg), 1, 8) AS BIGINT)
                        % {DSIR_BUCKETS} AS bk
               FROM bg),
         rc AS (SELECT bk, count(*) AS c_r FROM b GROUP BY bk),
         tc AS (SELECT bk, count(*) AS c_t FROM b WHERE lang = 'en' GROUP BY bk),
         tot AS (SELECT (SELECT count(*) FROM b) AS n_r,
                        (SELECT count(*) FROM b WHERE lang = 'en') AS n_t),
         lr AS (SELECT rc.bk,
                       ln((coalesce(tc.c_t, 0) + 1.0) / (tot.n_t + {DSIR_BUCKETS}))
                     - ln((rc.c_r + 1.0) / (tot.n_r + {DSIR_BUCKETS})) AS lr
                FROM rc LEFT JOIN tc USING (bk), tot)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(lr.lr), 6) AS dsir_logw
    FROM b JOIN lr ON b.bk = lr.bk
    GROUP BY b.doc_id
    """,
)
def q_docs_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed-bigram likelihood ratio against the
    in-corpus 'en' target slice): per document, Σ over bigram features of
    ln p_target(bucket) − ln p_raw(bucket), add-1 smoothed — the
    data-selection score used to importance-resample a raw corpus toward a
    target distribution.

    100 TB design: one corpus scan explodes bigrams to 8-byte md5 buckets
    (a pure projection); both bucket-count tables are bounded by
    DSIR_BUCKETS rows, so the log-ratio lookup BROADCASTS and the bigram
    stream never shuffles for the score — only the final per-doc agg
    exchanges. md5-derived buckets (not xxhash64) keep engine and oracle
    on the identical feature map. Reference scope: beyond the reference
    (LLM-pipeline extension set)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.expr("filter(split(text, ' '), x -> x <> '')")
    n = F.size(ws)
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bk = (
        F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )
    b = docs.select(
        "doc_id", "lang", F.explode(bigrams).alias("bg")
    ).select("doc_id", "lang", bk.alias("bk"))
    rc = b.groupBy("bk").agg(F.count("*").alias("c_r"))
    tc = (
        b.filter(F.col("lang") == "en")
        .groupBy("bk")
        .agg(F.count("*").alias("c_t"))
    )
    tot = b.agg(
        F.count("*").alias("n_r"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_t"),
    )
    lr = (
        rc.join(tc, "bk", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bk",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + 1.0)
                    / (F.col("n_t") + DSIR_BUCKETS)
                )
                - F.log((F.col("c_r") + 1.0) / (F.col("n_r") + DSIR_BUCKETS))
            ).alias("lr"),
        )
    )
    return (
        b.join(F.broadcast(lr), "bk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum("lr"), 6).alias("dsir_logw"),
        )
    )


#: IVF-PQ probe geometry (coarse stage matches q_sim_ann_ivf's index).
IVFPQ_NPROBE = 2
IVFPQ_SHORTLIST = 20
IVFPQ_TOPK = 5


def ivfpq_topk(
    spark: SparkSession,
    emb: DataFrame,
    emb_path: str,
    q_max_id: int = 10,
    nprobe: int | None = None,
    shortlist: int | None = None,
    topk: int | None = None,
    pq_m: int | None = None,
    pq_k: int | None = None,
) -> DataFrame:
    """Parametrized IVF-PQ ANN (see q_sim_ann_ivfpq for the plan shape and
    the 100 TB design). ``q_max_id`` picks the query set (vec_id <
    q_max_id); nprobe/shortlist/topk default to the registered query's
    constants. Factored out in r8 so the sf10 recall-vs-nprobe sweep
    (scripts/bench_ann_recall.py) can vary the knobs the serving path
    would tune."""
    nprobe = IVFPQ_NPROBE if nprobe is None else nprobe
    shortlist = IVFPQ_SHORTLIST if shortlist is None else shortlist
    topk = IVFPQ_TOPK if topk is None else topk
    pq_m = PQ_M if pq_m is None else pq_m
    pq_k = PQ_K if pq_k is None else pq_k

    from cdc_worker_spark.operators.similarity import _IVF_K
    coarse = kmeans_centroids_cached(
        emb, cache_key=emb_path, k=_IVF_K, n_iters=2
    )
    if not coarse:
        return spark.createDataFrame(
            [], "q_id: long, c_id: long, cos_sim: double, rnk: int"
        )
    first = emb.select(F.size("dv").alias("d")).first()
    dim = int(first.d)
    sub_w = dim // pq_m
    # The PQ stage (codebook training, code assignment, query LUTs) runs on
    # UNIT-NORMALIZED vectors: ADC approximates squared L2, and only on the
    # unit sphere is L2 monotone in cosine (||q̂-x̂||² = 2-2cos). On raw
    # vectors the ADC shortlist ranks by a metric the re-rank doesn't use —
    # recall measured ~0.10 flat vs nprobe at sf10 (200k vectors,
    # scripts/bench_ann_recall.py, r8) before this fix. Coarse bucketing
    # stays raw so the centroid cache is still shared with q_sim_ann_ivf.
    emb = emb.withColumn(
        "ndv",
        F.when(
            F.col("nrm") > 0,
            F.transform("dv", lambda x: x / F.sqrt(F.col("nrm"))),
        ).otherwise(F.col("dv")),
    )
    pq_cents = []
    for j in range(pq_m):
        sub = emb.select(
            "vec_id", F.slice("ndv", j * sub_w + 1, sub_w).alias("dv")
        ).withColumn("nrm", dot_col(F.col("dv"), F.col("dv")))
        pq_cents.append(
            kmeans_centroids_cached(
                sub,
                cache_key=f"{emb_path}#pqn{pq_m}x{pq_k}s{j}",
                k=pq_k,
                n_iters=2,
            )
        )
    # inverted lists: coarse bucket + PQ codes only (the compressed layout)
    with_d = emb.withColumn("_cd", centroid_dists_udf(coarse)("dv"))
    lists = with_d.withColumn(
        "bucket",
        (F.array_position(F.col("_cd"), F.array_min("_cd")) - 1).cast("int"),
    )
    for j in range(pq_m):
        dj = centroid_dists_udf(pq_cents[j])(
            F.slice("ndv", j * sub_w + 1, sub_w)
        )
        lists = lists.withColumn(
            f"code_{j}",
            (F.array_position(dj, F.array_min(dj)) - 1).cast("int"),
        )
    lists = lists.select(
        "bucket", F.col("vec_id").alias("c_id"),
        *[f"code_{j}" for j in range(pq_m)],
    )
    # probes: nprobe nearest coarse buckets + per-subspace ADC LUTs
    idx = F.sequence(F.lit(0), F.lit(_IVF_K - 1))
    ranked = F.array_sort(
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(F.col("_cd"), i + 1).alias("d"),
                i.cast("int").alias("b"),
            ),
        )
    )
    probe_buckets = F.transform(
        F.slice(ranked, 1, nprobe), lambda s: s.getField("b")
    )
    probes = with_d.filter(F.col("vec_id") < q_max_id).select(
        F.col("vec_id").alias("q_id"),
        F.col("ndv").alias("q_ndv"),  # LUTs live on the unit sphere too
        F.explode(probe_buckets).alias("bucket"),
    )
    for j in range(pq_m):
        probes = probes.withColumn(
            f"lut{j}",
            centroid_dists_udf(pq_cents[j])(
                F.slice("q_ndv", j * sub_w + 1, sub_w)
            ),
        )
    adc = sum(
        (
            F.element_at(F.col(f"lut{j}"), F.col(f"code_{j}") + 1)
            for j in range(pq_m)
        ),
        start=F.lit(0.0),
    )
    w_adc = Window.partitionBy("q_id").orderBy("adc", "c_id")
    shortlist = (
        F.broadcast(probes.drop("q_ndv"))
        .join(lists, ["bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("adc", adc)
        .withColumn("srnk", F.row_number().over(w_adc))
        .filter(F.col("srnk") <= shortlist)
        .select("q_id", "c_id")
    )
    # exact re-rank: fetch raw vectors ONLY for the shortlist rows
    qv = emb.filter(F.col("vec_id") < q_max_id).select(
        F.col("vec_id").alias("q_id"), F.col("dv").alias("q_dv"),
        F.col("nrm").alias("q_nrm"),
    )
    cv = emb.select(
        F.col("vec_id").alias("c_id"), F.col("dv").alias("c_dv"),
        F.col("nrm").alias("c_nrm"),
    )
    cos = dot_col(F.col("q_dv"), F.col("c_dv")) / (
        F.sqrt(F.col("q_nrm")) * F.sqrt(F.col("c_nrm"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "c_id")
    return (
        F.broadcast(shortlist)
        .join(cv, ["c_id"])
        .join(F.broadcast(qv), ["q_id"])
        .withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("q_id", "c_id", F.round("cos", 6).alias("cos_sim"), "rnk")
    )


@query("q_sim_ann_ivfpq")  # rows-only: IVF recall set + Lloyd-trained
# codebooks are approximate/iterative by design; gated by
# tests/test_traindata.py (recall vs the exact brute-force top-k) and the
# sf10 recall-vs-nprobe sweep (scripts/bench_ann_recall.py, SCALE.md §r8)
def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: coarse IVF bucketing (shared with q_sim_ann_ivf's cached
    centroids) + asymmetric-distance (ADC) scan over PQ codes + exact
    re-rank of a small shortlist — the standard billion-scale ANN recipe
    (IVFADC), all in DataFrame ops.

    100 TB design: the inverted lists store ONLY (bucket, c_id, m PQ codes)
    — ~m bytes/vector instead of 4·dim — so the candidate scan streams
    compressed codes; per-query subspace LUTs (k distances each) ride the
    broadcast probe side and ADC is pure element_at arithmetic (JVM-side,
    no Python per candidate). Raw vectors are touched ONLY for the
    shortlist re-rank rows, fetched by a broadcast-able join back to
    the vector store keyed by c_id. Training reuses the cached coarse
    centroids (same key as q_sim_ann_ivf); the PQ codebooks are trained
    on unit-normalized residual inputs and cached under their own
    '#pqn{m}x{k}s{j}' keys (NOT shared with q_emb_pq's raw-vector
    codebooks — sharing would be wrong post-normalization), so probe
    cost is probe cost.
    Reference scope: beyond the reference (LLM-pipeline extension set)."""
    import os

    emb = with_double_vec(load_table(spark, sf_dir, "embeddings"))
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    return ivfpq_topk(spark, emb, emb_path)


@query("q_text_bpe_vocab")  # rows-only: n_merges chained argmax+rewrite
# rounds are iterative, not SQL-expressible; gated by
# tests/test_traindata.py (exact merge-list equality vs a pure-Python BPE)
def q_text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first BPE_MERGES byte-pair-encoding merges from corpus
    word frequencies (the tokenizer-training step of an LLM data
    pipeline). Returns (merge_rank, left, right, merged, pair_count).
    Reference scope: beyond the reference (LLM-pipeline extension set)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    merges = bpe_merges(words)
    return spark.createDataFrame(
        merges,
        "merge_rank: int, left: string, right: string, "
        "merged: string, pair_count: bigint",
    )


@query("q_text_bpe_apply")  # rows-only: tokenization depends on the
# iteratively learned merge list; gated by tests/test_traindata.py
# (exact per-source stats equality vs the pure-Python tokenizer)
def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the corpus and report per-source
    tokenization stats: whitespace tokens, BPE tokens, and chars/BPE-token
    (the compression ratio a tokenizer change shifts — the metric that
    prices a vocab against a training budget).

    100 TB design: the merge folds run over the DISTINCT vocabulary only
    (word -> n_bpe_tokens, an O(vocab) table), broadcast-joined back to the
    per-(source, word) count aggregate — the corpus is scanned once for
    counts and never re-tokenized per occurrence. Reference scope: beyond
    the reference (LLM-pipeline extension set)."""
    docs = load_table(spark, sf_dir, "documents")
    src_words = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    try:
        global_words = src_words.groupBy("word").agg(
            F.sum("cnt").alias("cnt")
        )
        merges = bpe_merges(global_words)
        vocab = global_words.select(
            "word",
            F.expr("filter(split(word, ''), x -> x <> '')").alias("syms"),
        )
        for i, (_, left, right, merged, _cnt) in enumerate(merges, 1):
            vocab = vocab.withColumn(
                "syms",
                F.expr(_merge_fold_expr(left, right, merged)),
            )
            if i % 4 == 0:  # flatten the fold nesting before codegen blows up
                vocab = vocab.localCheckpoint(eager=False)
        tokenized = vocab.select(
            "word", F.size("syms").alias("n_bpe")
        )
        return (
            src_words.join(F.broadcast(tokenized), "word")
            .groupBy("source")
            .agg(
                F.sum("cnt").alias("ws_tokens"),
                F.sum(F.col("cnt") * F.col("n_bpe")).alias("bpe_tokens"),
                F.sum(F.col("cnt") * F.length("word")).alias("chars"),
            )
            .withColumn(
                "chars_per_bpe_token",
                F.round(F.col("chars") / F.col("bpe_tokens"), 4),
            )
        )
    finally:
        src_words.unpersist()


# ---------------------------------------------------------------------------
# BM25 retrieval over the corpus: the "find training examples relevant to a
# probe query" primitive (decontamination triage, targeted subset export,
# retrieval-augmented filtering all start here).
# ---------------------------------------------------------------------------

#: the fixed probe query (three mid-frequency fixture vocabulary terms) —
#: embedded in the query the way q_point_lookup embeds its key.
BM25_TERMS = ("hash", "join", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def _bm25_oracle() -> str:
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1.0 ELSE 0.0 END) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    score_terms = "\n       + ".join(
        f"ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0) * tf{i} * {k1p1}"
        f" / (tf{i} + {BM25_K1} * ({one_minus_b} + {BM25_B} * dl / avgdl))"
        for i in range(len(BM25_TERMS))
    )
    n_hit = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END" for i in range(len(BM25_TERMS))
    )
    any_hit = " OR ".join(f"tf{i} > 0" for i in range(len(BM25_TERMS)))
    return f"""
    WITH t AS (
      SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS dl,
         {tf_cols}
      FROM documents),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
         {df_cols}
      FROM t)
    SELECT doc_id,
           CAST({n_hit} AS INT) AS n_hit,
           round({score_terms}, 6) AS bm25
    FROM t, s
    WHERE {any_hit}
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = BM25_TERMS,
    k: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Single-query BM25 top-k over a (doc_id, text) corpus — the
    parameterized core of q_text_bm25, reused as the per-query reference
    the batch operator (operators/retrieval.bm25_topk_batch) is asserted
    equal to. ``terms`` must be distinct (a query's term multiplicity does
    not re-weight BM25)."""
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    nt = len(terms)

    def _eq(term: str):
        # a factory, not `lambda x, t=t`: a second lambda param (even with a
        # default) makes pyspark bind it to the array INDEX overload
        return lambda x: x == term

    per_doc = docs.select(
        "doc_id",
        F.size(ws).cast("double").alias("dl"),
        *[
            F.size(F.filter(ws, _eq(t))).cast("double").alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # both the stats pass and the scoring pass read per_doc; checkpointing
    # the (1 + 1 + |Q|)-column numeric frame (~40 bytes/row vs the raw text)
    # means the fat text column is scanned and tokenized exactly ONCE
    per_doc = per_doc.localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("double")).alias(f"df{i}")
            for i in range(nt)
        ],
    )

    def term_score(i: int):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1.0
        )
        tf = F.col(f"tf{i}")
        denom = tf + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl"))
        return idf * tf * (k1 + 1.0) / denom

    score = F.round(sum(term_score(i) for i in range(nt)), 6)
    n_hit = sum((F.col(f"tf{i}") > 0).cast("int") for i in range(nt)).cast("int")
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", n_hit.alias("n_hit"), score.alias("bm25"))
        .filter(F.col("n_hit") > 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(k)
    )


@query("q_text_bm25", oracle=_bm25_oracle())
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed probe query over the whole corpus
    (Robertson/Sparck Jones probabilistic ranking, the Lucene-default
    non-negative idf = ln((N - df + 0.5)/(df + 0.5) + 1) variant).

    The plan is the reason BM25 belongs in a 100 TB engine: it needs NO
    inverted index and NO corpus shuffle. Per-document term frequencies for
    the |Q| probe terms and the document length are array expressions on the
    split text — a pure projection inside the one corpus scan. Corpus stats
    (N, avgdl, per-term df) are ONE 1-row global aggregate broadcast back,
    the score is arithmetic on the projected row, and top-k is
    TakeOrderedAndProject (per-partition partial top-20, O(k) to the
    driver). Zero wide exchanges end to end; ln()'s cross-engine ulp noise
    washes below the round(.,6) contract like every ln-scoring query here.
    """
    return bm25_topk(load_table(spark, sf_dir, "documents"))
