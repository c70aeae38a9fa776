"""Tests for the wave-2 training-data pipeline operators
(operators/traindata.py): passage dedup, temperature mixing, product
quantization, and BPE merge training."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_worker_spark.operators.dedup import with_double_vec
from cdc_worker_spark.operators.ivf import kmeans_centroids_cached
from cdc_worker_spark.operators.traindata import (
    BOILER_MIN_DOCS,
    BPE_MERGES,
    SEG_WORDS,
    bpe_merges,
    pq_codes,
    q_docs_mix_temperature,
    q_emb_pq,
    q_text_bpe_vocab,
    q_text_passage_dedup,
)
from cdc_worker_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------ passage dedup


def test_passage_dedup_flags_planted_boilerplate(spark, tmp_path):
    """A 10-word segment planted verbatim in BOILER_MIN_DOCS docs is
    removed from each; unique segments are retained."""
    boiler = " ".join(f"b{i}" for i in range(SEG_WORDS))
    rows = []
    for d in range(BOILER_MIN_DOCS):
        uniq = " ".join(f"u{d}x{i}" for i in range(SEG_WORDS))
        rows.append((d, boiler + " " + uniq))
    rows.append((99, " ".join(f"z{i}" for i in range(SEG_WORDS))))
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(
        path + "/documents.parquet"
    )
    out = {
        r.doc_id: r
        for r in q_text_passage_dedup(spark, path).collect()
    }
    for d in range(BOILER_MIN_DOCS):
        assert out[d].n_seg == 2
        assert out[d].n_boiler == 1
        assert out[d].retained_ratio == 0.5
    assert out[99].n_boiler == 0 and out[99].retained_ratio == 1.0


def test_passage_dedup_fixture_invariants(spark):
    rows = q_text_passage_dedup(spark, SF).collect()
    docs = load_table(spark, SF, "documents").count()
    assert len(rows) == docs  # every doc reports, even 100%-retained ones
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_seg
        assert 0.0 <= r.retained_ratio <= 1.0


# ------------------------------------------------------- temperature mixing


def test_mix_temperature_weights_normalize_and_flatten(spark):
    rows = q_docs_mix_temperature(spark, SF).collect()
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.p_raw for r in rows) - 1.0) < 1e-4
    # α=0.5 compresses the distribution: every boost moves toward 1 from
    # the p_raw side (small sources boosted >1, large damped <1), and the
    # mixture is strictly flatter than the raw shares.
    for r in rows:
        if r.p_raw < 1.0 / len(rows):
            assert r.boost >= 1.0
        elif r.p_raw > 1.0 / len(rows):
            assert r.boost <= 1.0
    spread_raw = max(r.p_raw for r in rows) / min(r.p_raw for r in rows)
    spread_mix = max(r.mix_weight for r in rows) / min(
        r.mix_weight for r in rows
    )
    assert spread_mix <= spread_raw + 1e-9


# ---------------------------------------------------- product quantization


@pytest.mark.slow
def test_pq_assignment_matches_numpy_reference(spark):
    """Codes and sq_err agree with a numpy re-derivation against the SAME
    trained codebooks (training is deterministic and cached; this pins the
    assignment + error math, the part that runs at corpus scale)."""
    emb = with_double_vec(load_table(spark, SF, "embeddings"))
    coded = {r.vec_id: r for r in pq_codes(emb, f"{SF}/embeddings.parquet").collect()}
    raw = {
        r.vec_id: np.asarray(r.dv, dtype=np.float64)
        for r in emb.select("vec_id", "dv").collect()
    }
    dim = len(next(iter(raw.values())))
    m, sub_w = 4, dim // 4
    for j in range(m):
        sub = emb.select(
            "vec_id",
            F.slice("dv", j * sub_w + 1, sub_w).alias("dv"),
        ).withColumn("nrm", F.lit(0.0))
        cents = np.asarray(
            kmeans_centroids_cached(
                sub, cache_key=f"{SF}/embeddings.parquet#pq4x16s{j}", k=16, n_iters=2
            ),
            dtype=np.float64,
        )
        c_nrm = (cents * cents).sum(axis=1)
        for vid, v in raw.items():
            x = v[j * sub_w : (j + 1) * sub_w]
            d = (x @ x) + c_nrm - 2.0 * (cents @ x)
            assert coded[vid][f"code_{j}"] == int(np.argmin(d))
    # total sq_err equals the clamped sum of per-subspace minima
    for vid, v in raw.items():
        total = 0.0
        for j in range(m):
            sub = emb.select(
                "vec_id", F.slice("dv", j * sub_w + 1, sub_w).alias("dv")
            )
            cents = np.asarray(
                kmeans_centroids_cached(
                    sub.withColumn("nrm", F.lit(0.0)),
                    cache_key=f"{SF}/embeddings.parquet#pq4x16s{j}",
                    k=16,
                    n_iters=2,
                ),
                dtype=np.float64,
            )
            x = v[j * sub_w : (j + 1) * sub_w]
            d = (x @ x) + (cents * cents).sum(axis=1) - 2.0 * (cents @ x)
            total += max(float(d.min()), 0.0)
        assert coded[vid].sq_err == pytest.approx(total, rel=1e-9, abs=1e-9)


def test_pq_codes_fused_equals_multipass_form(spark):
    """r13: the single-Arrow-pass pq_assign_udf is BIT-equal to the
    per-subspace centroid_dists_udf chain it replaced — codes and sq_err,
    including the NULL / wrong-length row semantics (codes NULL, sq_err
    0.0). The length-32 vector fills two whole 16-wide subspaces of the
    64-dim space and is still unassignable in both forms."""
    emb = with_double_vec(load_table(spark, SF, "embeddings"))
    # plant a NULL vector and wrong-length vectors (same schema)
    bad_ids = (10_000_001, 10_000_002, 10_000_003)
    bad = spark.createDataFrame(
        [
            (10_000_001, "syn", None),
            (10_000_002, "syn", [1.0, 2.0]),
            (10_000_003, "syn", [0.5] * 32),
        ],
        "vec_id: long, label: string, dv: array<double>",
    ).withColumn("nrm", F.lit(0.0))
    emb = emb.select("vec_id", "label", "dv", "nrm").unionByName(bad)
    key = f"{SF}/embeddings.parquet"
    cols = ["vec_id", "code_0", "code_1", "code_2", "code_3", "sq_err"]
    fused = {
        r.vec_id: r
        for r in pq_codes(emb, key, fused=True).select(cols).collect()
    }
    multi = {
        r.vec_id: r
        for r in pq_codes(emb, key, fused=False).select(cols).collect()
    }
    assert set(fused) == set(multi) and len(fused) > len(bad_ids)
    for vid, f_row in fused.items():
        m_row = multi[vid]
        for c in cols[1:]:
            assert f_row[c] == m_row[c], (vid, c, f_row[c], m_row[c])
    # the planted bad rows: NULL codes, 0.0 error — in BOTH forms
    for vid in bad_ids:
        assert all(fused[vid][c] is None for c in cols[1:-1]), fused[vid]
        assert fused[vid].sq_err == 0.0


def test_pq_16_codewords_beat_one(spark):
    """Reconstruction with K=16 codewords per subspace must beat the
    trivial K=1 codebook (per-subspace mean) — the minimum bar for the
    Lloyd training to be doing anything."""
    emb = with_double_vec(load_table(spark, SF, "embeddings"))
    err16 = (
        pq_codes(emb, f"{SF}/embeddings.parquet", k=16)
        .agg(F.sum("sq_err"))
        .first()[0]
    )
    err1 = (
        pq_codes(emb, f"{SF}/embeddings.parquet", k=1)
        .agg(F.sum("sq_err"))
        .first()[0]
    )
    assert err16 < err1 * 0.9


def test_pq_query_shape(spark):
    rows = q_emb_pq(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.avg_sq_err >= 0.0
        assert 1 <= r.codes_used_s0 <= 16


# ------------------------------------------------------------- BPE training


def _python_bpe(word_counts: dict[str, int], n_merges: int):
    """Pure-Python reference: identical pair counting, tie-break, and
    greedy left-to-right merge application."""
    tbl = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for w, syms in tbl.items():
            c = word_counts[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (left, right), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        merges.append((rank, left, right, merged, cnt))
        for w, syms in tbl.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            tbl[w] = out
    return merges


def test_bpe_matches_python_reference(spark):
    docs = load_table(spark, SF, "documents")
    counts: dict[str, int] = {}
    for r in docs.select("text").collect():
        for w in r.text.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    expected = _python_bpe(counts, BPE_MERGES)
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in q_text_bpe_vocab(spark, SF).orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_bpe_handles_quoted_symbols(spark):
    # tokens containing SQL string-literal quotes must not break the
    # generated merge fold
    words = spark.createDataFrame(
        [("don't", 4), ("can't", 3)], "word: string, cnt: bigint"
    )
    merges = bpe_merges(words, n_merges=3)
    expected = _python_bpe({"don't": 4, "can't": 3}, 3)
    assert merges == expected


def test_bpe_incremental_matches_reference_deep():
    """The r12 in-driver incremental trainer (heap + occurrence index)
    must be BIT-EQUAL to the naive recount-every-round reference over a
    deep merge run — 300 merges on a synthetic corpus with heavy tails,
    ties, repeated characters, and quotes (no Spark: this pins the
    algorithm itself)."""
    import hashlib

    from cdc_worker_spark.operators.traindata import bpe_merges_incremental

    alphabet = "abcdefgh'"
    wc: dict[str, int] = {}
    for i in range(400):
        h = hashlib.md5(f"bpe-corpus:{i}".encode()).hexdigest()
        # words of length 2-12 over a small alphabet -> dense pair
        # collisions, plenty of exact count ties, aaa-style repeats
        w = "".join(alphabet[int(c, 16) % len(alphabet)] for c in h[: 2 + i % 11])
        wc[w] = wc.get(w, 0) + 1 + (i % 7)
    expected = _python_bpe(wc, 300)
    got = bpe_merges_incremental(list(wc.items()), 300)
    assert got == expected
    assert len(got) >= 100  # the corpus genuinely sustains deep merging


def test_bpe_distributed_fold_path_still_exact(spark):
    """driver_vocab_cap=0 forces the distributed per-round fold (the
    above-cap fallback) — it must stay bit-equal to the reference now
    that fixture-scale runs take the incremental path by default."""
    wc = {"don't": 4, "banana": 3, "bandana": 2, "aaaa": 5}
    words = spark.createDataFrame(
        list(wc.items()), "word: string, cnt: bigint"
    )
    assert bpe_merges(words, n_merges=6, driver_vocab_cap=0) == _python_bpe(
        wc, 6
    )


def test_bpe_handles_single_char_words(spark):
    words = spark.createDataFrame(
        [("a", 5), ("b", 3)], "word: string, cnt: bigint"
    )
    assert bpe_merges(words, n_merges=3) == []


def test_bpe_apply_matches_python_tokenizer(spark):
    """Per-source ws/BPE/char counts equal a pure-Python apply of the same
    learned merges (exact integers — no tolerance)."""
    from cdc_worker_spark.operators.traindata import q_text_bpe_apply

    docs = load_table(spark, SF, "documents")
    counts: dict[str, int] = {}
    per_src: dict[str, dict[str, int]] = {}
    for r in docs.select("source", "text").collect():
        for w in r.text.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
                d = per_src.setdefault(r.source, {})
                d[w] = d.get(w, 0) + 1
    merges = _python_bpe(counts, BPE_MERGES)
    tok_len: dict[str, int] = {}
    for w in counts:
        syms = list(w)
        for _, left, right, merged, _c in merges:
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            syms = out
        tok_len[w] = len(syms)
    got = {r.source: r for r in q_text_bpe_apply(spark, SF).collect()}
    assert set(got) == set(per_src)
    for src, wc in per_src.items():
        assert got[src].ws_tokens == sum(wc.values())
        assert got[src].bpe_tokens == sum(
            c * tok_len[w] for w, c in wc.items()
        )
        assert got[src].chars == sum(c * len(w) for w, c in wc.items())
        # BPE merges only ever shrink the symbol count
        assert got[src].bpe_tokens <= got[src].chars


def test_semdedup_drops_planted_duplicates(spark, tmp_path):
    """Plant exact + epsilon-perturbed copies of base vectors: SemDeDup
    must drop every copy (cos ≈ 1 to a smaller-id neighbor in the same
    cluster) and keep the originals."""
    import numpy as np

    from cdc_worker_spark.operators.traindata import semdedup_flags

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16).astype("float64")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    for i, v in enumerate(base[:10]):  # copies of the first 10, ids 100+
        noisy = v + 1e-6 * rng.randn(16)
        rows.append((100 + i, [float(x) for x in noisy]))
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    ).write.parquet(path)
    from cdc_worker_spark.operators.dedup import dot_col

    emb = (
        spark.read.parquet(path)
        .withColumn("dv", F.col("embedding"))
        .withColumn("nrm", dot_col(F.col("dv"), F.col("dv")))
    )
    flags = {r.vec_id: r.keep for r in semdedup_flags(emb, path, k=4).collect()}
    for i in range(100, 110):
        assert flags[i] is False, f"copy {i} not dropped"
    for i in range(40):
        assert flags[i] is True, f"original {i} wrongly dropped"


def test_semdedup_fixture_runs_clean(spark):
    from cdc_worker_spark.operators.traindata import q_dedup_semantic

    rows = q_dedup_semantic(spark, SF).collect()
    total = load_table(spark, SF, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == total  # every vector flagged once
    for r in rows:
        assert 0 <= r.n_kept <= r.n_vecs


def test_dsir_separates_target_language(spark):
    """The importance weight must rank the target slice above the rest on
    average: 'en' docs share the target's hashed-bigram distribution, so
    their mean log-ratio exceeds the non-en mean (the whole point of the
    estimator)."""
    from cdc_worker_spark.operators.traindata import q_docs_dsir

    docs = {
        r.doc_id: r.lang
        for r in load_table(spark, SF, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    rows = q_docs_dsir(spark, SF).collect()
    en = [r.dsir_logw for r in rows if docs[r.doc_id] == "en"]
    rest = [r.dsir_logw for r in rows if docs[r.doc_id] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_ivfpq_recall_against_exact(spark):
    """IVF-PQ (ADC + exact re-rank) recall@5 vs brute-force cosine — the
    same gate shape as q_sim_ann_ivf. The coarse stage shares the IVF
    centroids, so missing neighbors come only from bucket pruning or
    PQ shortlist truncation."""
    from cdc_worker_spark.operators.similarity import q_sim_cosine_topk
    from cdc_worker_spark.operators.traindata import q_sim_ann_ivfpq

    exact = {
        (r.q_id, r.c_id)
        for r in q_sim_cosine_topk(spark, SF).collect()
    }
    approx = {
        (r.q_id, r.c_id) for r in q_sim_ann_ivfpq(spark, SF).collect()
    }
    assert approx  # probes returned neighbors
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall {recall:.2f}"
    # every returned cosine must be exact (re-ranked), so any overlapping
    # (q, c) pair carries the same rounded similarity as the brute force
    exact_cos = {
        (r.q_id, r.c_id): r.cos_sim
        for r in q_sim_cosine_topk(spark, SF).collect()
    }
    for r in q_sim_ann_ivfpq(spark, SF).collect():
        if (r.q_id, r.c_id) in exact_cos:
            assert r.cos_sim == exact_cos[(r.q_id, r.c_id)]


def test_bpe_overlapping_merge_is_greedy_left_to_right(spark):
    # "aaaa" x1 with merge (a,a): greedy gives (aa)(aa), so round 2's top
    # pair is (aa, aa) — the classic overlap case.
    words = spark.createDataFrame(
        [("aaaa", 2), ("ab", 1)], "word: string, cnt: bigint"
    )
    merges = bpe_merges(words, n_merges=2)
    assert merges[0][1:4] == ("a", "a", "aa")
    # pair COUNTING sees all 3 adjacencies in "aaaa" (standard BPE counts
    # overlapping pairs) x2 words; APPLICATION is then non-overlapping
    assert merges[0][4] == 6
    assert merges[1][1:4] == ("aa", "aa", "aaaa")
    assert merges[1][4] == 2  # (aa)(aa) x2 — proves greedy L-to-R rewrite


# ------------------------------------------------------------ BM25 retrieval


def test_bm25_matches_python_reference(spark, tmp_path):
    """BM25 scores and ranking over a planted corpus equal a pure-Python
    reference implementation of the Lucene-default formula (idf =
    ln((N - df + 0.5)/(df + 0.5) + 1)) at the 6-dp contract."""
    import math

    from cdc_worker_spark.operators.traindata import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        q_text_bm25,
    )

    corpus = {
        0: "hash join vector hash filler one two three",
        1: "hash hash hash hash hash filler",
        2: "join vector pad pad pad pad pad pad pad pad pad pad",
        3: "nothing relevant here at all",
        4: "vector",
    }
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        list(corpus.items()), "doc_id: long, text: string"
    ).write.parquet(path + "/documents.parquet")

    docs = {d: [w for w in t.split(" ") if w] for d, t in corpus.items()}
    n = len(docs)
    avgdl = sum(len(ws) for ws in docs.values()) / n
    expected = {}
    for d, words in docs.items():
        score, hits = 0.0, 0
        for t in BM25_TERMS:
            tf = words.count(t)
            if tf == 0:
                continue
            hits += 1
            df = sum(1 for ws in docs.values() if t in ws)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            score += (
                idf * tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * ((1.0 - BM25_B) + BM25_B * len(words) / avgdl))
            )
        if hits:
            expected[d] = (hits, round(score, 6))

    out = q_text_bm25(spark, path).collect()
    assert [r.doc_id for r in out] == sorted(
        expected, key=lambda d: (-expected[d][1], d)
    )
    for r in out:
        assert (r.n_hit, r.bm25) == expected[r.doc_id], r.doc_id


def test_bpe_handles_backslash_symbols(spark):
    """Spark's SQL parser treats backslash as an escape inside string
    literals; a learned symbol containing (or ending in) a backslash must
    not yield an unterminated literal or a wrong match (ADVICE r6)."""
    vocab = {"a\\b": 4, "c\\": 3, "x\\'y": 2}
    words = spark.createDataFrame(
        list(vocab.items()), "word: string, cnt: bigint"
    )
    assert bpe_merges(words, n_merges=3) == _python_bpe(vocab, 3)
