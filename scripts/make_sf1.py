#!/usr/bin/env python
"""Generate an sf1 fixture set (10x sf0.1) for scale validation.

The driver ships fixtures only up to sf0.1 (TESTDATA.md); every scale claim
beyond that was extrapolated. This builds a 10x set the same way
scripts/bench_scaling.py builds its 2x-8x shards — key-shifted unions of
sf0.1, each copy a disjoint self-consistent shard sharing the dim tables —
plus two content perturbations the scaling shards didn't need but a
CORRECTNESS run at 10x does:

- ``documents.text`` gets a per-copy marker token prepended (and n_chars
  adjusted), so copies are not verbatim clones: near-dup clusters stay
  fixture-sized instead of multiplying 10x (a 10x cluster means 100x
  candidate PAIRS — that would benchmark the fixture artifact, not the
  operator).
- ``embeddings.embedding`` is cyclically rotated per copy, which
  decorrelates copies (cosine between a vector and its rotation is ~random)
  for the same reason.

Copy 0 is byte-identical content to sf0.1, so every query keyed on low ids
(point lookups, probe sets) still finds its rows.

Usage: python scripts/make_sf1.py [--out /root/repo/.fixtures/sf1] [--factor 10]

Round 6 generalization (VERDICT r05 next #1): ``--factor 100`` builds the
sf10 set (~1.7 GB parquet) for the two-decade scale sweep; rotation-wrapped
embedding copies (factor > 64 dims) are sign-flipped so no copy clones
another.
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

BASE_SF = "/root/testdata/sf0.1"

from scripts.bench_scaling import COPY_STRIDE, KEY_SHIFTS  # noqa: E402


def build_sf1(spark, factor: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from cdc_worker_spark.sources.tables import TABLES, load_table

    for name in TABLES:
        base = load_table(spark, BASE_SF, name)
        shifts = KEY_SHIFTS[name]
        parts = []
        for i in range(factor if shifts else 1):
            df = base
            for col in shifts:
                df = df.withColumn(
                    col, (F.col(col) + F.lit(i * COPY_STRIDE)).cast("long")
                )
            if i > 0 and name == "documents":
                marker = F.lit(f"shard{i} ")
                df = df.withColumn(
                    "text", F.concat(marker, F.col("text"))
                ).withColumn(
                    "n_chars", F.col("n_chars") + F.length(marker)
                )
            if i > 0 and name == "embeddings":
                # rotate by i positions: slice(i+1..n) ++ slice(1..i)
                n = len(base.select("embedding").first()[0])
                rot = i % n
                if rot:
                    df = df.withColumn(
                        "embedding",
                        F.concat(
                            F.slice("embedding", rot + 1, n - rot),
                            F.slice("embedding", 1, rot),
                        ),
                    )
                if (i // n) % 2 == 1:
                    # factor > dim wraps the rotation; negate wrapped
                    # copies so no copy is a verbatim clone of another
                    # (cosine of v and -rot(v) is ~-cosine — decorrelated)
                    df = df.withColumn(
                        "embedding",
                        F.transform("embedding", lambda x: -x),
                    )
                wrap2 = i // (2 * n)
                if wrap2 > 0:
                    # factor > 2*dim wraps (rotation, sign) pairs too
                    # (first hit at factor>128): apply a deterministic
                    # per-wrap Rademacher mask (md5-derived ±1 per dim,
                    # ~half flipped) so wrapped copies decorrelate
                    # (cosine of v and mask*v is ~0) instead of cloning
                    import hashlib

                    mask = [
                        1.0
                        if int(
                            hashlib.md5(f"sfmask:{wrap2}:{d}".encode()).hexdigest()[:2],
                            16,
                        )
                        % 2
                        else -1.0
                        for d in range(n)
                    ]
                    df = df.withColumn(
                        "embedding",
                        F.zip_with(
                            "embedding",
                            F.array(*[F.lit(m) for m in mask]),
                            lambda x, m: x * m,
                        ),
                    )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        n_files = max(1, min(64, (out.count() + 49_999) // 50_000))
        out.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        print(f"  {name}: {out.count()} rows, {n_files} files", flush=True)


def build_planted_embeddings(
    spark, n_vectors: int, out_dir: str, k_clusters: int, sigma: float = 0.15,
    dim: int = 64,
) -> None:
    """Planted-neighborhood embeddings fixture (VERDICT r08 next #5).

    The rotation/sign/mask copies above deliberately DECORRELATE embedding
    copies, which leaves the sf10 vectors isotropic — there IVF-PQ
    recall@10 ~0.10 is the information floor (SCALE.md §r8), so the scale
    recall gate tests nothing for PQ. This writes an embeddings table with
    TWO planted tiers instead (a flat single tier leaves every cluster
    member equidistant, so top-k WITHIN a cluster is still pure noise and
    PQ still can't resolve it — measured 0.37@10):

    - k macro clusters: c = v % k, component center(c);
    - ~12-member micro neighborhoods inside each macro: m = v % M with
      M = k * max(1, n // (12 * k)) (so M % k == 0 keeps each micro inside
      one macro, and micro size stays ~12 at every n), component
      0.45 * sub(m);
    - per-vector noise 0.15 * noise(v).

    All components are deterministic xxhash64-derived U[-1,1] per
    dimension (JVM-side, no driver loop, no RNG state). Expected cosine:
    ~0.98 within a micro, ~0.82 within a macro, ~0 across macros — exact
    top-10 is the ~11 micro mates, so recall measures whether the index
    resolves real neighborhood structure."""
    from pyspark.sql import functions as F

    def u(*cols):
        # xxhash64 -> U[-1, 1] with ~2e6 distinct levels
        return (
            F.pmod(F.xxhash64(*cols), F.lit(2000001)) - F.lit(1000000)
        ) / F.lit(1000000.0)

    n_micro = k_clusters * max(1, n_vectors // (12 * k_clusters))
    ids = spark.range(n_vectors).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % k_clusters).cast("int").alias("label"),
        (F.col("id") % n_micro).cast("int").alias("_micro"),
    )
    dims = [
        (
            u(F.lit("pc"), F.col("label"), F.lit(d))
            + F.lit(0.45) * u(F.lit("pm"), F.col("_micro"), F.lit(d))
            + F.lit(sigma) * u(F.lit("pn"), F.col("vec_id"), F.lit(d))
        ).cast("float")
        for d in range(dim)
    ]
    emb = ids.select("vec_id", F.array(*dims).alias("embedding"), "label")
    n_files = max(1, min(64, (n_vectors + 49_999) // 50_000))
    emb.repartition(n_files).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    print(
        f"  embeddings (planted, k={k_clusters}, sigma={sigma}): "
        f"{n_vectors} rows, {n_files} files",
        flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/repo/.fixtures/sf1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument(
        "--planted-embeddings",
        type=int,
        default=None,
        metavar="K",
        help="write ONLY a planted-structure embeddings table with K "
        "clustered neighborhoods (factor x base row count) into --out — "
        "the ANN recall fixture; other tables are not generated",
    )
    args = ap.parse_args()

    from cdc_worker_spark.session import get_spark

    spark = get_spark(
        "make-sf1",
        **{"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    if args.planted_embeddings:
        from cdc_worker_spark.sources.tables import load_table

        base = load_table(spark, BASE_SF, "embeddings")
        n = base.count() * args.factor
        dim = len(base.select("embedding").first()[0])
        build_planted_embeddings(
            spark, n, args.out, args.planted_embeddings, dim=dim
        )
        print(f"planted embeddings at {args.out}")
        return
    build_sf1(spark, args.factor, args.out)
    print(f"sf1 fixtures at {args.out}")


if __name__ == "__main__":
    main()
