#!/usr/bin/env python
"""Per-batch label-maintenance overhead of the streaming ingest pipeline
at sf10 (VERDICT r09 next #5): the r9 chaos tests prove streaming labels
== batch recompute at fixture scale; this measures what that maintenance
COSTS per micro-batch at bench scale, with the same equality gate first.

Scenario (the steady state of a deployed corpus, mirroring
bench_incr_clusters): index + labels + corpus for 90% of sf10 documents
are materialized; the remaining 10% arrives as K jsonl micro-batches
through run_dedup_ingest_pipeline(near_policy="label"). Reported:

- per-batch wall (batch_sec) and the label-maintenance slice of it
  (label_sec: delta_near_pairs probe + reduced-CC fold + O(corpus)
  snapshot publish), mean/max and the label share;
- the equality gate: the stream-maintained read_cluster_labels snapshot
  must EQUAL connected_components(minhash_pairs(accepted corpus)) — a
  fast wrong label table is not a result.

    python scripts/bench_streaming_labels.py --sf-dir /root/repo/.fixtures/sf10
"""

from __future__ import annotations

import argparse
import json
import pathlib
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/repo/.fixtures/sf10")
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--driver-mem", default="16g")
    args = ap.parse_args()

    from cdc_worker_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("bench-streaming-labels", **{"spark.driver.memory": args.driver_mem})
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_worker_spark.operators.cluster_incr import DELTA_MOD, DELTA_REM
    from cdc_worker_spark.operators.dedup import (
        connected_components,
        minhash_pairs,
    )
    from cdc_worker_spark.operators.dedup_index import build_dedup_index
    from cdc_worker_spark.sources.tables import load_table
    from cdc_worker_spark.streaming.ingest import (
        fold_pending_labels,
        read_cluster_labels,
        run_dedup_ingest_pipeline,
        write_label_snapshot,
    )

    docs = load_table(spark, args.sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    is_delta = F.pmod(F.col("doc_id"), F.lit(DELTA_MOD)) == DELTA_REM
    base, delta = docs.filter(~is_delta), docs.filter(is_delta)
    n_docs, n_delta = docs.count(), delta.count()

    def run_scenario(
        label_cadence: int, label_buckets: int | None = None
    ) -> dict:
        workdir = tempfile.mkdtemp(prefix="bench_stream_labels_")
        index_dir = f"{workdir}/index"
        corpus_dir = f"{workdir}/corpus"
        in_dir = f"{workdir}/in"

        # bootstrap the steady state: index + corpus + published label
        # snapshot over the 90% base (migration price, reported once)
        t0 = time.perf_counter()
        build_dedup_index(base, index_dir)
        base.write.mode("overwrite").parquet(corpus_dir)
        write_label_snapshot(
            spark,
            index_dir,
            connected_components(minhash_pairs(base)),
            buckets=label_buckets,
        )
        base_build_sec = round(time.perf_counter() - t0, 3)

        # the 10% delta as K jsonl micro-batch files (one per trigger)
        delta.repartition(args.batches).write.mode("overwrite").json(in_dir)

        metrics: list[dict] = []
        t0 = time.perf_counter()
        query = run_dedup_ingest_pipeline(
            spark,
            input_dir=in_dir,
            index_dir=index_dir,
            corpus_dir=corpus_dir,
            rejects_dir=f"{workdir}/rejects",
            checkpoint_dir=f"{workdir}/ckpt",
            max_files_per_trigger=1,
            near_policy="label",
            batch_metrics=metrics,
            label_cadence=label_cadence,
            label_buckets=label_buckets,
        )
        query.awaitTermination()
        t_fin = time.perf_counter()
        finalized = fold_pending_labels(spark, index_dir, corpus_dir)
        finalize_sec = round(time.perf_counter() - t_fin, 3)
        stream_sec = round(t_fin - t0, 3)

        # equality gate FIRST: streaming-maintained labels == batch
        # recompute over the accepted corpus (near dups kept in label
        # mode, exact dups rejected)
        corpus = spark.read.parquet(corpus_dir)
        batch_labels = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(minhash_pairs(corpus)).collect()
        }
        stream_labels = {
            (r["doc_id"], r["cluster_id"])
            for r in read_cluster_labels(spark, index_dir).collect()
        }
        if batch_labels != stream_labels:
            raise SystemExit(
                f"cadence={label_cadence}: streaming labels != batch "
                f"recompute: {len(batch_labels ^ stream_labels)} rows"
            )
        shutil.rmtree(workdir, ignore_errors=True)

        batch_secs = [m["batch_sec"] for m in metrics]
        label_secs = [m["label_sec"] or 0.0 for m in metrics]
        return {
            "label_cadence": label_cadence,
            "label_buckets": label_buckets,
            "labels_equal": True,
            "n_batches": len(metrics),
            "stream_wall_sec": stream_sec,
            "batch_sec_mean": round(sum(batch_secs) / len(batch_secs), 3),
            "batch_sec_max": max(batch_secs),
            "label_sec_mean": round(sum(label_secs) / len(label_secs), 3),
            "label_sec_max": max(label_secs),
            "label_share_of_batch": round(
                sum(label_secs) / sum(batch_secs), 3
            ),
            "finalize_residue_sec": finalize_sec,
            "finalized_residue": bool(finalized),
            "base_build_once_sec": base_build_sec,
        }

    scenarios = [run_scenario(1), run_scenario(4), run_scenario(4, 16)]
    print(
        json.dumps(
            {
                "metric": "streaming_label_maintenance_per_batch_sec",
                "sf_dir": args.sf_dir,
                "n_base_docs": n_docs - n_delta,
                "n_delta_docs": n_delta,
                "scenarios": scenarios,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
