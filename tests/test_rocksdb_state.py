"""RocksDB state store provider — the 100 TB streaming state backend.

The default HDFS-backed state store keeps every key in executor MEMORY
(plus checkpoint files): per-key latest-state over hundreds of millions of
CDC records blows the heap long before 100 TB. Spark ships the RocksDB
provider (on-disk, incremental-checkpoint) for exactly this; these tests
prove the engine's streaming operators — windowed aggs (watermark state),
streaming dedup, and the applyInPandasWithState counters — produce
IDENTICAL results under it, so flipping the provider is a config change,
not a semantics change.

Provider selection is per-query-start via the session conf; each test sets
it, runs an availableNow drain, and restores."""

from __future__ import annotations

from decimal import Decimal

import pytest

from cdc_worker_spark.streaming import decode_envelope
from cdc_worker_spark.streaming.pipeline import read_event_stream
from cdc_worker_spark.streaming.windows import running_counters, tumbling_counts

from tests.test_cdc_event_model import make_envelope
from tests.test_streaming import write_batch_file
from tests.test_streaming_windows import MIN, T0, drain

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_CONF = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture()
def rocksdb(spark):
    saved = spark.conf.get(_CONF, None)
    spark.conf.set(_CONF, ROCKSDB)
    yield
    if saved is None:
        spark.conf.unset(_CONF)
    else:
        spark.conf.set(_CONF, saved)


@pytest.fixture()
def stream(spark, tmp_path):
    write_batch_file(
        str(tmp_path / "in"), "b1.jsonl",
        [
            make_envelope(1, record_id="A", commit_ts=T0 + 1 * MIN),
            make_envelope(2, record_id="A", commit_ts=T0 + 10 * MIN),
            make_envelope(3, record_id="B", commit_ts=T0 + 50 * MIN),
        ],
    )
    write_batch_file(
        str(tmp_path / "in"), "b2.jsonl",
        [
            make_envelope(4, record_id="A", commit_ts=T0 + 65 * MIN),
            make_envelope(5, record_id="B", commit_ts=T0 + 70 * MIN),
        ],
    )
    return decode_envelope(
        read_event_stream(spark, str(tmp_path / "in"), max_files_per_trigger=1)
    )


def test_windowed_agg_under_rocksdb(spark, rocksdb, stream, tmp_path):
    """Watermarked tumbling windows with RocksDB-backed window state give
    the same windows/counts/offsets as the default provider's test."""
    out = drain(tumbling_counts(stream), tmp_path, mode="complete").collect()
    assert len(out) == 2
    assert sorted(r.n_events for r in out) == [2, 3]
    assert sorted(int(r.max_replay_id) for r in out) == [3, 5]
    # hard evidence the provider engaged: RocksDB checkpoints snapshot as
    # per-partition .zip archives; the HDFS provider writes .delta files
    import glob

    zips = glob.glob(str(tmp_path / "chk" / "state" / "**" / "*.zip"),
                     recursive=True)
    deltas = glob.glob(str(tmp_path / "chk" / "state" / "**" / "*.delta"),
                       recursive=True)
    assert zips and not deltas, (len(zips), len(deltas))


def test_stateful_counters_under_rocksdb(spark, rocksdb, stream, tmp_path):
    """applyInPandasWithState (arbitrary per-key state) runs on RocksDB and
    accumulates across micro-batches identically."""
    out = drain(running_counters(stream), tmp_path, mode="update").collect()
    final = {}
    for r in out:
        final[r.entity] = r
    assert final["Account"].received_event_count == 5
    assert final["Account"].last_replay_id == Decimal(5)


def test_streaming_dedup_under_rocksdb(spark, rocksdb, tmp_path):
    """dropDuplicatesWithinWatermark's dedup state behaves identically on
    RocksDB: an exact replay of replay_id 1 in a later batch is dropped."""
    write_batch_file(
        str(tmp_path / "in"), "b1.jsonl",
        [make_envelope(1, record_id="A", commit_ts=T0 + 1 * MIN),
         make_envelope(2, record_id="A", commit_ts=T0 + 2 * MIN)],
    )
    write_batch_file(
        str(tmp_path / "in"), "b2.jsonl",
        [make_envelope(1, record_id="A", commit_ts=T0 + 1 * MIN),  # replay
         make_envelope(3, record_id="B", commit_ts=T0 + 3 * MIN)],
    )
    stream = decode_envelope(
        read_event_stream(spark, str(tmp_path / "in"), max_files_per_trigger=1)
    )
    deduped = (
        stream.withWatermark("commit_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["replay_id"])
        .select("replay_id", "record_id")
    )
    out = drain(deduped, tmp_path).collect()
    assert sorted(int(r.replay_id) for r in out) == [1, 2, 3]
