from cdc_worker_spark.streaming.envelope import (
    ACCOUNT_CHILD_FIELDS,
    ACCOUNT_FIELDS,
    ENVELOPE_SCHEMA,
    account_payload_schema,
    decode_envelope,
)
from cdc_worker_spark.streaming.pipeline import (
    LatestWinsState,
    bootstrap_from_snapshot,
    merge_latest_wins,
    read_event_stream,
    run_cdc_pipeline,
    stale_topics,
)
from cdc_worker_spark.streaming.registry import (
    SchemaRegistry,
    TopicSchema,
    decode_multiplexed,
    decode_topic,
    resolve_new_ids,
    run_multiplexed_pipeline,
)
from cdc_worker_spark.streaming.scd2 import (
    Scd2State,
    run_scd2_pipeline,
)
from cdc_worker_spark.streaming.sinks import forward_events, run_forwarding_sink
from cdc_worker_spark.streaming.windows import (
    running_counters,
    session_counts,
    sliding_counts,
    stream_static_enrich,
    stream_stream_interval_join,
    tumbling_counts,
)

__all__ = [
    "ACCOUNT_CHILD_FIELDS",
    "ACCOUNT_FIELDS",
    "ENVELOPE_SCHEMA",
    "LatestWinsState",
    "Scd2State",
    "SchemaRegistry",
    "TopicSchema",
    "account_payload_schema",
    "bootstrap_from_snapshot",
    "decode_envelope",
    "decode_multiplexed",
    "decode_topic",
    "forward_events",
    "merge_latest_wins",
    "read_event_stream",
    "resolve_new_ids",
    "run_cdc_pipeline",
    "run_multiplexed_pipeline",
    "run_forwarding_sink",
    "run_scd2_pipeline",
    "running_counters",
    "session_counts",
    "sliding_counts",
    "stale_topics",
    "stream_static_enrich",
    "stream_stream_interval_join",
    "tumbling_counts",
]
