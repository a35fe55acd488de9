"""Streaming parity layer (SURVEY.md §7.1 step 6).

The reference is a push-based streaming dataflow; this package re-expresses
its source/sink/stateful-window surface on Structured Streaming. Batch
remains the engine's primary mode (the north star is batch feature
computation); streaming uses the same FeatureTable semantics with bounded
``availableNow`` runs for deterministic testing.
"""

from ralf_spark.streaming.sinks import (
    decayed_upsert_batch,
    ewma_upsert_batch,
    foreach_batch_decayed_upsert,
    foreach_batch_enriched_write,
    foreach_batch_ewma_upsert,
    foreach_batch_gram_decontaminate,
    foreach_batch_minhash_screen,
    foreach_batch_gram_dedup,
    foreach_batch_index_add,
    foreach_batch_cms_append,
    foreach_batch_hll_append,
    foreach_batch_ivf_add,
    foreach_batch_kmv_append,
    foreach_batch_kv_upsert,
    foreach_batch_latest_upsert,
    foreach_batch_quality_log,
    foreach_batch_rq_append,
    cms_log_state,
    hll_log_state,
    kmv_log_state,
    rq_log_merge,
    rq_log_state,
    maintain_sketch_log,
    read_bucketed_state,
    run_bounded,
    write_console,
    write_memory,
    write_parquet,
)
from ralf_spark.streaming.sources import (
    EVENT_SCHEMA,
    KAFKA_MSGPACK_SCHEMA,
    KINESIS_WIRE_SCHEMA,
    decode_kafka_records,
    decode_kinesis_records,
    file_events,
    kafka_events,
    kinesis_events,
    rate_events,
)
from ralf_spark.streaming.chained import (
    chained_window_change,
    tws_available,
)
from ralf_spark.streaming.joins import (
    streaming_asof_enrich,
)
from ralf_spark.streaming.policies import (
    streaming_change_detection_filter,
)
from ralf_spark.streaming.windows import (
    streaming_sliding_count_window,
    streaming_tumbling_count_window,
)

__all__ = [
    "EVENT_SCHEMA",
    "KAFKA_MSGPACK_SCHEMA",
    "KINESIS_WIRE_SCHEMA",
    "decode_kafka_records",
    "decode_kinesis_records",
    "file_events",
    "kafka_events",
    "kinesis_events",
    "rate_events",
    "chained_window_change",
    "tws_available",
    "streaming_asof_enrich",
    "streaming_change_detection_filter",
    "decayed_upsert_batch",
    "ewma_upsert_batch",
    "foreach_batch_decayed_upsert",
    "foreach_batch_enriched_write",
    "foreach_batch_ewma_upsert",
    "foreach_batch_gram_decontaminate",
    "foreach_batch_minhash_screen",
    "foreach_batch_gram_dedup",
    "foreach_batch_index_add",
    "cms_log_state",
    "foreach_batch_cms_append",
    "foreach_batch_hll_append",
    "foreach_batch_kmv_append",
    "foreach_batch_rq_append",
    "hll_log_state",
    "kmv_log_state",
    "rq_log_merge",
    "rq_log_state",
    "maintain_sketch_log",
    "foreach_batch_ivf_add",
    "foreach_batch_kv_upsert",
    "foreach_batch_latest_upsert",
    "foreach_batch_quality_log",
    "read_bucketed_state",
    "run_bounded",
    "write_console",
    "write_memory",
    "write_parquet",
    "streaming_sliding_count_window",
    "streaming_tumbling_count_window",
]
