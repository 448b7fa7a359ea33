"""Streaming batch 3 — the Python DataSource STREAMING writer under
the harness: events stream → `jsonl_sink` stream tier (per-epoch
two-phase commit with idempotent publish,
sources/jsonl_datasource.py:JsonlStreamWriter) → JSONL shards read
back with an explicit schema and hash-checked against the batch
table. The read-back equals the source exactly BECAUSE the sink's
epoch markers make replayed micro-batches publish nothing — the
same exactly-once argument as `streaming_foreachbatch_sink_drain`,
now carried by the custom-connector surface itself (crash-replay is
unit-exercised in tests/test_jsonl_stream_sink.py).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from . import register
from ._util import scratch_dir

_PYDS_STREAM_ORACLE = """
SELECT event_id, user_id, event_type FROM events
"""


@register("streaming_pyds_jsonl_sink_drain", _PYDS_STREAM_ORACLE)
def streaming_pyds_jsonl_sink_drain(spark, sf_dir):
    from ..sources.jsonl_datasource import register_jsonl_sink
    from ..streaming.drain import drain
    from ..streaming.events import _event_stream

    register_jsonl_sink(spark)
    out = scratch_dir("pyds_stream_out_")
    ev = _event_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    drain(ev.writeStream.format("jsonl_sink").option("path", out))
    shards = os.path.join(out, "batch-*.jsonl")
    return (
        spark.read.schema("event_id long, user_id long, event_type string")
        .json(shards)
        .select("event_id", "user_id", "event_type")
    )


_STATEFUL_COUNTS_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM events GROUP BY user_id
"""


@register("streaming_stateful_counts_drain", _STATEFUL_COUNTS_ORACLE)
def streaming_stateful_counts_drain(spark, sf_dir):
    """Drain the ``applyInPandasWithState`` running-counter operator
    (streaming/stateful.py:stream_running_counts) and reduce its
    per-batch update rows to final per-user totals. The counters are
    monotone, so max() over the updates equals the last emission per
    key — batch-invariant, which is what makes a custom-stateful
    streaming query hash-checkable against a plain batch GROUP BY.
    First driver-visible evidence for the applyInPandasWithState
    surface (previously pytest-only via stream_first_seen_dedupe)."""
    from ..streaming.stateful import stream_running_counts

    return (
        stream_running_counts(spark, sf_dir, "harness_running_counts_drain")
        .groupBy("user_id")
        .agg(
            F.max("cum_events").cast("bigint").alias("n_events"),
            F.max("cum_purchases").cast("bigint").alias("n_purchases"),
        )
    )


_SLIDING_ORACLE = """
WITH doubled AS (
  SELECT date_trunc('hour', ts) - (g * INTERVAL 1 HOUR) AS window_start,
         event_type, value
  FROM events, UNNEST([0, 1]) AS t(g)
)
SELECT window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM doubled GROUP BY 1, 2
"""


@register("streaming_sliding_hourly_drain", _SLIDING_ORACLE)
def streaming_sliding_hourly_drain(spark, sf_dir):
    """Sliding 2h/1h windowed counts drained via availableNow
    (streaming/events.py:stream_window_counts). The batch oracle
    replays the overlap explicitly: every event contributes to the
    window starting at its truncated hour AND the one an hour before
    — the UNNEST([0,1]) double-count is exactly Spark's sliding
    window expansion."""
    from ..streaming import stream_window_counts

    return stream_window_counts(
        spark, sf_dir, "harness_sliding_drain", "2 hours", "1 hour"
    )
