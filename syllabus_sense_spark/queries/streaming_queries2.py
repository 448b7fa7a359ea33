"""Driver-verifiable Structured Streaming, part 2: the stream-stream
interval join — the one streaming surface the round-4 battery did not
yet exercise as a CORRECTNESS row.

Stream-stream joins are the hardest stateful shape Spark streaming
offers: both sides buffer rows in state, and the time-range condition
plus watermarks are what let the engine evict state (a view can only
match purchases up to 1 hour later, so once the purchase-side
watermark passes view_ts + 1h the buffered view row is droppable).
Without the range condition the state would grow unboundedly — this
query is the canonical demonstration that the join is
production-safe at 100 TB/day event volumes.

Sound for the harness for the same reason as streaming_queries.py:
``availableNow`` over a static directory processes everything, inner
join results emit on match (watermarks govern state eviction, not
emission), so the drain equals the batch join exactly.
"""

from __future__ import annotations

from . import register
from ._util import scratch_dir

_SS_JOIN_ORACLE = """
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       v.user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts
FROM events v JOIN events p ON p.user_id = v.user_id
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@register("streaming_interval_join_drain", _SS_JOIN_ORACLE)
def streaming_interval_join_drain(spark, sf_dir):
    from ..streaming.events import stream_view_purchase_join

    return stream_view_purchase_join(
        spark, sf_dir, "inner", "harness_interval_join_drain"
    )


_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type, ts
FROM events
"""


@register("streaming_dedup_drain", _DEDUP_ORACLE)
def streaming_dedup_drain(spark, sf_dir):
    """Drain the bounded-state streaming dedup
    (streaming/events.py:stream_dedupe_within_watermark): the source
    unions the events stream with itself — the at-least-once delivery
    a real ingest bus exhibits — and
    ``dropDuplicatesWithinWatermark(event_id)`` must restore
    exactly-once output. State is bounded (keys are evictable once
    the watermark passes their event time), so at 100 TB/day the
    dedup holds a sliding window of keys, not the full history.

    event_id is unique in the source table, so the oracle is simply
    the table itself: every row exactly once, zero duplicates
    surviving, zero rows lost.
    """
    from ..streaming.events import stream_dedupe_within_watermark

    return stream_dedupe_within_watermark(spark, sf_dir, "harness_dedup_drain")


_FB_SINK_ORACLE = """
SELECT event_id, user_id, event_type, ts
FROM events
"""


@register("streaming_foreachbatch_sink_drain", _FB_SINK_ORACLE)
def streaming_foreachbatch_sink_drain(spark, sf_dir):
    """Drain the exactly-once ``foreachBatch`` parquet sink
    (streaming/exactly_once.py): events stream → idempotent batch
    writer (per-batch dynamic partition overwrite + commit ledger) →
    read the table back. foreachBatch is at-least-once, so the sink's
    idempotence is what makes the read-back equal the source table
    exactly — replayed batches overwrite their own partition instead
    of appending a second copy (crash-replay is exercised directly in
    tests/test_exactly_once.py; here the committed steady state is
    hash-checked against the batch table).
    """

    from ..streaming.drain import drain
    from ..streaming.events import _event_stream, _with_event_time
    from ..streaming.exactly_once import (
        idempotent_batch_writer,
        read_exactly_once_output,
    )

    out = scratch_dir("fb_sink_out_")
    ledger = scratch_dir("fb_sink_ledger_")
    ev = _with_event_time(_event_stream(spark, sf_dir)).select(
        "event_id", "user_id", "event_type", "ts"
    )
    drain(ev.writeStream.foreachBatch(idempotent_batch_writer(out, ledger)))
    return read_exactly_once_output(spark, out).select(
        "event_id", "user_id", "event_type", "ts"
    )
