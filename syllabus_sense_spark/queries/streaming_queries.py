"""Driver-verifiable Structured Streaming queries: each entry RUNS a
real streaming query (file source → ``streaming.drain`` → memory
sink) and returns the sink contents, paired with the equivalent BATCH
SQL as the DuckDB oracle — so streaming correctness carries a full
rows+schema+hash CORRECTNESS row, not just a pytest assertion.

Sound because ``trigger(availableNow=True)`` over a static directory
is deterministic: every file is processed exactly once, watermarks
never drop anything (all data is "on time" relative to the final
watermark), and the aggregates use the same exact-decimal discipline
as their batch twins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import register
from ._util import scratch_dir

_HOURLY_ORACLE = """
SELECT
  date_trunc('hour', ts) AS window_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register("streaming_tumbling_hourly_drain", _HOURLY_ORACLE)
def streaming_tumbling_hourly_drain(spark, sf_dir):
    from ..streaming import stream_window_counts

    return stream_window_counts(spark, sf_dir, "harness_hourly_drain", "1 hour")


_ENRICH_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type, e.ts,
       c.c_name AS customer_name,
       c.c_nationkey AS nation_key
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
"""


@register("streaming_static_enrich_drain", _ENRICH_ORACLE)
def streaming_static_enrich_drain(spark, sf_dir):
    """Drains to a PARQUET sink, not memory: the enrichment passes the
    whole event stream through (O(N) output rows), and a memory sink
    funnels all of it through the driver single-threaded — 10/11 s at
    the sf1 probe, an OOM at the next decade. Files are written
    executor-side in parallel and read back for the comparison.

    The sink directory comes from ``scratch_dir`` (bounded lifetime:
    per-process root, removed atexit, dead roots swept by the next
    process) — a bare mkdtemp per run left the full enriched corpus
    plus checkpoint behind every harness/bench invocation, unbounded
    /tmp growth at sf1. The returned DataFrame reads lazily from the
    path, so cleanup cannot happen before the caller collects —
    bounding, not immediate deletion, is the contract."""
    from ..streaming import stream_enrich_static_dim

    return stream_enrich_static_dim(spark, sf_dir, scratch_dir("enrich_drain_"))


_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_id
  FROM flagged
)
SELECT
  MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  user_id,
  COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


@register("streaming_session_windows_drain", _SESSION_ORACLE)
def streaming_session_windows_drain(spark, sf_dir):
    from ..streaming import stream_session_windows

    return stream_session_windows(spark, sf_dir, "harness_session_drain")


_DSV2_REPLAY_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(user_id AS BIGINT)) AS BIGINT) AS sum_user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


@register("streaming_dsv2_replay_drain", _DSV2_REPLAY_ORACLE)
def streaming_dsv2_replay_drain(spark, sf_dir):
    """Drain the custom DSv2 streaming Python DataSource
    (sources/events_stream_datasource.py): the events table replays in
    5000-row offset-tracked micro-batches, each planned into row-range
    partitions read executor-side via pyarrow; the running aggregate
    must equal the batch table exactly — proving the offset model loses
    and duplicates nothing across micro-batch boundaries.

    The one drain outside ``streaming.drain``: a PySpark 4.1 Python
    DataSource stream has no availableNow support (the Python API plans
    offsets per micro-batch), so the query runs on the default trigger
    and ``processAllAvailable`` waits until the source stops advancing;
    the ``finally`` stops it either way.
    """

    from ..sources.events_stream_datasource import register_events_replay
    from ..streaming.events import event_rows

    register_events_replay(spark)
    # Batch size scales with the table (parquet footer count, driver-
    # side, no scan): a FIXED 5000-row batch replays a 1M-row corpus
    # in 200 micro-batches and the per-batch planning/startup tax
    # dominates (247 s at the sf1 probe). The tax is ~1.1 s per batch
    # of pure Python-DataSource planning regardless of SF (the r10
    # sweep measured the drain FLAT at ~18 s for 16 batches at both
    # sf0.1 and sf1), so the batch count is pinned small: total//4
    # gives 4-5 micro-batches — several offset boundaries to prove
    # exactness across — and the total//2 cap keeps ≥2 batches even
    # at sf0.001's 1000-row table, so every verification SF exercises
    # at least one boundary.
    total = event_rows(sf_dir)
    batch_rows = max(min(5000, max(1, total // 2)), total // 4)
    events = (
        spark.readStream.format("events_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batchRows", str(batch_rows))
        .load()
    )
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("user_id").cast("bigint")).alias("sum_user_id"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "total_value"
        ),
    )
    name = "harness_dsv2_replay"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", scratch_dir("dsv2_replay_ckpt_"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")
