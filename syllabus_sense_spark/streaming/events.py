"""Structured Streaming over the events stream (SURVEY.md §2 Table B
"Streaming" row; §7 step 7).

The reference's topic-at-a-time iterator + drain-the-queue loop
(A6/A17, syllabus_parser.py:97-116 + syllabus_ai_graph.py:285-318)
maps to a file-source ``readStream`` drained with
``trigger(availableNow=True)``: process everything that exists, then
stop — with watermarks bounding state exactly where the reference's
stuck-position safeguard bounded its loop.

Each ``stream_*`` builder drains through ``streaming.drain`` and
returns the drained table: a fixed-name memory table for the
aggregating streams, the written files for the pass-through
enrichment (its output is O(events)).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..session import tune
from .drain import drain, drain_table

EVENTS_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
# ts is timestamp_ntz, not timestamp: the plain ``timestamp[us]``
# parquet encoding (no tz annotation) surfaces as TIMESTAMP_NTZ from
# the batch loader, and the stream source must type-match tables.load
# exactly — an LTZ declaration is value-equal only while the session
# timezone is UTC, a latent mismatch for stream/batch unions.
EVENTS_SCHEMA_MICROS = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _event_stream(spark: SparkSession, sf_dir: str):
    """File-source stream of the events table.

    Streaming sources need a declared schema, and the harness parquet
    has shipped two physical encodings of ``ts`` (TIMESTAMP(NANOS),
    which session.RUNTIME_CONF surfaces as long, and plain
    ``timestamp[us]``) — so probe the batch-read schema once and
    branch, converting exactly like the batch loader (tables.load).
    """
    tune(spark)
    probe = (
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema
    )
    ts_type = next(f.dataType.simpleString() for f in probe if f.name == "ts")
    schema = EVENTS_SCHEMA_NANOS if ts_type == "bigint" else EVENTS_SCHEMA_MICROS
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_type == "bigint":
        # timestamp_micros yields LTZ; surface NTZ to match tables.load.
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return raw


def event_rows(sf_dir: str) -> int:
    """Row count of ``events.parquet`` from its footer (driver-side, no
    scan); 0 when the file is missing or is not Parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(f"{sf_dir}/events.parquet").metadata.num_rows
    except (OSError, pa.ArrowInvalid):
        return 0


def _with_event_time(df, col: str = "ts"):
    """Project the NTZ event-time column to TIMESTAMP (LTZ) at the
    watermark boundary: Spark's event-time machinery (withWatermark,
    window, session_window) requires LTZ and rejects NTZ. The session
    timezone is pinned UTC, so the cast is value-preserving — the same
    convention as queries/_util.epoch_us. Only stateful pipelines call
    this; pass-through streams keep NTZ for exact type parity with the
    batch loader."""
    return df.withColumn(col, F.col(col).cast("timestamp"))


def stream_window_counts(
    spark: SparkSession,
    sf_dir: str,
    query_name: str,
    duration: str,
    slide: str | None = None,
):
    """Event counts and exact value sums per ``F.window(ts, duration,
    slide)`` and event type, 2h watermark: tumbling windows when
    ``slide`` is None, overlapping ones (every event in
    duration/slide windows) otherwise."""
    events = _with_event_time(_event_stream(spark, sf_dir))
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", duration, slide), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return drain_table(agg, query_name, sf_dir, "complete")


def stream_session_windows(
    spark: SparkSession, sf_dir: str, query_name: str = "session_windows"
):
    """Native streaming sessionization: ``F.session_window`` with a
    30-minute gap and a watermark bounding session state — the
    streaming twin of the batch `events_session_window_native` query."""
    events = _with_event_time(_event_stream(spark, sf_dir))
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return drain_table(agg, query_name, sf_dir, "complete")


def stream_enrich_static_dim(spark: SparkSession, sf_dir: str, output_dir: str):
    """Stream-static broadcast enrichment: the event stream joins the
    static customer dimension per micro-batch — the canonical streaming
    lookup-join (the reference's A12 broadcast join, streaming form).

    The static side is a plain batch DataFrame re-resolved each
    micro-batch (so a dimension refresh between batches is picked up);
    broadcast keeps the join shuffle-free — stream state is ZERO
    because stream-static joins are stateless. Miss-drop (inner)
    mirrors the reference's behavior of skipping unmatched rows.

    The sink is parquet under ``output_dir``, read back: this stream
    emits O(|events|) rows (a pass-through enrichment, not an
    aggregate), so a memory sink would serialize the whole corpus
    through the driver — at the sf1 probe that single-threaded collect
    was 10 of the 11 s, and at 10x it is a driver OOM. Aggregating
    drains keep the memory sink (small state); every O(N)-output drain
    writes files executor-side.
    """
    from ..tables import load

    events = _event_stream(spark, sf_dir)
    dim = F.broadcast(
        load(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_nationkey").alias("nation_key"),
        )
    )
    cols = ["event_id", "user_id", "event_type", "ts", "customer_name", "nation_key"]
    enriched = events.join(dim, "user_id", "inner").select(cols)
    drain(
        enriched.writeStream.format("parquet")
        .option("path", output_dir)
        .outputMode("append")
    )
    return spark.read.parquet(output_dir).select(cols)


def stream_dedupe_within_watermark(
    spark: SparkSession, sf_dir: str, query_name: str = "dedup_wm"
):
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's state only until
    the watermark passes its event time, so at 100 TB/day the dedup
    state is a sliding window of keys, not the full history (the
    unbounded-history variant is a compaction job, not stream state).

    Duplicates are simulated by unioning the source with itself —
    i.e. the at-least-once delivery a real ingest bus exhibits; the
    output must equal the distinct input exactly.
    """
    ev = _with_event_time(_event_stream(spark, sf_dir)).select(
        "event_id", "user_id", "event_type", "ts"
    )
    at_least_once = ev.unionByName(
        _with_event_time(_event_stream(spark, sf_dir)).select(ev.columns)
    )
    deduped = at_least_once.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return drain_table(deduped, query_name, sf_dir)


def stream_view_purchase_join(
    spark: SparkSession, sf_dir: str, how: str, query_name: str
):
    """Stream-stream interval join of each view to the same user's
    purchases in ``(view_ts, view_ts + 1h]``, both sides watermarked
    2h, as join type ``how`` ("inner", "left_outer", "full_outer").
    In a full outer join an unmatched purchase has no view, so
    ``user_id`` comes from whichever side is present."""

    def side(event_type: str, id_col: str, user_col: str, ts_col: str):
        return (
            _with_event_time(_event_stream(spark, sf_dir))
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_col),
                F.col("user_id").alias(user_col),
                F.col("ts").alias(ts_col),
            )
            .withWatermark(ts_col, "2 hours")
        )

    views = side("view", "view_id", "user_id", "view_ts")
    purchases = side("purchase", "purchase_id", "p_user_id", "purchase_ts")
    user = F.col("user_id")
    if how == "full_outer":
        user = F.coalesce(user, F.col("p_user_id")).alias("user_id")
    joined = views.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id
            AND purchase_ts > view_ts
            AND purchase_ts <= view_ts + INTERVAL 1 HOUR
            """
        ),
        how,
    ).select("view_id", "purchase_id", user, "view_ts", "purchase_ts")
    return drain_table(joined, query_name, sf_dir)


def stream_session_windows_dynamic(
    spark: SparkSession, sf_dir: str, query_name: str = "session_windows_dynamic"
):
    """Streaming sessionization with a PER-EVENT gap (purchase keeps
    the session alive 60 minutes, anything else 30): the dynamic-gap
    form of ``F.session_window``, state-store session merging with
    per-event timeouts. Watermark bounds session state exactly as in
    the fixed-gap twin; the batch twin is
    queries/events24.events_sessionize_dynamic_gap."""
    events = _with_event_time(_event_stream(spark, sf_dir))
    gap = F.expr(
        "CASE WHEN event_type = 'purchase' THEN '60 minutes'"
        " ELSE '30 minutes' END"
    )
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "n_purchases",
        )
    )
    return drain_table(agg, query_name, sf_dir, "complete")
