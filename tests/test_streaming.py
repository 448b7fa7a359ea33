"""Structured Streaming parity: the availableNow-drained streaming
aggregations must match their batch twins exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from syllabus_sense_spark.streaming import (
    stream_session_windows,
    stream_window_counts,
)
from syllabus_sense_spark.tables import load


def test_stream_hourly_matches_batch(spark, sf_dir):
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in stream_window_counts(spark, sf_dir, "t_hourly", "1 hour").collect()
    }
    e = load(spark, sf_dir, "events")
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in e.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .collect()
    }
    assert streamed == batch


def test_stream_sessions_match_batch_native(spark, sf_dir):
    streamed = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in stream_session_windows(spark, sf_dir, "t_sessions").collect()
    }
    e = load(spark, sf_dir, "events")
    batch = {
        (r.user_id, r["session_window"].start, r["session_window"].end): r.n_events
        for r in e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert streamed == batch


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The registered stream-stream interval join (each view matched to
    the same user's purchases in the following hour) equals the batch
    join with the query's own bounds: ``view_ts < purchase_ts <=
    view_ts + 1h``, so a purchase at the view's own timestamp does not
    match."""
    from syllabus_sense_spark.queries import QUERIES, load_all_queries
    from syllabus_sense_spark.tables import load

    load_all_queries()
    streamed = {
        (r.purchase_id, r.view_id)
        for r in QUERIES["streaming_interval_join_drain"](spark, sf_dir).collect()
    }

    e = load(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = {
        (r.purchase_id, r.view_id)
        for r in p.join(
            v,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_dedupe_within_watermark_exactly_distinct(spark, sf_dir):
    """The doubled (at-least-once) stream dedups back to exactly the
    distinct event set, with state bounded by the watermark."""
    from syllabus_sense_spark.streaming.events import stream_dedupe_within_watermark
    from syllabus_sense_spark.tables import load

    got = (
        stream_dedupe_within_watermark(spark, sf_dir, "dedup_wm_t")
        .selectExpr("COUNT(*) AS n", "COUNT(DISTINCT event_id) AS d")
        .collect()[0]
    )
    want = load(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got.n == got.d == want


def test_stream_static_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast dimension join equals the batch join
    (stateless per micro-batch, inner/miss-drop semantics)."""
    from syllabus_sense_spark.streaming import stream_enrich_static_dim

    streamed = {
        (r.event_id, r.customer_name, r.nation_key)
        for r in stream_enrich_static_dim(
            spark, sf_dir, str(tmp_path / "enrich")
        ).collect()
    }
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_nationkey").alias("nation_key"),
    )
    batch = {
        (r.event_id, r.customer_name, r.nation_key)
        for r in e.join(c, "user_id", "inner").collect()
    }
    assert streamed == batch
    assert len(streamed) > 0
