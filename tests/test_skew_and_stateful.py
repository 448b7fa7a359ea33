"""Salted-join equivalence + stateful streaming dedupe parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from syllabus_sense_spark.operators.skew import salted_join
from syllabus_sense_spark.streaming.stateful import stream_first_seen_dedupe
from syllabus_sense_spark.tables import load


def test_salted_join_matches_plain_join(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        l.join(o, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    salted = (
        salted_join(l, o, on="l_orderkey", salt=8)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert {(r.o_orderpriority, r.n) for r in plain} == {
        (r.o_orderpriority, r.n) for r in salted
    }


def test_stateful_first_seen_dedupe(spark, sf_dir):
    streamed = {
        (r.user_id, r.event_type): r.first_event_id
        for r in stream_first_seen_dedupe(spark, sf_dir, "t_firstseen").collect()
    }
    e = load(spark, sf_dir, "events")
    batch = {
        (r.user_id, r.event_type): r.first_event_id
        for r in e.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event_id"))
        .collect()
    }
    assert streamed == batch


def test_stateful_dedupe_state_survives_restart(spark, sf_dir, tmp_path):
    """applyInPandasWithState state is checkpoint-durable: after a
    stop/restart, (user, type) pairs already emitted in run 1 are NOT
    re-emitted when re-delivered in run 2."""
    from syllabus_sense_spark.streaming.stateful import stream_first_seen_dedupe_dir
    from syllabus_sense_spark.tables import load

    events_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    e = load(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "user_id",
        "event_type",
        "value", "props",
    )
    part1 = e.filter(F.col("event_id") % 2 == 0)
    (
        part1.select(
            "event_id", (F.col("us") * 1000).alias("ts"), "user_id",
            "event_type", "value", "props",
        ).coalesce(1).write.mode("overwrite").parquet(events_dir)
    )
    run1 = stream_first_seen_dedupe_dir(spark, events_dir, out_dir, ckpt)
    pairs1 = {(r.user_id, r.event_type) for r in run1.collect()}
    assert len(pairs1) == run1.count()  # no dup pairs within run 1

    # Run 2: re-deliver EVERYTHING (part1 again + the other half).
    (
        e.select(
            "event_id", (F.col("us") * 1000).alias("ts"), "user_id",
            "event_type", "value", "props",
        ).coalesce(1).write.mode("append").parquet(events_dir)
    )
    stream_first_seen_dedupe_dir(spark, events_dir, out_dir, ckpt)

    spark.catalog.clearCache()
    final = spark.read.parquet(out_dir)
    pairs_all = [(r.user_id, r.event_type) for r in final.collect()]
    # Exactly-once across restarts: every pair appears exactly once,
    # and run 1's pairs were not re-emitted.
    assert len(pairs_all) == len(set(pairs_all))
    assert pairs1 <= set(pairs_all)


def test_transform_with_state_running_stats(spark, sf_dir):
    """transformWithStateInPandas (Spark 4): the final Update-mode
    emission per user equals the batch groupBy count/sum. Skips when
    the runtime lacks protobuf (the state-server wire protocol)."""
    import pytest

    from syllabus_sense_spark.streaming.stateful2 import (
        protobuf_available,
        stream_running_user_stats,
    )

    if not protobuf_available():
        pytest.skip("google.protobuf not available in this runtime")

    # Update mode may emit a row per batch; keep each user's last.
    rows = stream_running_user_stats(spark, sf_dir, "t_runstats").collect()
    streamed = {}
    for r in rows:
        streamed[r.user_id] = (r.n_events, r.total_value)
    e = load(spark, sf_dir, "events")
    batch = {
        r.user_id: (r.n, r.total)
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(streamed) == set(batch)
    for uid, (n, total) in batch.items():
        sn, stotal = streamed[uid]
        assert sn == n
        assert abs(stotal - total) < 1e-6 * max(1.0, abs(total))


def test_state_partitions_sizes_by_input_and_restores(spark, sf_dir):
    """state_partitions pins the stream's state-store partition count
    to clamp(rows/250k, 8, 256) inside the block and restores the
    session value on exit — including on error."""
    from syllabus_sense_spark.streaming.drain import state_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with state_partitions(spark, sf_dir):
        # every harness sf dir is far below 250k*8 events -> floor of 8
        assert spark.conf.get(key) == "8"
    assert spark.conf.get(key) == before

    try:
        with state_partitions(spark, sf_dir):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before, "conf must restore on error"

    # unknown input size: session value left untouched
    with state_partitions(spark, "/nonexistent/dir"):
        assert spark.conf.get(key) == before
    assert spark.conf.get(key) == before
