"""Streaming-tier commit protocol of the JSONL Python DataSource
sink: per-epoch shards publish atomically, and a REPLAYED epoch
(Structured Streaming's at-least-once batch redelivery) publishes
nothing twice — the idempotent-commit contract that makes the sink
exactly-once end-to-end."""

from __future__ import annotations

import json
import os
import tempfile


def _read_rows(path):
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith("batch-") and name.endswith(".jsonl"):
            with open(os.path.join(path, name)) as f:
                rows += [json.loads(line) for line in f]
    return rows


def test_stream_drain_publishes_epoch_shards(spark):
    from syllabus_sense_spark.sources.jsonl_datasource import (
        register_jsonl_sink,
    )
    from syllabus_sense_spark.streaming.drain import drain

    register_jsonl_sink(spark)
    out = tempfile.mkdtemp(prefix="jsonl_stream_sink_")
    ckpt = tempfile.mkdtemp(prefix="jsonl_stream_ckpt_")

    src = tempfile.mkdtemp(prefix="jsonl_stream_src_")
    spark.range(50).selectExpr("id", "id * 3 AS trip").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    drain(
        spark.readStream.schema("id long, trip long")
        .parquet(src)
        .writeStream.format("jsonl_sink")
        .option("path", out),
        ckpt,
    )

    rows = _read_rows(out)
    assert sorted(r["id"] for r in rows) == list(range(50))
    assert all(r["trip"] == r["id"] * 3 for r in rows)
    # epoch marker published, no temp residue
    names = os.listdir(out)
    assert any(n.startswith("_batch-") and n.endswith(".committed") for n in names)
    assert not any(n.startswith(".tmp-") for n in names)


def test_replayed_epoch_is_idempotent(spark):
    """Re-delivering a committed epoch must not duplicate output."""
    from pyspark.sql.types import StructType

    from syllabus_sense_spark.sources.jsonl_datasource import (
        JsonlCommitMessage,
        JsonlStreamWriter,
    )

    out = tempfile.mkdtemp(prefix="jsonl_replay_")
    schema = (
        StructType()
        .add("id", "long")
    )
    w = JsonlStreamWriter({"path": out}, schema)

    class Row:
        def __init__(self, id):
            self.id = id

        def asDict(self):
            return {"id": self.id}

    # first delivery of epoch 7
    msg = w.write(iter([Row(1), Row(2)]))
    w.commit([msg], 7)
    first = sorted(os.listdir(out))
    assert any(n.startswith("batch-7-") for n in first)

    # replay: same epoch redelivered after a simulated failure
    msg2 = w.write(iter([Row(1), Row(2)]))
    w.commit([msg2], 7)
    second = sorted(os.listdir(out))
    assert second == first, "replayed epoch must publish nothing new"

    # a NEW epoch still publishes
    msg3 = w.write(iter([Row(3)]))
    w.commit([msg3], 8)
    assert any(n.startswith("batch-8-") for n in os.listdir(out))
