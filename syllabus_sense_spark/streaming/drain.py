"""The availableNow drain: the one place a streaming query is started,
waited on and stopped.

The reference drains its topic queue in a loop until nothing is left
(A6/A17, syllabus_ai_graph.py:285-318). Structured Streaming's
``trigger(availableNow=True)`` is that loop: process every file that
exists, then stop. ``drain`` owns the contract — trigger, checkpoint,
a bounded wait, and on timeout a stopped query plus a typed error —
so no caller waits by hand (an ``assert`` around the wait vanishes
under ``python -O``, and a failed wait that does not stop the query
keeps its sink name taken).

``drain_table`` is the memory-sink case: it sizes the stream's state
partitions to the input (``state_partitions``), drains into a
fixed-name table and returns ``spark.table(name)``. A fixed name
replaces the previous call's table instead of adding one.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..errors import StreamDrainTimeoutError
from ..queries._util import scratch_dir

DRAIN_TIMEOUT_S = 600


def drain(writer: DataStreamWriter, checkpoint: str | None = None) -> None:
    """Start ``writer`` with ``trigger(availableNow=True)`` and wait up
    to ``DRAIN_TIMEOUT_S`` for it to finish.

    ``checkpoint`` is for callers that own theirs (a restart resumes
    from it, or its state store is read back); every other drain gets
    a ``scratch_dir`` checkpoint. On timeout the query is stopped
    before :class:`StreamDrainTimeoutError` is raised.
    """
    q = (
        writer.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint or scratch_dir("drain_ckpt_"))
        .start()
    )
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise StreamDrainTimeoutError(q.name or str(q.id), DRAIN_TIMEOUT_S)


def drain_table(
    df: DataFrame, name: str, sf_dir: str, output_mode: str = "append"
) -> DataFrame:
    """Drain the streaming ``df`` into the memory table ``name``, with
    its state partitions sized to ``sf_dir``'s events, and return the
    table."""
    spark = df.sparkSession
    with state_partitions(spark, sf_dir):
        drain(df.writeStream.format("memory").queryName(name).outputMode(output_mode))
    return spark.table(name)


@contextlib.contextmanager
def state_partitions(spark: SparkSession, sf_dir: str):
    """Context manager sizing ``spark.sql.shuffle.partitions`` — which
    pins a NEW stream's state-store partition count at checkpoint
    creation — to the input volume, then restoring the session value.

    The stateful drains inherited the batch default (32), but a
    stream-stream join runs 4 state stores per partition and every
    micro-batch commits each one: at the sf1 probe the 128 store
    commits per batch, not row work, dominated (full-outer drain:
    6.2 s at 32 partitions, 3.4 s at 16, 2.6 s at 8 — same output;
    at sf0.1 the tumbling-hourly drain went 3.9 → 1.3 s and the
    session drain 2.7 → 1.2 s). Sizing by rows keeps both regimes
    honest: small drains stop paying fixed commit cost for empty
    partitions, and a 100 TB stream gets MORE partitions, not fewer
    (the cap is generous; at ~250k state rows per partition each store
    stays comfortably in executor memory). Only the streaming query
    planned inside the ``with`` block is affected — batch queries read
    the conf at their own execution time, and the session value is
    restored on exit.
    """
    from .events import event_rows  # events imports this module

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    total = event_rows(sf_dir)  # 0, unknown size: keep session value
    if total:
        spark.conf.set(key, str(max(8, min(256, total // 250_000))))
    try:
        yield
    finally:
        spark.conf.set(key, old)
