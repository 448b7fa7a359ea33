"""Spark 4 ``transformWithStateInPandas``: the arbitrary-stateful
successor to ``applyInPandasWithState`` (SPARK-49564). Demonstrated
as a per-user running-aggregate processor with a typed ValueState —
the shape a feature-store / online-metrics job takes: state is one
fixed-width row per key, emission is one updated row per key per
micro-batch.

Where the reference threads a whole mutable State object through its
graph (_base_syllabus_ai_graph_template.py, State model), this keeps
only the per-key reduction in managed store — bounded by the key
domain, checkpointable, and redistributable across executors at any
scale.

Environment gate: the transformWithState Python state-server protocol
speaks protobuf (``google.protobuf``), which is not in every runtime
image. ``stream_running_user_stats`` raises a clear error when the
dependency is missing; the equivalent semantics remain covered by the
``applyInPandasWithState`` operator in stateful.py, which has no such
dependency. The test suite skips (not fails) without protobuf.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

def protobuf_available() -> bool:
    """True when the runtime can host the transformWithState worker."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)


class RunningUserStats(StatefulProcessor):
    """ValueState accumulator: (count, sum) per user, emitted per
    batch in Update mode."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._agg = handle.getValueState("agg", _STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        n, total = (self._agg.get() or (0, 0.0)) if self._agg.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._agg.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    def close(self) -> None:
        pass


def stream_running_user_stats(
    spark: SparkSession, sf_dir: str, query_name: str = "running_user_stats"
):
    """Drain the event stream through the processor into a memory
    table and return it. The last emitted row per user equals the
    batch groupBy count/sum — asserted in tests."""
    from .drain import drain_table
    from .events import _event_stream

    if not protobuf_available():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf (Spark's "
            "state-server protocol); use stateful.stream_first_seen_dedupe's "
            "applyInPandasWithState path in runtimes without it"
        )
    events = _event_stream(spark, sf_dir).select("user_id", "value")
    stats = events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningUserStats(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state store; the conf is
    # pinned into the query at start, so scope the override to the
    # drain and restore the session default for the HDFS-backed
    # operators.
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        return drain_table(stats, query_name, sf_dir, "update")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
