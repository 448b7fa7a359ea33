"""Custom stateful streaming operator: first-seen deduplication by key
via ``applyInPandasWithState`` (SURVEY.md §2 Table B "Streaming" row —
the per-key mutable state the reference threads through its State
object, recast as managed stream state).

Semantics: emit an event only the first time its (user_id, event_type)
pair is seen; state is the set of seen event_types per user, bounded
by the key domain (5 types), so state never grows past
n_users x n_types.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .drain import drain, drain_table
from .events import _event_stream

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("first_event_id", T.LongType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [T.StructField("seen_types", T.ArrayType(T.StringType()), True)]
)


def _dedupe(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    seen: set[str] = set(state.get[0]) if state.exists else set()
    out = []
    # A key's micro-batch may span several Arrow chunks whose event_ids
    # interleave, so "first seen" must be the min event_id per type over
    # the WHOLE batch — sorting each chunk independently would let a
    # later chunk's smaller event_id lose. One vectorized groupby-min
    # replaces the per-row loop.
    chunks = [pdf[["event_type", "event_id"]] for pdf in pdfs]
    if chunks:
        batch = pd.concat(chunks, ignore_index=True)
        firsts = (
            batch.groupby("event_type", as_index=False)["event_id"]
            .min()
            .sort_values("event_id")
        )
        for etype, eid in zip(firsts["event_type"], firsts["event_id"]):
            if etype not in seen:
                seen.add(etype)
                out.append(
                    {
                        "user_id": key[0],
                        "event_type": etype,
                        "first_event_id": int(eid),
                    }
                )
    state.update((sorted(seen),))
    yield pd.DataFrame(out, columns=[f.name for f in OUTPUT_SCHEMA.fields])


def stream_first_seen_dedupe(
    spark: SparkSession, sf_dir: str, query_name: str = "first_seen"
):
    """Drain the event stream, emitting each user's first event of
    each type. Returns the drained memory table."""
    events = _event_stream(spark, sf_dir).select("user_id", "event_type", "event_id")
    deduped = events.groupBy("user_id").applyInPandasWithState(
        _dedupe,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain_table(deduped, query_name, sf_dir)


def stream_first_seen_dedupe_dir(
    spark: SparkSession, events_dir: str, out_dir: str, checkpoint_dir: str
):
    """Checkpointed variant over an arbitrary event-file directory,
    writing a parquet sink: the state (seen types per user) must
    SURVIVE a stop/restart via the checkpoint, so re-delivered or
    late-arriving events never re-emit a (user, type) pair — the
    exactly-once contract of the reference's State threading, held
    across process restarts. Each call drains the files present and
    returns the sink; call again later for new files."""
    from pyspark.sql import functions as F

    raw = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        ).parquet(events_dir)
    )
    events = raw.withColumn(
        "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
    ).select("user_id", "event_type", "event_id")
    deduped = events.groupBy("user_id").applyInPandasWithState(
        _dedupe,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drain(
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )
    return spark.read.parquet(out_dir)


# --- running per-key counters (batch-invariant final state) ---------------

COUNTS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("cum_events", T.LongType(), False),
        T.StructField("cum_purchases", T.LongType(), False),
    ]
)

COUNTS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), True),
        T.StructField("n_purchases", T.LongType(), True),
    ]
)


def _running_counts(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user cumulative event/purchase counters. Each micro-batch
    emits the key's counters-so-far; the LAST emission per key equals
    the totals regardless of how the stream was batched — the
    batch-invariance that lets a drain of this operator be
    hash-checked against a plain batch GROUP BY (the per-batch interim
    rows are reduced away with max(), since counters are monotone)."""
    n_events, n_purch = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n_events += len(pdf)
        n_purch += int((pdf["event_type"] == "purchase").sum())
    state.update((n_events, n_purch))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "cum_events": n_events,
                "cum_purchases": n_purch,
            }
        ],
        columns=[f.name for f in COUNTS_OUTPUT_SCHEMA.fields],
    )


def stream_running_counts(
    spark: SparkSession, sf_dir: str, query_name: str = "running_counts"
):
    """Drain the event stream through the running-counter operator
    into a memory sink. Returns the drained table."""
    events = _event_stream(spark, sf_dir).select("user_id", "event_type")
    counts = events.groupBy("user_id").applyInPandasWithState(
        _running_counts,
        outputStructType=COUNTS_OUTPUT_SCHEMA,
        stateStructType=COUNTS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain_table(counts, query_name, sf_dir, "update")
