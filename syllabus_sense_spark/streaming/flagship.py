"""Streaming variant of the flagship pipeline (SURVEY.md §7 step 7) —
the reference's incremental topic-at-a-time processing
(_base_syllabus_ai_graph_template.py:114-159) recast as a file-source
micro-batch drain.

Unit-of-work correctness: sessionization (A5) must see a document's
elements together — a topic must never straddle a micro-batch. The
reference guarantees this by pulling one complete topic per iteration;
here the file source guarantees it because each input file holds whole
documents and Spark assigns whole files to micro-batches
(``maxFilesPerTrigger``). Inside each micro-batch, ``foreachBatch``
runs the identical batch chain (``flagship_from_elements``) and
appends to a partitioned parquet sink (A14) — so streaming output ==
batch output, which ``tests/test_streaming_flagship.py`` asserts.
Each micro-batch is one Spark execution (the sink write) and stores
nothing, so a long drain holds no per-batch state between triggers.

At 100 TB this is the production ingest shape: new document dumps land
as files; ``availableNow`` drains the backlog with bounded state (no
cross-document state exists — sessionization is per-document), then
the same job tails new arrivals with a processing-time trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.flagship import flagship_from_elements
from ..session import tune

ELEMENT_STREAM_SCHEMA = (
    "sdoc_id long, element_idx long, element_type string, text string, "
    "rows array<array<string>>, is_topic_marker boolean"
)


def element_stream(spark: SparkSession, elements_dir: str) -> DataFrame:
    """File-source stream of syllabus elements; one file = whole
    documents, read at most 2 files per micro-batch to exercise the
    multi-batch path even on small fixtures."""
    tune(spark)
    return (
        spark.readStream.schema(ELEMENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "2")
        .parquet(elements_dir)
    )


def stream_flagship_drain(
    spark: SparkSession, elements_dir: str, out_dir: str, checkpoint_dir: str
):
    """Drain all pending element files through the flagship chain into
    a partitioned parquet sink (``streaming.drain``; a second call on
    the same checkpoint processes only files added since).

    The sink is the exactly-once writer: batch-id-keyed dynamic
    partition overwrite + commit ledger, so a micro-batch replayed
    after a crash between data write and checkpoint commit overwrites
    its own partition instead of appending a duplicate (the failure
    mode the reference's read-modify-write sink had, SURVEY.md §3)."""
    from .drain import drain
    from .exactly_once import idempotent_batch_writer

    write_batch = idempotent_batch_writer(
        out_dir,
        ledger_dir=checkpoint_dir + "-ledger",
        partition_cols=["topic"],
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(flagship_from_elements(batch_df), batch_id)

    drain(
        element_stream(spark, elements_dir).writeStream.foreachBatch(process_batch),
        checkpoint_dir,
    )


def drain_with_progress_guard(
    query,
    max_idle_polls: int = 3,
    poll_interval_s: float = 1.0,
    raise_on_stall: bool = False,
) -> bool:
    """Watch a running StreamingQuery and stop it once it stalls —
    the reference's stuck-cursor safeguard (A17,
    /root/reference/syllabus_ai_graph.py:306-312) recast for
    Structured Streaming.

    The reference breaks its generation loop when the batch cursor
    stops advancing between iterations; here the "cursor" is the
    stream's committed batch id + cumulative input rows. If neither
    advances across ``max_idle_polls`` consecutive polls, the query is
    stopped cleanly (returns False) or, with ``raise_on_stall=True``,
    :class:`~syllabus_sense_spark.errors.StreamStalledError` is raised
    after stopping. Returns True if the query terminated on its own
    (e.g. ``availableNow`` drained everything).

    This guards the *tail-new-arrivals* deployment mode
    (``trigger(processingTime=...)``) where Spark alone would poll an
    idle/stalled source forever.
    """
    import time as _time

    from ..errors import StreamStalledError

    def cursor():
        p = query.lastProgress
        if not p:
            return (-1, 0)
        return (p.get("batchId", -1), p.get("numInputRows", 0))

    last_batch, _ = cursor()
    idle = 0
    while query.isActive:
        _time.sleep(poll_interval_s)
        batch, rows = cursor()
        if batch != last_batch and rows > 0:
            # A new micro-batch committed and it carried data: the
            # cursor advanced — reset the stall counter.
            last_batch, idle = batch, 0
            continue
        last_batch = batch
        idle += 1
        if idle >= max_idle_polls:
            name = query.name or query.id
            query.stop()
            if raise_on_stall:
                raise StreamStalledError(str(name), idle)
            return False
    return True
