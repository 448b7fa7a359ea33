"""Streaming flagship drain == batch flagship (SURVEY.md §7 step 7).

The element stream is written as one parquet file per document (whole
documents per file), streamed 2 files per micro-batch, and drained
with availableNow. The union of all micro-batch outputs must equal the
single-shot batch pipeline's output exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from syllabus_sense_spark.pipeline.flagship import flagship_from_elements
from syllabus_sense_spark.sources.synthetic import filtered_elements
from syllabus_sense_spark.streaming.flagship import stream_flagship_drain


def _question_key(df):
    return {
        (r.question_id, r.topic, r.sub_topic, r.difficulty, r.academic_class)
        for r in df.select(
            "question_id", "topic", "sub_topic", "difficulty", "academic_class"
        ).collect()
    }


def test_stream_drain_matches_batch(spark, sf_dir, tmp_path):
    elements = filtered_elements(spark, sf_dir)

    # One file per document: the micro-batch unit is whole documents.
    elements_dir = str(tmp_path / "elements")
    (
        elements.repartition("sdoc_id")
        .write.partitionBy("sdoc_id")
        .parquet(elements_dir)
    )

    out_dir = str(tmp_path / "questions")
    stream_flagship_drain(spark, elements_dir, out_dir, str(tmp_path / "ckpt"))

    # Partition-pruned read back; topic is a partition column.
    streamed = spark.read.parquet(out_dir)
    batch = flagship_from_elements(filtered_elements(spark, sf_dir))

    assert _question_key(streamed) == _question_key(batch)
    # The 4-choices/1-correct generation contract survives streaming.
    bad = streamed.filter(
        (F.size("choices") != 4)
        | (F.size(F.filter("choices", lambda c: c["is_correct"])) != 1)
    ).count()
    assert bad == 0


def test_stream_drain_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Re-running the drain against the same checkpoint processes
    nothing new: the file-source offsets commit to the checkpoint, so
    restarts never duplicate output (exactly-once sink effect for an
    idempotent-per-batch append)."""
    elements = filtered_elements(spark, sf_dir)
    elements_dir = str(tmp_path / "elements")
    (
        elements.repartition("sdoc_id")
        .write.partitionBy("sdoc_id")
        .parquet(elements_dir)
    )
    out_dir = str(tmp_path / "questions")
    ckpt = str(tmp_path / "ckpt")

    stream_flagship_drain(spark, elements_dir, out_dir, ckpt)
    n_first = spark.read.parquet(out_dir).count()

    stream_flagship_drain(spark, elements_dir, out_dir, ckpt)
    n_second = spark.read.parquet(out_dir).count()

    assert n_first > 0
    assert n_second == n_first
