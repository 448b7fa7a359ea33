"""The flagship pipeline — the reference's whole program as one
DataFrame expression (SURVEY.md §3 "Spark recasting"). One step is
eager: the subtopic dimension is checkpointed when the chain is
built, so building it runs extraction (the model call) as a job.

Reference control flow (graph + driver loop,
_base_syllabus_ai_graph_template.py:114-159):

    per topic: extract → plan → { select batch → generate → save →
    decide } until plan exhausted

Here: every per-topic / per-batch loop is group parallelism; Catalyst
is the plan build; the conditional loop edge (A17) does not exist
because all batches are materialized as groups of one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import rotate_checkpoint
from ..operators.batching import assign_batches, mark_batch_status
from ..operators.sessionize import group_topics, sessionize_elements
from ..sources.synthetic import filtered_elements
from .extract import extract_subtopics, generate_questions, plan_questions


def flagship_from_elements(
    elements: DataFrame,
    doc_col: str = "sdoc_id",
    subject: str = "chemistry",
    batch_size: int = 5,
) -> DataFrame:
    """The element→questions chain, given any (already filtered)
    element DataFrame: sessionize (A5) → topics (A7) → extract (A8) →
    plan (A9) → batch (A10/A11) → subtopic join (A12) → generate (A13).

    Shared by the batch flagship and the streaming drain
    (``streaming/flagship.py``), which feeds whole documents per
    micro-batch — the chain itself is oblivious to which.

    Building the chain runs one Spark job: extraction, checkpointed
    as the subtopic dimension. The result reads that per-call
    checkpoint, which the NEXT call releases
    (``memo.rotate_checkpoint``): run its action before invoking the
    chain again.
    """
    sess = sessionize_elements(elements, doc_col=doc_col)
    topics = group_topics(sess, doc_col=doc_col)
    topics = topics.withColumnRenamed(doc_col, "doc_id")

    # The subtopic dim feeds two branches (plan generation + the A12
    # context join), so it is materialized once and extraction (the
    # model call) runs once. A localCheckpoint, not a .cache(): AQE
    # cannot coalesce a shuffle inside a cached plan, and every empty
    # Python task pays a worker round trip; the checkpoint job is
    # sized by AQE. rotate_checkpoint frees the previous call's
    # blocks, so a session holds one generation.
    subtopics = rotate_checkpoint(
        "flagship_subtopics", extract_subtopics(topics, subject=subject).localCheckpoint()
    )
    plan = plan_questions(subtopics)
    batched = mark_batch_status(
        assign_batches(
            plan, batch_size=batch_size, group_cols=("topic",), order_col="question_id"
        )
    )

    # A12: broadcast lookup of subtopic context; inner join reproduces
    # the reference's miss-drop semantics (syllabus_ai_graph.py:199-201).
    context = subtopics.select("subtopic_name", "academic_class")
    enriched = batched.join(
        F.broadcast(context),
        batched.subtopic == context.subtopic_name,
        "inner",
    ).drop("subtopic_name")

    # Spread the generation stage over every core (guide §4): the
    # question-plan stream is KBs of Arrow rows here, so AQE's
    # byte-based coalescing (minPartitionSize=1m even with
    # parallelism-first) folds the upstream window exchange to 1-2
    # tasks and the Python model-call stand-in runs near-serial —
    # measured 1.80 → 1.19 s at sf0.1 with the explicit fan-out. An
    # explicit-N repartition is exempt from AQE coalescing; N =
    # defaultParallelism scales with the cluster. Hashing on topic
    # keeps every core busy while topics outnumber cores, and puts
    # each topic's rows in one task, so the partitionBy("topic") sink
    # writes one file per topic, not one per topic per task.
    enriched = enriched.repartition(
        enriched.sparkSession.sparkContext.defaultParallelism, "topic"
    )

    return generate_questions(enriched)


def run_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch flagship over the harness-derived element stream.

    Returns the generated-question DataFrame (QUESTION_SCHEMA).
    """
    return flagship_from_elements(filtered_elements(spark, sf_dir))


def save_questions(questions: DataFrame, path: str) -> None:
    """A14/A15: partitioned append sink — replaces the reference's
    whole-file JSON read-modify-write (file_output_manager.py:34-69,
    TODO at :49-50) with an idempotent-per-run, transactional
    partitioned write."""
    questions.write.partitionBy("topic").mode("append").parquet(path)
