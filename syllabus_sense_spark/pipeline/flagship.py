"""The flagship pipeline — the reference's whole program as one
DataFrame expression (SURVEY.md §3 "Spark recasting"). Building the
chain runs nothing; its one action (the sink write, or a count) is
one Spark execution, and it persists nothing between calls.

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
    plan (A9, carrying the subtopic context A12 looks up) → batch
    (A10/A11) → generate (A13).

    Shared by the batch flagship and the streaming drain
    (``streaming/flagship.py``), which feeds whole documents per
    micro-batch — the chain itself is oblivious to which. The result
    is lazy and self-contained: calls may be built, run and
    interleaved in any order.
    """
    sess = sessionize_elements(elements, doc_col=doc_col)
    topics = group_topics(sess, doc_col=doc_col)
    topics = topics.withColumnRenamed(doc_col, "doc_id")

    # A12 by construction: plan rows carry their subtopic's context,
    # so extraction (the model call) has one consumer and runs once,
    # unstored, and no join on subtopic_name (which repeats across
    # same-titled documents) can fan rows out.
    plan = plan_questions(
        extract_subtopics(topics, subject=subject), carry=("academic_class",)
    )

    # Spread batching + generation over every core (guide §4): the
    # plan stream is KBs of Arrow rows, so AQE's byte-based coalescing
    # (minPartitionSize=1m even with parallelism-first) would fold a
    # window exchange to 1-2 tasks and run the Python model-call
    # stand-in near-serial (1.80 → 1.19 s at sf0.1 with the fan-out).
    # An explicit-N repartition is exempt from AQE coalescing; N =
    # defaultParallelism scales with the cluster. Hashing on topic
    # keeps every core busy while topics outnumber cores, satisfies
    # the batching window's partitionBy("topic") (no second exchange),
    # and puts each topic in one task, so the partitioned sink writes
    # one file per topic, not one per topic per task.
    plan = plan.repartition(plan.sparkSession.sparkContext.defaultParallelism, "topic")
    batched = mark_batch_status(
        assign_batches(
            plan, batch_size=batch_size, group_cols=("topic",), order_col="question_id"
        )
    )
    return generate_questions(batched)


def run_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch flagship over the harness-derived element stream.

    Returns the generated-question DataFrame (QUESTION_SCHEMA).
    """
    return flagship_from_elements(filtered_elements(spark, sf_dir))
