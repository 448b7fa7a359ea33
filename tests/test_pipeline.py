"""Flagship pipeline output contract (SURVEY.md §5.2) — the README
contract the reference promises (README.md:246-277, prompt contract
syllabus_ai_graph.py:220-231)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from syllabus_sense_spark.operators.sessionize import group_topics, sessionize_elements
from syllabus_sense_spark.pipeline.extract import (
    extract_subtopics,
    plan_questions,
)
from syllabus_sense_spark.pipeline.flagship import run_flagship
from syllabus_sense_spark.sinks import write_questions_parquet
from syllabus_sense_spark.sources.synthetic import filtered_elements


@pytest.fixture(scope="module")
def questions(spark, sf_dir):
    df = run_flagship(spark, sf_dir)
    df.cache()
    yield df
    df.unpersist()


def _topics(spark, sf_dir):
    sess = sessionize_elements(filtered_elements(spark, sf_dir), doc_col="sdoc_id")
    return group_topics(sess, doc_col="sdoc_id").withColumnRenamed("sdoc_id", "doc_id")


def test_choice_contract(questions):
    bad = questions.filter(
        (F.size("choices") != 4)
        | (F.size(F.filter(F.col("choices"), lambda c: c["is_correct"])) != 1)
    )
    assert bad.count() == 0


def test_nonempty_explanation_and_hint(questions):
    bad = questions.filter(
        (F.length("hint") == 0) | (F.length(F.col("solution.explanation")) == 0)
    )
    assert bad.count() == 0


def test_plan_question_bijection_and_difficulty(spark, sf_dir, questions):
    plan = plan_questions(extract_subtopics(_topics(spark, sf_dir)))
    p = plan.select("question_id", F.col("difficulty").alias("plan_difficulty"))
    j = questions.join(p, "question_id", "full")
    # Every generated question came from the plan with difficulty preserved
    # (the inner miss-drop join may drop plan rows, never invent questions).
    assert j.filter(F.col("difficulty").isNull() & F.col("plan_difficulty").isNotNull()).count() >= 0
    mismatched = j.filter(
        F.col("difficulty").isNotNull()
        & F.col("plan_difficulty").isNotNull()
        & (F.col("difficulty") != F.col("plan_difficulty"))
    )
    assert mismatched.count() == 0
    orphan_questions = j.filter(F.col("plan_difficulty").isNull())
    assert orphan_questions.count() == 0
    # No duplicate question ids.
    assert questions.count() == questions.select("question_id").distinct().count()


def test_plan_min_per_subtopic(spark, sf_dir):
    plan = plan_questions(extract_subtopics(_topics(spark, sf_dir)))
    per_sub = plan.groupBy("subtopic").count().collect()
    assert per_sub and all(r["count"] >= 9 for r in per_sub)


def test_extraction_failure_yields_empty(spark):
    # Topic with empty title → extraction returns no subtopics
    # (mirrors syllabus_ai_graph.py:88-90 failure→empty).
    topics = spark.createDataFrame(
        [(0, 1, "   ", [("paragraph", "x", None)])],
        "doc_id long, topic_id long, title string, "
        "elements array<struct<type:string,text:string,rows:array<array<string>>>>",
    )
    assert extract_subtopics(topics).count() == 0


def test_partitioned_append_sink(questions, tmp_path):
    path = str(tmp_path / "questions")
    write_questions_parquet(questions.limit(50), path)
    write_questions_parquet(questions.limit(50), path)  # append, not overwrite
    back = questions.sparkSession.read.parquet(path)
    assert back.count() == 100
    assert "topic" in back.columns
