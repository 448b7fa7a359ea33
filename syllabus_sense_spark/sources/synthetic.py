"""Deterministic synthetic syllabus-element stream.

The harness has no DOCX table, so the document-pipeline queries derive
a `syllabus_elements` stream (FIXTURES.md Part 1.1) from the
``documents`` table with pure relational expressions. Because the
derivation is SQL-expressible, every downstream pipeline operator
(sessionize, batch, join, union, limit) stays oracle-checkable — the
DuckDB side re-derives the identical stream via ``SQL_ELEMENTS``.

Shape (mirrors the reference fixture, SURVEY.md §0): N/8 synthetic
documents of ~62 elements each; ~1-in-13 elements is a topic marker
("Core element" + separator variants exercising the title strip,
syllabus_parser.py:86-93); ~1-in-11 is a table; ~1-in-29 is a
whitespace-only paragraph (must be dropped, syllabus_parser.py:61);
element_idx 0 rows form the pre-marker preamble (must be discarded,
syllabus_parser.py:147-149).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load

MARKER = "Core element"

# DuckDB CTE body re-deriving the identical stream (keep in lockstep
# with syllabus_elements below).
SQL_ELEMENTS = """
  SELECT
    doc_id % 8 AS sdoc_id,
    CAST((doc_id - doc_id % 8) / 8 AS BIGINT) AS element_idx,
    CASE WHEN CAST((doc_id - doc_id % 8) / 8 AS BIGINT) % 13 = 1 THEN 'paragraph'
         WHEN doc_id % 11 = 3 THEN 'table'
         ELSE 'paragraph' END AS element_type,
    CASE WHEN CAST((doc_id - doc_id % 8) / 8 AS BIGINT) % 13 = 1 THEN
           'Core element' ||
           CASE doc_id % 3 WHEN 0 THEN ' ' WHEN 1 THEN ' - ' ELSE ': ' END ||
           'Topic ' || CAST(doc_id AS VARCHAR)
         WHEN doc_id % 29 = 7 THEN '   '
         WHEN doc_id % 11 = 3 THEN NULL
         ELSE text END AS text,
    CASE WHEN CAST((doc_id - doc_id % 8) / 8 AS BIGINT) % 13 = 1 THEN TRUE
         ELSE FALSE END AS is_topic_marker
  FROM documents
"""


def syllabus_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document element, in document order (ELEMENT_SCHEMA
    plus ``is_topic_marker``; ``rows`` carried for table elements)."""
    d = load(spark, sf_dir, "documents")
    sdoc_id = (F.col("doc_id") % 8).alias("sdoc_id")
    element_idx = ((F.col("doc_id") - F.col("doc_id") % 8) / 8).cast("long")
    is_marker = element_idx % 13 == 1
    is_table = (~is_marker) & (F.col("doc_id") % 11 == 3)
    sep = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" "))
        .when(F.col("doc_id") % 3 == 1, F.lit(" - "))
        .otherwise(F.lit(": "))
    )
    marker_text = F.concat(
        F.lit(MARKER), sep, F.lit("Topic "), F.col("doc_id").cast("string")
    )
    text = (
        F.when(is_marker, marker_text)
        .when(F.col("doc_id") % 29 == 7, F.lit("   "))
        .when(is_table, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
    )
    element_type = F.when(is_table, F.lit("table")).otherwise(F.lit("paragraph"))
    # Table branch of the element union: 2 rows x 3 cells from the
    # source text (document_parser/data_types.py:113-118 shape).
    toks = F.split(F.col("text"), " ")
    rows = F.when(
        is_table, F.array(F.slice(toks, 1, 3), F.slice(toks, 4, 3))
    ).otherwise(F.lit(None).cast("array<array<string>>"))
    return d.select(
        sdoc_id,
        element_idx.alias("element_idx"),
        element_type.alias("element_type"),
        text.alias("text"),
        rows.alias("rows"),
        is_marker.alias("is_topic_marker"),
    )


def filtered_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elements after the reference's scan-time filters: drop
    whitespace-only paragraphs (A3, syllabus_parser.py:61); tables and
    markers pass through."""
    e = syllabus_elements(spark, sf_dir)
    keep = (F.col("element_type") == "table") | (
        F.coalesce(F.trim(F.col("text")), F.lit("")) != ""
    )
    return e.filter(keep)


# Matching filter clause for oracle SQL (applies on top of SQL_ELEMENTS).
SQL_FILTERED = (
    "element_type = 'table' OR coalesce(trim(text), '') <> ''"
)


# --- planned_questions stand-in (FIXTURES.md Part 1.4) ----------------------

SQL_PLAN = """
  SELECT
    'q' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS question_id,
    'Topic ' || CAST(doc_id % 8 AS VARCHAR) AS topic,
    source AS subtopic,
    CASE doc_id % 3 WHEN 0 THEN 'Easy' WHEN 1 THEN 'Medium' ELSE 'Hard' END
      AS difficulty,
    lang AS concept_area,
    'planned' AS status
  FROM documents
"""


def planned_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic `planned_questions` rows (PLANNED_QUESTION_SCHEMA)
    derived from ``documents`` — the SQL-expressible stand-in for the
    plan-generation LLM node (A9), so batching/join/status operators
    downstream stay oracle-checkable."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        F.concat(F.lit("q"), F.lpad(F.col("doc_id").cast("string"), 6, "0")).alias(
            "question_id"
        ),
        F.concat(F.lit("Topic "), (F.col("doc_id") % 8).cast("string")).alias("topic"),
        F.col("source").alias("subtopic"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("Easy"))
        .when(F.col("doc_id") % 3 == 1, F.lit("Medium"))
        .otherwise(F.lit("Hard"))
        .alias("difficulty"),
        F.col("lang").alias("concept_area"),
        F.lit("planned").alias("status"),
    )
