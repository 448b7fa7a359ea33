"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual engine lives in ``syllabus_sense_spark/``; queries register
themselves in ``syllabus_sense_spark.queries`` with paired oracle SQL.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

from syllabus_sense_spark import queries as _q  # noqa: E402

_q.load_all_queries()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full syllabus pipeline (sessionize → extract →
    plan, carrying the subtopic context → batch → generate) at
    sf0.001."""
    from syllabus_sense_spark.pipeline import run_flagship

    return run_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_q.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; UDF-seam
    and heuristic queries are rows-only by design (SURVEY.md §2)."""
    return dict(_q.ORACLE)
