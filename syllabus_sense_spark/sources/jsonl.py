"""JSONL document-corpus source with corrupt-record quarantine.

Training-data dumps arrive as JSON-lines; at 100 TB a single malformed
line must never kill the job OR silently vanish. This source reads
with an explicit schema in PERMISSIVE mode and routes unparseable
lines to a `_corrupt_record` column, so the pipeline can count,
sample, and quarantine them as data (the same failure→empty discipline
as the DOCX source's per-document skip, but with the evidence kept).

Scale posture: JSON-lines is splittable, so Spark assigns line ranges
to tasks — a 100 TB dump parallelizes with no coordination. The schema
is declared, never inferred: inference would scan the corpus twice and
produce drifting types across dumps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import InvalidDocumentSourceError

CORRUPT_COL = "_corrupt_record"

DOCUMENT_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField(CORRUPT_COL, T.StringType(), True),
    ]
)


def read_documents_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENT_JSONL_SCHEMA,
) -> DataFrame:
    """Read a JSONL corpus with declared schema + quarantine column."""
    import os

    if "://" not in path and not os.path.exists(path):
        raise InvalidDocumentSourceError(path)
    if CORRUPT_COL not in schema.fieldNames():
        schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
        )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_corrupt_col, quarantined_raw_lines).

    Spark disallows queries whose referenced columns are ONLY the
    corrupt-record column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    RECORD_COLUMN) — the documented pattern is to cache the parsed
    frame first, which also makes the two outputs share one parse of
    the input instead of re-reading it per branch.

    The cache is never released, so this is only for callers that
    need both branches as frames. A caller with a single action on
    the clean rows uses ``observe_quarantine`` instead.
    """
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantined = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantined


def observe_quarantine(df: DataFrame, observation: Observation) -> DataFrame:
    """The clean rows of ``df`` (a ``read_documents_jsonl`` frame),
    with the line funnel recorded on ``observation`` — ``quarantined``
    and ``ingested`` counts — by the one action that consumes them.
    No cache and no extra job.

    The counts equal ``split_quarantine``'s only if that action reads
    every schema field: the JSON parser parses just the columns the
    plan reads, so a line that is corrupt in an unread field would
    pass as clean.
    """
    corrupt = F.col(CORRUPT_COL)
    return (
        df.observe(
            observation,
            F.count_if(corrupt.isNotNull()).alias("quarantined"),
            F.count_if(corrupt.isNull()).alias("ingested"),
        )
        .filter(corrupt.isNull())
        .drop(CORRUPT_COL)
    )
