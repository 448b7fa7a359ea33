"""Output sinks (reference A14/A15: the pluggable output manager).

The reference's sink rewrites a whole JSON file per batch
(file_output_manager.py:34-69, acknowledged bottleneck at :49-50) and
routes output by topic (:43-44). Spark replaces both behaviors with
transactional partitioned appends; the sink interface (A15,
base_output_manager.py:6-13) is Spark's own DataSource API — these
helpers just fix the layout conventions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import InvalidOutputDirectoryError
from ..schemas import QUESTION_SCHEMA


def _validate_sink_dir(path: str) -> None:
    """Fail fast at the driver if the sink path is a file (A20:
    reference output managers validate the output directory up front,
    /root/reference/exceptions.py:13-18). Only local paths can be
    checked here; object-store URIs are validated by the committer."""
    if "://" not in path and os.path.exists(path) and not os.path.isdir(path):
        raise InvalidOutputDirectoryError(path)


def write_questions_parquet(questions: DataFrame, path: str) -> None:
    """Topic-partitioned append — the production sink. Idempotent per
    Spark job (task retries never duplicate), append across runs."""
    _validate_sink_dir(path)
    questions.write.partitionBy("topic").mode("append").parquet(path)


def write_questions_json(questions: DataFrame, path: str) -> None:
    """JSON-lines append sink — format parity with the reference's
    JSON files, without the read-modify-write loop."""
    _validate_sink_dir(path)
    questions.write.partitionBy("topic").mode("append").json(path)


def write_table_csv(df: DataFrame, path: str) -> None:
    """CSV export sink for downstream flat consumers (spreadsheets,
    loaders that don't speak parquet). CSV carries no nested types,
    so array/struct/map columns are bridged through ``to_json``
    strings — the reverse of ``read_table_csv``. Header on, explicit
    quoting; append mode like every other sink here."""
    _validate_sink_dir(path)
    flat = df.select(
        *[
            F.to_json(c).alias(c) if _is_nested(t) else F.col(c)
            for c, t in df.dtypes
        ]
    )
    flat.write.mode("append").option("header", True).option("escape", '"').csv(path)


def read_table_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read a ``write_table_csv`` export back to its typed form: scan
    with nested fields declared as strings, then ``from_json`` each
    back to the target type (malformed cells → null, matching the
    JSON sink's quarantine-not-crash posture)."""
    from pyspark.sql import types as T

    read_fields = [
        T.StructField(f.name, T.StringType() if _is_nested_type(f.dataType) else f.dataType,
                      True)
        for f in schema.fields
    ]
    raw = (
        spark.read.schema(T.StructType(read_fields))
        .option("header", True)
        .option("escape", '"')
        .csv(path)
    )
    return raw.select(
        *[
            F.from_json(f.name, f.dataType).alias(f.name)
            if _is_nested_type(f.dataType)
            else F.col(f.name)
            for f in schema.fields
        ]
    )


def _is_nested(dtype_str: str) -> bool:
    return dtype_str.startswith(("array", "struct", "map"))


def _is_nested_type(dt) -> bool:
    from pyspark.sql import types as T

    return isinstance(dt, (T.ArrayType, T.StructType, T.MapType))


def read_questions_json(spark: SparkSession, path: str) -> DataFrame:
    """Read the JSON sink back with the declared schema (A14's
    read-own-output path, file_output_manager.py:46-50 — but with an
    explicit schema instead of inference, so malformed rows surface
    as nulls rather than schema drift)."""
    # `topic` comes back as a partition directory column.
    schema_no_topic = [f for f in QUESTION_SCHEMA.fields if f.name != "topic"]
    from pyspark.sql import types as T

    return spark.read.schema(T.StructType(schema_no_topic)).json(path)
