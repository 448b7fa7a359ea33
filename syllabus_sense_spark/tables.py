"""Loaders for the harness parquet tables.

Tables (see /root/repo/TESTDATA.md): region nation customer supplier
part orders lineitem events documents embeddings, one parquet file per
table under ``{sf_dir}/{name}.parquet``.

Scale posture: ``spark.read.parquet`` is the vectorized columnar scan;
Catalyst pushes filters and prunes columns into it, so every query in
this engine starts from a declarative scan — never a driver-side read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import TableNotFoundError
from .memo import clear as clear_load_cache  # noqa: F401 — audit entry point
from .memo import session_memo
from .session import tune

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Below this on-disk size we additionally ``persist()`` the table:
# at verification scale (sf0.01, whole dir < 2 MB) one in-memory copy
# amortizes the scan across every query; at bench/production scale the
# table exceeds the threshold and keeps the vectorized parquet scan
# with predicate pushdown — the plan that matters at 100 TB.
_PERSIST_MAX_BYTES = 4 * 1024 * 1024


def _disk_size(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path) if os.path.exists(path) else 0


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one harness table as a DataFrame."""
    if name not in TABLE_NAMES:
        raise TableNotFoundError(name, TABLE_NAMES)
    # Memoized per (applicationId, sf_dir, table): the correctness
    # driver runs ~100 queries against the same session + sf_dir, and
    # re-reading the parquet footer / re-analyzing the schema per query
    # is pure waste.
    path = os.path.join(sf_dir, f"{name}.parquet")

    def build() -> DataFrame:
        tune(spark)
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # TIMESTAMP(NANOS) read as long (see session.RUNTIME_CONF);
            # truncate to micros with integer division — double division
            # would lose precision above 2^53 ns.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df

    return session_memo(
        spark,
        sf_dir,
        f"table_{name}",
        build,
        persist=_disk_size(path) <= _PERSIST_MAX_BYTES,
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every harness table; also registers each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
