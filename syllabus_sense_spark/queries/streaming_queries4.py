"""Streaming batch 4 — last-writer-wins CDC upsert under the
harness, plus two non-streaming API-surface certifications that ride
in the same module wave: the `Observation` metrics API and the
pandas-on-Spark layer.

`streaming_upsert_latest_drain`: events stream → foreachBatch →
`sinks.upsert.upsert_versioned` (greatest (ts, event_id) wins per
(user, type) key) → read the table back. Because max-by-version is
associative/commutative with a total tiebreak, the final table is
independent of micro-batch boundaries — hash-checkable against the
batch latest-per-key oracle, certifying the streaming MERGE path
end-to-end (the streaming twin of `sink_upsert_cdc`).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..tables import load
from . import register
from ._util import cents, epoch_us, scratch_dir

_UPSERT_LATEST_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type
           ORDER BY epoch_us(ts) DESC, event_id DESC
         ) AS rn
  FROM events
)
SELECT user_id, event_type, CAST(us AS BIGINT) AS us,
       CAST(event_id AS BIGINT) AS event_id,
       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
FROM ranked WHERE rn = 1
"""


@register("streaming_upsert_latest_drain", _UPSERT_LATEST_ORACLE)
def streaming_upsert_latest_drain(spark, sf_dir):
    from ..sinks.upsert import upsert_versioned
    from ..streaming.drain import drain
    from ..streaming.events import _event_stream

    table = os.path.join(scratch_dir("upsert_lww_"), "latest")

    def apply_batch(batch_df, batch_id):
        changes = batch_df.select(
            "user_id",
            "event_type",
            epoch_us(F.col("ts")).alias("us"),
            "event_id",
            cents("value")
            .alias("cents"),
        )
        upsert_versioned(
            changes.sparkSession,
            table,
            changes,
            key_cols=["user_id", "event_type"],
            version_cols=["us", "event_id"],
            partition_col="event_type",
        )

    drain(_event_stream(spark, sf_dir).writeStream.foreachBatch(apply_batch))
    return spark.read.parquet(table).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        F.col("us").cast("bigint").alias("us"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("cents").cast("bigint").alias("cents"),
    )


_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS cents,
       CAST(MIN(o_custkey) AS BIGINT) AS min_custkey,
       CAST(MAX(o_custkey) AS BIGINT) AS max_custkey
FROM orders WHERE o_orderstatus = 'O'
"""


@register("observe_metrics_orders", _OBSERVE_ORACLE)
def observe_metrics_orders(spark, sf_dir):
    """The `Observation` API — metrics collected as a side effect of
    a real action (the observability hook production jobs attach to
    every write). The observed values themselves are the result
    surface here: re-emitted as a 1-row DataFrame (metadata-sized,
    the sanctioned driver-side shape) and hash-checked against the
    straight aggregate oracle, certifying that observe() sees exactly
    the rows the action processed (DISTINCT aggregates are rejected
    by the API, so the cardinality slot is min/max key bounds)."""
    from pyspark.sql import Observation

    obs = Observation("orders_metrics")
    df = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
        )
    )
    df.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["cents"]),
                int(m["min_custkey"]),
                int(m["max_custkey"]),
            )
        ],
        "n_rows long, cents long, min_custkey long, max_custkey long",
    )


_PANDAS_API_ORACLE = """
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS balance_cents
FROM customer GROUP BY c_mktsegment
"""


@register("pandas_api_customer_rollup", _PANDAS_API_ORACLE)
def pandas_api_customer_rollup(spark, sf_dir):
    """pandas-on-Spark (`pyspark.pandas`) — the migration layer for
    pandas codebases: groupby/agg written in pandas idiom, executed
    distributed, converted back to a Spark DataFrame. Money is cast
    to exact integer cents BEFORE entering the pandas API so the
    groupby sum is integer (the decimal discipline survives the API
    hop)."""
    import pyspark.pandas as ps

    cust = load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        cents("c_acctbal")
        .alias("cents"),
    )
    pdf = cust.pandas_api()
    out = (
        pdf.groupby("c_mktsegment")
        .agg(n_customers=("cents", "count"), balance_cents=("cents", "sum"))
        .reset_index()
    )
    return out.to_spark().select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("balance_cents").cast("bigint").alias("balance_cents"),
    )
