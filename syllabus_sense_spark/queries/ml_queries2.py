"""[EXT] Feature-hashing vectorizer + behavioral diversity index —
two feature-engineering operators in the exact-integer style.

`ml_feature_hashing_vectors`: the hashing trick (Weinberger 2009) —
token → multiply-mod bucket over OUR hash family (48-bit md5
fingerprint reduced mod p before the multiply, the BIGINT-safe
idiom), counts per (doc, bucket). No vocabulary pass, no dictionary
broadcast — the property that makes it THE vectorizer at corpus
scale. Emitted as sparse rows (doc_id, bucket, cnt) for the top
documents by id (bounded output), collision behavior visible in the
data rather than hidden in a dense array.

`events_user_diversity_simpson`: Simpson concentration Σp² per user
over event types — the log-free diversity index (entropy's engine-
rounding problem never arises): integer Σcnt² and total², one
fixed-order IEEE floor-scaling to ppm. simpson=1e6 ⇔ single-type
user; 1/5 of 1e6 ⇔ uniform over 5 types.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

_N_BUCKETS = 16
_P = 2147483647
_K = 2654435761

_HASHING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                    x -> length(x) > 0)) AS tok
  FROM documents WHERE doc_id < 100
),
b AS (
  SELECT doc_id,
         ((CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT)
           % {_P}) * {_K}) % {_P} % {_N_BUCKETS} AS bucket
  FROM toks
)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM b GROUP BY doc_id, bucket
"""


@register("ml_feature_hashing_vectors", _HASHING_ORACLE)
def ml_feature_hashing_vectors(spark, sf_dir):
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.explode(tokens("text")).alias("tok"),
        )
    )
    bucket = F.expr(
        f"((CAST(conv(substring(md5(tok), 1, 12), 16, 10) AS BIGINT)"
        f" % {_P}) * {_K}) % {_P} % {_N_BUCKETS}"
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            "doc_id", F.col("bucket").cast("int").alias("bucket"), "cnt"
        )
    )


_SIMPSON_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY user_id, event_type
),
u AS (
  SELECT user_id,
         SUM(cnt * cnt) AS sum_sq,
         SUM(cnt) AS total,
         COUNT(*) AS n_types
  FROM c GROUP BY user_id
)
SELECT user_id,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(total AS BIGINT) AS n_events,
       CAST(FLOOR(CAST(sum_sq AS DOUBLE) * 1000000.0
                  / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)))
            AS BIGINT) AS simpson_ppm
FROM u
"""


@register("events_user_diversity_simpson", _SIMPSON_ORACLE)
def events_user_diversity_simpson(spark, sf_dir):
    c = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    u = c.groupBy("user_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return u.select(
        "user_id",
        F.col("n_types").cast("bigint").alias("n_types"),
        F.col("total").cast("bigint").alias("n_events"),
        F.expr(
            "CAST(FLOOR(CAST(sum_sq AS DOUBLE) * 1000000.0"
            " / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("simpson_ppm"),
    )
