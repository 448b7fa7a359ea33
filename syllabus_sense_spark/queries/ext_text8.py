"""[EXT] Vocabulary growth (Heaps' law observation) — cumulative
distinct vocabulary as the corpus grows, the curve that sizes
tokenizer vocab budgets and detects template corpora (flat curve)
vs open-domain text (power-law growth).

Cumulative distinct is not a running aggregate, but it IS computable
in two exact reductions: each word TYPE enters the vocabulary at its
FIRST occurrence (min doc_id over its postings — one shuffle on the
token), so per doc-id bucket the number of newly-introduced types is
a plain count, and the cumulative vocabulary is a running sum over
the |buckets|-row table. Token mass per bucket rides along, so the
output is directly the (tokens seen, vocab size) Heaps curve in 10
points at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

_N_BUCKETS = 10

_VOCAB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                    x -> length(x) > 0)) AS tok
  FROM documents
),
maxid AS (SELECT MAX(doc_id) + 1 AS n_docs FROM documents),
firsts AS (
  SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
),
new_per_bucket AS (
  SELECT first_doc * {_N_BUCKETS} // n_docs AS bucket,
         COUNT(*) AS new_types
  FROM firsts CROSS JOIN maxid GROUP BY 1
),
mass_per_bucket AS (
  SELECT doc_id * {_N_BUCKETS} // n_docs AS bucket,
         COUNT(*) AS n_tokens
  FROM toks CROSS JOIN maxid GROUP BY 1
)
SELECT CAST(m.bucket AS INT) AS bucket,
       CAST(m.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(n.new_types, 0) AS BIGINT) AS new_types,
       CAST(SUM(COALESCE(n.new_types, 0)) OVER (
         ORDER BY m.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_vocab,
       CAST(SUM(m.n_tokens) OVER (
         ORDER BY m.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens
FROM mass_per_bucket m
LEFT JOIN new_per_bucket n ON n.bucket = m.bucket
"""


@register("text_vocab_growth", _VOCAB_ORACLE)
def text_vocab_growth(spark, sf_dir):
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(tokens("text")).alias("tok"),
    )
    maxid = load(spark, sf_dir, "documents").agg(
        (F.max("doc_id") + 1).alias("n_docs")
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    new_per_bucket = (
        firsts.join(F.broadcast(maxid))
        .groupBy(
            F.expr(f"first_doc * {_N_BUCKETS} DIV n_docs").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    mass_per_bucket = (
        toks.join(F.broadcast(maxid))
        .groupBy(F.expr(f"doc_id * {_N_BUCKETS} DIV n_docs").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        mass_per_bucket.join(new_per_bucket, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce(F.col("new_types"), F.lit(0)).alias("new_types"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("new_types").cast("bigint").alias("new_types"),
            F.sum("new_types").over(w).cast("bigint").alias("cum_vocab"),
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        )
    )


_NORM_HIST_ORACLE = """
WITH n AS (
  SELECT CAST(FLOOR(sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[])) * 10)
              AS BIGINT) AS norm_decibucket,
         label
  FROM embeddings
)
SELECT norm_decibucket,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
FROM n GROUP BY norm_decibucket
"""


@register("embedding_norm_histogram", _NORM_HIST_ORACLE)
def embedding_norm_histogram(spark, sf_dir):
    """Norm-distribution audit of the embedding corpus — the sanity
    gate before cosine pipelines (a wide norm spread means the
    vectors weren't normalized and dot-product shortcuts are
    invalid). Per-row fixed-order IEEE arithmetic only (unrolled dot,
    one sqrt, one floor) — no float aggregation, so the bucket
    histogram is exact."""
    from .ext_similarity import _dot_unrolled

    e = load(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    n = e.select(
        F.floor(F.sqrt(_dot_unrolled("v", "v")) * 10)
        .cast("bigint")
        .alias("norm_decibucket"),
        "label",
    )
    return n.groupBy("norm_decibucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.count_distinct("label").cast("bigint").alias("n_labels"),
    )
