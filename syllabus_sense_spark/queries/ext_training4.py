"""[EXT] Training/inference ops batch 4:

- ``batch_by_length_buckets``: length-bucketed micro-batching for
  inference/training — group documents of similar token counts so
  per-batch padding waste is bounded. Quartile bucket edges come from
  one tiny aggregate (``percentile_disc``, broadcast back as a 1-row
  cross join — the scalar-subquery shape); batch ids are a row_number
  window *within* each bucket, so no global sort and batches of
  similar-length docs form in parallel per bucket.

- ``bpe_first_merge_pairs``: the inner step of BPE tokenizer training
  as a distributed aggregate — count adjacent character pairs across
  the corpus (weighted by occurrence), surfacing the top merge
  candidates. Shape: tokens explode to (pos, pos+1) char pairs via
  pure array expressions, one map-side-combining groupBy on the
  (bounded, vocabulary-sized) pair key. At 100 TB this is exactly how
  a BPE vocab is trained: repeat (count pairs → pick top merge →
  re-segment), each round one aggregate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

_BATCH_SIZE = 16

_BUCKET_ORACLE = f"""
WITH docs AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0))
              AS BIGINT) AS n_tokens
  FROM documents
),
edges AS (
  SELECT quantile_disc(n_tokens, 0.25) AS q1,
         quantile_disc(n_tokens, 0.50) AS q2,
         quantile_disc(n_tokens, 0.75) AS q3
  FROM docs
),
bucketed AS (
  SELECT d.doc_id, d.n_tokens,
         CASE WHEN d.n_tokens <= e.q1 THEN 0
              WHEN d.n_tokens <= e.q2 THEN 1
              WHEN d.n_tokens <= e.q3 THEN 2
              ELSE 3 END AS bucket
  FROM docs d CROSS JOIN edges e
)
SELECT doc_id, n_tokens, CAST(bucket AS INT) AS bucket,
       CAST((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n_tokens, doc_id) - 1)
            // {_BATCH_SIZE} AS BIGINT) AS batch_id
FROM bucketed
"""


@register("batch_by_length_buckets", _BUCKET_ORACLE)
def batch_by_length_buckets(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.size(tokens("text"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    edges = docs.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_tokens)").alias("q1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY n_tokens)").alias("q2"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_tokens)").alias("q3"),
    )
    bucketed = docs.crossJoin(F.broadcast(edges)).select(
        "doc_id",
        "n_tokens",
        F.when(F.col("n_tokens") <= F.col("q1"), 0)
        .when(F.col("n_tokens") <= F.col("q2"), 1)
        .when(F.col("n_tokens") <= F.col("q3"), 2)
        .otherwise(3)
        .cast("int")
        .alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("n_tokens", "doc_id")
    return bucketed.select(
        "doc_id",
        "n_tokens",
        "bucket",
        F.floor((F.row_number().over(w) - 1) / _BATCH_SIZE)
        .cast("bigint")
        .alias("batch_id"),
    )


_BPE_ORACLE = """
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> length(x) > 1)) AS tok
  FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(tok)),
                               i -> substr(tok, i, 2))) AS pair
  FROM toks
)
SELECT pair,
       substr(pair, 1, 1) AS left_sym,
       substr(pair, 2, 1) AS right_sym,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC
LIMIT 20
"""


@register("bpe_first_merge_pairs", _BPE_ORACLE)
def bpe_first_merge_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(tokens("text"), lambda x: F.length(x) > 1)
        ).alias("tok")
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select(
            "pair",
            F.substring("pair", 1, 1).alias("left_sym"),
            F.substring("pair", 2, 1).alias("right_sym"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(20)
    )


