"""[EXT] Curriculum staging + weighted sampling-without-replacement —
two more curation planners, both exact-integer and scale-shaped.

`training_curriculum_stages`: curriculum learning orders training
data easy→hard. The scale-honest form computes SORT KEYS, not
positions: difficulty (milli-chars-per-token — longer tokens ≈ harder
text, the cheap readability proxy) is bucketed into 4 stages by exact
quartile boundaries, and a deterministic md5 schedule key shuffles
within a stage. The writer then sorts by (stage, schedule_key) at
sink time; no query-side global sort, no NTILE over a single
partition — a data-scale global window would be the wrong plan at
100 TB, so the query never builds one. Quartile boundaries are one
ordered-set aggregate broadcast back (1 row — the allowlisted
scalar-broadcast shape).

`sample_priority_wor`: priority sampling (Duffield-Lund-Thorup,
"Priority sampling for estimation of arbitrary subset sums", JACM
2007) draws exactly k items per stratum WITHOUT replacement with
probability proportional to weight: priority = weight / u for
uniform u, keep the k largest. The integer surrogate
`(w << 20) DIV (1 + h)` with a 20-bit md5 hash h is monotone in w/u,
so the selection is the DLT rule with deterministic engine-portable
randomness — the repo's md5-device convention (cf. training_best_of_n
draws). Completes the sampling family: bernoulli = rate-based,
reservoir = uniform exactly-k, priority = weighted exactly-k.

Scale posture: curriculum is a pure map after one tiny aggregate
broadcast; priority sampling is one per-stratum top-k window (k rows
kept per partition — the standard rank-then-filter shape). percentile
trap honored: Spark's percentile_disc returns DOUBLE — cast back to
BIGINT (values are integers, cast exact; see SCALE.md exactness
notes). Reference anchor: none ([EXT] per SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import token_count
from ..tables import load
from . import register

_K = 25

_DIFF_DUCK = (
    "(n_chars * 1000) // len(list_filter(regexp_split_to_array(text, '\\s+'),"
    " x -> length(x) > 0))"
)

_CURRICULUM_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         CAST({_DIFF_DUCK} AS BIGINT) AS difficulty_milli,
         CAST(('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS schedule_key
  FROM documents
  WHERE len(list_filter(regexp_split_to_array(text, '\\s+'),
                        x -> length(x) > 0)) > 0
),
bounds AS (
  SELECT
    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY difficulty_milli)
         AS BIGINT) AS q1,
    CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY difficulty_milli)
         AS BIGINT) AS q2,
    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY difficulty_milli)
         AS BIGINT) AS q3
  FROM scored
)
SELECT s.doc_id, s.difficulty_milli,
       CAST(1 + (s.difficulty_milli > b.q1)::INT
              + (s.difficulty_milli > b.q2)::INT
              + (s.difficulty_milli > b.q3)::INT AS BIGINT) AS stage,
       s.schedule_key
FROM scored s CROSS JOIN bounds b
"""


@register("training_curriculum_stages", _CURRICULUM_ORACLE)
def training_curriculum_stages(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    n_toks = token_count("text").cast("long")
    scored = d.select(
        "doc_id",
        n_toks.alias("n_toks"),
        F.col("n_chars"),
    ).filter(F.col("n_toks") > 0).select(
        "doc_id",
        F.expr("(n_chars * 1000) DIV n_toks").alias("difficulty_milli"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cur:"), F.col("doc_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("schedule_key"),
    )
    # Spark's percentile_disc returns DOUBLE; values are integral, so
    # the BIGINT cast is exact (SCALE.md exactness notes).
    bounds = scored.agg(
        F.expr(
            "CAST(percentile_disc(0.25) WITHIN GROUP"
            " (ORDER BY difficulty_milli) AS BIGINT)"
        ).alias("q1"),
        F.expr(
            "CAST(percentile_disc(0.50) WITHIN GROUP"
            " (ORDER BY difficulty_milli) AS BIGINT)"
        ).alias("q2"),
        F.expr(
            "CAST(percentile_disc(0.75) WITHIN GROUP"
            " (ORDER BY difficulty_milli) AS BIGINT)"
        ).alias("q3"),
    )
    return scored.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "difficulty_milli",
        (
            F.lit(1)
            + (F.col("difficulty_milli") > F.col("q1")).cast("int")
            + (F.col("difficulty_milli") > F.col("q2")).cast("int")
            + (F.col("difficulty_milli") > F.col("q3")).cast("int")
        )
        .cast("long")
        .alias("stage"),
        "schedule_key",
    )


_PRIORITY_ORACLE = f"""
WITH weighted AS (
  SELECT lang, doc_id,
         GREATEST(n_chars, 1) AS weight,
         1 + (CAST(('0x' || substr(md5('pri:' || CAST(doc_id AS VARCHAR)),
                                   1, 5)) AS BIGINT)) AS u
  FROM documents
),
prio AS (
  SELECT lang, doc_id, weight,
         (weight * 1048576) // u AS priority
  FROM weighted
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY priority DESC, doc_id) AS rnk
  FROM prio
)
SELECT lang, doc_id, weight, priority, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_K}
"""


@register("sample_priority_wor", _PRIORITY_ORACLE)
def sample_priority_wor(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    # 20-bit hash → u in [1, 2^20]; priority = (w << 20) DIV u is
    # monotone in w/u, the DLT priority with deterministic randomness.
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pri:"), F.col("doc_id").cast("string"))),
                1,
                5,
            ),
            16,
            10,
        ).cast("long")
        + 1
    )
    weighted = d.select(
        "lang",
        "doc_id",
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("weight"),
        u.alias("u"),
    ).select(
        "lang",
        "doc_id",
        "weight",
        F.expr("(weight * 1048576) DIV u").alias("priority"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    return (
        weighted.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _K)
    )
