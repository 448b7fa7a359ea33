"""[EXT] Preference-pair construction for RLHF/DPO — the curation
step that turns a scored candidate pool into (chosen, rejected)
training pairs, and its best-of-n sampling variant.

`training_preference_pairs`: candidates group by a prompt key (here
(lang, source) stands in for the prompt id); within each group the
highest- and lowest-quality candidates become the pair. Quality is an
exact integer (distinct whitespace-token count — the repo-standard
integer-exact quality proxy), and selection uses a PACKED integer
argmax: key = score·10^7 + doc_id, so MAX/MIN of one BIGINT give both
the winning doc and its score with a total order (doc_id breaks
ties) and zero window shuffles — one groupBy, engine-portable.

`training_best_of_n`: rejection / best-of-n sampling — per group,
draw n pseudo-random candidates (md5-hash order stands in for the
sampler, deterministic across engines) and keep the best-scoring of
the draw. The two-level selection (hash order for the DRAW, quality
for the PICK) is the actual best-of-n shape; both levels are packed
argmax/argmin aggregations.

Scale posture: everything reduces on the (bounded) prompt-group key
with map-side partial aggregation; the text scan is one projection.
At 100 TB the group key would be a real prompt id — same plan.
Reference anchor: the reference's difficulty ladder per topic
(syllabus_ai_graph.py:112) is the same group-then-select shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

_PACK = 10_000_000  # doc_id < 1e7 at every harness SF

# Exact integer quality: distinct whitespace tokens.
_SCORE_SQL = (
    "len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),"
    " x -> length(x) > 0)))"
)

_PREF_ORACLE = f"""
WITH scored AS (
  SELECT lang, source, doc_id,
         CAST({_SCORE_SQL} AS BIGINT) AS score
  FROM documents
),
packed AS (
  SELECT lang, source,
         MAX(score * {_PACK} + doc_id) AS kmax,
         MIN(score * {_PACK} + doc_id) AS kmin,
         COUNT(*) AS n_docs
  FROM scored
  GROUP BY lang, source
)
SELECT lang, source,
       kmax % {_PACK} AS chosen_doc,
       kmin % {_PACK} AS rejected_doc,
       kmax // {_PACK} AS chosen_score,
       kmin // {_PACK} AS rejected_score,
       kmax // {_PACK} - kmin // {_PACK} AS margin
FROM packed
WHERE n_docs >= 2
"""


@register("training_preference_pairs", _PREF_ORACLE)
def training_preference_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    score = F.size(
        F.array_distinct(tokens("text", r"\s+"))
    ).cast("long")
    key = score * _PACK + F.col("doc_id")
    packed = (
        d.select("lang", "source", key.alias("k"))
        .groupBy("lang", "source")
        .agg(
            F.max("k").alias("kmax"),
            F.min("k").alias("kmin"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return packed.select(
        "lang",
        "source",
        (F.col("kmax") % _PACK).alias("chosen_doc"),
        (F.col("kmin") % _PACK).alias("rejected_doc"),
        F.expr(f"kmax DIV {_PACK}").alias("chosen_score"),
        F.expr(f"kmin DIV {_PACK}").alias("rejected_score"),
        F.expr(f"kmax DIV {_PACK} - kmin DIV {_PACK}").alias("margin"),
    )


_N_DRAW = 4  # best-of-n draw size

# Draw order: md5 of the doc id — deterministic "randomness" shared
# by both engines (same device as the training shuffle queries).
_DRAW_SQL = f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"

_BESTOF_ORACLE = f"""
WITH scored AS (
  SELECT lang, source, doc_id,
         CAST({_SCORE_SQL} AS BIGINT) AS score,
         {_DRAW_SQL} AS draw
  FROM documents
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY draw, doc_id) AS rn
  FROM scored
),
best AS (
  SELECT lang, source,
         MAX(score * {_PACK} + doc_id) AS kbest,
         COUNT(*) AS n_drawn
  FROM ranked
  WHERE rn <= {_N_DRAW}
  GROUP BY lang, source
)
SELECT lang, source,
       kbest % {_PACK} AS best_doc,
       kbest // {_PACK} AS best_score,
       CAST(n_drawn AS BIGINT) AS n_drawn
FROM best
"""


@register("training_best_of_n", _BESTOF_ORACLE)
def training_best_of_n(spark, sf_dir):
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    score = F.size(
        F.array_distinct(tokens("text", r"\s+"))
    ).cast("long")
    draw = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = Window.partitionBy("lang", "source").orderBy("draw", "doc_id")
    drawn = (
        d.select(
            "lang", "source", "doc_id", score.alias("score"), draw.alias("draw")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _N_DRAW)
    )
    key = F.col("score") * _PACK + F.col("doc_id")
    return (
        drawn.groupBy("lang", "source")
        .agg(
            F.max(key).alias("kbest"),
            F.count(F.lit(1)).cast("bigint").alias("n_drawn"),
        )
        .select(
            "lang",
            "source",
            (F.col("kbest") % _PACK).alias("best_doc"),
            F.expr(f"kbest DIV {_PACK}").alias("best_score"),
            "n_drawn",
        )
    )
