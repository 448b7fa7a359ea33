"""[EXT] Zipf rank-frequency profile — the second corpus-statistics
law check beside `text_vocab_growth` (Heaps): top-50 terms by
frequency with their rank and the rank·frequency product (constant
under ideal Zipf — drift in the product is the template-corpus /
boilerplate smell test, no logarithms needed).

ONE map-side-combined token count, then a top-k (TakeOrdered — never
a global sort of the vocabulary); total (freq DESC, token ASC) order
makes ranks deterministic.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

_TOP = 50

_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT UNNEST(list_filter(string_split(text, ' '),
                            x -> length(x) > 0)) AS tok
  FROM documents
),
freq AS (
  SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok
),
ranked AS (
  SELECT tok, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rank
  FROM freq
)
SELECT tok, CAST(rank AS BIGINT) AS rank, CAST(freq AS BIGINT) AS freq,
       CAST(rank * freq AS BIGINT) AS rank_freq_product
FROM ranked WHERE rank <= {_TOP}
"""


@register("text_zipf_profile", _ZIPF_ORACLE)
def text_zipf_profile(spark, sf_dir):
    toks = load(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    top = freq.orderBy(F.desc("freq"), F.asc("tok")).limit(_TOP)
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    return top.select(
        "tok",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.col("freq").cast("bigint").alias("freq"),
        (F.row_number().over(w) * F.col("freq"))
        .cast("bigint")
        .alias("rank_freq_product"),
    )


_STOPWORD_ORACLE = """
WITH docs AS (SELECT COUNT(*) AS n_docs FROM documents),
tok_docs AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_filter(string_split(text, ' '),
                            x -> length(x) > 0)) AS tok
  FROM documents
),
df AS (
  SELECT tok, COUNT(*) AS doc_freq FROM tok_docs GROUP BY tok
)
SELECT tok, CAST(doc_freq AS BIGINT) AS doc_freq,
       doc_freq * 1000000 // n_docs AS df_ppm,
       CAST(CASE WHEN 2 * doc_freq >= n_docs THEN 1 ELSE 0 END AS INT)
         AS is_stopword_candidate
FROM df CROSS JOIN docs
WHERE 10 * doc_freq >= n_docs
"""


@register("text_stopword_candidates", _STOPWORD_ORACLE)
def text_stopword_candidates(spark, sf_dir):
    """Corpus-driven stopword discovery — document frequency for every
    token present in ≥10% of documents, flagged as a stopword
    candidate at ≥50% (the data-dependent counterpart of
    `text_quality_scores`' fixed stopword list, and the source of the
    df caps the dedup family applies). The (doc, token) DISTINCT
    reduce is the inverted-index build's first half; output is
    bounded by the ≥10% df floor (a few hundred tokens at ANY corpus
    size — high-df tokens are scarce by Zipf)."""
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tok_docs = docs.select(
        "doc_id",
        F.explode(tokens("text")).alias("tok"),
    ).distinct()
    df = tok_docs.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (
        df.join(F.broadcast(n_docs))
        .filter(F.expr("10 * doc_freq >= n_docs"))
        .select(
            "tok",
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            F.expr("doc_freq * 1000000 DIV n_docs").alias("df_ppm"),
            F.expr(
                "CAST(CASE WHEN 2 * doc_freq >= n_docs THEN 1 ELSE 0 END"
                " AS INT)"
            ).alias("is_stopword_candidate"),
        )
    )
