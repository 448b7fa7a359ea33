"""[EXT] Sentence-level readability stats — sentences per document,
words per sentence, the (log-free) skeleton of every readability
formula, per source. Sentences split on '. ' (the corpus convention;
a real pipeline swaps in an abbreviation-aware splitter at the same
seam); all ratios are exact integer ppm over summed counts, so the
per-source report is order-free.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

_READABILITY_ORACLE = """
WITH d AS (
  SELECT source,
         len(list_filter(string_split(text, '. '),
                         x -> length(x) > 0)) AS n_sents,
         len(list_filter(string_split(text, ' '),
                         x -> length(x) > 0)) AS n_words,
         length(text) AS n_chars
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_sents) AS BIGINT) AS n_sentences,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_words) * 1000000 // GREATEST(SUM(n_sents), 1)
            AS BIGINT) AS words_per_sentence_e6,
       CAST(SUM(n_chars) * 1000000 // GREATEST(SUM(n_words), 1)
            AS BIGINT) AS chars_per_word_e6
FROM d GROUP BY source
"""


@register("text_readability_stats", _READABILITY_ORACLE)
def text_readability_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.size(tokens("text", "\\. ")).alias("n_sents"),
        F.size(tokens("text")).alias("n_words"),
        F.length("text").alias("n_chars"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_sents").cast("bigint").alias("n_sentences"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.expr(
            "SUM(n_words) * 1000000 DIV GREATEST(SUM(n_sents), 1)"
        ).alias("words_per_sentence_e6"),
        F.expr(
            "SUM(n_chars) * 1000000 DIV GREATEST(SUM(n_words), 1)"
        ).alias("chars_per_word_e6"),
    )
