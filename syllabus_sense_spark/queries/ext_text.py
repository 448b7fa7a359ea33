"""[EXT] Text-analysis operators for a training-data pipeline
(BASELINE.json north star): quality scoring, token statistics,
document fingerprinting, exact deduplication, language stats.

Everything here is JVM-side built-ins (split/filter/length/md5) —
these run at full codegen speed over 100 TB of text; no Python in the
hot path. The heuristic language-ID (genuinely non-relational) lives
in functions/text.py behind a rows-only query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

# Tiny fixed stopword list shared with the oracle (the vocabulary of
# the synthetic corpus is engine/SQL words).
STOPWORDS = ("the", "a", "data", "row", "key")
_SW_SQL = "('the', 'a', 'data', 'row', 'key')"

_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT
    doc_id,
    lang,
    text,
    length(text) AS n_chars_exact,
    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
  FROM documents
)
SELECT
  doc_id,
  lang,
  n_chars_exact,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_token_len,
  CAST(len(list_filter(toks, x -> x IN {_SW_SQL})) AS DOUBLE) / len(toks)
    AS stopword_ratio,
  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS lexical_diversity
FROM t
"""


@register("text_quality_scores", _QUALITY_ORACLE)
def text_quality_scores(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_exact"),
        n_tokens.cast("long").alias("n_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_tokens
        ).alias("avg_token_len"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tokens).alias(
            "lexical_diversity"
        ),
    )


# --- unigram-LM quality score ----------------------------------------------
# CCNet/Gopher-style LM quality filtering, re-expressed with exact
# arithmetic so the score is bit-identical across engines: instead of
# a per-token log-prob sum (order-dependent double summation — would
# never hash-match), score each document by its MEAN UNIGRAM
# PROBABILITY sum(freq(tok)) / (n_tokens * corpus_tokens) — integer
# sums all the way, one final IEEE division — plus the rarest-token
# count (strongest single gibberish/noise signal). Monotone in the
# same quantity an LM filter thresholds on.
#
# Scale shape: token table -> one map-side-combining groupBy(h) for
# the frequency model (output = vocabulary size, millions of rows at
# 100 TB — broadcast if it fits, shuffle-hash join on uniform 48-bit
# int keys otherwise), the corpus-total scalar is a 1-row broadcast
# cross join, then one per-doc aggregate. No Python, no log().

_UNIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
  FROM documents
),
tok AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(s.tok), 1, 12)) AS BIGINT) AS h
  FROM toks, UNNEST(t) AS s(tok)
),
freq AS (SELECT h, COUNT(*) AS c FROM tok GROUP BY h),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       MIN(f.c) AS rarest_token_count,
       CAST(CAST(SUM(f.c) AS BIGINT) AS DOUBLE)
         / (COUNT(*) * MAX(total.n)) AS mean_unigram_p
FROM tok t
JOIN freq f USING (h)
CROSS JOIN total
GROUP BY t.doc_id
"""


@register("quality_unigram_lm_score", _UNIGRAM_ORACLE)
def quality_unigram_lm_score(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    # Materialized ONCE: the token table feeds BOTH the frequency
    # model and the per-doc probe below, and Catalyst does not CSE
    # across consumers — left lazy, the scan + explode + md5 ran
    # twice (the simhash shingle lesson; measured 7.5 -> 3.3 s at
    # sf1). Same session-artifact posture as the dedup fingerprints.
    from ._util import rotate_checkpoint, ser_checkpoint

    # rotated: the token table backs the returned result — the next
    # invocation releases it (token-instance-sized, the biggest
    # per-invocation checkpoint in the text family)
    tok = rotate_checkpoint(
        "ext_text.quality_unigram_lm_score.tok",
        ser_checkpoint(
            d.select("doc_id", F.explode(toks).alias("tok")).select(
                "doc_id",
                F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10)
                .cast("bigint")
                .alias("h"),
            )
        ),
    )
    freq = tok.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("bigint").alias("n"))
    return (
        tok.join(freq, "h")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.min("c").alias("rarest_token_count"),
            (
                F.sum("c").cast("double")
                / (F.count(F.lit(1)) * F.max("n"))
            ).alias("mean_unigram_p"),
        )
    )


_LANG_ORACLE = """
SELECT
  lang,
  COUNT(*) AS n_docs,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
  CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang
"""


@register("text_lang_stats", _LANG_ORACLE)
def text_lang_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


_FINGERPRINT_ORACLE = """
SELECT
  doc_id,
  md5(lower(trim(text))) AS fingerprint,
  substr(md5(lower(trim(text))), 1, 4) AS fp_bucket
FROM documents
"""


@register("text_doc_fingerprint", _FINGERPRINT_ORACLE)
def text_doc_fingerprint(spark, sf_dir):
    """Content-defined fingerprint: md5 of the normalized text. The
    4-hex-char bucket prefix is the shard key a 100 TB dedup would
    repartition by."""
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("fp_bucket"),
    )


# Exact dedup over a corpus with synthesized duplicates (every 5th doc
# is duplicated under a new id — the harness corpus is dup-free, so the
# query builds the dirty corpus it cleans, deterministically).
_DEDUP_EXACT_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)
SELECT
  md5(text) AS content_hash,
  CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
  COUNT(*) AS n_copies
FROM corpus
GROUP BY md5(text)
"""


@register("dedup_exact_hash", _DEDUP_EXACT_ORACLE)
def dedup_exact_hash(spark, sf_dir):
    """Exact dedup at scale: hash → groupBy(hash) → keep min id. The
    shuffle key is the 128-bit hash, not the text, so shuffled bytes
    stay tiny however large the documents are."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dupes)
    return corpus.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").cast("long").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
