"""[EXT] Text-analysis operators, batch 3: repetition statistics
(the Gopher-style duplicate-n-gram signals), PII detection/redaction,
and a composite quality-filter funnel.

All three are pure JVM built-ins (split / higher-order array fns /
regexp) — whole-stage-codegen over the documents scan, no shuffle
except the funnel's per-source aggregate. At 100 TB each is a single
scan-shaped map; the n-gram arrays are per-row temporaries, never
materialized.

Reference anchor: the reference's only text analysis is the
empty-text filter and marker predicate (syllabus_parser.py:61,72-95);
these extend that surface to the curation signals a pretraining
pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

# --------------------------------------------------------------------------
# Repetition ratios: fraction of duplicated unigrams / bigrams /
# trigrams per document. High duplicate-n-gram fractions flag
# boilerplate and degenerate repetition (the Gopher rule family).
# n-grams build with 1-based element_at on both engines, so the
# expressions are structurally identical.
# --------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
  FROM documents
), g AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS big,
         list_transform(range(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tri
  FROM t
  WHERE len(w) >= 3
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_unigram_frac,
       1.0 - CAST(len(list_distinct(big)) AS DOUBLE) / len(big) AS dup_bigram_frac,
       1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri) AS dup_trigram_frac
FROM g
"""


@register("text_repetition_ratios", _REPETITION_ORACLE)
def text_repetition_ratios(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    d = d.select("doc_id", w.alias("w")).filter(F.size("w") >= 3)
    big = F.transform(
        F.sequence(F.lit(1), F.size("w") - 1),
        lambda i: F.concat_ws(" ", F.element_at("w", i), F.element_at("w", i + 1)),
    )
    tri = F.transform(
        F.sequence(F.lit(1), F.size("w") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at("w", i),
            F.element_at("w", i + 1),
            F.element_at("w", i + 2),
        ),
    )

    def dup_frac(arr):
        return F.lit(1.0) - F.size(F.array_distinct(arr)).cast("double") / F.size(arr)

    return d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        dup_frac(F.col("w")).alias("dup_unigram_frac"),
        dup_frac(big).alias("dup_bigram_frac"),
        dup_frac(tri).alias("dup_trigram_frac"),
    )


# --------------------------------------------------------------------------
# PII detection + redaction. The synthetic corpus carries no PII, so
# the query plants deterministic fake contact strings (derived from
# doc_id) and then finds and redacts them — the operator is exercised
# on real matches while staying reproducible. Patterns are kept to
# the regex subset Java and RE2 share; DuckDB's regexp_replace needs
# the explicit 'g' flag to match Spark's replace-all default.
# --------------------------------------------------------------------------

_EMAIL_PAT = "[a-z0-9._]+@[a-z][a-z0-9.]*[a-z]"
_PHONE_PAT = "555-[0-9]{4}"

_PII_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS enriched
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(enriched, '{_EMAIL_PAT}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(enriched, '{_PHONE_PAT}')) AS BIGINT)
         AS n_phones,
       md5(regexp_replace(regexp_replace(enriched, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                          '{_PHONE_PAT}', '<PHONE>', 'g')) AS redacted_md5
FROM t
"""


@register("text_pii_redaction", _PII_ORACLE)
def text_pii_redaction(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    t = d.select("doc_id", enriched.alias("enriched"))
    redacted = F.regexp_replace(
        F.regexp_replace("enriched", _EMAIL_PAT, "<EMAIL>"), _PHONE_PAT, "<PHONE>"
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all("enriched", F.lit(_EMAIL_PAT), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("enriched", F.lit(_PHONE_PAT), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# Composite quality-filter funnel: apply the Gopher-style keep rules
# and report per-source totals, kept counts, and the kept fraction —
# the shape a curation run reports after every filter stage. One scan
# + one small per-source aggregate.
# --------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH t AS (
  SELECT source,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks,
         length(replace(text, ' ', '')) AS n_alpha
  FROM documents
), scored AS (
  SELECT source,
         len(toks) AS n_tokens,
         CAST(n_alpha AS DOUBLE) / len(toks) AS avg_len,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity
  FROM t
  WHERE len(toks) > 0
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_tokens BETWEEN 10 AND 100000
                      AND avg_len BETWEEN 2.0 AND 12.0
                      AND diversity > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN n_tokens BETWEEN 10 AND 100000
                      AND avg_len BETWEEN 2.0 AND 12.0
                      AND diversity > 0.1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS kept_frac
FROM scored
GROUP BY source
"""


@register("quality_filter_funnel", _FUNNEL_ORACLE)
def quality_filter_funnel(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    t = d.select(
        "source",
        F.size(toks).alias("n_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks)
        ).alias("avg_len"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "diversity"
        ),
    ).filter(F.col("n_tokens") > 0)
    keep = (
        F.col("n_tokens").between(10, 100000)
        & F.col("avg_len").between(2.0, 12.0)
        & (F.col("diversity") > 0.1)
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        (
            F.sum(F.when(keep, 1).otherwise(0)).cast("double") / F.count(F.lit(1))
        ).alias("kept_frac"),
    )
