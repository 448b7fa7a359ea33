"""[EXT] Data-card part 2: per-document curation decisions — the
pipeline's final verdict table, composing the dedup/novelty and
quality signals into an auditable keep/downweight/drop decision per
document, the artifact an LLM-data curation run actually ships.

``curation_doc_decisions`` over the planted near-dup corpus
(ext_dedup.py's harness corpus, so the drop rule has real dups to
catch):

- signals: token count (canonical space-split), 3-gram novelty_ppm
  (df>=2 share over the session fingerprint artifact — NULL for docs
  too short to shingle), language;
- deterministic policy, every threshold an integer:
  ``drop_short``   n_tokens < 5
  ``drop_dup``     novelty_ppm < 200000 (>=80% of shingles shared)
  ``downweight``   lang <> 'en' -> weight 500000 ppm
  ``keep``         otherwise   -> weight 1000000 ppm
  (dropped docs carry weight 0). Precedence: short > dup > lang —
  spelled identically in both engines' CASE.

The table is the audit trail: every decision cites its signal values,
so a curation change is a diff of this table, not a re-read of the
corpus. Scale: one signal pass each (token count is a map; novelty is
the fingerprint-artifact probe), LEFT JOINed on doc_id — no new
shuffle shapes beyond text_ngram_novelty's.

Reference anchor: none ([EXT] per SURVEY.md §2 — training-curation
family; the policy-composition shape follows public data-curation
pipelines, e.g. RefinedWeb/Gopher filter cascades).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import tokens
from . import register
from .ext_dedup import _DUP_SUFFIX, _SQL_SHINGLE_HASHES, _corpus, planted_corpus_fingerprints

_MIN_TOKENS = 5
_DUP_NOVELTY_PPM = 200_000

_DECISIONS_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         text || '{_DUP_SUFFIX}' AS text
  FROM documents WHERE doc_id % 7 = 0
),
langs AS (
  SELECT doc_id, lang FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, lang FROM documents WHERE doc_id % 7 = 0
),
toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0))
              AS BIGINT) AS n_tokens
  FROM corpus
),
fp AS ({_SQL_SHINGLE_HASHES}),
df AS (SELECT h, COUNT(*) AS df FROM fp GROUP BY h),
novelty AS (
  SELECT fp.doc_id,
         CAST(((COUNT(*) - SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END))
               * 1000000) // COUNT(*) AS BIGINT) AS novelty_ppm
  FROM fp JOIN df ON df.h = fp.h
  GROUP BY fp.doc_id
)
SELECT t.doc_id, l.lang, t.n_tokens, n.novelty_ppm,
       CASE WHEN t.n_tokens < {_MIN_TOKENS} THEN 'drop_short'
            WHEN n.novelty_ppm < {_DUP_NOVELTY_PPM} THEN 'drop_dup'
            WHEN l.lang <> 'en' THEN 'downweight'
            ELSE 'keep' END AS decision,
       CAST(CASE WHEN t.n_tokens < {_MIN_TOKENS} THEN 0
                 WHEN n.novelty_ppm < {_DUP_NOVELTY_PPM} THEN 0
                 WHEN l.lang <> 'en' THEN 500000
                 ELSE 1000000 END AS BIGINT) AS weight_ppm
FROM toks t
JOIN langs l ON l.doc_id = t.doc_id
LEFT JOIN novelty n ON n.doc_id = t.doc_id
"""


@register("curation_doc_decisions", _DECISIONS_ORACLE)
def curation_doc_decisions(spark, sf_dir):
    from ..tables import load

    corpus = _corpus(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    langs = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "lang"
        )
    )
    toks = corpus.select(
        "doc_id",
        F.size(tokens("text"))
        .cast("long")
        .alias("n_tokens"),
    )
    fp = planted_corpus_fingerprints(spark, sf_dir)
    from .ext_dedup import planted_corpus_doc_freq

    df = planted_corpus_doc_freq(spark, sf_dir)
    novelty = (
        fp.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST(((COUNT(*) - SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END))"
                " * 1000000) DIV COUNT(*) AS BIGINT)"
            ).alias("novelty_ppm")
        )
    )
    joined = toks.join(langs, "doc_id").join(novelty, "doc_id", "left")
    decision = (
        F.when(F.col("n_tokens") < _MIN_TOKENS, F.lit("drop_short"))
        .when(F.col("novelty_ppm") < _DUP_NOVELTY_PPM, F.lit("drop_dup"))
        .when(F.col("lang") != "en", F.lit("downweight"))
        .otherwise(F.lit("keep"))
    )
    weight = (
        F.when(F.col("n_tokens") < _MIN_TOKENS, 0)
        .when(F.col("novelty_ppm") < _DUP_NOVELTY_PPM, 0)
        .when(F.col("lang") != "en", 500_000)
        .otherwise(1_000_000)
    )
    return joined.select(
        "doc_id",
        "lang",
        "n_tokens",
        "novelty_ppm",
        decision.alias("decision"),
        weight.cast("bigint").alias("weight_ppm"),
    )
