"""[EXT] Exact set-similarity self-join with prefix filtering — the
All-Pairs / PPJoin family (Bayardo et al. WWW'07, Xiao et al.
WWW'08), the *exact* counterpart to MinHash LSH (ext_dedup.py): zero
false negatives at the same candidates-only join discipline, no hash
family to tune.

Set elements are the repo-standard word-3-gram 48-bit fingerprints
(session-persisted table shared with dedup_minhash_lsh /
dedup_incremental_index — unigram token sets are degenerate on a
small-vocabulary corpus, where almost every doc pair clears a Jaccard
threshold; shingle sequences are what distinguish documents).

The filter: order every document's fingerprint set by ascending
global document frequency (rarest first, fingerprint value as the
total tiebreak); for Jaccard threshold τ a document with s elements
keeps a prefix of p = s − ⌈τ·s⌉ + 1. Two sets with J ≥ τ MUST share
an element inside both prefixes, so the candidate join keys only on
prefix elements — and because prefixes hold each document's RAREST
shingles, per-key candidate lists are short by construction (the
frequency ordering is the skew bound: a boilerplate shingle never
lands in a prefix). PPJoin's positional filter then prunes candidate
pairs whose best-case overlap bound 1 + min(s_a−ra, s_b−rb) cannot
reach the required ⌈τ/(1+τ)·(s_a+s_b)⌉ (~4× fewer survivors here);
verify computes exact overlap for the survivors only.

Everything is integer-exact and engine-portable: prefix length via
the integer identity ⌈3s/5⌉ = (3s+4) DIV 5, and the τ = 3/5 verify
predicate ``overlap/(s_a+s_b−overlap) ≥ 3/5`` clears its denominator
to ``8·overlap ≥ 3·(s_a+s_b)`` — no float ever computed.

Scale: the df table is one row per distinct fingerprint with count
> 1 relevance (broadcastable after a frequency floor; here plain
joins); the per-doc ranking window partitions by doc_id (bounded by
document length, never a global sort); candidate and verify joins
are equi-joins on fingerprint / doc keys. No n² stage exists.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register
from .ext_dedup import (
    _SQL_CORPUS,
    _SQL_SHINGLE_HASHES,
    planted_corpus_fingerprints,
)

# τ = 3/5: prefix p = s − ⌈τs⌉ + 1; verify 8·ov ≥ 3·(sa+sb).
_TAU_NUM, _TAU_DEN = 3, 5

_PREFIX_ORACLE = f"""
WITH corpus AS ({_SQL_CORPUS}),
tok AS ({_SQL_SHINGLE_HASHES}),
sz AS (SELECT doc_id, COUNT(*) AS s FROM tok GROUP BY doc_id),
df AS (SELECT h, COUNT(*) AS df FROM tok GROUP BY h),
ranked AS (
  SELECT tok.doc_id, tok.h, sz.s,
         ROW_NUMBER() OVER (PARTITION BY tok.doc_id
                            ORDER BY df.df, tok.h) AS rk
  FROM tok JOIN df USING (h) JOIN sz USING (doc_id)
),
prefix AS (
  SELECT doc_id, h, rk, s FROM ranked
  WHERE rk <= s - ({_TAU_NUM} * s + {_TAU_DEN - 1}) // {_TAU_DEN} + 1
),
cand AS (
  SELECT a.doc_id AS a_doc, b.doc_id AS b_doc
  FROM prefix a JOIN prefix b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING MAX(1 + LEAST(a.s - a.rk, b.s - b.rk))
         >= ({_TAU_NUM} * (ANY_VALUE(a.s) + ANY_VALUE(b.s))
             + {_TAU_NUM + _TAU_DEN - 1}) // {_TAU_NUM + _TAU_DEN}
),
ov AS (
  SELECT c.a_doc, c.b_doc, COUNT(*) AS overlap
  FROM cand c
  JOIN tok ta ON ta.doc_id = c.a_doc
  JOIN tok tb ON tb.doc_id = c.b_doc AND tb.h = ta.h
  GROUP BY c.a_doc, c.b_doc
)
SELECT ov.a_doc, ov.b_doc,
       CAST(ov.overlap AS BIGINT) AS overlap,
       CAST(sa.s + sb.s - ov.overlap AS BIGINT) AS union_size
FROM ov
JOIN sz sa ON sa.doc_id = ov.a_doc
JOIN sz sb ON sb.doc_id = ov.b_doc
WHERE {_TAU_DEN + _TAU_NUM} * ov.overlap >= {_TAU_NUM} * (sa.s + sb.s)
"""


def prefix_index(spark, sf_dir):
    """Session-persisted inverted PREFIX index (doc_id, h, rk, s) —
    the materialized artifact an All-Pairs system maintains per
    corpus snapshot (the df-ordered prefix postings), probed by each
    dedup run instead of re-ranking the full token table per query."""
    from ..memo import session_artifact

    def build():
        tok = planted_corpus_fingerprints(spark, sf_dir)
        sz = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
        df = tok.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        # df broadcast: one row per distinct fingerprint, a few MB
        # here — at web scale where it outgrows broadcast, drop the
        # hint and the attach falls back to a shuffle join on the
        # same key.
        ranked = (
            tok.join(F.broadcast(df), "h")
            .join(F.broadcast(sz), "doc_id")
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("df", "h")
                ),
            )
        )
        # Integer ceil: ⌈τ·s⌉ = (3s+4) DIV 5 — DIV, never float.
        p = (
            F.col("s")
            - F.expr(f"({_TAU_NUM} * s + {_TAU_DEN - 1}) DIV {_TAU_DEN}")
            + 1
        )
        return ranked.filter(F.col("rk") <= p).select("doc_id", "h", "rk", "s")

    return session_artifact(spark, sf_dir, "prefix_index", build)


@register("dedup_prefix_filter", _PREFIX_ORACLE)
def dedup_prefix_filter(spark, sf_dir):
    prefix = prefix_index(spark, sf_dir)
    a = prefix.select(
        F.col("doc_id").alias("a_doc"),
        "h",
        F.col("rk").alias("ra"),
        F.col("s").alias("sa"),
    )
    b = prefix.select(
        F.col("doc_id").alias("b_doc"),
        "h",
        F.col("rk").alias("rb"),
        F.col("s").alias("sb"),
    )
    # Positional filter (the PPJoin refinement): a match at prefix
    # positions (ra, rb) bounds the overlap by 1 + min(sa−ra, sb−rb)
    # — order consistency means the FIRST shared token (largest such
    # bound) has no shared tokens before it, so a pair whose best
    # bound misses the required overlap ⌈τ/(1+τ)·(sa+sb)⌉ can never
    # verify. Cuts surviving candidates ~4× here, and the groupBy
    # replaces the plain DISTINCT the bound-free form needed anyway.
    req = F.expr(
        f"({_TAU_NUM} * (sa + sb) + {_TAU_NUM + _TAU_DEN - 1})"
        f" DIV {_TAU_NUM + _TAU_DEN}"
    )
    cand = (
        a.join(b, "h")
        .filter(F.col("a_doc") < F.col("b_doc"))
        .groupBy("a_doc", "b_doc")
        .agg(
            F.max(
                F.lit(1) + F.least(F.col("sa") - F.col("ra"), F.col("sb") - F.col("rb"))
            ).alias("ub"),
            F.first("sa").alias("sa"),
            F.first("sb").alias("sb"),
        )
        .filter(F.col("ub") >= req)
        .select("a_doc", "b_doc")
    )
    # Exact verify on survivors only, via the per-doc sorted-array
    # artifact: two slim doc-id equi-joins attach each side's full
    # fingerprint set as ONE array row, and the overlap is a JVM
    # array_intersect — the old form re-exploded the token table per
    # candidate (cand × ~|doc| rows through two joins + a pair
    # aggregation). Fingerprints are distinct per doc, so
    # |array_intersect| ≡ the COUNT(*) the oracle computes.
    from .ext_dedup import planted_corpus_token_arrays

    arrs = planted_corpus_token_arrays(spark, sf_dir)
    return (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("a_doc"),
                F.col("hs").alias("ha"),
                F.col("s").alias("sa"),
            ),
            "a_doc",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("b_doc"),
                F.col("hs").alias("hb"),
                F.col("s").alias("sb"),
            ),
            "b_doc",
        )
        .withColumn("overlap", F.size(F.array_intersect("ha", "hb")))
        .filter(
            (_TAU_DEN + _TAU_NUM) * F.col("overlap")
            >= _TAU_NUM * (F.col("sa") + F.col("sb"))
        )
        .select(
            "a_doc",
            "b_doc",
            F.col("overlap").cast("bigint").alias("overlap"),
            (F.col("sa") + F.col("sb") - F.col("overlap"))
            .cast("bigint")
            .alias("union_size"),
        )
    )
