"""[EXT] Containment dedup — the ASYMMETRIC near-dup detector. Jaccard
misses sub-document duplication (a doc pasted inside a larger one
scores low because the union is large); containment
C(A→B) = |S(A)∩S(B)| / |S(A)| is the measure CC-pipelines use to
catch quotes, mirrors-with-boilerplate, and prompt-in-completion
leaks (cf. Broder's containment sketches; the reference's concern at
syllabus_parser.py:60 is the single-doc analogue — repeated topic
blocks inside one DOCX).

Pipeline: the session-persisted fingerprint table (shared with
minhash/incremental dedup — no new shingle pass) → document-frequency
cap on fingerprints (a boilerplate shingle shared by every doc would
otherwise quadratically blow up candidate generation; dropped
fingerprints are dropped from BOTH the intersection and the
denominators, so the measure stays internally consistent) →
fingerprint equi-join for candidate pairs (doc_a < doc_b, never
text×text) → exact integer containment in ppm, keep pairs where
either direction ≥ 80% (5·inter ≥ 4·min_size, pure BIGINT).

Scale: candidate volume is Σ_h df(h)² bounded by the cap² per
fingerprint; every join is an equi-join on a 16-byte key.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import register
from .ext_dedup import _SQL_CORPUS, _SQL_SHINGLE_HASHES, planted_corpus_fingerprints

_DF_CAP = 20  # max docs sharing a fingerprint before it's stop-listed
_THRESH_NUM, _THRESH_DEN = 4, 5  # containment ≥ 4/5

_CONTAINMENT_ORACLE = f"""
WITH corpus AS ({_SQL_CORPUS}),
fp AS ({_SQL_SHINGLE_HASHES}),
df AS (
  SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= {_DF_CAP}
),
kept AS (
  SELECT fp.doc_id, fp.h FROM fp JOIN df ON df.h = fp.h
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM kept a JOIN kept b ON b.h = a.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       i.n_common * 1000000 // sa.n AS cont_ab_ppm,
       i.n_common * 1000000 // sb.n AS cont_ba_ppm
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE {_THRESH_DEN} * i.n_common >= {_THRESH_NUM} * LEAST(sa.n, sb.n)
"""


def _containment_groups(spark, sf_dir):
    """Session-persisted per-fingerprint SORTED doc list, df-capped.
    One groupBy of the fingerprint table replaces the old
    df-count + join-back + h-equi-self-join chain (three shuffles of
    the full fingerprint table → one): the doc list per hash IS the
    candidate set, and with df ≤ {cap} the C(df,2) pair expansion is
    a bounded JVM array expression, not a join."""
    from ..memo import session_artifact

    def build():
        fp = planted_corpus_fingerprints(spark, sf_dir)
        return (
            fp.groupBy("h")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
            .filter(F.size("docs") <= _DF_CAP)
            .select("docs")
        )

    return session_artifact(spark, sf_dir, "containment_groups", build)


def _containment_sizes(spark, sf_dir):
    """Session-persisted per-doc KEPT-fingerprint count — derived once
    from the groups artifact. Left lazy it was re-exploded TWICE per
    run (the n_a and n_b join branches have no cross-consumer CSE:
    two full explode+groupBy passes per query, ~1.2 s of the 2.2 s
    warm run at sf0.1 in the r14 profile); as an artifact both
    branches broadcast-probe one doc-sized table. Same posture as
    the fingerprint artifacts on the minhash side."""
    from ..memo import session_artifact

    def build():
        grp = _containment_groups(spark, sf_dir)
        return (
            grp.select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return session_artifact(spark, sf_dir, "containment_sizes", build)


@register("dedup_containment", _CONTAINMENT_ORACLE)
def dedup_containment(spark, sf_dir):
    grp = _containment_groups(spark, sf_dir)
    sizes = _containment_sizes(spark, sf_dir)
    # All C(df,2) ordered pairs per fingerprint, generated JVM-side
    # from the sorted list (x < y by construction — no discarded
    # half, no self-pairs), then one aggregation on the pair key.
    pair_expr = (
        "flatten(transform(docs, (x, i) -> "
        "transform(slice(docs, i + 2, size(docs)), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    inter = (
        grp.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .filter(
            F.lit(_THRESH_DEN) * F.col("n_common")
            >= F.lit(_THRESH_NUM) * F.least("n_a", "n_b")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("n_common * 1000000 DIV n_a").alias("cont_ab_ppm"),
            F.expr("n_common * 1000000 DIV n_b").alias("cont_ba_ppm"),
        )
    )
