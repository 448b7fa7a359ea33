"""[EXT] Repeated-passage detection — substring-level dedup signal
(the "Deduplicating Training Data Makes Language Models Better"
shape, Lee et al. 2021, at word-8-gram granularity).

Exact-duplicate *documents* are caught by `dedup_exact_hash`;
near-duplicates by MinHash/SimHash. What those miss is the repeated
*passage*: boilerplate paragraphs, license headers, templated intros
that recur across otherwise-distinct documents. (Distinct from
`text_boilerplate_fraction`, which rolls a distinct-5-gram
document-frequency signal up to a per-*source* quality score — this
operator keeps gram *positions* so the per-*document* coverage is
exact, which is what a passage-cutting pass needs: it tells you how
much of THIS document is removable, not how templated the source is.) The production
treatment (suffix arrays) is sequential; the distributed re-expression
is positional n-gram fingerprinting:

1. explode each document into its word 8-grams with positions —
   a generate+slice over the token array, pure codegen;
2. an 8-gram is "repeated" when it occurs in >= 2 distinct docs —
   one groupBy on the gram key;
3. per document, the fraction of gram positions whose gram is
   repeated — one equi-join back + count aggregation.

Scale posture: the only shuffle keys are the gram itself and doc_id.
At 100 TB the gram string would be replaced by ``xxhash64(gram)`` (8
bytes instead of ~50, same join/groupBy shape, collision rate ~1e-10
per pair); the string key is kept here so the DuckDB oracle matches
byte-for-byte. The explode is ~n_tokens rows per doc — the same
blow-up every shingle-based dedup in this repo already carries, and
it partitions on doc_id with no skew. No driver-side work, no UDFs.

Output floats are avoided entirely: the repeated fraction ships as
parts-per-million via *integer* division (deterministic in both
engines), per this repo's no-float-in-checked-output rule.

Reference parity note: the reference app has no corpus-level dedup at
all (single-syllabus scope); this extends the dedup battery the way
its curation pipeline would need at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

_N = 8  # words per gram

_REPEATED_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
  FROM documents
),
grams AS (
  SELECT doc_id,
         array_to_string(w[i:i+{_N - 1}], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - {_N - 1})) AS t(i)
),
rep AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       COUNT(r.gram) AS n_repeated,
       COUNT(r.gram) * 1000000 // COUNT(*) AS rep_ppm
FROM grams g LEFT JOIN rep r ON r.gram = g.gram
GROUP BY g.doc_id
HAVING COUNT(r.gram) > 0
"""


@register("dedup_repeated_passages", _REPEATED_ORACLE)
def dedup_repeated_passages(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    words = d.select("doc_id", toks.alias("w"))
    grams = (
        words.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("w") >= _N, F.sequence(F.lit(1), F.size("w") - (_N - 1))
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice("w", F.col("i"), _N)).alias("gram"),
        )
    )
    # ONE pass over the gram stream (r14): the old shape computed
    # `grams` twice (countDistinct branch + probe branch — no
    # cross-consumer CSE, two full explode+concat passes) and attached
    # the repeated-gram set back via a BROADCAST whose size is
    # data-scale (every repeated 8-gram string — fine at sf0.1, a
    # driver/executor OOM at 100 TB; past the broadcast threshold the
    # planner degrades to re-shuffling the full gram stream). Now:
    # collapse instances to (gram, doc_id, c) [one exchange, map-side
    # combined], count each gram's distinct docs with a window over
    # the collapsed table [sort-based — spills instead of OOM on a
    # boilerplate mega-gram], and fold both per-doc sums (total
    # instances, repeated instances) in ONE final aggregation.
    from pyspark.sql import Window

    gd = grams.groupBy("gram", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    return (
        gd.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(
                F.when(F.col("nd") >= 2, F.col("c")).otherwise(F.lit(0).cast("long"))
            ).alias("n_repeated"),
        )
        .filter(F.col("n_repeated") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_repeated",
            F.expr("n_repeated * 1000000 DIV n_grams").alias("rep_ppm"),
        )
    )
