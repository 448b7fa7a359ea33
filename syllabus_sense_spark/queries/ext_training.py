"""[EXT] Training-data curation primitives beyond dedup: deterministic
dataset splits and benchmark-contamination detection.

Both are first-class large-scale pipeline operators:

- ``split_train_holdout``: hash-bucket split (train/valid/test) that is
  a pure function of the stable document id — reproducible across
  engines, runs, and cluster sizes, and cheap at 100 TB because it is
  one projection (no shuffle, no RNG state). The md5→bigint bridge
  makes Spark and DuckDB agree bit-for-bit (same trick as the minhash
  fingerprints in ext_dedup.py).
- ``contamination_ngram_overlap``: which corpus documents share ≥K
  word-3-gram shingles with a designated benchmark/eval set — the
  standard decontamination join. Scale shape: shingle both sides into
  48-bit fingerprints (ext_dedup machinery), equi-join on the
  fingerprint with the (small) benchmark side broadcast, then one
  group-by count. No all-pairs comparison anywhere; cost is
  |corpus shingles| + |benchmark shingles|.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register
from .ext_dedup import _fingerprint, shingle_hashes

# --- deterministic train/valid/test split ---------------------------------

_SPLIT_ORACLE = """
SELECT
  doc_id,
  bucket,
  CASE WHEN bucket < 80 THEN 'train'
       WHEN bucket < 90 THEN 'valid'
       ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
           % 100 AS bucket
  FROM documents
) b
"""


@register("split_train_holdout", _SPLIT_ORACLE)
def split_train_holdout(spark, sf_dir):
    # One narrow projection: the split is derivable anywhere the id
    # is, so downstream stages never need to carry or join the
    # assignment — at 100 TB that's the difference between a metadata
    # column and an extra fact-table join.
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        % 100
    ).alias("bucket")
    return d.select("doc_id", bucket).select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )


# --- benchmark contamination: shared-shingle join --------------------------

# Real decontamination uses a higher bar (e.g. any 13-gram hit); the
# synthetic harness corpus has little natural overlap, so ≥2 shared
# 3-grams keeps a meaningful result set at every test scale.
_MIN_OVERLAP = 2

# DuckDB twin: same word-3-gram shingling and 48-bit fingerprints as
# ext_dedup's _SQL_SHINGLE_HASHES, but over the plain documents table
# (no planted dups), split into corpus vs benchmark by doc_id % 50.
_CONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(s.shingle), 1, 12)) AS BIGINT) AS h
  FROM toks,
  UNNEST(
    CASE WHEN len(t) >= 3
         THEN list_transform(range(len(t) - 2),
                             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
         ELSE [] END
  ) AS s(shingle)
)
SELECT c.doc_id, b.doc_id AS bench_id,
       COUNT(*) AS n_shared_shingles
FROM shingles c
JOIN shingles b ON c.h = b.h
WHERE b.doc_id % 50 = 0 AND c.doc_id % 50 <> 0
GROUP BY c.doc_id, b.doc_id
HAVING COUNT(*) >= {_MIN_OVERLAP}
"""


@register("contamination_ngram_overlap", _CONTAM_ORACLE)
def contamination_ngram_overlap(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = shingle_hashes(d, n=3)
    bench = hashed.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "h"
    )
    corpus = hashed.filter(F.col("doc_id") % 50 != 0)
    # Benchmark/eval sets are tiny relative to the corpus (thousands
    # of docs vs billions): broadcast them so the contamination scan
    # is map-side — the 100 TB corpus side never shuffles.
    return (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= _MIN_OVERLAP)
    )


# --- cross-source overlap matrix -------------------------------------------
# Pairwise vocabulary Jaccard between every pair of corpus sources —
# the "how much do my data sources overlap" diagnostic that decides
# mixture weights and flags mirror/scrape duplication between feeds.
# Scale shape: the corpus collapses to distinct (source, token-
# fingerprint) pairs FIRST (one map-side-combining shuffle, output
# bounded by n_sources x vocabulary, not corpus size); the pair join
# keys on the 48-bit fingerprint, and a token shared by all S sources
# fans out to at most S^2 rows, so there is no skew for any realistic
# source count. Per-source vocabulary sizes are a tiny aggregate
# broadcast back for the Jaccard denominator.

_SOURCE_MATRIX_ORACLE = """
WITH toks AS (
  SELECT source,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
  FROM documents
),
vocab AS (
  SELECT DISTINCT source,
         CAST(concat('0x', substr(md5(s.tok), 1, 12)) AS BIGINT) AS h
  FROM toks, UNNEST(t) AS s(tok)
),
sizes AS (SELECT source, COUNT(*) AS n FROM vocab GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
  FROM vocab a
  JOIN vocab b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.src_a, i.src_b, i.n_shared,
       CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
"""


@register("source_overlap_matrix", _SOURCE_MATRIX_ORACLE)
def source_overlap_matrix(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("source", "text")
    toks = tokens("text")
    vocab = (
        d.select("source", F.explode(toks).alias("tok"))
        .select("source", _fingerprint(F.col("tok")).alias("h"))
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(b, "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # n_sources rows — broadcast both denominator lookups.
    size_a = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    size_b = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(size_a), "src_a")
        .join(F.broadcast(size_b), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


# --- end-to-end curation pipeline -----------------------------------------
# The full training-data curation chain as ONE declarative plan —
# language filter → quality filter → exact dedup (canonical-keep) →
# deterministic split → shard-level accounting. Each stage is one of
# this engine's verified operators; composing them stays a single
# Catalyst plan (scan → filter → one dedup shuffle → projection →
# one final agg shuffle), so the 100 TB run is two shuffles total,
# with the filters pushed against the scan.

_CURATION_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang
  FROM documents WHERE doc_id % 5 = 0
),
filtered AS (
  SELECT doc_id, text, lang,
         len(list_filter(string_split(text, ' '), x -> length(x) > 0))
           AS n_tokens
  FROM corpus
  WHERE lang IN ('en', 'fr', 'es')
),
quality AS (
  SELECT * FROM filtered WHERE n_tokens >= 5
),
deduped AS (
  SELECT md5(text) AS content_hash,
         MIN(doc_id) AS doc_id,
         MIN(lang) AS lang,
         MIN(n_tokens) AS n_tokens
  FROM quality
  GROUP BY md5(text)
),
split AS (
  SELECT lang, n_tokens,
    CASE WHEN bucket < 80 THEN 'train'
         WHEN bucket < 90 THEN 'valid'
         ELSE 'test' END AS split
  FROM (
    SELECT lang, n_tokens,
      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        % 100 AS bucket
    FROM deduped
  ) b
)
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM split
GROUP BY split, lang
"""


@register("curation_pipeline_summary", _CURATION_ORACLE)
def curation_pipeline_summary(spark, sf_dir):
    # ONE scan of documents (r14): the corpus self-union re-read the
    # parquet (and re-split + re-hashed the text) once per half; the
    # planted 1/5 copies differ from their originals only in doc_id,
    # so the union is an explode of a per-row doc_id list computed
    # AFTER the text work — text bytes are read, tokenized and hashed
    # exactly once per source row (guide §2.3: shuffle/scan the
    # lightweight proxy, not the payload twice). The lang and
    # n_tokens filters commute with the copy (both depend only on
    # columns the copy preserves).
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .filter(F.col("lang").isin("en", "fr", "es"))
    )
    toks = tokens("text")
    base = (
        d.withColumn("n_tokens", F.size(toks).cast("long"))
        .filter(F.col("n_tokens") >= 5)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.md5("text").alias("content_hash"),
        )
    )
    quality = base.select(
        F.explode(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.array(F.col("doc_id"), F.col("doc_id") + 1000000),
            ).otherwise(F.array(F.col("doc_id")))
        ).alias("doc_id"),
        "lang",
        "n_tokens",
        "content_hash",
    )
    # min(lang) over a STRING buffer forces SortAggregate (two full
    # sorts of the corpus around the dedup exchange); the lang domain
    # is pinned to {en, es, fr} by the filter above, so encode it in
    # lexicographic order, take the min of an int, and decode — the
    # dedup becomes a partial+final HashAggregate (r14; law:
    # tests/test_plan_shape_laws.py, no SortAggregate in this plan).
    lang_code = (
        F.when(F.col("lang") == "en", 0)
        .when(F.col("lang") == "es", 1)
        .otherwise(2)
    )
    deduped = (
        quality.withColumn("lang_code", lang_code)
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang_code").alias("lang_code"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .select(
            "doc_id",
            F.when(F.col("lang_code") == 0, "en")
            .when(F.col("lang_code") == 1, "es")
            .otherwise("fr")
            .alias("lang"),
            "n_tokens",
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        % 100
    )
    assigned = deduped.select(
        "lang",
        "n_tokens",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


# --- deterministic stratified sampling ------------------------------------
# Per-stratum keep-rates as a pure hash condition: lang='en' docs are
# downsampled to ~20%, every other language kept — the rebalancing
# step of corpus construction. Unlike rng-based sample()/sampleBy(),
# the md5-bucket predicate is reproducible across engines, runs,
# partitionings, and cluster sizes, and it is just a filter: fully
# pushed down, no state, no extra pass at 100 TB.

_STRATIFIED_ORACLE = """
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(concat('strat:', CAST(doc_id AS VARCHAR))), 1, 12))
           AS BIGINT) % 100 AS bucket
  FROM documents
) b
WHERE (lang = 'en' AND bucket < 20) OR (lang <> 'en')
"""


@register("sampling_stratified_deterministic", _STRATIFIED_ORACLE)
def sampling_stratified_deterministic(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    keep = ((F.col("lang") == "en") & (bucket < 20)) | (F.col("lang") != "en")
    return d.filter(keep).select("doc_id", "lang")
