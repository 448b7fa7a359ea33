"""[EXT] Near-duplicate detection: MinHash + LSH banding, n-gram
Jaccard verification, and embedding-cosine near-dup — the core dedup
toolkit of a 100 TB training-data pipeline.

Design for scale (this is the real production shape, not a toy):

1. shingle: word 3-grams per doc (JVM higher-order functions, no UDF),
   immediately collapsed to a 48-bit integer fingerprint
   ``h = int(md5(shingle)[:12], 16)`` — ONE md5 per shingle, and every
   downstream shuffle/join key is a bigint, not a ~25-byte string;
2. signature: k=16 MinHashes = min((a_j*h + b_j) mod M) — integer
   universal hashing over the fingerprint, so the k hash families cost
   k multiply-adds instead of k md5 digests. Constants are sized so
   every intermediate fits int64 (a_j < 2^14, h < 2^48 → product
   < 2^62): the same arithmetic is exact in Spark and in the DuckDB
   oracle (which raises on int64 overflow rather than wrapping);
3. band: 8 bands x 2 rows; the candidate self-join keys directly on
   the raw (band_idx, m_lo, m_hi) signature values — no band digest
   needed, the min-hashes are already uniform: no skew, no O(n^2);
4. verify: exact Jaccard on candidate pairs only, joining on the
   48-bit fingerprints (a truncation collision would undercount by
   ~n_shingles²/2^49 ≈ 0 and identically in both engines).

The harness corpus is duplicate-free, so each query deterministically
plants near-dups (text || suffix) and must find exactly those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens
from ..memo import clear as clear_session_artifacts  # noqa: F401 — audit entry point
from ..memo import session_artifact
from ..tables import load
from . import register
from ._util import rotate_checkpoint, ser_checkpoint

# 8 bands x 2 rows: band-collision probability 1-(1-j^2)^8 keeps
# recall >= 0.99 even for short docs whose planted-dup Jaccard dips to
# ~0.7; false candidates from unrelated docs (j ~ 0.15) stay bounded
# and the exact-Jaccard verify stage prunes them.
N_HASHES = 16
N_BANDS = 8
ROWS_PER_BAND = 2
_DUP_SUFFIX = " near duplicate variant tokens appended"

# Universal-hash family over the 48-bit shingle fingerprint:
# hash_j(h) = (A[j]*h + B[j]) mod M.  A odd and < 2^14 keeps A*h < 2^62.
_M = (1 << 61) - 1  # Mersenne prime 2^61-1
_A = [8191, 13619, 9973, 12289, 11261, 14741, 10007, 15373,
      8731, 13093, 9341, 12611, 11827, 14423, 10501, 15859]
_B = [40503, 988471, 52361, 739393, 17029, 654435, 92821, 33301,
      77023, 508349, 26041, 871733, 14407, 623171, 68483, 91193]
assert len(_A) == len(_B) == N_HASHES

# --- shared corpus/shingle derivation (Spark + SQL kept in lockstep) --------

_SQL_CORPUS = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || '{_DUP_SUFFIX}' AS text
  FROM documents WHERE doc_id % 7 = 0
"""

def sql_shingles(n: int = 3) -> str:
    """DuckDB twin of ``shingle_docs`` for word n-grams (keep in
    lockstep with it)."""
    toks = "list_filter(string_split(c.text, ' '), x -> length(x) > 0)"
    gram = " || ' ' || ".join(f"{toks}[i+{j + 1}]" for j in range(n))
    return f"""
  SELECT DISTINCT c.doc_id, s.shingle
  FROM corpus c,
  UNNEST(
    CASE WHEN len({toks}) >= {n}
         THEN list_transform(range(len({toks}) - {n - 1}), i -> {gram})
         ELSE [] END
  ) AS s(shingle)
"""


_SQL_SHINGLES = sql_shingles(3)

# 48-bit fingerprint of a shingle — DuckDB twin of ``_fingerprint``.
# DISTINCT on (doc_id, h), matching the Spark side, so a (vanishingly
# rare) truncation collision collapses identically in both engines.
_SQL_SHINGLE_HASHES = f"""
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 12)) AS BIGINT) AS h
  FROM ({_SQL_SHINGLES.replace(chr(10), ' ')}) raw_shingles
"""


def _fingerprint(shingle_col):
    """48-bit integer fingerprint: first 12 hex chars of md5."""
    return F.conv(F.substring(F.md5(shingle_col), 1, 12), 16, 10).cast("bigint")


def shingle_hashes(corpus: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h) distinct 48-bit shingle fingerprints — the compact
    form every dedup stage shuffles/joins on. One md5 per shingle,
    then bigint keys everywhere."""
    raw = shingle_docs_raw(corpus, n)
    return raw.select("doc_id", _fingerprint(F.col("shingle")).alias("h")).distinct()


def _corpus(spark, sf_dir) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_DUP_SUFFIX)).alias("text"),
    )
    return d.unionByName(dupes)


# --- session-persistent fingerprint table ----------------------------------
# The production posture: the corpus's distinct (doc_id, fingerprint)
# table is a persisted artifact every dedup job probes, not something
# each query re-derives. Memoized per (Spark application, sf_dir)
# (``memo.session_artifact``), so dedup_minhash_lsh and
# dedup_incremental_index share ONE shingle+md5+distinct pass per
# session — the cold-start cost the per-query .cache() could not
# amortize across queries.


def base_fingerprints(spark, sf_dir: str) -> DataFrame:
    """(doc_id, h) for the raw documents corpus — the persisted index."""
    return session_artifact(
        spark,
        sf_dir,
        "base",
        lambda: shingle_hashes(load(spark, sf_dir, "documents").select("doc_id", "text")),
    )


def _planted_dupe_fingerprints(spark, sf_dir: str) -> DataFrame:
    """(doc_id, h) for the planted near-dup docs (1/7 of the corpus)."""

    def build():
        d = load(spark, sf_dir, "documents").select("doc_id", "text")
        dupes = d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(_DUP_SUFFIX)).alias("text"),
        )
        return shingle_hashes(dupes)

    return session_artifact(spark, sf_dir, "planted_dupes", build)


def planted_corpus_fingerprints(spark, sf_dir: str) -> DataFrame:
    """(doc_id, h) for the full minhash corpus (base + planted dupes),
    persisted as ONE table: repeated consumers (signatures, sizes, the
    intersection join's two sides) then scan a single compact cache
    instead of re-unioning the halves — the same steady-state profile
    as a production persisted fingerprint artifact. Builds FROM the two
    persisted halves, so shingling still happens once per half per
    session; the union materialization is a cache scan, not a
    recompute. Coalesced: fingerprint rows are 16 bytes, so fewer,
    fuller partitions beat shuffle-width parallelism for cache scans."""

    def build():
        both = base_fingerprints(spark, sf_dir).unionByName(
            _planted_dupe_fingerprints(spark, sf_dir)
        )
        n = max(both.sparkSession.sparkContext.defaultParallelism, 1)
        return both.coalesce(n)

    return session_artifact(spark, sf_dir, "planted_all", build)


def planted_corpus_fingerprint_arrays(spark, sf_dir: str) -> DataFrame:
    """(doc_id, hs): each planted-corpus doc's distinct fingerprint
    set as ONE array row — the doc-major layout of the fingerprint
    index (production stores the shingle set beside the doc exactly
    so verify passes don't re-shuffle the row-major postings).
    ``jaccard_verify`` computes |A∩B| and both set sizes from these
    arrays in a single projection; the row-major multiset equi-join
    it replaces shuffled the full fingerprint table per query."""

    def build():
        return ser_checkpoint(
            planted_corpus_fingerprints(spark, sf_dir)
            .groupBy("doc_id")
            .agg(F.collect_list("h").alias("hs"))
        )

    return session_artifact(
        spark, sf_dir, "planted_fp_arrays", build, persist=False
    )


def planted_corpus_doc_freq(spark, sf_dir: str) -> DataFrame:
    """(h, df): document frequency per fingerprint, session-persisted
    — the DF index of the planted corpus (production keeps document
    frequency beside the postings; novelty/data-card passes probe it
    rather than re-shuffling the full fingerprint table per query —
    r14; shared by text_ngram_novelty and the data-card decision)."""

    def build():
        return (
            planted_corpus_fingerprints(spark, sf_dir)
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
        )

    return session_artifact(spark, sf_dir, "planted_all_df", build)


def planted_corpus_token_arrays(spark, sf_dir: str) -> DataFrame:
    """(doc_id, hs, s): each doc's SORTED fingerprint array plus its
    size, session-persisted. The compact per-doc form a candidate
    verify wants: exact overlap for a candidate pair is
    ``size(array_intersect(ha, hb))`` after two slim equi-joins on
    doc ids — no re-explosion of the token table per candidate. Row
    width is bounded by document length, so the artifact scales with
    the corpus like the fingerprint table it derives from."""

    def build():
        return (
            planted_corpus_fingerprints(spark, sf_dir)
            .groupBy("doc_id")
            .agg(
                F.sort_array(F.collect_list("h")).alias("hs"),
                F.count(F.lit(1)).alias("s"),
            )
        )

    return session_artifact(spark, sf_dir, "planted_all_arrays", build)


def shingle_docs_raw(corpus: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) word n-grams, NOT deduplicated — pure
    built-ins.

    Tokens are materialized as a column before the shingle transform:
    referencing the tokenize expression inside the lambda would
    re-evaluate the tokenizer for every element_at call (O(tokens²)
    per row).
    """
    # Spread documents over the core count before the explode: splits
    # are bytes-sized, but each doc fans out to ~|doc| shingles × the
    # downstream hash work, so a 40 MB corpus file's 4 splits would
    # cap the whole dedup family at 4-way parallelism (measured at the
    # sf1 probe; same lesson as the vector scorers in ext_similarity).
    spark_parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    tokenized = corpus.repartition(spark_parallelism).select(
        "doc_id",
        tokens("text").alias("toks"),
    )
    toks = F.col("toks")
    shingles = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # sequence(0, size-n) yields size-n+1 shingles; the SQL twin uses
    # range(size-(n-1)) = same count. Keep n=3 aligned with _SQL_SHINGLES.
    return tokenized.select("doc_id", F.explode(shingles).alias("shingle"))


def shingle_docs(corpus: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams."""
    return shingle_docs_raw(corpus, n).distinct()


def minhash_signatures(hashed: DataFrame, k: int = N_HASHES) -> DataFrame:
    """k MinHashes per doc over the 48-bit fingerprints: min of
    (A[j]*h + B[j]) mod M. One hash-agg shuffle; per-row cost is k
    multiply-adds (vs k md5 digests), signature width k*8 bytes."""
    aggs = [
        F.min((F.col("h") * F.lit(_A[j]) + F.lit(_B[j])) % F.lit(_M)).alias(f"m{j}")
        for j in range(k)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, v0..v{ROWS_PER_BAND-1}): the raw signature
    values of each band — they ARE the join key; no digest needed."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                *[
                    F.col(f"m{b * ROWS_PER_BAND + r}").alias(f"v{r}")
                    for r in range(ROWS_PER_BAND)
                ],
            )
            for b in range(N_BANDS)
        ]
    )
    cols = ["band_idx"] + [f"v{r}" for r in range(ROWS_PER_BAND)]
    return sigs.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", *[F.col(f"band.{c}").alias(c) for c in cols]
    )


# Frequent-bucket cap for the banded self-join (the SimHash
# MAX_BUCKET guard, ported to MinHash): a band tuple shared by more
# than this many documents is a corpus-wide common pattern (short
# docs with tiny shingle sets collide on min-hashes), not a
# duplication signal. Bucket occupancy grows LINEARLY with the corpus
# (measured top buckets: 5 at sf0.01, 21 at sf0.1, 77 at sf1, 199 at
# sf3, 648 at sf10), so uncapped candidate pairs grow quadratically —
# the fifth-decade probe measured 12.7M candidates at sf10 (9.7× for
# 3.3× docs) and 151 s; capped, the curve returns to linear. 64 is
# comfortably above every gate-scale bucket (≤21), so verification
# results are unchanged there, and the DuckDB oracle mirrors the cap
# exactly at every scale. Pairs whose ONLY collision is a mega-bucket
# are dropped — the standard LSH frequent-bucket recall trade, made
# explicitly, same as dedup_simhash / dedup_prefix_filter's max-df.
MINHASH_MAX_BUCKET = 64


def _kept_bands(bands: DataFrame) -> DataFrame:
    """Band table restricted to buckets of ≤ MINHASH_MAX_BUCKET docs,
    repartitioned by the band key — the LSH index layout. The
    occupancy count is a window over the same key the join shuffles
    on, so the guard adds no extra exchange. The explicit-N
    repartition BY THE JOIN KEYS rides the same exchange the window
    needs, is exempt from AQE coalescing (the capped-match recipe —
    an AQE-coalesced checkpoint ran the self-join on 1-3 cores and
    was slower than the dual-compute it replaced), and co-locates
    the self-join so the checkpoint scan is the join's last exchange."""
    from pyspark.sql import Window

    keys = ["band_idx"] + [f"v{r}" for r in range(ROWS_PER_BAND)]
    sc = bands.sparkSession.sparkContext
    return (
        bands.repartition(sc.defaultParallelism, *keys)
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(F.col("n") <= MINHASH_MAX_BUCKET)
        .drop("n")
    )


def _pairs_from_kept(kept: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) agreeing on at least one kept band.

    r14 shape: ONE pass over the band table — group each bucket's
    members into a sorted array and explode the C(n, 2) combinations
    (bucket size is capped at MINHASH_MAX_BUCKET, so the fan-out is
    bounded at C(cap, 2) per bucket) — instead of the equi-self-join,
    which read the band table twice and paid two join-side exchanges
    plus the distinct's third. ``sort_array`` makes doc_a < doc_b by
    construction: (doc_id, band_idx) is unique, so bucket members are
    strictly increasing. The input no longer needs to be materialized
    for cross-branch CSE (it is referenced once), though callers still
    pass the session band artifact so the signatures→bands→window
    pipeline itself is not re-derived per query."""
    keys = ["band_idx"] + [f"v{r}" for r in range(ROWS_PER_BAND)]
    buckets = (
        kept.groupBy(*keys)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (a, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "b -> named_struct('doc_a', a, 'doc_b', b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) agreeing on at least one KEPT band,
    restricted to buckets of ≤ MINHASH_MAX_BUCKET docs — the generic
    seam (tests / the recall tool feed synthetic band tables). The
    band table no longer needs a checkpoint here: the r14 pair
    generation references it exactly once (bucket groupBy + explode),
    so there is no cross-branch subtree to deduplicate."""
    return _pairs_from_kept(_kept_bands(bands))


def planted_kept_bands(spark, sf_dir: str) -> DataFrame:
    """The planted corpus's capped LSH band table, session-persisted —
    the INDEX a production near-dedup job probes (band tuples ARE the
    LSH hash tables). Deriving it per query re-ran
    signatures→bands→window→checkpoint on every invocation (~1.5 s of
    the dedup_minhash_lsh warm run at sf0.1, the whole `construct`
    half); as an artifact it is built once per (session, sf_dir) and
    shared by every consumer of the planted corpus's candidate pairs
    (dedup_minhash_lsh, dedup_components — same fingerprint set by
    construction). Serialized checkpoint storage, released via
    ``memo.clear`` like every other artifact."""

    def build():
        sigs = minhash_signatures(planted_corpus_fingerprints(spark, sf_dir))
        return ser_checkpoint(_kept_bands(lsh_bands(sigs)))

    return session_artifact(
        spark, sf_dir, "planted_kept_bands", build, persist=False
    )


def jaccard_verify(
    pairs: DataFrame,
    fp_arrays: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard on candidates only, against a DOC-MAJOR
    fingerprint table ``fp_arrays`` = (doc_id, hs) with each doc's
    distinct fingerprint set as one array (the session artifact
    ``planted_corpus_fingerprint_arrays`` for the planted corpus).

    r14 shape (guide §2.3): |A∩B| and both set sizes come from
    ``array_intersect``/``size`` in a single projection — the
    row-major shape this replaces shuffled the FULL fingerprint
    multiset for the intersection equi-join and paid two further
    broadcast joins for the per-doc sizes. The candidate pairs are
    broadcast (tiny relative to the corpus by the LSH guarantee —
    the established posture) and referenced exactly once, so they
    stay lazy; the doc-b attach is a shuffle of candidate-scale rows
    only. Arrays are distinct per doc by construction, so set
    semantics are exact."""
    fa = fp_arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha")
    )
    fb = fp_arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")
    )
    n_common = F.size(F.array_intersect("ha", "hb"))
    return (
        F.broadcast(pairs)
        .join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                n_common.cast("double")
                / (F.size("ha") + F.size("hb") - n_common)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


_MINHASH_ORACLE = f"""
WITH corpus AS ({_SQL_CORPUS}),
sh AS ({_SQL_SHINGLE_HASHES}),
sigs AS (
  SELECT doc_id,
    {', '.join(f"MIN((h * {_A[j]} + {_B[j]}) % {_M}) AS m{j}" for j in range(N_HASHES))}
  FROM sh GROUP BY doc_id
),
bands AS (
  {' UNION ALL '.join(
      "SELECT doc_id, " + str(b) + " AS band_idx, "
      + ", ".join(
          f"m{b * ROWS_PER_BAND + r} AS v{r}" for r in range(ROWS_PER_BAND)
      )
      + " FROM sigs"
      for b in range(N_BANDS)
  )}
),
kept AS (
  SELECT * FROM (
    SELECT bands.*, COUNT(*) OVER (
      PARTITION BY band_idx, {', '.join(f"v{r}" for r in range(ROWS_PER_BAND))}
    ) AS bucket_n FROM bands
  ) WHERE bucket_n <= {MINHASH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band_idx = b.band_idx
   AND {' AND '.join(f"a.v{r} = b.v{r}" for r in range(ROWS_PER_BAND))}
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.h = s1.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT
  i.doc_a,
  i.doc_b,
  CAST(i.n_common AS DOUBLE) / (na.n_shingles + nb.n_shingles - i.n_common) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (na.n_shingles + nb.n_shingles - i.n_common) >= 0.5
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    # Probes two session artifacts: the capped band table (the LSH
    # index — signatures→bands→window run once per session) for
    # candidate generation, and the doc-major fingerprint-array table
    # for the exact-Jaccard verify (|A∩B| and sizes off the arrays —
    # the row-major fingerprint table is never shuffled per query).
    pairs = _pairs_from_kept(planted_kept_bands(spark, sf_dir))
    return jaccard_verify(
        pairs, planted_corpus_fingerprint_arrays(spark, sf_dir), threshold=0.5
    )


_NGRAM_JACCARD_ORACLE = f"""
WITH corpus AS ({_SQL_CORPUS}),
sh AS ({_SQL_SHINGLES}),
cand AS (
  SELECT doc_id AS doc_a, doc_id + 2000000 AS doc_b
  FROM documents WHERE doc_id % 7 = 0
),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT
  i.doc_a,
  i.doc_b,
  i.n_common,
  na.n_shingles AS n_a,
  nb.n_shingles AS n_b,
  CAST(i.n_common AS DOUBLE) / (na.n_shingles + nb.n_shingles - i.n_common) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard on a known candidate set (the planted
    dup pairs) — the verification stage of near-dedup, standalone."""
    corpus = _corpus(spark, sf_dir)
    shingled = shingle_docs(corpus)
    d = load(spark, sf_dir, "documents")
    cand = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 2000000).alias("doc_b")
    )
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    s1 = shingled.alias("s1")
    s2 = shingled.alias("s2")
    inter = (
        cand.alias("c")
        .join(s1, F.col("s1.doc_id") == F.col("c.doc_a"))
        .join(
            s2,
            (F.col("s2.doc_id") == F.col("c.doc_b"))
            & (F.col("s2.shingle") == F.col("s1.shingle")),
        )
        .groupBy("c.doc_a", "c.doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    return (
        inter.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("na.n_shingles").alias("n_a"),
            F.col("nb.n_shingles").alias("n_b"),
            (
                F.col("n_common").cast("double")
                / (F.col("na.n_shingles") + F.col("nb.n_shingles") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
