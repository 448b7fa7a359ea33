"""MLlib feature pipelines over the document store.

Three production shapes, all pure JVM (no Python in the hot path):

- ``tfidf_embeddings``: RegexTokenizer → HashingTF → IDF → Normalizer
  — embedding *generation* from raw text, the MLlib path of the north
  star. Deterministic (HashingTF is seedless murmur3; IDF is a
  function of the corpus), so downstream consumers can hash-compare
  runs.
- ``ml_minhash_dup_pairs``: MinHashLSH over shingle count-vectors —
  the built-in alternative to the hand-rolled band join in
  ``queries/ext_dedup.py``; tests assert the two find the same
  planted duplicates.
- ``brp_lsh_neighbors``: BucketedRandomProjectionLSH over the
  ``embeddings`` table — Euclidean ANN; tests assert recall against
  the brute-force cosine baseline (unit-norm vectors ⇒ same ranking).

Scale posture: every stage is a narrow map except the LSH join, whose
candidate generation is an equi-join on hash buckets (approxSimilarityJoin
explodes hash tables then joins) — the same n²/buckets shape as the
hand-rolled variants.
"""

from __future__ import annotations

from pyspark.ml.feature import (
    BucketedRandomProjectionLSH,
    HashingTF,
    IDF,
    MinHashLSH,
    NGram,
    Normalizer,
    RegexTokenizer,
)
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame, functions as F

N_FEATURES = 1 << 14

# JVM-side array<double> -> VectorUDT bridge into the LSH/KMeans
# estimators (no Python crossing). Scale twins in
# queries/ext_similarity* skip MLlib entirely.
_to_vec = array_to_vector


def tfidf_embeddings(
    documents: DataFrame, text_col: str = "text", dense: bool = True
) -> DataFrame:
    """(doc_id, embedding) — L2-normalized tf-idf; ``dense=True``
    returns ``array<double>`` (N_FEATURES wide), ``dense=False`` the
    raw (sparse) VectorUDT column. Per-row reductions should take the
    sparse form: densifying costs N_FEATURES elements per row where
    the stored nnz is ~100 (the r10 sweep measured the dense path at
    80 s for 63k docs — nearly all of it zeros).

    The IDF model is fit on the input corpus (one extra pass); at
    100 TB you fit on a sample and reuse the model across runs. The
    input is spread over the core count first: the tokenize→hash map
    chain otherwise inherits the corpus file's split count (1-2 splits
    for the ≤6 MB harness files).
    """
    spark = documents.sparkSession
    documents = documents.repartition(spark.sparkContext.defaultParallelism)
    tok = RegexTokenizer(
        inputCol=text_col, outputCol="toks", pattern=r"\W+", minTokenLength=1
    )
    tf = HashingTF(inputCol="toks", outputCol="tf", numFeatures=N_FEATURES)
    toks = tok.transform(documents)
    tfd = tf.transform(toks)
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(tfd)
    norm = Normalizer(inputCol="tfidf", outputCol="emb", p=2.0)
    out = norm.transform(idf.transform(tfd))
    if dense:
        return out.select("doc_id", vector_to_array("emb").alias("embedding"))
    return out.select("doc_id", F.col("emb").alias("embedding"))


def _shingle_vectors(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Binary occurrence vectors of word 3-grams (the MinHash input —
    MinHashLSH requires at least one non-zero per row, so empty docs
    are filtered like the reference's empty-element drop)."""
    tok = RegexTokenizer(
        inputCol=text_col, outputCol="toks", pattern=r"\s+", minTokenLength=1
    )
    ng = NGram(n=3, inputCol="toks", outputCol="grams")
    tf = HashingTF(
        inputCol="grams", outputCol="features", numFeatures=N_FEATURES, binary=True
    )
    grams = ng.transform(tok.transform(documents))
    # Binary HashingTF of a non-empty grams array always has >=1
    # non-zero, so the "at least one non-zero" precondition is a pure
    # JVM array-size filter BEFORE vectorization — no row UDF needed.
    return tf.transform(grams.filter(F.size("grams") > 0))


def ml_minhash_dup_pairs(
    documents: DataFrame, threshold: float = 0.5, num_hash_tables: int = 8
) -> DataFrame:
    """(doc_a, doc_b, jaccard_dist) near-dup candidates with Jaccard
    distance ≤ threshold, via MLlib MinHashLSH approxSimilarityJoin.

    The corpus spreads over the core count before shingling: the
    tokenize→ngram→hash chain and — decisive at sf1 — the candidate
    join's exact-Jaccard verification otherwise inherit the corpus
    file's 1-2 byte-sized splits (r10 sweep: 238 s at sf1 on ~2 cores,
    ~30 s spread). MLlib's MinHashLSH amplifies OR-only (one hash per
    table, band width 1), so each table's collision probability per
    pair EQUALS its Jaccard similarity — the candidate set carries
    every weakly-similar pair 8 ways and the verify stage, not the
    join, is the scale cost. The production tier remains the
    hand-rolled banded join (queries/ext_dedup.py: AND-amplified
    bands, frequent-bucket cap, measured 2.2x/decade); this query
    exists as the built-in cross-check of that path."""
    spark = documents.sparkSession
    documents = documents.repartition(spark.sparkContext.defaultParallelism)
    vecs = _shingle_vectors(documents).select("doc_id", "features")
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    ).fit(vecs)
    joined = lsh.approxSimilarityJoin(vecs, vecs, threshold, distCol="jaccard_dist")
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            "jaccard_dist",
        )
    )


def brp_lsh_neighbors(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bucket_length: float = 2.0,
    radius: float = 1.2,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rank) — approx k-NN by Euclidean
    LSH, fully distributed: ``approxSimilarityJoin`` generates
    candidates by bucket equi-join (no driver loop, unlike
    ``approxNearestNeighbors`` which serves one key at a time), then a
    per-query window keeps the top k. For unit-norm vectors, Euclidean
    and cosine rankings agree (d² = 2 - 2·cos)."""
    from pyspark.sql import Window

    # same single-split guard as ml_minhash_dup_pairs: the embeddings
    # file is one split at every harness SF
    base = embeddings.repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism
    ).select("vec_id", _to_vec("embedding").alias("features"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=4,
        seed=42,
    ).fit(base)
    q = queries.select(
        F.col("vec_id").alias("query_id"), _to_vec("embedding").alias("features")
    )
    joined = lsh.approxSimilarityJoin(q, base, radius, distCol="dist")
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist"), F.col("neighbor_id")
    )
    return (
        joined.select(
            F.col("datasetA.query_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            "dist",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def kmeans_ivf_neighbors(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probes: int = 2,
    artifact: tuple | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) — IVF ANN with LEARNED
    centroids: the production upgrade of the deterministic-seed IVF in
    ``queries/ext_similarity.py`` (SCALE.md "what would change first").

    Fit: sampled k-means (here the full table — at 100 TB a ~0.1%
    sample; the model is centroids only, broadcast-sized regardless of
    corpus size). Assign: ``model.transform`` is a narrow map (argmin
    over broadcast centroids). Probe: queries search their
    ``n_probes`` nearest cells (Euclidean, matching the quantizer's
    own metric) — the standard multi-probe recall lever; candidate
    generation stays an equi-join on cell id (cells are disjoint, so
    each candidate pair appears once), never a cross join.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.sql import Window

    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    ).withColumn("features", _to_vec("arr"))
    spark = embeddings.sparkSession
    state: dict = {}

    def _fit_cells() -> DataFrame:
        model = KMeans(k=n_cells, seed=42, featuresCol="features").fit(base)
        state["cent"] = spark.createDataFrame(
            [
                (i, [float(x) for x in c])
                for i, c in enumerate(model.clusterCenters())
            ],
            "pcell int, cv array<double>",
        )
        return model.transform(base).select(
            "vec_id", "arr", F.col("prediction").alias("cell_id")
        )

    if artifact is not None:
        # Production posture (same as the PQ codebook / seeded-IVF
        # assignment): the quantizer is TRAINED ONCE per (application,
        # corpus) and every search probes it; `artifact=(spark,
        # sf_dir)` routes both the cell table and the centroid table
        # through the session memo, one fit total. Direct calls (the
        # recall/determinism laws in tests) skip the memo and fit
        # fresh, so the memo can never mask a nondeterministic
        # trainer. The memo kind carries n_cells — the one fit
        # parameter that changes the artifact — so a same-session call
        # with a different k trains its own quantizer instead of
        # silently probing a stale one; and the centroid builder
        # refits when `state` is empty (cells cached by an earlier
        # pass whose centroid memoization never landed), so both
        # artifacts always come from one trainer run.
        from ..memo import session_artifact

        def _cent_from_same_fit() -> DataFrame:
            if "cent" not in state:
                _fit_cells()
            return state["cent"]

        aspark, sf_dir = artifact
        cells = session_artifact(
            aspark, sf_dir, f"kmeans_ivf_cells_k{n_cells}", _fit_cells
        )
        cent_df = session_artifact(
            aspark, sf_dir, f"kmeans_ivf_cent_k{n_cells}", _cent_from_same_fit
        )
    else:
        cells = _fit_cells()
        cent_df = state["cent"]
    # Query-side multi-probe assignment: rank all centroids by the
    # quantizer's Euclidean metric, keep the n_probes nearest.
    d2 = F.aggregate(
        F.zip_with("qarr", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.col("d2"), F.col("pcell"))
    q = (
        cells.join(queries.select("vec_id"), "vec_id", "left_semi")
        .select(F.col("vec_id").alias("query_id"), F.col("arr").alias("qarr"))
        .crossJoin(F.broadcast(cent_df))
        .withColumn("d2", d2)
        .withColumn("probe_rank", F.row_number().over(w_probe))
        .filter(F.col("probe_rank") <= n_probes)
        .select("query_id", "qarr", "pcell")
    )
    # Statically-unrolled dot/norm (ext_similarity's codegen idiom):
    # the higher-order F.aggregate/zip_with forms run INTERPRETED per
    # element — the sf1 probe measured ~10 s of the 13 s total in this
    # scorer before the swap. Bit-identical (left-associated IEEE sum,
    # 0.0 + x == x).
    from ..queries.ext_similarity import _dot_unrolled, _norm

    dot = _dot_unrolled("qarr", "arr")
    # candidate-side fan-out before the scorer join: splits are
    # bytes-sized but each row pays a 64-term dot per probing query
    # (see queries/ext_similarity.py for the measured rationale).
    # Norms materialize BEFORE the join on both sides — attached to
    # the join output they re-evaluate per candidate pair and widen
    # the generated project (the similarity_topk_bruteforce codegen
    # finding).
    scored = cells.withColumn("anrm", _norm("arr")).repartition(
        cells.sparkSession.sparkContext.defaultParallelism
    ).join(
        F.broadcast(q.withColumn("qnrm", _norm("qarr"))),
        (F.col("cell_id") == F.col("pcell")) & (F.col("vec_id") != F.col("query_id")),
    ).withColumn("sim", dot / (F.col("qnrm") * F.col("anrm")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "sim")
    )
