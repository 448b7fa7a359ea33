"""[EXT] Product-quantization ANN over the embeddings table — the
memory-bound scale path beyond IVF: 64-float vectors compress to 8
one-byte codes and queries scan codes with ADC lookup tables
(operators/pq.py).

Rows-only: codebook training averages doubles (engine-ordered
reduction), so distances are not bit-stable across engines; the
operator's laws (recall vs exact brute force, ADC==sum-of-subspace
distances) are asserted in tests/test_pq.py instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.pq import assign_codes, pq_search, subvectors, train_codebook
from ..tables import load
from . import register
from ..memo import session_artifact

_N_QUERIES = 5
_DIM = 64


def _pq_index(spark, sf_dir):
    """(centroids, codes) as session artifacts — the production PQ
    posture: the codebook is trained and the corpus encoded ONCE, then
    every search probes the persisted index (same memo the dedup
    fingerprint and graph edge tables use). Training output is already
    materialized by localCheckpoint, so only the code table persists."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = session_artifact(
        spark, sf_dir, "pq_centroids",
        lambda: train_codebook(subvectors(emb, dim=_DIM)),
        persist=False,
    )
    codes = session_artifact(
        spark, sf_dir, "pq_codes",
        lambda: assign_codes(subvectors(emb, dim=_DIM), centroids),
    )
    return emb, centroids, codes


@register("similarity_pq_adc")  # rows-only: float-reduction training
def similarity_pq_adc(spark, sf_dir):
    emb, centroids, codes = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return pq_search(emb, codes, centroids, queries, dim=_DIM, k=10)



@register("search_semantic_docs_pq")  # rows-only: float-reduction training
def search_semantic_docs_pq(spark, sf_dir):
    """The RAG retrieval query (ext_search.search_semantic_docs) with
    the exact scorer swapped for the PQ+ADC tier — the approximate
    path a 100 TB corpus actually serves from. Same query set
    (vec_id ≡ 0 mod 100), same k=3 hit list, same broadcast text
    hydration; only the scoring dataflow changes: compressed-code ADC
    shortlist, exact re-rank on the shortlist only. Recall@3 vs the
    exact query is asserted in tests/test_pq.py.
    """
    from pyspark.sql import Window

    emb, centroids, codes = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    # k=4 covers the query's own vector (dist 0); re-rank after the
    # self-filter so ranks stay 1..3 — the protocol of the exact twin.
    hits = pq_search(emb, codes, centroids, queries, dim=_DIM, k=4).filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    hits = (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            "rank",
            F.floor(F.col("dist") * F.lit(1e6)).cast("bigint").alias("dist_e6"),
        )
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring("text", 1, 40).alias("snippet")
    )
    return F.broadcast(hits).join(docs, "doc_id").select(
        "query_id", "doc_id", "rank", "dist_e6", "source", "snippet"
    )
