"""Product quantization (PQ) for approximate nearest neighbor at
scale: compress each d-dim vector into M one-byte codes (one per
subspace), then answer queries with asymmetric distance computation
(ADC) — a per-query lookup table of subspace distances, so scoring a
vector costs M table lookups instead of d multiplies.

Everything here is DataFrame ops — the codebook TRAINING is a
fully-distributed Lloyd iteration (assign via broadcast-centroid join,
re-estimate via per-dimension avg aggregate), and ENCODING/SEARCH are
broadcast equi-joins plus one aggregation. At 100 TB the standard
deployment trains the codebook on a sample (centroid tables are
M*K*subdim floats — kilobytes) and encodes the full corpus in one
map-side pass; the ADC scan shuffles nothing but the (query, vec)
partial sums. Compression here: 64 floats (256 B) → 8 codes (8 B).

Deterministic by construction: seeds are the lowest vec_ids, argmin
ties break on code index via struct ordering, and iteration count is
fixed — no RNG anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..memo import iterate, release_checkpoint

M_SUBSPACES = 8
K_CODES = 16
N_ITER = 3


def _dist2(a, b):
    """Squared L2 between two float arrays, JVM higher-order fns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def subvectors(vectors: DataFrame, dim: int, id_col: str = "vec_id") -> DataFrame:
    """(id, j, sub): split each vector into M contiguous subspaces."""
    subdim = dim // M_SUBSPACES
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(F.col("embedding"), j * subdim + 1, subdim).alias("sub"),
            )
            for j in range(M_SUBSPACES)
        ]
    )
    return vectors.select(id_col, F.explode(parts).alias("p")).select(
        id_col, F.col("p.j").alias("j"), F.col("p.sub").alias("sub")
    )


def train_codebook(subs: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(j, code, centroid): K centroids per subspace via Lloyd
    iterations seeded with the K lowest-id vectors' subvectors.

    Each round is one broadcast join (assign) + one aggregate
    (re-estimate); ``memo.iterate`` checkpoints every round, so the
    lineage stays flat. Codes that lose all members keep their
    previous centroid (left join + coalesce), so the codebook never
    shrinks.

    Checkpoint lifecycle: the FINAL centroids stay live for the whole
    session by design — training runs once per session behind the
    ``session_artifact`` memo (ext_pq._pq_index), so the leak-law
    exposure is one K_CODES-row table per session, not per query.
    """
    w = Window.orderBy(F.col(id_col))
    seed_ids = (
        subs.select(id_col)
        .distinct()
        .select(id_col, F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= K_CODES)
    )
    # Seeding is a one-off driver-side selection of K tiny rows; the
    # global row_number window runs on the distinct-id table, not the
    # corpus. (At production scale: sample + take(K).)
    seed = (
        subs.join(F.broadcast(seed_ids), id_col)
        .select("j", (F.col("rn") - 1).alias("code"), F.col("sub").alias("centroid"))
        .localCheckpoint()
    )
    subdim = len(seed.select("centroid").first()[0])

    def lloyd(centroids):
        assigned = assign_codes(subs, centroids, id_col)
        joined = assigned.join(subs, [id_col, "j"]).select("j", "code", "sub")
        dims = [
            F.avg(F.element_at("sub", i + 1)).alias(f"d{i}") for i in range(subdim)
        ]
        new = (
            joined.groupBy("j", "code")
            .agg(*dims)
            .select(
                "j",
                "code",
                F.array(*[F.col(f"d{i}") for i in range(subdim)]).alias("new_centroid"),
            )
        )
        return centroids.join(new, ["j", "code"], "left").select(
            "j",
            "code",
            F.coalesce("new_centroid", "centroid").alias("centroid"),
        )

    centroids = iterate(seed, lloyd, N_ITER)
    release_checkpoint(seed)
    return centroids


def assign_codes(
    subs: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """(id, j, code): nearest centroid per subspace. Broadcast join on
    j, argmin via min_by over a (dist, code) struct — total order, so
    ties are deterministic."""
    scored = subs.join(F.broadcast(centroids), "j").select(
        id_col,
        "j",
        "code",
        _dist2(F.col("sub"), F.col("centroid")).alias("dist2"),
    )
    return scored.groupBy(id_col, "j").agg(
        F.min_by("code", F.struct("dist2", "code")).alias("code")
    )


def adc_topk(
    codes: DataFrame,
    centroids: DataFrame,
    query_subs: DataFrame,
    k: int = 10,
) -> DataFrame:
    """(query_id, vec_id, rank, approx_d): top-k by ADC distance.

    The per-query lookup table (query × M × K squared distances) is a
    few hundred rows — broadcast it; the corpus side contributes its
    (vec_id, j, code) triplets and one sum-aggregate per (query, vec).
    """
    tables = query_subs.join(F.broadcast(centroids), "j").select(
        F.col("query_id"),
        "j",
        "code",
        _dist2(F.col("qsub"), F.col("centroid")).alias("dpart"),
    )
    scored = (
        codes.join(F.broadcast(tables), ["j", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dpart").alias("approx_d"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d").asc(), F.col("vec_id").asc()
    )
    return (
        scored.select(
            "query_id",
            "vec_id",
            F.round(F.col("approx_d"), 6).alias("approx_d"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def pq_search(
    corpus: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    overfetch: int = 100,
) -> DataFrame:
    """(query_id, vec_id, rank, dist): ADC shortlist + exact re-rank —
    the standard production PQ pipeline. The compressed scan shortlists
    ``overfetch`` candidates per query (cheap: M lookups/vector), and
    only those candidates fetch their raw vectors for an exact distance
    — a broadcast-able candidate set joined back to the corpus, so the
    expensive full-precision math touches overfetch×queries rows, not
    the corpus. Recall is tunable via overfetch with cost linear in it.
    """
    query_subs = subvectors(
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        dim=dim,
        id_col="query_id",
    ).select("query_id", "j", F.col("sub").alias("qsub"))
    shortlist = adc_topk(codes, centroids, query_subs, k=overfetch).select(
        "query_id", "vec_id"
    )
    qvecs = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = (
        F.broadcast(shortlist)
        .join(corpus, "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(_dist2(F.col("embedding"), F.col("qvec")), 6).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return exact.select(
        "query_id", "vec_id", "dist", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= k)
