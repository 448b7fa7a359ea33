"""[EXT] Exact 1-D k-means — Lloyd's algorithm made hash-checkable,
completing the clustering family's evidence ladder: the embedding
k-means (`similarity_ivf_kmeans`) is rows-only because 64-D float
means can't cross engines bit-stably; in 1-D over integer CENTS every
step is exact — init by percentile_disc quartiles, assignment by
integer |distance| with a lower-centroid tiebreak, update by FLOOR
integer average — so three unrolled rounds replay identically in
DuckDB CTEs (the same unroll discipline as PageRank / LPA / BPE /
k-core).

Scale: per round ONE broadcast of k centroids into the assignment
scan and ONE map-side-combined groupBy(k); the data is never
shuffled on anything wider than the centroid id.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..tables import load
from . import register
from ._util import cents, iterate, rotate_checkpoint

_K = 4
_ROUNDS = 3

_INIT_SQL = ", ".join(
    f"CAST(percentile_disc({(i + 1) / (_K + 1)}) WITHIN GROUP (ORDER BY c)"
    f" * 1 AS BIGINT) AS c{i}"
    for i in range(_K)
)

_ASSIGN_CASE = "CASE " + " ".join(
    # nearest centroid, ties to the LOWER centroid index: c_i wins iff
    # |x-c_i| is strictly less than every earlier |x-c_j| and <= later
    f"WHEN {' AND '.join(f'ABS(c - m.c{i}) <= ABS(c - m.c{j})' for j in range(_K) if j != i)} THEN {i}"
    for i in range(_K)
) + " END"


def _round_cte(r: int) -> str:
    prev = f"m{r - 1}"
    aggs = ", ".join(
        f"CAST(COALESCE(FLOOR(AVG(c) FILTER (WHERE cl = {i})),"
        f" MAX(m.c{i})) AS BIGINT) AS c{i}"
        for i in range(_K)
    )
    return f"""
a{r} AS (
  SELECT c, {_ASSIGN_CASE} AS cl FROM v CROSS JOIN {prev} m
),
m{r} AS (
  SELECT {aggs} FROM a{r} CROSS JOIN {prev} m
)"""


_KMEANS_ORACLE = (
    f"""
WITH v AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM events
),
m0 AS (
  SELECT {_INIT_SQL} FROM v
),"""
    + ",".join(_round_cte(r) for r in range(1, _ROUNDS + 1))
    + f""",
afinal AS (
  SELECT c, {_ASSIGN_CASE} AS cl FROM v CROSS JOIN m{_ROUNDS} m
)
SELECT CAST(cl AS INT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(c) AS BIGINT) AS lo_cents,
       CAST(MAX(c) AS BIGINT) AS hi_cents,
       CAST(MAX(CASE cl {' '.join(f'WHEN {i} THEN m.c{i}' for i in range(_K))} END) AS BIGINT) AS centroid_cents
FROM afinal CROSS JOIN m{_ROUNDS} m
GROUP BY cl
"""
)


@register("cluster_kmeans_1d_prices", _KMEANS_ORACLE)
def cluster_kmeans_1d_prices(spark, sf_dir):
    v = load(spark, sf_dir, "events").select(
        cents("value").alias("c")
    )
    # init: interior quartiles, exact integers (percentile_disc
    # returns a DOUBLE whose value is an exact integer here)
    m = v.agg(
        *[
            F.expr(
                f"CAST(percentile_disc({(i + 1) / (_K + 1)})"
                f" WITHIN GROUP (ORDER BY c) AS BIGINT)"
            ).alias(f"c{i}")
            for i in range(_K)
        ]
    )
    assign_case = "CASE " + " ".join(
        f"WHEN {' AND '.join(f'ABS(c - c{i}) <= ABS(c - c{j})' for j in range(_K) if j != i)} THEN {i}"
        for i in range(_K)
    ) + " END"

    def lloyd(m):
        a = v.join(F.broadcast(m)).select(
            "c", F.expr(assign_case).alias("cl")
        )
        return a.join(F.broadcast(m)).agg(
            *[
                F.expr(
                    f"CAST(COALESCE(FLOOR(AVG(c) FILTER (WHERE cl = {i})),"
                    f" MAX(c{i})) AS BIGINT)"
                ).alias(f"c{i}")
                for i in range(_K)
            ]
        )

    # final centroids back the returned result — rotated, released by
    # the next invocation
    m = rotate_checkpoint("ml_queries3.kmeans.m", iterate(m, lloyd, _ROUNDS))
    final = v.join(F.broadcast(m)).select("c", F.expr(assign_case).alias("cl"))
    centroid_case = (
        "CASE cl "
        + " ".join(f"WHEN {i} THEN c{i}" for i in range(_K))
        + " END"
    )
    return (
        final.join(F.broadcast(m))
        .groupBy("cl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("c").cast("bigint").alias("lo_cents"),
            F.max("c").cast("bigint").alias("hi_cents"),
            F.max(F.expr(centroid_case)).cast("bigint").alias(
                "centroid_cents"
            ),
        )
        .select(
            F.col("cl").cast("int").alias("cluster"),
            "n",
            "lo_cents",
            "hi_cents",
            "centroid_cents",
        )
    )
