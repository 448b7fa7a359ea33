"""[EXT] Exact 1-D k-means — Lloyd's algorithm made hash-checkable,
completing the clustering family's evidence ladder: the embedding
k-means (`similarity_ivf_kmeans`) is rows-only because 64-D float
means can't cross engines bit-stably; in 1-D over integer CENTS every
step is exact — init by percentile_disc quartiles, assignment by
integer |distance| with a lower-centroid tiebreak, update by FLOOR
integer average — so three unrolled rounds replay identically in
DuckDB CTEs (the same unroll discipline as PageRank / LPA / BPE /
k-core).

Scale: the k centroids are driver integers. Per round ONE scan
assigns each value against the centroids inlined as literals, and ONE
map-side-combined global aggregate returns the next k to the driver;
the data is never shuffled on anything wider than the centroid id.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..tables import load
from . import register
from ._util import cents

_K = 4
_ROUNDS = 3

# init: interior quartiles, exact integers (percentile_disc returns a
# DOUBLE whose value is an exact integer here)
_INIT = [
    f"CAST(percentile_disc({(i + 1) / (_K + 1)}) WITHIN GROUP (ORDER BY c)"
    f" * 1 AS BIGINT)"
    for i in range(_K)
]
_INIT_SQL = ", ".join(f"{e} AS c{i}" for i, e in enumerate(_INIT))


def _assign_case(m) -> str:
    # nearest centroid, ties to the LOWER centroid index: c_i wins iff
    # |x-c_i| is strictly less than every earlier |x-c_j| and <= later
    return "CASE " + " ".join(
        f"WHEN {' AND '.join(f'ABS(c - {m[i]}) <= ABS(c - {m[j]})' for j in range(_K) if j != i)} THEN {i}"
        for i in range(_K)
    ) + " END"


def _update(m) -> list[str]:
    # FLOOR integer mean of each cluster; an empty cluster keeps m[i]
    return [
        f"CAST(COALESCE(FLOOR(AVG(c) FILTER (WHERE cl = {i})), {m[i]}) AS BIGINT)"
        for i in range(_K)
    ]


def _centroid_case(m) -> str:
    return f"CASE cl {' '.join(f'WHEN {i} THEN {m[i]}' for i in range(_K))} END"


_M = [f"m.c{i}" for i in range(_K)]  # the oracle's centroids: CTE m's columns
_ASSIGN_CASE = _assign_case(_M)


def _round_cte(r: int) -> str:
    prev = f"m{r - 1}"
    aggs = ", ".join(
        f"{e} AS c{i}" for i, e in enumerate(_update([f"MAX({c})" for c in _M]))
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
       CAST(MAX({_centroid_case(_M)}) AS BIGINT) AS centroid_cents
FROM afinal CROSS JOIN m{_ROUNDS} m
GROUP BY cl
"""
)


@register("cluster_kmeans_1d_prices", _KMEANS_ORACLE)
def cluster_kmeans_1d_prices(spark, sf_dir):
    v = load(spark, sf_dir, "events").select(
        cents("value").alias("c")
    )
    # The K centroids are exact integers held on the driver: each Lloyd
    # round is one global aggregate collected with .first(), and the
    # next round inlines its centroids as literals (NULL when events is
    # empty), so a round stores nothing.
    def driver_ints(df, exprs):
        row = df.agg(*map(F.expr, exprs)).first()
        return ["NULL" if x is None else x for x in row]

    def assign(m):
        return v.select("c", F.expr(_assign_case(m)).alias("cl"))

    m = driver_ints(v, _INIT)
    for _ in range(_ROUNDS):
        m = driver_ints(assign(m), _update(m))
    return (
        assign(m)
        .groupBy("cl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("c").cast("bigint").alias("lo_cents"),
            F.max("c").cast("bigint").alias("hi_cents"),
            F.max(F.expr(_centroid_case(m))).cast("bigint").alias(
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
