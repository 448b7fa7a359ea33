"""[EXT] K-core decomposition + co-purchase cosine similarity — the
fifth graph-family member (components → ranking → motifs →
communities → now density peeling) plus the item-item similarity
projection recommendation pipelines build from baskets.

K-core: iteratively delete nodes of degree < k until fixpoint. Like
LPA/PageRank, the loop is unrolled a fixed number of rounds so the
result is hash-checkable; each round is ONE degree groupBy plus two
semi-joins of the edge list against the surviving-node set — the
standard distributed peel (every step an equi-join on a node key,
never a cross product), with ``memo.iterate`` keeping lineage flat.
The DuckDB oracle replays the identical rounds as CTEs.

Cosine: for canonically-oriented co-purchase pairs, cos²(a,b) =
cnt_ab² / (cnt_a·cnt_b) over binary order-incidence vectors — the
exact item-item similarity from co-occurrence counts alone. Emitted
floor-scaled (×1e6) from one fixed-order IEEE expression over exact
integers (BIGINT products overflow at ~3e9 baskets; the double form
is the scale-safe one). Top-50 by (score, pair) total order.

Scale posture: the pair table is produced by the single-shuffle
basket pairing of ext_graph3.copurchase_pairs; marginal counts join
back on part keys (two key-only shuffles of an already-reduced
table). No step touches the fact table twice.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..tables import load
from . import register
from ._util import iterate, rotate_checkpoint
from .ext_graph3 import _MIN_SUPPORT, copurchase_adj, copurchase_pair_counts

_K = 2  # peel threshold (k=3 empties the sf0.1 projection entirely)
_N_ROUNDS = 3

_PEEL_CTE = """
d{r} AS (SELECT node, COUNT(*) AS deg FROM a{prev} GROUP BY node),
alive{r} AS (SELECT node FROM d{r} WHERE deg >= {k}),
a{r} AS (
  SELECT x.node, x.nbr FROM a{prev} x
  WHERE EXISTS (SELECT 1 FROM alive{r} v WHERE v.node = x.node)
    AND EXISTS (SELECT 1 FROM alive{r} v WHERE v.node = x.nbr)
)"""

_KCORE_ORACLE = (
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_MIN_SUPPORT}
),
a0 AS (
  SELECT pa AS node, pb AS nbr FROM e
  UNION ALL
  SELECT pb AS node, pa AS nbr FROM e
),"""
    + ",".join(
        _PEEL_CTE.format(r=r, prev=r - 1, k=_K)
        for r in range(1, _N_ROUNDS + 1)
    )
    + f"""
SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS degree
FROM a{_N_ROUNDS} GROUP BY node
"""
)


@register("graph_kcore_peel", _KCORE_ORACLE)
def graph_kcore_peel(spark, sf_dir):
    def peel(adj):
        alive = (
            adj.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _K)
            .select("node")
        )
        return adj.join(alive, "node", "left_semi").join(
            alive.select(F.col("node").alias("nbr")), "nbr", "left_semi"
        )

    # the surviving adjacency backs the returned result — rotated,
    # released by the next invocation
    adj = rotate_checkpoint(
        "ext_graph5.kcore.adj",
        iterate(copurchase_adj(spark, sf_dir), peel, _N_ROUNDS),
    )
    return adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    ).select(F.col("node").alias("part_key"), "degree")


_COS_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS cnt_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_MIN_SUPPORT}
),
marg AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey
)
SELECT p.pa, p.pb, CAST(p.cnt_ab AS BIGINT) AS cnt_ab,
       CAST(ma.cnt AS BIGINT) AS cnt_a, CAST(mb.cnt AS BIGINT) AS cnt_b,
       CAST(FLOOR(CAST(p.cnt_ab AS DOUBLE) * CAST(p.cnt_ab AS DOUBLE)
                  / (CAST(ma.cnt AS DOUBLE) * CAST(mb.cnt AS DOUBLE))
                  * 1000000.0) AS BIGINT) AS cos2_e6
FROM pairs p
JOIN marg ma ON ma.l_partkey = p.pa
JOIN marg mb ON mb.l_partkey = p.pb
ORDER BY cos2_e6 DESC, p.pa ASC, p.pb ASC
LIMIT 50
"""


@register("items_cooccurrence_cosine", _COS_ORACLE)
def items_cooccurrence_cosine(spark, sf_dir):
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = copurchase_pair_counts(spark, sf_dir).select(
        "pa", "pb", F.col("n").alias("cnt_ab")
    )
    marg = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        pairs.join(
            marg.select(
                F.col("l_partkey").alias("pa"), F.col("cnt").alias("cnt_a")
            ),
            "pa",
        )
        .join(
            marg.select(
                F.col("l_partkey").alias("pb"), F.col("cnt").alias("cnt_b")
            ),
            "pb",
        )
        .select(
            "pa",
            "pb",
            F.col("cnt_ab").cast("bigint").alias("cnt_ab"),
            F.col("cnt_a").cast("bigint").alias("cnt_a"),
            F.col("cnt_b").cast("bigint").alias("cnt_b"),
            F.expr(
                "CAST(FLOOR(CAST(cnt_ab AS DOUBLE) * CAST(cnt_ab AS DOUBLE)"
                " / (CAST(cnt_a AS DOUBLE) * CAST(cnt_b AS DOUBLE))"
                " * 1000000.0) AS BIGINT)"
            ).alias("cos2_e6"),
        )
    )
    return scored.orderBy(
        F.desc("cos2_e6"), F.asc("pa"), F.asc("pb")
    ).limit(50)
