"""[EXT] Triangle census over the co-purchase graph — the classic
distributed-graph benchmark operator (multi-way self-join), rounding
out the graph family: connected components (ext_graph.py), fixed-point
ranking (ext_graph2.py), and now motif counting.

Graph: parts are nodes; an edge connects two parts co-purchased in at
least 2 distinct orders (the support threshold that keeps the
projected graph sparse — projecting a bipartite order×part relation
without a threshold densifies quadratically). Edges are canonically
oriented (part_a < part_b), so each triangle {a<b<c} is enumerated
exactly once by the ordered 3-way join

    e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)

— the standard MapReduce/Spark triangle algorithm: every stage is an
equi-join on node keys (never a cross product), the first join fans
out to open wedges (a<b<c paths), and the second closes them against
the edge list. At 100 TB the edge list is pre-partitioned once by its
join key and reused by both joins; the degree-ordered orientation is
also the classic skew-bound (each wedge is generated at its
lowest-id corner).

Output: per-node triangle participation (how many triangles each part
sits in) — the local clustering signal used for recommendation /
anomaly features. Exact integers end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import load
from . import register

_MIN_SUPPORT = 2


def copurchase_pairs(spark, sf_dir: str) -> DataFrame:
    """Ordered co-purchase part pairs, one row per (order, pa < pb).

    ONE shuffle: groupBy(l_orderkey) + collect_set both dedups and
    groups the basket, then the ordered pairs are generated map-side
    from the sorted array (sort_array makes ps[i] < ps[j] for i < j,
    so the suffix slice enumerates each unordered pair exactly once,
    already canonically oriented). The alternative — distinct() then
    a self-equi-join on l_orderkey — computes the same pairs but pays
    two extra shuffles of the item list. Pairing is two chained
    codegen'd Generate operators (posexplode the sorted basket, then
    explode its suffix) rather than nested ``transform`` lambdas:
    higher-order-function lambdas evaluate interpreted per element,
    measurably slower at per-row millions. Baskets are bounded (a
    purchase order holds a handful of parts), so the k² map-side pair
    fan-out is small and skew-free; for unbounded baskets cap with
    ``slice`` before pairing.
    """
    baskets = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    opened = baskets.select("ps", F.posexplode("ps").alias("i", "pa"))
    return opened.select(
        "pa",
        F.explode(
            F.slice(
                "ps", F.col("i") + F.lit(2), F.size("ps") - F.col("i") - F.lit(1)
            )
        ).alias("pb"),
    )


def copurchase_pair_counts(spark, sf_dir: str):
    """Session-persisted support-filtered co-purchase pair counts
    (pa < pb, n ≥ support) — the graph SNAPSHOT artifact. Five graph
    queries (triangle census, label propagation, k-core, link
    prediction, item-item cosine) analyze this same projection;
    production materializes the edge snapshot once per corpus version
    and every algorithm probes it, so the basket-pairing aggregation
    runs once per session, not once per query. localCheckpoint inside
    the build — iterative consumers need flat lineage, and the memo
    stores the already-materialized plan (persist=False)."""
    from ..memo import session_artifact

    def build():
        return (
            copurchase_pairs(spark, sf_dir)
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= _MIN_SUPPORT)
            .localCheckpoint()
        )

    return session_artifact(
        spark, sf_dir, "copurchase_pairs_n", build, persist=False
    )


def copurchase_edges(spark, sf_dir: str):
    """Key-only view of the co-purchase snapshot (pa < pb)."""
    return copurchase_pair_counts(spark, sf_dir).select("pa", "pb")


def copurchase_adj(spark, sf_dir: str):
    """Symmetrized co-purchase adjacency (node, nbr): the undirected
    graph INDEX every LPA round and k-core peel probes, materialized
    once per session instead of re-checkpointed per call."""
    from ..memo import session_artifact
    from ._util import ser_checkpoint

    def build():
        edges = copurchase_edges(spark, sf_dir)
        return ser_checkpoint(
            edges.select(
                F.col("pa").alias("node"), F.col("pb").alias("nbr")
            ).unionByName(
                edges.select(F.col("pb").alias("node"), F.col("pa").alias("nbr"))
            )
        )

    return session_artifact(spark, sf_dir, "copurchase_adj", build, persist=False)


_TRIANGLE_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_MIN_SUPPORT}
),
tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM edges e1
  JOIN edges e2 ON e2.pa = e1.pb
  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
nodes AS (
  SELECT a AS part_key FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT part_key, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY part_key
"""


@register("graph_triangle_census", _TRIANGLE_ORACLE)
def graph_triangle_census(spark, sf_dir):
    edges = copurchase_edges(spark, sf_dir)
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("a"),
            F.col("e1.pb").alias("b"),
            F.col("e2.pb").alias("c"),
        )
    )
    nodes = (
        tri.select(F.col("a").alias("part_key"))
        .unionByName(tri.select(F.col("b").alias("part_key")))
        .unionByName(tri.select(F.col("c").alias("part_key")))
    )
    return nodes.groupBy("part_key").agg(F.count(F.lit(1)).alias("n_triangles"))
