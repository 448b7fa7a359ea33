"""[EXT] Label propagation community detection — the fourth graph
operator family member (components → fixed-point ranking → motif
census → now community structure).

Classic LPA (Raghavan et al. 2007) is nondeterministic twice over:
random update order and random tiebreak. This is the deterministic
synchronous variant a data pipeline can actually re-run: every node
starts as its own label, and each round every node simultaneously
adopts the MAJORITY label among its neighbors with a TOTAL tiebreak
(count DESC, label ASC) — making an inherently heuristic algorithm
hash-checkable, the same move as `graph_pagerank_trade`. Three
unrolled rounds; the DuckDB oracle replays them as CTEs with the
identical window argmax.

Graph: the support-thresholded co-purchase projection
(ext_graph3.copurchase_pairs, support ≥ 2), symmetrized — LPA is an
undirected-graph algorithm.

Output: (part_key, community label after 3 rounds). Communities here
are the "products bought together" clusters used for curriculum
bucketing / recommendation candidate pools.

Scale posture: each round is ONE shuffle of (edge ⋈ label) on the
node key — the same join+argmax shape as distributed LPA in
GraphX/Pregel, with the label table ≪ edges. The adjacency snapshot
is the session artifact copurchase_adj (it feeds every round's join);
the _N_ROUNDS rounds themselves stay LAZY — each round's labels have
exactly one consumer, so the bounded unrolled plan runs as one job
into the final rotated checkpoint (r14; previously one job + one
materialization per round). The window argmax runs on the
post-aggregation (node, label, cnt) table, partitioned by node —
co-partitioned with the groupBy that produced it, so AQE plans no
extra exchange.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register
from ._util import rotate_checkpoint
from .ext_graph3 import _MIN_SUPPORT, copurchase_adj

_N_ROUNDS = 3

_ITER_CTE = """
v{k} AS (
  SELECT a.node, l.label, COUNT(*) AS cnt
  FROM adj a JOIN l{prev} l ON l.node = a.nbr
  GROUP BY a.node, l.label
),
l{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (
             PARTITION BY node ORDER BY cnt DESC, label ASC
           ) AS rn
    FROM v{k}
  ) WHERE rn = 1
)"""

_LPA_ORACLE = (
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
adj AS (
  SELECT pa AS node, pb AS nbr FROM e
  UNION ALL
  SELECT pb AS node, pa AS nbr FROM e
),
l0 AS (
  SELECT DISTINCT node, node AS label FROM adj
),"""
    + ",".join(_ITER_CTE.format(k=k, prev=k - 1) for k in range(1, _N_ROUNDS + 1))
    + f"""
SELECT node AS part_key, CAST(label AS BIGINT) AS community
FROM l{_N_ROUNDS}
"""
)


def _lpa_driver_rounds(adj_rows) -> dict:
    """The _N_ROUNDS synchronous majority rounds as exact driver
    arithmetic over the collected adjacency — integer counts, argmax
    tiebreak (cnt DESC, label ASC), identical to the oracle CTEs (and
    to tests/test_round6_ops.py's independent reference)."""
    adj: dict = {}
    for r in adj_rows:
        adj.setdefault(r[0], []).append(r[1])
    labels = {n: n for n in adj}
    from collections import Counter

    for _ in range(_N_ROUNDS):
        labels = {
            n: min(
                Counter(labels[m] for m in nbrs).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for n, nbrs in adj.items()
        }
    return labels


@register("graph_label_propagation", _LPA_ORACLE)
def graph_label_propagation(spark, sf_dir):
    adj = copurchase_adj(spark, sf_dir)

    # Driver guard, on connected_components' driver_edges threshold:
    # the support-thresholded co-purchase adjacency is metadata-sized
    # at gate scales (~7k rows at sf0.1), where the distributed 3-round
    # unroll paid ~1.4 s of pure stage overhead per invocation. Below
    # the guard the rounds run as exact driver arithmetic on the
    # fetched adjacency rows (memoized per session, None above the
    # guard); above it the distributed loop below runs.
    from ..guards import fetch
    from ..memo import session_memo

    def fetch_rows():
        pdf = fetch("driver_edges", adj)
        if pdf is None:
            return None
        return list(zip(pdf["node"].tolist(), pdf["nbr"].tolist()))

    rows = session_memo(spark, sf_dir, "copurchase_adj_rows", fetch_rows)
    if rows is not None:
        import pandas as pd

        labels = _lpa_driver_rounds(rows)
        nodes = list(labels)
        pdf = pd.DataFrame(
            {
                "part_key": pd.Series(nodes, dtype="int64"),
                "community": pd.Series(
                    [labels[n] for n in nodes], dtype="int64"
                ),
            }
        )
        return spark.createDataFrame(pdf, "part_key long, community long")

    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )

    # The rounds stay LAZY (r14): each round's labels feed exactly one
    # consumer (the next round's join), so per-round localCheckpoints
    # bought no de-duplication — only _N_ROUNDS extra jobs and
    # materializations per invocation. The whole 3-round unrolled plan
    # (bounded depth, same class as the BFS 3-hop unroll) now runs as
    # ONE job into the final rotated checkpoint below.
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(_N_ROUNDS):
        votes = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    # final labels back the returned result — rotated, released by the
    # next invocation
    labels = rotate_checkpoint("ext_graph4.lpa.labels", labels.localCheckpoint())
    return labels.select(
        F.col("node").alias("part_key"), F.col("label").cast("bigint").alias("community")
    )
