"""[EXT] Iterative graph ranking — PageRank over the customer ⇄
supplier trade graph, in exact integer arithmetic.

Companion to the min-label connected components in ext_graph.py: that
one proves convergence-loop plumbing; this one proves *fixed-point
iteration with value redistribution* — the Pregel/GraphX pattern a
curation pipeline uses for domain-authority scoring (rank a source
domain by who links to it, then weight documents by domain rank).

The graph: one undirected edge per distinct (customer, supplier) pair
that traded (orders × lineitem), suppliers offset by +1,000,000 into
a shared node-id space. Three damped iterations (d = 0.85 = 17/20):

    r₀(v)    = 1_000_000                                 (micro-units)
    rₖ₊₁(v) = 150_000 + Σ_{u→v} (rₖ(u) · 17) DIV (20 · outdeg(u))

Everything stays BIGINT: the per-edge share uses *integer* division,
so the result is bit-identical regardless of engine, partitioning, or
summation order — which is what makes an iterative float algorithm
oracle-checkable at all (double-precision PageRank would diverge from
any other engine in the last ulp and never hash-match). The DuckDB
oracle unrolls the same three iterations as chained CTEs.

Scale posture: each iteration is one equi-join (edges ⋈ ranks on src,
both sides partitioned by the join key) plus one groupBy(dst) with
map-side partial sums — the textbook distributed PageRank shape. The
rank table is one row per node (≪ edges); lineage is truncated with
``localCheckpoint`` per iteration so the plan stays flat however many
iterations run. No driver-side state beyond the loop counter.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..guards import decide
from ..tables import load
from . import register

_SUPP_OFFSET = 1_000_000
_ITER = 3


def trade_edges(spark, sf_dir: str):
    """Session-persisted graph snapshot: the distinct (cust, supp)
    trade pairs feed the degree aggregate, both edge directions, and
    repeated ranking/BFS runs in one session — cached once per
    (app, sf) like the fingerprint artifacts, probed thereafter.

    A SERIALIZED localCheckpoint (``_util.ser_checkpoint``) dodges two
    failure modes at once: the deserialized default OOM'd sf30 (~170M
    pair rows as Java object graphs, disk-evicted blocks re-inflated
    per scan), and a columnar ``persist()`` keeps the lineage, so the
    3-hop BFS unroll carried the full join+distinct subtree at each of
    its ~14 edge references (~5× at sf0.1). Compact byte-buffer blocks
    evict and re-read without object churn, and the opaque LogicalRDD
    leaf keeps the unrolled plans flat. Released via ``memo.clear``."""
    from ._util import ser_checkpoint
    from ..memo import session_artifact

    def _build_edges():
        orders = load(spark, sf_dir, "orders")
        lineitem = load(spark, sf_dir, "lineitem")
        return ser_checkpoint(
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .select(
                F.col("o_custkey").alias("cust"),
                F.col("l_suppkey").alias("supp"),
            )
            .distinct()
        )

    return session_artifact(
        spark, sf_dir, "trade_edges_ser", _build_edges, persist=False
    )


def _trade_node_count(spark, sf_dir: str, edges) -> int:
    """One exact node count per session (``memo.session_memo``): a
    single countDistinct aggregate over the checkpointed edge artifact
    (~2 s at sf30, amortized across pagerank + BFS + repeated runs)."""
    from ..memo import session_memo

    def build() -> int:
        row = edges.agg(
            F.countDistinct("cust").alias("nc"),
            F.countDistinct("supp").alias("ns"),
        ).first()
        return row.nc + row.ns

    return session_memo(spark, sf_dir, "trade_node_count", build)


def trade_und(spark, sf_dir: str, edges):
    """``(und, hint)``: the doubled (src, dst) view of the trade graph,
    one row per edge direction, and the join hint for the node-sized
    side, both set by the ``broadcast_nodes`` guard.

    Below the guard: ``F.broadcast``, and und stays LAZY — a map-side
    projection of the checkpointed edge artifact, re-derived per
    iteration for free next to the broadcast joins. Above it: identity
    (shuffle joins on the same keys), and und is materialized ONCE as a
    src-partitioned session artifact (defaultParallelism×8 partitions,
    each ~100 MB deserialized at sf30), so each iteration shuffles only
    the node-sized rank/level side instead of all 2|E| rows."""
    und = edges.select(
        F.col("cust").alias("src"),
        (F.col("supp") + _SUPP_OFFSET).alias("dst"),
    ).unionByName(
        edges.select(
            (F.col("supp") + _SUPP_OFFSET).alias("src"),
            F.col("cust").alias("dst"),
        )
    )
    if decide("broadcast_nodes", _trade_node_count(spark, sf_dir, edges)):
        return und, F.broadcast
    from ..memo import session_artifact

    def build():
        # columnar persist here (lineage over the checkpointed edge
        # leaf is one cheap projection — nothing to truncate, unlike
        # trade_edges itself); deserialized checkpoint rows at 2|E|
        # would dominate the heap, which is why it is not a default
        # localCheckpoint. The repartition's HashPartitioning(src)
        # survives into the cached relation, so iteration joins reuse
        # it exchange-free.
        p = spark.sparkContext.defaultParallelism * 8
        return und.repartition(p, "src")

    part = session_artifact(spark, sf_dir, "trade_und_part", build, persist=True)
    return part, lambda df: df


def _trade_deg(spark, sf_dir: str, und):
    """(node, od): out-degree of the doubled trade graph, session-
    persisted (the degree index every pagerank invocation probes)."""
    from ._util import ser_checkpoint
    from ..memo import session_artifact

    def build():
        return ser_checkpoint(
            und.groupBy("src")
            .agg(F.count(F.lit(1)).alias("od"))
            .select(F.col("src").alias("node"), "od")
        )

    return session_artifact(spark, sf_dir, "trade_deg", build, persist=False)


def _oracle() -> str:
    head = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
und AS (
  SELECT cust AS src, supp + {_SUPP_OFFSET} AS dst FROM edges
  UNION ALL
  SELECT supp + {_SUPP_OFFSET} AS src, cust AS dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS od FROM und GROUP BY src),
e2 AS (SELECT u.src, u.dst, d.od FROM und u JOIN deg d USING (src)),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg)"""
    steps = []
    for k in range(1, _ITER + 1):
        steps.append(
            f""",
r{k} AS (
  SELECT e2.dst AS node,
         CAST(150000 + SUM((p.r * 17) // (20 * e2.od)) AS BIGINT) AS r
  FROM e2 JOIN r{k - 1} p ON p.node = e2.src
  GROUP BY e2.dst
)"""
        )
    return head + "".join(steps) + f"\nSELECT node, r AS rank_micro FROM r{_ITER}"


@register("graph_pagerank_trade", _oracle())
def graph_pagerank_trade(spark, sf_dir):
    edges = trade_edges(spark, sf_dir)
    # Degrees come from ONE groupBy over the doubled edge view. The
    # per-edge share is precombined NODE-side each iteration — rpd =
    # ranks ⋈ deg → (src, share) — so the big join ships exactly one
    # node-sized relation per iteration (broadcasting ranks AND two
    # degree tables, three relations per unrolled plan, OOM'd sf30).
    und, hint = trade_und(spark, sf_dir, edges)
    # deg is node-sized, corpus-pure and read by every iteration plus
    # the rank init — a SESSION artifact. Left lazy, the aggregation
    # re-ran inside every iteration's broadcast subtree (1.9× on the
    # whole query at sf10).
    deg = _trade_deg(spark, sf_dir, und)
    ranks = deg.select("node").withColumn("r", F.lit(1_000_000).cast("long"))
    # The iteration chain stays LAZY: rank(k) feeds rank(k+1) as a
    # linear plan, so the fixed point runs as one pipelined job with
    # one shuffle per iteration (the groupBy); the share side is
    # broadcast while the node guard holds, and past it each iteration
    # shuffles only the node-sized rpd against the src-partitioned und.
    # Each round is read once, so no per-round checkpoint
    # (memo.iterate) is needed.
    for _ in range(_ITER):
        rpd = ranks.join(hint(deg), "node").select(
            F.col("node").alias("src"),
            F.expr("(r * 17) DIV (20 * od)").alias("share"),
        )
        ranks = (
            und.join(hint(rpd), "src")
            .groupBy("dst")
            .agg((F.lit(150_000) + F.sum("share")).alias("r"))
            .select(F.col("dst").alias("node"), F.col("r"))
        )
    return ranks.select("node", F.col("r").alias("rank_micro"))
