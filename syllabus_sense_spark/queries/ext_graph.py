"""[EXT] Near-duplicate clustering: connected components over the
MinHash dup-pair graph — the step a production dedup runs after pair
finding, so each cluster keeps one canonical document.

A metadata-sized pair graph resolves as union-find on the driver;
above the ``driver_edges`` guard (``guards.LIMITS``) partition-local
union-find contracts it and min-label propagation (the Pregel/GraphX
pattern) finishes it as a loop of DataFrame joins, each round a pure
equi-join + min-agg over a label table of one row per *duplicated*
doc.

Oracle: DuckDB computes the same components by recursive transitive
closure (WITH RECURSIVE) over the identical pair list — tractable
because the pair graph, not the corpus, is the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..guards import decide, fetch
from . import register
from ._util import iterate, release_checkpoint, rotate_checkpoint, ser_checkpoint
from .ext_dedup import (
    _MINHASH_ORACLE,
    _corpus,
    jaccard_verify,
)


# Contraction levels before the min-label loop (two resolve the tiny
# dup/match graphs without, or almost without, the loop's per-round
# cost), and the loop's round cap (pointer jumping converges in
# O(log diameter) rounds).
_CONTRACT_LEVELS = 2
_MAX_ROUNDS = 20

# Partitions folded together per contraction level (multi-level
# union-find): each level coalesces the star-edge output of the
# previous one by this factor, so per-partition UF state stays
# bounded by ~_CONTRACT_FANIN input partitions' worth of NODES (star
# edges are ≤2 per node, far below the raw pair count the first level
# consumed). 32 matches local core count; at cluster scale it means a
# 100k-split pair table is fully contracted in ~3 levels or handed to
# the min-label loop still ~1000× smaller than it arrived.
_CONTRACT_FANIN = 32

# Union-find state flush threshold inside partition_local_contract: a
# python dict of int→int runs ~100 B/entry, so 10M tracked nodes ≈
# 1 GB per worker — flushed as stars and restarted past this, keeping
# a pathological mega-partition from OOMing the Python worker. A
# flush only splits that partition's edge set into consecutive
# sub-partitions (component-preserving; quality, not correctness,
# degrades at the boundary).
_UF_MAX_NODES = 10_000_000


def connected_components(
    edges: DataFrame,
    dedup_edges: bool = True,
    plan_probe: list | None = None,
) -> DataFrame:
    """Min-label propagation over an undirected edge list
    ``(doc_a, doc_b)`` → ``(doc_id, component_id)`` where
    ``component_id`` is the smallest doc_id reachable from ``doc_id``.

    Runs Spark jobs while building; returns the converged label table,
    localCheckpoint-ed so downstream consumers see a flat plan.

    Venue (``guards.fetch("driver_edges", ...)``): LSH and blocking
    keep dup and match graphs tiny relative to the corpus, so at or
    below the guard the edge list comes back from the one bounded
    fetch and is resolved by the union-find ``partition_local_contract``
    runs per partition, at zero per-round jobs. The fetch reads the
    edge checkpoint, so the large side recomputes nothing. Above it:

    - ``_CONTRACT_LEVELS`` rounds of ``partition_local_contract``:
      level 1 contracts each input partition in place (exchange-free
      for key-partitioned pair streams), each later level coalesces
      the star edges by ``_CONTRACT_FANIN`` and contracts again. A
      level that sees the whole graph in ONE partition (and never
      flushed) returns its stars as the exact components; the sf1
      match graph skips the loop this way.
    - the min-label loop finishes what spans partitions. Each round
      does neighbor-min propagation AND pointer jumping (label :=
      label of my label), so a path of diameter d converges in
      O(log d) rounds, not d (the Shiloach-Vishkin/GraphFrames
      recipe; the sf1 match graph took ~16 rounds without it).

    The fixpoint is identical on every path.

    ``dedup_edges=False`` skips the union-distinct exchange for
    callers whose pair list is unique-by-construction (every match
    query emits ``a < b`` pairs exactly once); duplicates would only
    inflate join input, never change the fixpoint.

    ``plan_probe``: when a list is passed, each loop round's update
    plan is appended — the seam the plan-shape laws use. It only
    records; a law that needs the loop forces the cluster venue.
    """
    # Materialize the edge input ONCE: the caller's (possibly expensive
    # — semdedup's pair search) edge subtree would otherwise run once
    # per union branch. Pair streams store SERIALIZED (see
    # _util.ser_checkpoint); node-sized loop state keeps the default.
    edges = ser_checkpoint(edges)
    pdf = fetch("driver_edges", edges.select("doc_a", "doc_b"))
    if pdf is not None:
        release_checkpoint(edges)
        # at most 2 × LIMITS["driver_edges"] nodes, far below
        # _UF_MAX_NODES: no flush, so exactly one star frame
        (stars,) = _union_find([pdf], _UF_MAX_NODES)
        return edges.sparkSession.createDataFrame(
            stars.rename(columns={"local_min": "component_id"}),
            "doc_id long, component_id long",
        )
    # the live pair-stream checkpoint: the input, then each level's stars
    stars = edges
    for _ in range(_CONTRACT_LEVELS):
        nparts = max(1, edges.rdd.getNumPartitions())
        prev, stars = stars, ser_checkpoint(partition_local_contract(edges))
        release_checkpoint(prev)
        if nparts == 1 and (
            stars.count()
            == stars.select("doc_id").distinct().count()
        ):
            # one union-find saw every edge AND never hit the
            # _UF_MAX_NODES flush (a flush emits a node once per
            # epoch — duplicate doc_ids are the tell): stars are the
            # exact components (min member as root, by construction)
            rotate_checkpoint("ext_graph.connected_components", stars)
            return stars.select(
                "doc_id", F.col("local_min").alias("component_id")
            )
        edges = (
            stars.filter(F.col("doc_id") != F.col("local_min"))
            .select(
                F.col("doc_id").alias("doc_a"),
                F.col("local_min").alias("doc_b"),
            )
            .coalesce(max(1, nparts // _CONTRACT_FANIN))
        )
    fwd = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    und = fwd.unionByName(rev)
    if dedup_edges:
        und = und.distinct()
    und = ser_checkpoint(und)
    release_checkpoint(stars)  # und now holds the (contracted) edges
    seed = (
        und.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint()
    )
    # Node count is loop-invariant (labels never gain or lose rows),
    # so one count up front both sizes the broadcast decision and
    # costs nothing against the per-round convergence action.
    n_labels = seed.count()
    hint = F.broadcast if decide("broadcast_labels", n_labels) else (lambda df: df)

    def step(labels: DataFrame) -> DataFrame:
        labels = labels.select("doc_id", "component_id")
        # Broadcast the LABEL side: labels are one compact row per
        # node-with-an-edge (checkpointed RDDs carry no stats, so the
        # auto-broadcast threshold never fires), while the edge table
        # is the big side — without the hint every round re-shuffles
        # the static 2|E| edge rows for a sort-merge join (the dominant
        # cost on the sf1 match graph). Past the broadcast_labels guard
        # match density is pathological and the loop hands the exchange
        # back to the planner.
        neighbor_min = (
            und.join(hint(labels), und.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        # Pointer jump: resolve each node's label through its label's
        # label. component_id always holds a node id that is <= the
        # node's own id and in its component, so the lookup join hits
        # every row; least() keeps monotone descent.
        hop = labels.select(
            F.col("doc_id").alias("mid"),
            F.col("component_id").alias("mid_label"),
        )
        # Carry the old label through the update so convergence is a
        # cheap filter-count over the checkpointed round. Both lookup
        # sides (neighbor_min, hop) are label-table-sized, so under the
        # guard ALL three joins are broadcast hash joins and the only
        # shuffle per round is the min-agg.
        upd = (
            labels.join(hint(neighbor_min), "doc_id", "left")
            .join(hint(hop), labels.component_id == hop.mid, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("nbr_min"), F.col("component_id")),
                    F.coalesce(F.col("mid_label"), F.col("component_id")),
                ).alias("component_id"),
                F.col("component_id").alias("prev_id"),
            )
        )
        if plan_probe is not None:
            plan_probe.append(
                upd._jdf.queryExecution().executedPlan().toString()
            )
        return upd

    def converged(upd: DataFrame) -> bool:
        return upd.filter(F.col("component_id") != F.col("prev_id")).count() == 0

    labels = iterate(seed, step, _MAX_ROUNDS, converged)
    # the edge table and the seed are dead once the labels converge;
    # the final round stays live until the NEXT invocation rotates it
    # out — the caller's action still reads it
    release_checkpoint(und)
    if labels is not seed:
        release_checkpoint(seed)
    rotate_checkpoint("ext_graph.connected_components", labels)
    return labels.select("doc_id", "component_id")


def partition_local_contract(edges: DataFrame) -> DataFrame:
    """Exact connected components within each PARTITION of the edge
    list, as the contraction step before the global min-label loop.

    Union-find over each partition's own *edges* emits one star edge
    ``(node, local_min)`` per node. The star graph has the input's
    components for ANY partitioning of the edge set: every local label
    is connected to its node by co-partitioned edges, and any original
    edge (u,v) lives in some partition where u and v share a local
    label l, giving the path u–l–v. (Seeding labels with a chunk-local
    min instead would be unsound: chunk co-membership does not imply
    connectivity, and min-labels never recover from a wrong seed.)
    Partitioning only affects contraction QUALITY, so callers feed
    edges key-partitioned by their blocking columns and this pass is
    exchange-free.

    Executed as ``mapInPandas``, one union-find per partition across
    its Arrow batches. Past ``_UF_MAX_NODES`` tracked nodes the state
    is FLUSHED as stars and a fresh union-find absorbs the remaining
    edges, keeping a mega-partition from OOMing the Python worker: a
    flush only splits the partition's edge set in two, which the
    argument above covers. The threshold is read here on the driver
    and shipped with the task (``_union_find`` is pickled by
    reference, so workers would otherwise see the imported value).
    """
    max_nodes = _UF_MAX_NODES
    return edges.select("doc_a", "doc_b").mapInPandas(
        lambda batches: _union_find(batches, max_nodes),
        schema="doc_id long, local_min long",
    )


def _find(parent: dict, x: int) -> int:
    r = x
    while parent[r] != r:
        r = parent[r]
    while parent[x] != r:  # path compression
        parent[x], x = r, parent[x]
    return r


def _stars(parent: dict):
    import pandas as pd

    return pd.DataFrame(
        {
            "doc_id": pd.Series(list(parent), dtype="int64"),
            "local_min": pd.Series(
                [_find(parent, v) for v in parent], dtype="int64"
            ),
        }
    )


def _union_find(batches, max_nodes: int):
    """Union-find with min-root attachment over ``(doc_a, doc_b)``
    pandas batches: yields ``(doc_id, local_min)`` star frames, one
    per flush past ``max_nodes`` tracked nodes plus the last (possibly
    empty) one. Without a flush the stars are the exact min-id
    components of every edge seen."""
    parent: dict[int, int] = {}
    for pdf in batches:
        for a, b in zip(pdf["doc_a"].values, pdf["doc_b"].values):
            a, b = int(a), int(b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = _find(parent, a), _find(parent, b)
            if ra != rb:
                # keep the MIN member as root → _find() is local_min
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        if len(parent) > max_nodes:
            yield _stars(parent)
            parent = {}
    yield _stars(parent)


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE dups AS ({_MINHASH_ORACLE}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dups
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM dups
),
reach(src, dst) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT src AS doc_id, MIN(dst) AS component_id
FROM reach GROUP BY src
"""


@register("dedup_components", _COMPONENTS_ORACLE)
def dedup_components(spark, sf_dir):
    # Probe the SAME session artifacts dedup_minhash_lsh uses — the
    # per-query shingle/signature .cache() pair this replaces rebuilt
    # the whole fingerprint→minhash→band pipeline on every invocation
    # (shingle_hashes(_corpus()) and the planted fingerprint artifact
    # are the same distinct (doc_id, h) multiset by construction:
    # disjoint doc_id halves, distinct per half).
    from .ext_dedup import (
        planted_corpus_fingerprint_arrays,
        planted_kept_bands,
        _pairs_from_kept,
    )

    pairs = _pairs_from_kept(planted_kept_bands(spark, sf_dir))
    dups = jaccard_verify(
        pairs,
        planted_corpus_fingerprint_arrays(spark, sf_dir),
        threshold=0.5,
    )
    return connected_components(dups.select("doc_a", "doc_b"))


_CANONICAL_ORACLE = f"""
WITH RECURSIVE dups AS ({_MINHASH_ORACLE}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dups
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM dups
),
reach(src, dst) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src)
SELECT
  component_id,
  COUNT(*) AS cluster_size,
  COUNT(CASE WHEN doc_id = component_id THEN 1 END) AS n_kept
FROM comp GROUP BY component_id
"""


@register("dedup_canonical_keep", _CANONICAL_ORACLE)
def dedup_canonical_keep(spark, sf_dir):
    """Cluster summary: per component, how many docs collapse into the
    canonical representative (the min doc_id). The "keep one per
    cluster" decision of a production dedup, as an aggregation over
    the component labels."""
    comp = dedup_components(spark, sf_dir)
    return comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.count(F.when(F.col("doc_id") == F.col("component_id"), 1)).alias("n_kept"),
    )
