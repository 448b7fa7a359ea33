"""Connected-components (min-label propagation) unit tests.

Every graph here fits the ``driver_edges`` guard, so the laws about the
contraction levels or the min-label loop take the ``cluster`` fixture
(``tests/conftest.py``), which forces that venue and asserts through
``guards.TAKEN`` that it ran; loop laws also set the contraction levels
to 0. The topology laws run on both venues: the driver venue and the
contraction share one union-find.
"""

import pytest
from pyspark.sql import Row

from syllabus_sense_spark.queries import ext_graph
from syllabus_sense_spark.queries.ext_graph import connected_components

_VENUES = ("driver", "cluster")


@pytest.fixture
def loop_only(monkeypatch):
    """No contraction level: the min-label loop does all the work."""
    monkeypatch.setattr(ext_graph, "_CONTRACT_LEVELS", 0)


def test_components_known_topology(spark, venue):
    # Two components: a 4-node chain {1,2,3,4} and a pair {10, 11};
    # chains force >1 propagation round.
    edges = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=3, doc_b=4),
         Row(doc_a=10, doc_b=11)]
    )
    for side in _VENUES:
        with venue(side):
            got = {
                (r.doc_id, r.component_id)
                for r in connected_components(edges).collect()
            }
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}, side


def test_components_long_chain_converges(spark, cluster, loop_only):
    # 12-node chain: diameter 11; min-label propagation must keep
    # iterating (doubling reach per round) until every node holds 0.
    edges = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(11)]
    )
    labels = connected_components(edges).collect()
    assert len(labels) == 12
    assert {r.component_id for r in labels} == {0}


def test_components_isolated_pairs(spark, venue):
    edges = spark.createDataFrame(
        [Row(doc_a=2 * i, doc_b=2 * i + 1) for i in range(5)]
    )
    for side in _VENUES:
        with venue(side):
            labels = connected_components(edges).collect()
        assert len(labels) == 10, side
        comp = {r.doc_id: r.component_id for r in labels}
        for i in range(5):
            assert comp[2 * i] == comp[2 * i + 1] == 2 * i, side


def test_components_pointer_jumping_beats_hop_count(
    spark, cluster, loop_only, monkeypatch
):
    """A 64-node path has diameter 63: plain 1-hop min-label needs 63
    rounds, pointer jumping O(log) — converging within 10 rounds
    pins that the label-of-label shortcut is active (a regression to
    hop-only propagation fails this by hitting the round cap with
    wrong labels)."""
    monkeypatch.setattr(ext_graph, "_MAX_ROUNDS", 10)
    edges = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(63)]
    )
    labels = connected_components(edges).collect()
    assert len(labels) == 64
    assert {r.component_id for r in labels} == {0}


def test_partition_local_contract_preserves_components(spark, cluster, loop_only):
    """The star graph emitted by partition_local_contract must have
    the same connected components as the input pairs for ANY edge
    partitioning — including when a partition holds several disjoint
    local components (the case that makes literal chunk-min seeding
    wrong) and when a component's edges are split across partitions."""
    from pyspark.sql import functions as F

    # One partition holding TWO disjoint local components {1,2} and
    # {5,6}: the contraction must NOT merge them.
    pairs1 = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=5, doc_b=6)]
    ).coalesce(1)
    rows = ext_graph.partition_local_contract(pairs1).collect()
    assert {(r.doc_id, r.local_min) for r in rows} == {(1, 1), (2, 1), (5, 5), (6, 5)}

    # A component whose edges are scattered across partitions
    # arbitrarily still reconnects in the global loop: path 1-2-5-6
    # plus an isolated pair {10,11}, repartitioned round-robin.
    pairs2 = spark.createDataFrame(
        [
            Row(doc_a=1, doc_b=2),
            Row(doc_a=2, doc_b=5),
            Row(doc_a=5, doc_b=6),
            Row(doc_a=10, doc_b=11),
        ]
    ).repartition(3)
    stars = ext_graph.partition_local_contract(pairs2)
    edges = stars.filter(F.col("doc_id") != F.col("local_min")).select(
        F.col("doc_id").alias("doc_a"), F.col("local_min").alias("doc_b")
    )
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(edges, dedup_edges=False).collect()
    }
    assert got == {
        (1, 1), (2, 1), (5, 1), (6, 1), (10, 10), (11, 10)
    }


def test_contract_levels_same_fixpoint(spark, cluster, monkeypatch):
    """The contraction levels only change the physical plan (pre-loop
    union-find contraction), never the fixpoint: every setting must
    return min-reachable-id labels identical to the plain loop — on a
    long chain (worst diameter) scattered over multiple partitions,
    and via the one-partition exact early exit."""
    edges = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(40)]
        + [Row(doc_a=100, doc_b=101)]
    ).repartition(7)
    want = {(i, 0) for i in range(41)} | {(100, 100), (101, 100)}
    for levels in (0, 1, 2, 3):
        monkeypatch.setattr(ext_graph, "_CONTRACT_LEVELS", levels)
        got = {
            (r.doc_id, r.component_id)
            for r in connected_components(edges).collect()
        }
        assert got == want, f"{levels} contraction levels changed the fixpoint"


def test_uf_flush_keeps_fixpoint(spark, cluster, monkeypatch):
    """The _UF_MAX_NODES memory flush must never change results: with
    the threshold forced tiny (every Arrow batch flushes), a chain
    whose edges span flush epochs must still converge to min-reachable
    labels — including via the contraction levels, where the
    single-partition early exit must DETECT the flush (duplicate
    doc_ids) and fall through to further contraction instead of
    returning epoch-local labels."""
    monkeypatch.setattr(ext_graph, "_UF_MAX_NODES", 3)
    edges = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(12)]
    ).coalesce(1)
    # the flush boundary is per Arrow batch — force several batches so
    # the chain genuinely spans flush epochs
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        # direct helper: flushes emit duplicate doc_ids across epochs
        stars = ext_graph.partition_local_contract(edges).collect()
        assert len(stars) > 13, "tiny threshold should have forced flushes"
        for levels in (1, 2, 3):
            monkeypatch.setattr(ext_graph, "_CONTRACT_LEVELS", levels)
            got = {
                (r.doc_id, r.component_id)
                for r in connected_components(edges).collect()
            }
            assert got == {(i, 0) for i in range(13)}, f"levels={levels}"
    finally:
        spark.conf.set(key, old)


def test_components_dedup_edges_false_same_fixpoint(spark, cluster, loop_only):
    """dedup_edges=False (for a<b-unique pair lists) must reach the
    identical fixpoint as the deduping default."""
    edges = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=5), Row(doc_a=7, doc_b=9)]
    )
    a = {(r.doc_id, r.component_id) for r in connected_components(edges).collect()}
    b = {
        (r.doc_id, r.component_id)
        for r in connected_components(edges, dedup_edges=False).collect()
    }
    assert a == b == {(1, 1), (2, 1), (5, 1), (7, 7), (9, 7)}
