"""The forced-path law for the venue table (``guards.LIMITS``): at
sf0.001 every guarded size sits on the small side, so only this law
runs the other. Each case runs its target as shipped, then lowers the
guard below any real size, clears the session memo (guarded sizes and
the artifacts built under a decision are memoized) and runs it again:
the rows must be equal, and ``guards.TAKEN`` must show the small side
for the first run and the large side for the forced one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from syllabus_sense_spark import guards, memo

# (guard, target): a registry query, or a small connected_components graph
_CASES = [
    ("driver_edges", "dedup_components"),
    ("driver_edges", "graph_label_propagation"),
    ("driver_types", "training_bpe_merges"),
    ("broadcast_nodes", "graph_pagerank_trade"),
    ("broadcast_nodes", "graph_bfs_levels"),
    ("broadcast_labels", "connected_components"),
]
_LARGE = {"driver": "cluster", "broadcast": "shuffle"}


def test_cases_cover_every_guard():
    """A guard cannot land in the table without a forced case."""
    assert {name for name, _ in _CASES} == set(guards.LIMITS)


@pytest.fixture
def fresh_memo():
    """Memo entries built under a forced guard must not outlive it."""
    memo.clear()
    yield
    memo.clear()


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _run(spark, sf_dir, name, target, probe=None):
    """The target's sorted rows and the sides ``name`` took meanwhile."""
    before = guards.TAKEN.copy()
    if target == "connected_components":
        from syllabus_sense_spark.queries.ext_graph import connected_components

        edges = spark.createDataFrame(
            [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=8, doc_b=9)]
        )
        rows = connected_components(edges, plan_probe=probe).collect()
    else:
        from syllabus_sense_spark.queries import QUERIES, load_all_queries

        load_all_queries()
        rows = QUERIES[target](spark, sf_dir).collect()
    return sorted(rows), {s for n, s in guards.TAKEN - before if n == name}


@pytest.mark.parametrize(("name", "target"), _CASES)
def test_forced_side_matches(spark, sf_dir, monkeypatch, fresh_memo, name, target):
    small = name.partition("_")[0]
    if name == "broadcast_labels":
        # the label broadcast is decided inside the min-label loop
        from syllabus_sense_spark.queries import ext_graph

        monkeypatch.setitem(guards.LIMITS, "driver_edges", -1)
        monkeypatch.setattr(ext_graph, "_CONTRACT_LEVELS", 0)
    want, sides = _run(spark, sf_dir, name, target)
    assert want and sides == {small}, f"shipped run took {sides}"

    monkeypatch.setitem(guards.LIMITS, name, -1)
    memo.clear()
    probe: list[str] = []
    got, sides = _run(spark, sf_dir, name, target, probe)
    assert sides == {_LARGE[small]}, f"forced run took {sides}"
    assert got == want

    if name == "driver_types":
        # the distributed merge loop holds a flat persisted-RDD count
        before = _n_persistent(spark)
        assert _run(spark, sf_dir, name, target)[0] == want
        assert _n_persistent(spark) == before, "distributed BPE leaked checkpoints"
    if name == "broadcast_labels":
        assert probe and all("BroadcastHashJoin" not in p for p in probe), (
            "guard ignored: a broadcast join survived above the threshold"
        )
