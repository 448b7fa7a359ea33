"""The forced-path law for the venue table (``guards.LIMITS``): at
sf0.001 every guarded size sits on the small side, so only this law
runs the other. Each case runs its target as shipped, then lowers the
guard below any real size, clears the session memo (guarded sizes and
the artifacts built under a decision are memoized) and runs it again:
the rows must be equal, and ``guards.TAKEN`` must show the small side
for the first run and the large side for the forced one. The laws after
them pin ``guards.fetch``, the one bounded collect of the driver venues.
"""

from __future__ import annotations

import ast
import os
import uuid

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


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, by job group."""
    sc = spark.sparkContext
    group = f"fetch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("extra", [0, 1], ids=["at_limit", "over_limit"])
def test_fetch_boundary_in_one_job(spark, monkeypatch, extra):
    """``fetch`` returns every row of a frame at the limit and None one
    row over, each in ONE job over an 8-partition checkpoint (the form
    the venues fetch). A ``limit().collect()`` would take 2+:
    ``executeTake`` scans one partition, then scales up. (Over a bare
    ``range`` the optimizer drops the limit, so any form is 1 job.)"""
    limit = 10
    monkeypatch.setitem(guards.LIMITS, "driver_edges", limit)
    df = spark.range(0, limit + extra, 1, 8).localCheckpoint()
    before = guards.TAKEN.copy()
    pdf, jobs = _jobs(spark, lambda: guards.fetch("driver_edges", df))
    memo.release_checkpoint(df)
    side = "cluster" if extra else "driver"
    assert guards.TAKEN - before == {("driver_edges", side): 1}
    if extra:
        assert pdf is None
    else:
        assert sorted(pdf["id"].tolist()) == list(range(limit))
    assert jobs == 1, f"fetch ran {jobs} Spark jobs"


_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "syllabus_sense_spark")


def _guard_calls() -> dict[str, set[str]]:
    """{"decide" | "fetch": guard names passed as a literal}, over the
    package."""
    calls: dict[str, set[str]] = {"decide": set(), "fetch": set()}
    for root, _dirs, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            tree = ast.parse(open(os.path.join(root, fname)).read())
            for node in ast.walk(tree):
                if not (isinstance(node, ast.Call) and node.args):
                    continue
                func, arg = node.func, node.args[0]
                fn = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
                if fn in calls and isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                    calls[fn].add(arg.value)
    return calls


def test_driver_guards_go_through_fetch():
    """A driver venue decides and collects in one bounded fetch, so no
    count-then-collect pair can return; ``decide`` stays for the
    broadcast guards, which need a size, not rows."""
    calls = _guard_calls()
    drivers = {n for n in guards.LIMITS if n.startswith("driver_")}
    assert calls["fetch"] == drivers
    # the scan must also see the broadcast decisions, or a changed call
    # shape would pass this law empty
    assert calls["decide"] == set(guards.LIMITS) - drivers
