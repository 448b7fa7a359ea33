"""Forced-path laws for size guards whose cluster side no gate scale
reaches: at sf0.001–sf0.1 the BPE vocabulary and the trade graph sit
below their driver/broadcast guards, so only these laws run the other
side. Each lowers the guard below any real size, clears the session
memo (the guard decision and the artifacts built under it are
memoized), and asserts the output equals the below-guard output.
"""

from __future__ import annotations

import pytest

from syllabus_sense_spark import memo


@pytest.fixture
def fresh_memo():
    """Memo entries built under a forced guard must not outlive it."""
    memo.clear()
    yield
    memo.clear()


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_bpe_distributed_merges_match_driver(spark, sf_dir, monkeypatch, fresh_memo):
    """Above ``_DRIVER_MAX_TYPES`` the merges run as the checkpointed
    distributed loop: same merge table as the driver arithmetic, and
    repeated calls hold a flat persisted-RDD count."""
    from syllabus_sense_spark.queries import ext_training6

    want = ext_training6.training_bpe_merges(spark, sf_dir).collect()
    assert want
    monkeypatch.setattr(ext_training6, "_DRIVER_MAX_TYPES", -1)
    memo.clear()
    counts = []
    for _ in range(2):
        assert ext_training6.training_bpe_merges(spark, sf_dir).collect() == want
        counts.append(_n_persistent(spark))
    assert counts[1] == counts[0], f"distributed BPE leaked checkpoints: {counts}"


@pytest.mark.parametrize("query", ["graph_pagerank_trade", "graph_bfs_levels"])
def test_trade_graph_shuffle_path_matches_broadcast(
    spark, sf_dir, monkeypatch, fresh_memo, query
):
    """Above ``_BROADCAST_MAX_NODES`` the trade-graph rounds shuffle a
    key-partitioned edge artifact instead of broadcasting the node
    side: same rows either way."""
    from syllabus_sense_spark.queries import ext_graph2, load_all_queries, QUERIES

    load_all_queries()
    want = sorted(QUERIES[query](spark, sf_dir).collect())
    assert want
    monkeypatch.setattr(ext_graph2, "_BROADCAST_MAX_NODES", -1)
    memo.clear()
    assert sorted(QUERIES[query](spark, sf_dir).collect()) == want
