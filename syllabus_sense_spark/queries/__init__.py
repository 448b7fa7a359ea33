"""Query registry — the harness surface of the engine.

Every implemented operator from SURVEY.md §2 registers a named query
(``(spark, sf_dir) -> DataFrame``) and, where SQL-expressible, a
DuckDB oracle SQL string over the same parquet tables. The driver
compares the two at sf0.01 (row count + schema + order-insensitive
value hash), so:

- every computed column is aliased identically in both,
- float outputs are produced by *exact* decimal aggregation followed
  by a final cast/ratio in double precision (bit-identical across
  engines), never by engine-ordered double summation,
- complex (array/struct) outputs appear only in rows-only queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Register a harness query; ``oracle=None`` → rows-only check."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# The driver checks the first 50 registered queries per round, so
# registration order decides what earns CORRECTNESS evidence. The
# order is self-maintaining: queries are front-loaded when (a) they
# are force-listed below (code changed after their last green row, so
# the old evidence is stale), (b) `prioritize()` marked them as new
# this round, or (c) their *latest* CORRECTNESS row is not green.
# Everything already green registers afterwards sorted by ascending
# last-green round, so the oldest evidence rotates back into the
# 50-slot window first and stale green rows get re-confirmed.
_FORCE_RECHECK: list[str] = [
    # All 43 r15 force entries landed latest-green rows in
    # CORRECTNESS_r15 — pruned. Force-listed: every query whose
    # per-session memo code moved into ``memo.session_memo`` (build and
    # hit decisions unchanged; listed because the code path changed).
    "training_bpe_merges",
    "training_bpe_encode",
    "similarity_topk_bruteforce",
    "training_hard_negatives",
    "graph_label_propagation",
    "graph_pagerank_trade",
    "graph_bfs_levels",
    "training_importance_selection",
    # The flagship chain's subtopic dimension is a rotated checkpoint
    # and its generation exchange hashes on topic.
    "pipeline_flagship_questions",
]

_NEW_THIS_ROUND: list[str] = [
    # Round-12 state: pruned to empty — no new queries this round by
    # design (the window is reserved for the stale-green rotation; the
    # round's work is scale engineering on already-registered names).
]


def prioritize(*names: str) -> None:
    """Mark queries added/changed this round for front-of-line checks."""
    for n in names:
        if n not in _NEW_THIS_ROUND:
            _NEW_THIS_ROUND.append(n)


def _evidence_from_past_rounds() -> dict[str, int]:
    """Per-query last-green round from CORRECTNESS_r*.json, judged by
    the *latest* row mentioning each query (a later failure evicts an
    earlier green). Green = hash-match for oracle queries, rows
    recorded for rows-only ones. Returns {name: last_green_round} for
    names whose most recent row is green."""
    import glob
    import json
    import os
    import re

    latest: dict[str, tuple[int, bool]] = {}
    here = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))

    def _round_of(path: str) -> int:
        m = re.search(r"r(\d+)", os.path.basename(path))
        return int(m.group(1)) if m else 0

    for path in sorted(paths, key=_round_of):
        try:
            data = json.load(open(path))
        except Exception:
            continue
        rnd = _round_of(path)
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle" and bool(row.get("spark_rows"))
            )
            latest[name] = (rnd, green)
    return {name: rnd for name, (rnd, green) in latest.items() if green}


def _ordered(
    registered: list[str],
    last_green: dict[str, int],
    new_this_round: list[str],
    force_recheck: list[str],
    window: int = 50,
    rows_only: frozenset[str] | set[str] = frozenset(),
) -> list[str]:
    """Pure ordering policy (unit-testable without the registry):

    - never-checked queries (no green driver row ever) lead, new-this-
      round names first, then registration order;
    - while the never-checked backlog exceeds the driver window, the
      WHOLE window goes to it; once it fits, force-listed stale greens
      are interleaved one per three never-checked names;
    - any stale names left over follow the never block;
    - the already-green tail sorts by ascending last-green round so the
      oldest evidence rotates back into the window first (stable for
      ties: registration order) — EXCEPT that rows-only queries (no
      oracle) sort behind every hash-checkable green regardless of
      vintage: a rows-only slot can only ever re-confirm `no_oracle`,
      so when the driver window is the scarce resource it buys less
      evidence than the stalest hash-checkable green (round-10 judge
      item 7).
    """
    reg_set = set(registered)
    never = [n for n in new_this_round if n in reg_set and n not in last_green]
    seen = set(never)
    never += [n for n in registered if n not in last_green and n not in seen]
    never_set = set(never)
    stale: list[str] = []
    for n in force_recheck + new_this_round:
        if n in reg_set and n not in never_set and n not in stale:
            stale.append(n)
    front: list[str] = []
    si = 0
    for i, n in enumerate(never):
        front.append(n)
        if len(never) <= window and (i + 1) % 3 == 0 and si < len(stale):
            front.append(stale[si])
            si += 1
    front += stale[si:]
    front_set = set(front)
    tail = sorted(
        (n for n in registered if n not in front_set),
        key=lambda n: (n in rows_only, last_green.get(n, 0)),
    )
    return front + tail


def load_all_queries() -> None:
    """Import every query module (idempotent) to fill the registry,
    then reorder it so queries without a prior CORRECTNESS row come
    first (the driver verifies the first 50 registered per round —
    module import order alone is too coarse because checked and
    unchecked queries share modules).
    """
    from . import (  # noqa: F401
        ext_dedup,
        ext_graph,
        ext_simhash,
        ext_text,
        ext_text2,
        ext_text3,
        ext_similarity,
        ext_multimodal,
        ext_multimodal2,
        ext_training,
        ext_training2,
        ext_web,
        ext_similarity2,
        spark4_features,
        spark4_features2,
        dq_queries,
        agg_families,
        agg_families2,
        ext_sketches,
        ext_text4,
        ext_pq,
        ext_semdedup,
        ext_training3,
        ext_dedup2,
        streaming_queries,
        sink_queries,
        ext_text5,
        ext_graph2,
        ext_graph3,
        ext_dedup3,
        ext_match,
        ext_text6,
        ext_training5,
        ext_training6,
        ext_graph4,
        agg_families4,
        ext_sketches2,
        ext_sketches3,
        ext_datacard,
        ext_dedup4,
        source_queries,
        ext_training7,
        streaming_queries2,
        dq_queries2,
        dq_queries3,
        ext_udaf,
        incremental_queries,
        evolution_queries,
        sink_queries2,
        scalar_funcs3,
        events6,
        events8,
        events9,
        events10,
        events11,
        events12,
        ext_training8,
        analytics,
        ext_graph5,
        ext_text7,
        ext_training9,
        events13,
        events14,
        dq_queries4,
        relational6,
        ext_dedup5,
        streaming_queries3,
        ext_training10,
        events15,
        ext_training11,
        catalog_queries2,
        events16,
        relational7,
        ext_dedup6,
        events17,
        events18,
        dq_queries5,
        ext_sketches4,
        spark4_features3,
        spark4_features4,
        spark4_features5,
        spark4_features6,
        pandas_api_queries,
        relational8,
        ext_training12,
        ext_dedup7,
        ml_queries2,
        windows4,
        streaming_queries4,
        streaming_queries5,
        ml_queries3,
        events19,
        dq_queries6,
        events20,
        relational9,
        ext_text8,
        windows5,
        ext_text9,
        relational10,
        relational12,
        ext_graph6,
        ext_graph7,
        ext_training13,
        ext_training14,
        ext_similarity3,
        ext_training15,
        ext_training16,
        ml_queries4,
        ml_queries5,
        spark4_features7,
        dq_queries8,
        ext_training17,
        ext_text12,
        ml_queries6,
        relational13,
        ext_datacard2,
        ext_multimodal3,
        agg_families6,
        scalar_funcs5,
        windows6,
        scalar_funcs6,
        events24,
        source_queries2,
        source_queries3,
        events21,
        relational11,
        ext_text10,
        events22,
        dq_queries7,
        stats_queries,
        agg_families5,
        events23,
        ext_text11,
        scalar_funcs4,
        catalog_queries,
        sink_queries3,
        stability_queries,
        ext_training4,
        events7,
        relational5,
        ext_search,
        ext_search2,
        agg_families3,
        events5,
        pipeline_queries,
        events,
        events2,
        events3,
        events4,
        scd,
        scalar_funcs,
        scalar_funcs2,
        windows2,
        windows3,
        pipeline_udf,
        docx_queries,
        ml_queries,
        relational4,
        windows,
        relational,
        relational2,
        relational3,
    )

    # Never-checked queries outrank stale-green re-checks: a query
    # with NO driver row ever is a bigger evidence hole than one
    # whose old green predates a shared-code change. While the
    # never-checked backlog still exceeds the 50-slot window, the
    # whole window goes to it (round-7 judge: drain the backlog;
    # ~50 entries/round puts it under one window within two rounds).
    # Once it fits, stale invalidated greens are INTERLEAVED one per
    # three never-checked names (round-6 ADVICE: don't starve
    # _FORCE_RECHECK behind a long backlog indefinitely). Policy lives
    # in _ordered() — pure, unit-tested on synthetic registries.
    order = _ordered(
        list(QUERIES),
        _evidence_from_past_rounds(),
        _NEW_THIS_ROUND,
        _FORCE_RECHECK,
        rows_only=set(QUERIES) - set(ORACLE),
    )
    for registry in (QUERIES, ORACLE):
        reordered = {n: registry[n] for n in order if n in registry}
        registry.clear()
        registry.update(reordered)
