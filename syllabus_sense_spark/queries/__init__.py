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

A module joins the registry by being found, not listed: put it in
``queries/``, give it a name without a leading underscore, and
decorate its queries with ``@register``. ``load_all_queries()``
imports every such module; underscore modules (``_util``) are helpers
and are imported only by the modules that use them.
"""

from __future__ import annotations

import importlib
import pkgutil
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
# the old evidence is stale), or (b) their *latest* CORRECTNESS row is
# not green. Everything already green registers afterwards sorted by
# ascending last-green round, so the oldest evidence rotates back into
# the 50-slot window first and stale green rows get re-confirmed.
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
    # plan_questions gained ``carry``; the flagship carries academic_class
    # on plan rows (no subtopic checkpoint, no A12 join).
    "pipeline_flagship_questions",
    "pipeline_plan_questions",
    # The DOCX chain's Arrow seams run through
    # ``session.drop_zip_importers``; a corrupt DOCX is decided once, in
    # ``parse_docx_bytes`` (both DOCX scans lost their broad catch).
    "docx_parse_topics",
    "pipeline_extract_subtopics",
    "source_docx_pushdown",
    # Round loops moved onto ``memo.iterate``; k-core probes ``copurchase_adj``.
    "graph_kcore_peel",
    # 1-D k-means keeps its 4 centroids as driver integers (no round loop).
    "cluster_kmeans_1d_prices",
    "dedup_components",
    "dedup_canonical_keep",
    "match_entity_canonical",
    "dedup_semantic_clusters",
    "similarity_pq_adc",
    "search_semantic_docs_pq",
    # Venue guards decide through ``guards``; one union-find in
    # ``ext_graph``; the events footer read and the media-header catch
    # narrowed.
    "match_fuzzy_parts",
    "match_fuzzy_parts_capped",
    "sample_weighted_bernoulli",
    "multimodal_decode_metadata",
    "multimodal_feature_extract",
    "multimodal_resize_plan",
    "streaming_tumbling_hourly_drain",
    "streaming_static_enrich_drain",
    "streaming_session_windows_drain",
    "streaming_dsv2_replay_drain",
    # Every availableNow drain starts, waits and stops through
    # ``streaming.drain``: one view⋈purchase builder, fixed memory-sink
    # names, and the state reader drains into a noop sink.
    "streaming_interval_join_drain",
    "streaming_outer_join_drain",
    "streaming_full_outer_join_drain",
    "streaming_dedup_drain",
    "streaming_foreachbatch_sink_drain",
    "streaming_pyds_jsonl_sink_drain",
    "streaming_stateful_counts_drain",
    "streaming_sliding_hourly_drain",
    "streaming_upsert_latest_drain",
    "streaming_dynamic_gap_drain",
    "streaming_state_reader",
    # Text is tokenized through ``functions.text.tokens`` (array_remove
    # of "" in place of a length-filter lambda): every query that split
    # words by hand, and those behind ``shingle_docs_raw`` and
    # ``quality_score``.
    "array_explode_outer_keepempty",
    "batch_by_length_buckets",
    "bpe_first_merge_pairs",
    "contamination_ngram_overlap",
    "curation_doc_decisions",
    "curation_pipeline_summary",
    "dedup_cluster_report",
    "dedup_containment",
    "dedup_incremental_index",
    "dedup_minhash_calibration",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_prefix_filter",
    "dedup_repeated_passages",
    "dedup_simhash",
    "ml_eval_confusion_matrix",
    "ml_feature_hashing_vectors",
    "quality_filter_funnel",
    "quality_unigram_lm_score",
    "source_overlap_matrix",
    "text_boilerplate_fraction",
    "text_inverted_postings",
    "text_lang_id_heuristic",
    "text_ngram_novelty",
    "text_quality_scores",
    "text_readability_stats",
    "text_repetition_ratios",
    "text_stopword_candidates",
    "text_vocab_growth",
    "text_zipf_profile",
    "training_best_of_n",
    "training_curriculum_stages",
    "training_preference_pairs",
    "training_token_budget_epochs",
]


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
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
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
    force_recheck: list[str],
    window: int = 50,
    rows_only: frozenset[str] | set[str] = frozenset(),
) -> list[str]:
    """Pure ordering policy (unit-testable without the registry):

    - never-checked queries (no green driver row ever) lead, in name
      order;
    - while the never-checked backlog exceeds the driver window, the
      WHOLE window goes to it; once it fits, force-listed stale greens
      are interleaved one per three never-checked names;
    - any stale names left over follow the never block;
    - the already-green tail sorts by ascending last-green round so the
      oldest evidence rotates back into the window first (ties: name
      order) — EXCEPT that rows-only queries (no oracle) sort behind
      every hash-checkable green regardless of vintage: a rows-only
      slot can only ever re-confirm `no_oracle`, so when the driver
      window is the scarce resource it buys less evidence than the
      stalest hash-checkable green (round-10 judge item 7).

    Ties break by name, never by registration order: that order
    follows the import graph, so moving a helper import from one query
    module to another would otherwise reshuffle the driver window.
    """
    names = sorted(registered)
    reg_set = set(names)
    never = [n for n in names if n not in last_green]
    never_set = set(never)
    stale: list[str] = []
    for n in force_recheck:
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
        (n for n in names if n not in front_set),
        key=lambda n: (n in rows_only, last_green.get(n, 0)),
    )
    return front + tail


def load_all_queries() -> None:
    """Import every query module (idempotent) to fill the registry,
    then reorder it so queries without a prior CORRECTNESS row come
    first (the driver verifies the first 50 registered per round —
    module import order alone is too coarse because checked and
    unchecked queries share modules).

    The modules are found on disk: every module under this package
    whose name has no leading underscore, imported in name order.
    """
    for mod in sorted(pkgutil.iter_modules(__path__), key=lambda m: m.name):
        if not mod.name.startswith("_"):
            importlib.import_module(f"{__name__}.{mod.name}")

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
        _FORCE_RECHECK,
        rows_only=set(QUERIES) - set(ORACLE),
    )
    for registry in (QUERIES, ORACLE):
        reordered = {n: registry[n] for n in order if n in registry}
        registry.clear()
        registry.update(reordered)
