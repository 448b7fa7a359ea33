"""Artifact doctrine laws (r14 judge item 7).

The doctrine (README "Session-artifact doctrine"): a session artifact
may only be a CORPUS-PURE INDEX — something a production deployment
would persist beside the data and every query merely probes — never
any part of a query's own result path. Every per-session memo lives in
``syllabus_sense_spark/memo.py``: one store keyed on (applicationId,
sf_dir, kind), one build counter per kind, one ``clear()``. Every cold
run pays every build, and ``clear()`` lets audits prove it.

Five law families here:

1. ENUMERATION — a source scan extracts every memo kind ever passed
   to `session_memo`/`session_artifact` and asserts the set exactly
   equals the doctrine table below. A new memo that is not added here
   (with its classification) fails the suite, so no memo can land
   lawless.
2. NO STRAY MEMO — no module in the package outside ``memo.py``
   starts a module-level empty dict/list (the shape every hand-rolled
   memo took), except the named registry/process state below.
3. BUILD-COUNT — for the artifacts the r14 verdict called out as
   lawless (trade_deg, match_ranked_blocks, srp_lsh_buckets,
   importance_vocab, bpe_word_types, copurchase_adj): a second invocation of
   the consumer query performs ZERO memo builds (the first
   invocation's builds are reused), and the artifact is present in the
   session memo under its kind key.
4. CLEAR — after ``clear_session_artifacts()`` every collected driver
   value is built again by its consumer, so an audit re-checks a
   rebuilt value, not a stale one.
5. NO BARE CACHE — ``.cache()``/``.persist(`` appear only at the named
   sites below. A bare cache is never released and freezes its
   plan's shuffle width against AQE coalescing; per-call storage goes
   through ``rotate_checkpoint``, per-session storage through the memo.
"""

from __future__ import annotations

import ast
import os
import re

import pytest

# kind -> (defining module, what corpus-pure index it is)
ARTIFACT_KINDS: dict[str, tuple[str, str]] = {
    "base": ("ext_dedup", "raw-corpus shingle fingerprints (doc_id, h)"),
    "planted_dupes": ("ext_dedup", "planted-corpus duplicate-pair seed fingerprints"),
    "planted_all": ("ext_dedup", "planted-corpus shingle fingerprints"),
    "planted_all_df": ("ext_dedup", "per-fingerprint document frequency"),
    "planted_all_arrays": ("ext_dedup", "doc-major fingerprint arrays (raw+planted)"),
    "planted_fp_arrays": ("ext_dedup", "doc-major fingerprint arrays (planted)"),
    "planted_kept_bands": ("ext_dedup", "capped MinHash-LSH band table (the LSH index)"),
    "prefix_index": ("ext_dedup3", "df-capped prefix postings index"),
    "containment_groups": ("ext_dedup5", "containment candidate groups index"),
    "containment_sizes": ("ext_dedup5", "per-doc kept-fingerprint counts"),
    "semdedup_cells": ("ext_semdedup", "semantic-dedup cell assignments"),
    "simhash_fp": ("ext_simhash", "56-bit SimHash fingerprint table"),
    "copurchase_pairs_n": ("ext_graph3", "support-counted co-purchase edges"),
    "trade_edges_ser": ("ext_graph2", "trade-graph edge snapshot"),
    "trade_und_part": ("ext_graph2", "symmetrized trade edges, key-partitioned"),
    "trade_deg": ("ext_graph2", "trade-graph out-degree table"),
    "copurchase_adj": ("ext_graph3", "symmetrized co-purchase adjacency (LPA, k-core)"),
    "match_ranked_blocks": ("ext_match", "sorted-neighborhood blocking index"),
    "importance_vocab": ("ext_training17", "DSIR importance vocabulary counts"),
    "bpe_word_types": ("ext_training6", "BPE word-type frequency table"),
    "srp_lsh_buckets": ("ext_similarity", "SRP-LSH bucket assignments"),
    "ivf_cell_assign": ("ext_similarity", "IVF centroid cell assignments"),
    "pq_centroids": ("ext_pq", "PQ codebook centroids"),
    "pq_codes": ("ext_pq", "PQ code table"),
    "kmeans_ivf_cells_k{n_cells}": ("ml/embeddings", "k-means IVF cell assignments"),
    "kmeans_ivf_cent_k{n_cells}": ("ml/embeddings", "k-means IVF centroids"),
    # collected driver values over the corpus (metadata-sized)
    "sim_query_set": ("ext_similarity", "exact scorers' query tier + norms"),
    "trade_node_count": ("ext_graph2", "trade-graph node count (broadcast guard)"),
    "bpe_collected_types": ("ext_training6", "BPE vocabulary under the driver guard"),
    "copurchase_adj_rows": ("ext_graph4", "co-purchase adjacency rows under the LPA driver guard"),
    "importance_totals": ("ext_training17", "DSIR corpus token totals"),
    # the harness tables themselves
    "table_{name}": ("tables", "parquet scan, persisted when small"),
}

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "syllabus_sense_spark")


def _scan_artifact_kinds() -> set[str]:
    """Every string literal passed as the `kind` argument of
    session_memo/session_artifact anywhere in the package.
    The call shapes in-tree are all `(spark, sf_dir, "kind"` or
    `(aspark, sf_dir, f"kind{param}"` possibly split across lines."""
    call = re.compile(
        r"(?:session_memo|session_artifact)\(\s*"
        r"a?spark,\s*sf_dir,\s*f?\"([a-z_0-9{}]+)\"",
        re.S,
    )
    kinds: set[str] = set()
    for root, _dirs, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            src = open(os.path.join(root, fname)).read()
            kinds.update(call.findall(src))
    return kinds


def test_every_artifact_kind_is_enumerated_with_its_doctrine_row():
    found = _scan_artifact_kinds()
    declared = set(ARTIFACT_KINDS)
    assert found == declared, (
        f"artifact kinds without a doctrine row: {sorted(found - declared)}; "
        f"doctrine rows without a source artifact: {sorted(declared - found)} "
        "— update ARTIFACT_KINDS (and the README doctrine table) in the "
        "same change that adds/removes an artifact."
    )
    # the count is asserted too, so a refactor that changes the call
    # shape (defeating the scan) fails loudly instead of passing empty
    assert len(found) == len(ARTIFACT_KINDS) >= 32


# module-level names allowed to start empty — none is session data
_STRAY_MEMO_EXEMPT = {
    "QUERIES": "query registry, filled once at import",
    "ORACLE": "oracle registry, filled once at import",
    "_SCRATCH_ROOT": "process-level scratch path, not session data",
}


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "list")
        and not node.args
        and not node.keywords
    )


def test_no_module_level_memo_outside_memo_py():
    strays = []
    for root, _dirs, files in os.walk(_PKG):
        for fname in files:
            path = os.path.join(root, fname)
            if not fname.endswith(".py") or path == os.path.join(_PKG, "memo.py"):
                continue
            for node in ast.parse(open(path).read()).body:
                if isinstance(node, ast.Assign):
                    targets = node.targets
                elif isinstance(node, ast.AnnAssign) and node.value is not None:
                    targets = [node.target]
                else:
                    continue
                if not _is_empty_container(node.value):
                    continue
                for t in targets:
                    name = ast.unparse(t)
                    if name not in _STRAY_MEMO_EXEMPT:
                        strays.append(f"{os.path.relpath(path, _PKG)}:{node.lineno} {name}")
    assert strays == [], (
        f"module-level memos outside memo.py: {strays} — route them "
        "through memo.session_memo so clear() and the build counter see them"
    )


# consumer query that probes each r14-verdict-named artifact
_BUILD_LAW_CONSUMERS = [
    ("trade_deg", "graph_pagerank_trade"),
    ("match_ranked_blocks", "match_fuzzy_parts_capped"),
    ("srp_lsh_buckets", "similarity_ann_lsh"),
    ("importance_vocab", "training_importance_selection"),
    ("bpe_word_types", "training_bpe_merges"),
    ("copurchase_adj", "graph_label_propagation"),
    ("copurchase_adj", "graph_kcore_peel"),
]


def _run(spark, sf_dir, query: str) -> None:
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    q.QUERIES[query](spark, sf_dir).write.format("noop").mode("overwrite").save()


@pytest.mark.parametrize("kind,query", _BUILD_LAW_CONSUMERS)
def test_second_invocation_builds_nothing(spark, sf_dir, kind, query):
    from syllabus_sense_spark import memo

    _run(spark, sf_dir, query)
    assert any(k[2] == kind for k in memo._STORE), (
        f"{query} did not register artifact {kind!r}"
    )
    builds_after_first = memo.BUILDS.copy()
    _run(spark, sf_dir, query)
    assert memo.BUILDS == builds_after_first, (
        f"second {query} invocation rebuilt a session memo"
    )


# consumer query that collects each driver-value memo
_CLEAR_LAW_CONSUMERS = [
    ("bpe_collected_types", "training_bpe_merges"),
    ("sim_query_set", "similarity_topk_bruteforce"),
    ("copurchase_adj_rows", "graph_label_propagation"),
    ("importance_totals", "training_importance_selection"),
    ("trade_node_count", "graph_pagerank_trade"),
]


@pytest.mark.parametrize("kind,query", _CLEAR_LAW_CONSUMERS)
def test_clear_rebuilds_driver_values(spark, sf_dir, kind, query):
    """The audit entry point must drop collected driver values too, or
    a re-run re-checks a vocabulary collected before the clear."""
    from syllabus_sense_spark import memo, tables
    from syllabus_sense_spark.queries import ext_dedup

    # both audit entry points name the one clear
    assert ext_dedup.clear_session_artifacts is tables.clear_load_cache is memo.clear
    _run(spark, sf_dir, query)
    builds = memo.BUILDS[kind]
    ext_dedup.clear_session_artifacts()
    _run(spark, sf_dir, query)
    assert memo.BUILDS[kind] == builds + 1, (
        f"{query} reused {kind!r} across clear_session_artifacts()"
    )


# (module, enclosing function) -> why a cache/persist belongs there
_CACHE_SITES = {
    ("memo.py", "session_memo"): "the one per-session store; clear() releases it",
    ("sources/jsonl.py", "split_quarantine"): (
        "Spark rejects a query over only the corrupt-record column "
        "unless the parsed frame is cached"
    ),
}


def _cache_calls(tree: ast.AST):
    """(enclosing function, line) of every ``.cache()``/``.persist(...)``."""
    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and (
                    child.func.attr == "persist"
                    or (child.func.attr == "cache" and not child.args)
                )
            ):
                yield func, child.lineno
            yield from walk(child, func)

    return walk(tree, None)


def test_no_bare_cache_outside_named_sites():
    found, strays = set(), []
    for root, _dirs, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, _PKG)
            for func, line in _cache_calls(ast.parse(open(path).read())):
                if (rel, func) in _CACHE_SITES:
                    found.add((rel, func))
                else:
                    strays.append(f"{rel}:{line} in {func}")
    assert strays == [], (
        f"bare .cache()/.persist( outside the named sites: {strays} — use "
        "memo.rotate_checkpoint for per-call storage or memo.session_memo "
        "for per-session storage"
    )
    # a scan that finds nothing (a changed call shape) fails loudly
    assert found == set(_CACHE_SITES)
