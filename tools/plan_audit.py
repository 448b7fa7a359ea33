"""Plan-quality audit over the whole query registry.

Flags physical-plan patterns that are usually wrong at scale:
CartesianProduct, BroadcastNestedLoopJoin, SortMergeJoin (where a
broadcast was expected), and wide scans (ReadSchema with many
columns, i.e. missing column pruning). Exit code 1 if a query not on
the allowlist is flagged — run in CI after adding operators.

Allowlisted (intentional by design, see docstrings):
- join_cross_matrix: an explicit cross join demo;
- join_range_bands: non-equi theta join → broadcast nested loop;
- q21_waiting_suppliers: fact×fact semi/anti — SMJ is the right plan;
- similarity_topk_bruteforce / similarity_ivf_cells: broadcast query
  set with a non-equi predicate → BNLJ over the broadcast side;
- q11_important_supply_value / mixture_resample_to_target /
  events_funnel_sequential / events_histogram_bins /
  embedding_quantize_int8 / quality_unigram_lm_score /
  batch_by_length_buckets: 1-row broadcast scalar-aggregate cross
  join (the SQL scalar-subquery shape) — BNLJ over a single broadcast
  row is the intended plan.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# Audit the production plan shape: the check-scale in-memory persist of
# tiny tables would hide the parquet scan (its materialization reads the
# full schema and trips WIDE-SCAN even though the query itself prunes).
os.environ["SPARK_GRAFT_NO_PERSIST"] = "1"

ALLOW = {
    "join_cross_matrix": {"BNLJ", "CARTESIAN"},
    "join_range_bands": {"BNLJ"},
    "q21_waiting_suppliers": {"SMJ"},
    # pair-generation self-join (items x items on l_orderkey) is
    # fact x fact — SMJ is the intended plan, as in q21
    "graph_triangle_census": {"SMJ"},
    "similarity_topk_bruteforce": {"BNLJ"},
    "similarity_ivf_cells": {"BNLJ"},
    # probes the same ivf_assignments artifact as similarity_ivf_cells:
    # the index build's N x broadcast-8-row-centroid crossJoin is the
    # intended BNLJ; the probe itself is an equi hash join on cell id
    "training_hard_negatives_ivf": {"BNLJ"},
    # probe-2 assignment: query set x broadcast 8-row centroid table —
    # the same intentional broadcast-tiny-side shape as ivf_cells
    "similarity_ivf_kmeans": {"BNLJ"},
    # exact-baseline scorer of the RAG query: broadcast query set with
    # the non-equi self-exclusion predicate — same intentional shape as
    # similarity_topk_bruteforce (the scale tier is search_semantic_docs_pq)
    "search_semantic_docs": {"BNLJ"},
    "q11_important_supply_value": {"BNLJ"},
    "mixture_resample_to_target": {"BNLJ"},
    # same 1-row scalar-aggregate broadcast cross join (the tot/target
    # table) as mixture_resample_to_target
    "training_temperature_mixture": {"BNLJ"},
    "events_funnel_sequential": {"BNLJ"},
    "events_histogram_bins": {"BNLJ"},
    "embedding_quantize_int8": {"BNLJ"},
    "quality_unigram_lm_score": {"BNLJ"},
    # 1-row broadcast of the total-bigram-count scalar aggregate —
    # the same intentional shape as mixture_resample_to_target
    "text_pmi_collocations": {"BNLJ"},
    # 1-row broadcast of the total-orders scalar aggregate (ppm base)
    "dq_benford_first_digit": {"BNLJ"},
    # 1-row broadcast of the decile-boundary ordered-set aggregate —
    # the same intentional scalar-broadcast shape as events_histogram_bins
    "events_equidepth_deciles": {"BNLJ"},
    # 1-row broadcast scalar aggregates (n_days/total; n_users) joined
    # onto reduced tables — the intentional scalar-broadcast shape
    "events_changepoint_cusum": {"BNLJ"},
    "events_funnel_latency": {"BNLJ"},
    # 1-row broadcast scalars: global max-day; the six sketch-stat
    # aggregates cross-joined into one stats row (sketch tables are
    # ≤64 rows by construction)
    "events_user_streaks": {"BNLJ"},
    "sketch_kmv_set_ops": {"BNLJ"},
    # 1-row broadcast of the k-centroid table into each Lloyd
    # assignment scan — the intended per-round shape
    "cluster_kmeans_1d_prices": {"BNLJ"},
    # 1-row broadcast of the max-doc-id scalar (bucket denominator)
    "text_vocab_growth": {"BNLJ"},
    # 1-row broadcast of the total-orders scalar (share denominator)
    "orders_basket_size_histogram": {"BNLJ"},
    # 1-row broadcast of the corpus-size scalar (df denominator)
    "text_stopword_candidates": {"BNLJ"},
    # broadcast query set with the label-mismatch (non-equi) predicate —
    # same intentional exact-scorer shape as similarity_topk_bruteforce;
    # the corpus-scale tier swaps in IVF/PQ as in search_semantic_docs_pq
    "training_hard_negatives": {"BNLJ"},
    # retrieval-eval scorer: the same broadcast-query-set non-equi
    # (self-exclusion) shape as similarity_topk_bruteforce — the eval
    # set is the bounded side by definition
    "ml_eval_retrieval_mrr": {"BNLJ"},
    # 1-row broadcast of the (T_t, T_r) corpus-total scalar aggregates
    # onto per-doc sums — the same scalar-broadcast shape as
    # mixture_resample_to_target
    "training_importance_selection": {"BNLJ"},
    # 1-row broadcast of the (T_a, T_b) histogram-total scalar
    # aggregate — the standard scalar-broadcast shape
    "dq_histogram_drift_tvd": {"BNLJ"},
    # 1-row broadcast of the (min,max)-month scalar-aggregate bounds
    # cross-joined onto the ~80-row spine — scalar-broadcast shape
    "sql_recursive_month_spine": {"BNLJ"},
    "batch_by_length_buckets": {"BNLJ"},
    # 1-row corpus-max-date scalar broadcast onto the customer table —
    # the same scalar-aggregate cross-join shape as mixture_resample
    "customer_rfm_segments": {"BNLJ"},
    # before-stats (1 row) x after-stats (1 row) broadcast cross join
    "training_bpe_encode": {"BNLJ"},
    # dense tier = the same broadcast-query-set non-equi scorer as
    # search_semantic_docs (BNLJ over the broadcast side); the RRF
    # fusion is a FULL OUTER join of two rank-k-per-query lists —
    # full outer cannot broadcast, SMJ on tiny inputs is the plan
    "search_hybrid_rrf": {"BNLJ", "SMJ"},
    # merged-sketch row: bottom-k survivors (≤ 64·types rows) cross
    # joined with the 1-row exact-count scalar aggregate
    "sketch_kmv_distinct": {"BNLJ"},
    # open orders x 1-row MAX(orderdate) scalar aggregate — the
    # deterministic "as-of" anchor; BNLJ over one broadcast row
    "orders_open_aging": {"BNLJ"},
    # brand stats x 1-row corpus-total scalar aggregate (index base)
    "part_brand_price_index": {"BNLJ"},
    # 1-row broadcast of the quartile-boundary ordered-set aggregate —
    # the same intentional scalar-broadcast shape as events_equidepth_deciles
    "training_curriculum_stages": {"BNLJ"},
    # two 1-row scalar-aggregate broadcasts (corpus count N; max|v2|
    # normalizer) cross-joined onto the bounded 4096-row Gram table —
    # the same intentional scalar-broadcast shape as mixture_resample
    "ml_pca_power_iteration": {"BNLJ"},
}


def audit(plan: str) -> set[str]:
    issues = set()
    if "CartesianProduct" in plan:
        issues.add("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan:
        issues.add("BNLJ")
    if "SortMergeJoin" in plan:
        issues.add("SMJ")
    for line in plan.splitlines():
        if "ReadSchema" in line and line.count(",") >= 9:
            issues.add("WIDE-SCAN")
            break
    return issues


def main() -> int:
    from syllabus_sense_spark.session import get_spark
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    jvm = spark.sparkContext._jvm

    bad = 0
    for name, fn in sorted(q.QUERIES.items()):
        try:
            df = fn(spark, sf_dir)
            plan = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {str(e)[:100]}")
            bad += 1
            continue
        issues = audit(plan) - ALLOW.get(name, set())
        if issues:
            print(f"FLAG {name}: {','.join(sorted(issues))}")
            bad += 1
    print(f"{'FAIL' if bad else 'OK'}: {bad} unexpected plan issues over {len(q.QUERIES)} queries")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
