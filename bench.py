"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall seconds.

Each query executes via the `noop` sink — full computation, no
driver-side collect, so timings reflect engine work (scan + shuffle +
compute), not result transfer. Headliners execute in SORTED-NAME
order, so a query's position in the long single-JVM session
(accumulated caches, GC pressure) stays fixed run-over-run.

This is a timer, not a judge: it makes no parent-vs-change decision.
`perfbench/run.py` (declared in BENCHMARK.json) does, from interleaved
fresh-process runs and host-independent counters.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_broadcast_lookup",
    "agg_rollup_region_nation",
    "window_running_total",
    "events_sessionize_gap30m",
    "events_asof_last_order",
    "pipeline_sessionize_topics",
    "pipeline_flagship_questions",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "curation_pipeline_summary",
    "pack_sequences_greedy",
    "dq_check_orders",
    # round-4 additions (cheap, representative of the new surfaces)
    "training_shuffle_shards",
    "events_conversion_within_7d",
    "bitmap_distinct_users",
    # round-5 additions: passage-level dedup (n-gram explode+join),
    # iterative integer PageRank (3 join+agg rounds), triangle census
    # (ordered 3-way self-join), temperature mixture sampling (2-pass)
    "dedup_repeated_passages",
    "graph_pagerank_trade",
    "graph_triangle_census",
    "training_temperature_mixture",
    # late round-5: exact prefix-filtered set-similarity join (the
    # no-sketch counterpart to dedup_minhash_lsh, same fingerprints),
    # plus the two dedup flagships whose scale fixes this round made
    # bench-worthy (Arrow cosine verify; 56-bit/7-bit-band SimHash)
    "dedup_prefix_filter",
    "dedup_simhash",
    "dedup_semantic_clusters",
    # round-6 additions: iterative BPE vocabulary induction (eager
    # 3-merge loop — construction-inclusive timing captures it),
    # deterministic label-propagation communities (3 join+argmax
    # rounds), Count-Min heavy hitters (sketch build + probe)
    "training_bpe_merges",
    "graph_label_propagation",
    "sketch_countmin_heavy_hitters",
    # winnowing fingerprints joined the headline after the round-6
    # O(n²)→O(n) rewrite (26 s → 0.8 s warm at sf0.1)
    "text_winnow_fingerprints",
    # round-6 continuation: containment dedup (fingerprint equi-join
    # with df cap), ANN hard negatives (broadcast exact scorer with
    # label-mismatch predicate), Hamilton-quota stratified sampling
    # (plan + execute composition), trailing-WAU expansion
    "dedup_containment",
    "training_hard_negatives",
    "sample_stratified_hamilton",
    "events_stickiness_dau_wau",
    # round-7 continuation: multi-source BFS (3 min-plus rounds over
    # the shared trade-edge artifact), preference-pair construction
    # (packed-argmax groupBy), Rademacher random projection (pure
    # map, whole-stage codegen over array expressions)
    "graph_bfs_levels",
    "training_preference_pairs",
    "embedding_random_projection",
    # round-7 second wave: exact integer PCA (posexplode-squared Gram
    # pass — the heaviest per-row fan-out in the suite), DSIR-style
    # importance selection (Zipf-key dictionary joins), Merkle table
    # fingerprint (pure map + 64-key fold), corpus-wide n-gram novelty
    # (fingerprint-artifact probe + df join)
    "ml_pca_power_iteration",
    "training_importance_selection",
    "dq_table_fingerprint",
    "text_ngram_novelty",
    # round-8 additions (new user-facing operators lacking a perf
    # trendline): forward/nearest as-of directions (same single-shuffle
    # union+window plan, nearest runs two window passes over one
    # exchange) and dynamic-gap sessionization (per-event gap column)
    "events_asof_next_order",
    "events_asof_nearest_order",
    "events_sessionize_dynamic_gap",
    # round-11 addition: the scale-safe fuzzy-match tier (sorted-
    # neighborhood block splitting) — new operator, needs a trendline
    # next to its exact twin match_fuzzy_parts (kept out of the
    # headline: 20x/decade by design, budget-guarded in sf1_smoke)
    "match_fuzzy_parts_capped",
]

# Reported alongside but EXCLUDED from the headline total: availableNow
# streaming drains pay real StreamingQuery startup (checkpoint dir,
# micro-batch planning) on every run — a fixed cost that would swamp
# the engine-work signal the total tracks. Timed once, fn() included,
# since the drain runs inside the query function.
STREAMING_EXTRA = [
    "streaming_tumbling_hourly_drain",
    "streaming_static_enrich_drain",
    "streaming_session_windows_drain",
    "streaming_interval_join_drain",
]

# Per-query iteration overrides: dq_check_orders showed a +16% swing
# between rounds at min-of-3; n=5 pins its steady-state minimum.
EXTRA_ITERS = {"dq_check_orders": 5}


def time_query(spark, fn, sf_dir: str, n: int) -> list[tuple[float, float]]:
    """Per-iteration (construct_s, execute_s) over ``n`` runs of
    ``fn(spark, sf_dir)`` followed by a noop write. fn() is inside the
    timed region: iterative operators (PageRank, components, triangle
    census) do real work eagerly via localCheckpoint during
    construction, and timing only the final write would under-report
    them to near zero. The construction half is py4j plan building for
    lazy queries and real eager work for iterative ones. The first
    exception propagates to the caller."""
    runs = []
    for _ in range(n):
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        runs.append((t1 - t0, time.time() - t1))
    return runs


def _pin_driver_memory() -> None:
    """r13 ADVICE: ``spark.driver.memory`` defaults to ~60% of
    MemAvailable (session.py), so a loaded box silently hands the
    bench a smaller heap than the documented 28g posture — spill
    variance that no per-query timing explains. Pin the 28g posture
    whenever the box affords it; an explicit SPARK_DRIVER_MEMORY
    always wins, and the resolved value is logged into the bench JSON
    either way so a heap change is detectable round-over-round."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    if int(line.split()[1]) / (1024 * 1024) >= 64:
                        os.environ["SPARK_DRIVER_MEMORY"] = "28g"
                    return
    except OSError:
        pass


def main() -> None:
    from syllabus_sense_spark.session import get_spark
    from syllabus_sense_spark import queries as q

    q.load_all_queries()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    _pin_driver_memory()
    spark = get_spark("syllabus-sense-bench")
    try:
        driver_memory = spark.conf.get("spark.driver.memory")
    except Exception:  # noqa: BLE001
        driver_memory = "unknown"

    # Warm-up: touch every input table once (parquet footer reads, JVM
    # JIT, Python worker spin-up) so timings measure query work, the
    # way a resident cluster would run.
    from syllabus_sense_spark.tables import TABLE_NAMES, load

    for t in TABLE_NAMES:
        load(spark, sf_dir, t).count()
    spark.range(1).write.format("noop").mode("overwrite").save()
    # Spin up the resident Python worker pool (one worker per core):
    # pandas-UDF queries should measure Arrow+compute, not process
    # fork+import, same as a warm cluster's reused workers.
    spark.range(256).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # min-of-N warm iterations per query: iteration 1 still pays
    # one-off costs (codegen compile, broadcast build, shuffle-file
    # creation); the min is the steady-state number a resident cluster
    # would see. 3 warm iterations: single-warm-repeat minima still
    # showed 2-5x run-to-run swings on shared hardware.
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    timings: dict[str, float] = {}
    construct: dict[str, float] = {}
    execute: dict[str, float] = {}
    streaming: dict[str, float] = {}
    errors: dict[str, str] = {}
    plan = [(name, EXTRA_ITERS.get(name, iters)) for name in sorted(HEADLINE)]
    plan += [(name, 1) for name in STREAMING_EXTRA]
    for name, n in plan:
        fn = q.QUERIES.get(name)
        if fn is None:
            errors[name] = "not registered"
            continue
        try:
            runs = time_query(spark, fn, sf_dir, n)
        except Exception as exc:  # noqa: BLE001 — one bad query must not zero the bench
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
            continue
        if name in STREAMING_EXTRA:
            streaming[name] = round(sum(runs[0]), 3)
            continue
        timings[name] = round(min(c + e for c, e in runs), 3)
        construct[name] = round(min(c for c, _ in runs), 3)
        execute[name] = round(min(e for _, e in runs), 3)

    payload = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # independent minima of the two halves (construction =
        # fn(), execution = noop write); they need not sum to
        # the total, which is min over whole iterations
        "construct": construct,
        "execute": execute,
        "streaming_excluded_from_total": streaming,
        # r5 methodology change: construction+execution timed
        # together (write-only timing under-reported eager
        # iterative operators); compare r4 per-query numbers
        # accordingly
        "timing": "min over warm iters of fn()+noop-write",
        "order": "sorted-name",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "driver_memory": driver_memory,
        **({"errors": errors} if errors else {}),
    }
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
