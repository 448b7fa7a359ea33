"""ANN recall/latency evaluation: every approximate variant against
the exact brute-force top-5, at a given sf dir.

recall@5 = |ANN neighbors ∩ exact top-5| / |exact top-5| averaged
over queries; wall = one warm execution of the variant. Prints one
JSON object — the "measure, don't guess" artifact SCALE.md cites.

Usage: python tools/ann_eval.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

VARIANTS = ["similarity_ivf_cells", "similarity_ivf_kmeans", "similarity_ann_lsh"]


def main() -> None:
    from syllabus_sense_spark.session import get_spark
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("ann-eval")

    brute = q.QUERIES["similarity_topk_bruteforce"](spark, sf_dir).collect()
    exact: dict[int, set[int]] = {}
    for r in brute:
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    out: dict[str, dict[str, float]] = {}
    for name in VARIANTS:
        fn = q.QUERIES[name]
        fn(spark, sf_dir).count()  # warm
        t0 = time.time()
        rows = fn(spark, sf_dir).collect()
        wall = time.time() - t0
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls = [
            len(got.get(qid, set()) & nbrs) / len(nbrs) for qid, nbrs in exact.items()
        ]
        out[name] = {
            "recall_at_5": round(sum(recalls) / len(recalls), 3),
            "queries_answered": len(got),
            "wall_sec": round(wall, 2),
        }

    # PQ+rerank over the SAME query set (vec_id % 100 = 0; unit-norm
    # vectors, so L2 top-k == cosine top-k). Self-matches are excluded
    # to align with the brute-force query's "neighbor != query" rule.
    from pyspark.sql import functions as F
    from syllabus_sense_spark.operators.pq import (
        assign_codes,
        pq_search,
        subvectors,
        train_codebook,
    )
    from syllabus_sense_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    subs = subvectors(emb, dim=64)
    centroids = train_codebook(subs)
    codes = assign_codes(subs, centroids)
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)

    def pq_rows():
        return (
            pq_search(emb, codes, centroids, queries_df, dim=64, k=6)
            .filter(F.col("vec_id") != F.col("query_id"))
            .collect()
        )

    pq_rows()  # warm (also materializes the trained codebook path)
    t0 = time.time()
    rows = pq_rows()
    wall = time.time() - t0
    # k=6 covers a possible self-match; after dropping self, keep only
    # the 5 best-ranked hits per query so the candidate budget matches
    # the other variants' 5-candidate protocol (6 would inflate recall
    # whenever the query's own vector misses its top-6).
    by_query: dict[int, list] = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    got = {}
    for qid, rs in by_query.items():
        rs.sort(key=lambda r: r.rank)
        got[qid] = {r.vec_id for r in rs[:5]}
    recalls = [
        len(got.get(qid, set()) & nbrs) / len(nbrs) for qid, nbrs in exact.items()
    ]
    out["similarity_pq_adc_rerank"] = {
        "recall_at_5": round(sum(recalls) / len(recalls), 3),
        "queries_answered": len(got),
        "wall_sec": round(wall, 2),
    }
    print(json.dumps({"sf_dir": sf_dir, "exact_queries": len(exact), "variants": out}))


if __name__ == "__main__":
    main()
