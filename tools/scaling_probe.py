"""Scaling-curve probe: time key queries across sf0.001/0.01/0.1 and
print one JSON object (min of 2 warm runs per point, noop sink).

Usage: python tools/scaling_probe.py [query ...]
Extra decades: set SPARK_GRAFT_PROBE_DIRS to a comma-separated list of
sf dirs (e.g. ",/tmp/scale_data/sf0.3,/tmp/scale_data/sf1" appended to
the default three; dirs made by tools/make_scale_data.py). Labels are
the dir basenames.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

DEFAULT = [
    "q1_pricing_summary",
    "events_asof_last_order",
    "dedup_minhash_lsh",
    "curation_pipeline_summary",
    "similarity_topk_bruteforce",
    "contamination_ngram_overlap",
]


def main() -> None:
    import os

    from bench import time_query
    from syllabus_sense_spark.session import get_spark
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scaling-probe")
    dirs = [f"/root/testdata/sf{sf}" for sf in ["0.001", "0.01", "0.1"]]
    dirs += [
        d
        for d in os.environ.get("SPARK_GRAFT_PROBE_DIRS", "").split(",")
        if d.strip()
    ]
    out: dict[str, dict[str, float]] = {}
    for d in dirs:
        sf = os.path.basename(d.rstrip("/")).removeprefix("sf")
        for name in names:
            runs = time_query(spark, q.QUERIES[name], d, 2)
            best = min(c + e for c, e in runs)
            out.setdefault(name, {})[sf] = round(best, 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
