"""Full-registry scale sweep: time EVERY registered query at two
decades (default /root/testdata/sf0.1 and /tmp/scale_data/sf1, the
tiled third-decade corpus from tools/make_scale_data.py) and flag
queries whose per-decade cost ratio exceeds a threshold.

Rationale (round-9 verdict item 2): the 43-query bench headline caught
the SimHash frequent-bucket blow-up only because that query happened
to be a headline; 322 registered queries had never been timed past
sf0.1, and the same disease classes — band buckets, under-split
inputs, per-consumer re-derivation — could hide anywhere. This sweep
is the systematic version of that catch.

Output: one JSON line per (query, sf) appended to the --out file as
it lands (a crash keeps partial results), then a sorted summary of
ratio outliers on stdout. Ratio = t(sf1) / t(sf0.1) over one decade
of data growth; on 32 local cores a scan-bound query should be ~1-4x,
a shuffle-bound one ~3-8x; >8x is the probe-worthy tail.

Usage:
  python tools/full_scale_sweep.py [--out FILE] [--runs N]
                                   [--dirs D1,D2] [--only n1,n2 ...]
  SPARK_GRAFT_SWEEP_SKIP: comma-separated names to skip (e.g. already
  measured in a previous partial run; --resume skips names already in
  the out file for a dir).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/full_sweep.jsonl")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--dirs", default="/root/testdata/sf0.1,/tmp/scale_data/sf1"
    )
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    from bench import time_query
    from syllabus_sense_spark import queries as q
    from syllabus_sense_spark.session import get_spark

    q.load_all_queries()
    # Deterministic NAME order, not registry order: the registry
    # reorders every round (evidence rotation), and a query's timing
    # depends on its POSITION in this long single-JVM session
    # (accumulated caches, memory-sink tables, broadcasts, GC
    # pressure) — the r11 sweep showed 3-9x inflation on queries whose
    # position shifted, refuted one by one in isolated sessions.
    # Fixed order keeps round-over-round sweeps comparable; flagged
    # outliers must STILL be re-measured in an isolated session before
    # being believed (SCALE.md round-11 triage protocol).
    names = sorted(q.QUERIES)
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]
    skip = set(os.environ.get("SPARK_GRAFT_SWEEP_SKIP", "").split(","))
    done: set[tuple[str, str]] = set()
    if args.resume and os.path.exists(args.out):
        with open(args.out) as f:
            for line in f:
                try:
                    row = json.loads(line)
                    done.add((row["name"], row["dir"]))
                except Exception:  # noqa: BLE001 — partial trailing line
                    pass

    spark = get_spark("full-scale-sweep")
    dirs = [d for d in args.dirs.split(",") if d.strip()]
    t_sweep = time.time()
    with open(args.out, "a") as out:
        for d in dirs:
            for i, name in enumerate(names):
                if name in skip or (name, d) in done:
                    continue
                sec, err = None, None
                try:
                    runs = time_query(spark, q.QUERIES[name], d, args.runs)
                    sec = round(min(c + e for c, e in runs), 3)
                except Exception as exc:  # noqa: BLE001 — record, move on
                    err = f"{type(exc).__name__}: {exc}"[:200]
                row = {"name": name, "dir": d, "sec": sec, "err": err}
                out.write(json.dumps(row) + "\n")
                out.flush()
                if i % 25 == 0:
                    print(
                        f"[{time.strftime('%H:%M:%S')}] {d} {i}/{len(names)}"
                        f" ({time.time() - t_sweep:.0f}s elapsed)",
                        flush=True,
                    )

    # summary: pair up and rank by ratio
    rows: dict[str, dict[str, dict]] = {}
    with open(args.out) as f:
        for line in f:
            try:
                r = json.loads(line)
            except Exception:  # noqa: BLE001
                continue
            rows.setdefault(r["name"], {})[r["dir"]] = r
    lo_d, hi_d = dirs[0], dirs[-1]
    pairs = []
    for name, by_dir in rows.items():
        lo, hi = by_dir.get(lo_d), by_dir.get(hi_d)
        if not lo or not hi:
            continue
        if lo.get("err") or hi.get("err"):
            pairs.append((float("inf"), name, lo, hi))
            continue
        ratio = hi["sec"] / max(lo["sec"], 1e-9)
        pairs.append((ratio, name, lo, hi))
    pairs.sort(reverse=True)
    print(f"\n=== {len(pairs)} paired queries, top by {hi_d}/{lo_d} ratio ===")
    for ratio, name, lo, hi in pairs[:40]:
        if ratio == float("inf"):
            print(f"ERR  {name}: lo={lo.get('err')} hi={hi.get('err')}")
        else:
            print(
                f"{ratio:6.1f}x  {name}: {lo['sec']:.3f}s -> {hi['sec']:.3f}s"
            )
    flagged = [p for p in pairs if p[0] > 8 or p[0] == float("inf")]
    print(f"\n{len(flagged)} queries above 8x/decade (or errored)")


if __name__ == "__main__":
    main()
