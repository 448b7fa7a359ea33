"""Third-decade smoke: run the heaviest registry queries at sf1 and
fail if any exceeds its recorded budget — the in-round guard the
round-9 judge ordered (item 5), so a scale regression of the SimHash
frequent-bucket class is caught by `/verify` instead of by a judge
probe a round later.

Budgets live in tools/sf1_budgets.json: {query: seconds}, set to
3x the quiet-host measured sf1 time from the round-10 full-registry
sweep (tools/full_scale_sweep.py) — generous enough to absorb host
noise, tight enough that a quadratic blow-up (the observed failures
were 10-40x) trips immediately.

Regenerate budgets after an intentional perf change:
  python tools/sf1_smoke.py --rebudget   # measures, writes 3x times

Usage:
  python tools/sf1_smoke.py [--dir /tmp/scale_data/sf1]
  python tools/sf1_smoke.py --sf3      # fourth-decade tier (judge r11
                                       # item 5): same gate, budgets
                                       # from tools/sf3_budgets.json,
                                       # data tiled 30x to
                                       # /tmp/scale_data/sf3
  python tools/sf1_smoke.py --sf10     # fifth-decade tier (judge r12
                                       # item 2): budgets from
                                       # tools/sf10_budgets.json (3x
                                       # quiet-host SCALE.md ladder),
                                       # data tiled 100x (~1.6 GB)
  python tools/sf1_smoke.py --sf30     # sixth-decade SPOT-gate (judge
                                       # r13 item 6): only the three
                                       # queries whose cliff classes
                                       # died at sf30 in round 13
                                       # (trade-graph broadcast OOM,
                                       # per-pair assignment dots,
                                       # deserialized checkpoint
                                       # storage). Budgets are dicts
                                       # {cold, warm}: the COLD first
                                       # run is gated too, because the
                                       # 524 s assignment cliff lived
                                       # entirely in the one-time
                                       # artifact build that min-of-2-
                                       # warm would mask. Data tiled
                                       # 300x (~4.6 GB), ~3 min green.
Exit 1 on any budget violation or error. If the data tier is absent,
builds it first (deterministic: tools/make_scale_data.py, verified
byte-identical across runs in SCALE.md round-10).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

HERE = os.path.dirname(os.path.abspath(__file__))

# tier -> (budget file, make_scale_data tile factor, default dir)
TIERS = {
    "sf1": ("sf1_budgets.json", "10", "/tmp/scale_data/sf1"),
    "sf3": ("sf3_budgets.json", "30", "/tmp/scale_data/sf3"),
    # fifth decade (round-12 judge item 2 → wired round 13): the tier
    # that found the MinHash frequent-bucket quadratic and the
    # checkpoint block leak — budgets are 3x the quiet-host sf10
    # ladder in SCALE.md §Round-12. ~1.6 GB tile, ~10 min green run.
    "sf10": ("sf10_budgets.json", "100", "/tmp/scale_data/sf10"),
    # sixth decade (round-13 judge item 6): a SPOT-gate, not a ladder —
    # the full 18-query sf30 session is a ~45-min manual probe; this
    # gates just the three cliff classes that killed round-13's first
    # two sf30 sessions, with dict budgets {cold, warm} so a regression
    # in the one-time artifact build (the 524 s GEMM-fixed cliff) trips
    # the gate even though the warm probe would hide it.
    "sf30": ("sf30_budgets.json", "300", "/tmp/scale_data/sf30"),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=None)
    ap.add_argument("--rebudget", action="store_true")
    ap.add_argument(
        "--sf3",
        action="store_true",
        help="gate the fourth decade against tools/sf3_budgets.json",
    )
    ap.add_argument(
        "--sf10",
        action="store_true",
        help="gate the fifth decade against tools/sf10_budgets.json",
    )
    ap.add_argument(
        "--sf30",
        action="store_true",
        help="sixth-decade spot-gate (3 cliff-class queries, cold+warm budgets)",
    )
    args = ap.parse_args()
    tier = (
        "sf30"
        if args.sf30
        else ("sf10" if args.sf10 else ("sf3" if args.sf3 else "sf1"))
    )
    budget_file, tile_k, default_dir = TIERS[tier]
    budgets_path = os.path.join(HERE, budget_file)
    if args.dir is None:
        args.dir = default_dir

    if not os.path.exists(os.path.join(args.dir, "lineitem.parquet")):
        print(f"building {args.dir} (deterministic tile of sf0.1) ...")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "make_scale_data.py"),
             tile_k, args.dir],
            check=True,
        )

    budgets: dict[str, float] = json.load(open(budgets_path))

    from bench import time_query
    from syllabus_sense_spark import queries as q
    from syllabus_sense_spark.session import get_spark

    q.load_all_queries()
    spark = get_spark(f"{tier}-smoke")
    failed = 0
    measured: dict[str, tuple[float, float]] = {}  # name -> (cold, warm-min)
    for name, budget in budgets.items():
        fn = q.QUERIES[name]
        # min of 2 — the budgets are 3x MIN-OF-2-WARM sweep numbers,
        # and a single cold run pays ~15-20 s of JIT warmup on the
        # scorer-family codegen, which is startup cost, not regression
        try:
            runs = [c + e for c, e in time_query(spark, fn, args.dir, 2)]
        except Exception as exc:  # noqa: BLE001 — a smoke reports and moves on
            print(f"ERR  {name}: {type(exc).__name__}: {exc}"[:160])
            failed += 1
            continue
        cold, sec = runs[0], min(runs)
        measured[name] = (cold, sec)
        if isinstance(budget, dict):
            # {cold, warm} form (the sf30 spot-gate): the cold first
            # run carries the one-time artifact build — the cliff
            # class a warm-only budget cannot see.
            bad = cold > budget["cold"] or sec > budget["warm"]
            status = "SLOW" if bad else "ok  "
            if bad:
                failed += 1
            print(
                f"{status} {name}: cold {cold:.1f}s (budget "
                f"{budget['cold']:.1f}s), warm {sec:.1f}s (budget "
                f"{budget['warm']:.1f}s)"
            )
        else:
            status = "ok  " if sec <= budget else "SLOW"
            if sec > budget:
                failed += 1
            print(f"{status} {name}: {sec:.1f}s (budget {budget:.1f}s)")
    if args.rebudget:
        # A query that ERRORED during the rebudget run must not be
        # silently dropped from the budget file (it would disappear
        # from future smoke coverage): keep its old budget, warn, and
        # fail the rebudget so the error gets fixed first.
        if tier == "sf30":
            new_budgets = {
                n: {"cold": round(3 * c, 1), "warm": round(3 * w, 1)}
                for n, (c, w) in measured.items()
            }
        else:
            new_budgets = {n: round(3 * w, 1) for n, (_, w) in measured.items()}
        errored = [n for n in budgets if n not in measured]
        for n in errored:
            print(f"WARN {n}: errored during rebudget — keeping old budget")
            new_budgets[n] = budgets[n]
        json.dump(new_budgets, open(budgets_path, "w"), indent=2, sort_keys=True)
        print(f"budgets rewritten to 3x measured -> {budgets_path}")
        return 1 if errored else 0
    print(f"{len(budgets) - failed}/{len(budgets)} within budget")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
