"""Partition-count invariance audit: every query's result must not
depend on parallelism.

The house exactness rule (floats only from exact decimal aggregation +
one final double op) exists so results are bit-identical regardless of
how partial aggregates combine. This audit PROVES it over the whole
registry: each oracle-checked query runs once at the session default
`spark.sql.shuffle.partitions` (32) and once at 7 — a coprime, skewed
parallelism that reorders every partial-aggregation tree — and the two
row multisets must match EXACTLY (bit-level for floats, no rounding
slack). Rows-only queries compare row counts (their engine-specific
internals are the documented reason they are rows-only).

A query that passes the DuckDB gate once but fails here would pass the
local gate and still be able to flap at the driver (different config,
different partitioning) or on a 1000-executor cluster — the same
result-depends-on-parallelism class the decimal rule was written
against, and the 100 TB claim "the plan's answer is independent of
cluster width" made testable.

Usage: python tools/stability_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import struct
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _key(v):
    if isinstance(v, float):
        return ("f", struct.pack(">d", v))  # bit-exact, NaN-stable
    if isinstance(v, list):
        return ("l", tuple(_key(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, _key(x)) for k, x in v.items())))
    if isinstance(v, bytes):
        return ("b", v)
    return v


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_key(r[i]) for i in order) for r in rows)


def main() -> int:
    from syllabus_sense_spark import memo
    from syllabus_sense_spark import queries as q
    from syllabus_sense_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    q.load_all_queries()
    names = [n for n in q.QUERIES if not only or n in only]
    spark = get_spark("stability-audit")
    default = spark.conf.get("spark.sql.shuffle.partitions")

    # Two full passes (not per-query A/B): session artifacts amortize
    # across queries WITHIN a pass exactly as in production, and the
    # memo clear between passes guarantees the width-7 pass rebuilds
    # every artifact at width 7.
    def run_pass(width: str) -> dict[str, tuple[list, list[str]] | Exception]:
        spark.conf.set("spark.sql.shuffle.partitions", width)
        out: dict[str, tuple[list, list[str]] | Exception] = {}
        for name in names:
            try:
                df = q.QUERIES[name](spark, sf_dir)
                out[name] = (df.collect(), df.columns)
            except Exception as exc:  # noqa: BLE001 — report, keep scanning
                out[name] = exc
        return out

    try:
        pass_a = run_pass(default)
        # Drop every per-session memo (table loads, artifact indexes,
        # collected driver values) so the second pass re-executes
        # EVERYTHING under the new width. An artifact (fingerprint
        # table, IVF cells, graph edge snapshot) or a vocabulary
        # collected during the first pass would otherwise be silently
        # probed by the second — PASS would then mean "stale-index
        # probe matched", not partition-count invariance of the build.
        memo.clear()
        pass_b = run_pass("7")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
        memo.clear()

    failed = []
    for name in names:
        a, b = pass_a[name], pass_b[name]
        if isinstance(a, Exception) or isinstance(b, Exception):
            exc = a if isinstance(a, Exception) else b
            failed.append(name)
            print(f"ERR  {name}: {type(exc).__name__}: {exc}"[:160])
            continue
        (rows_a, _), (rows_b, cols) = a, b
        if name not in q.ORACLE:
            ok = len(rows_a) == len(rows_b)
            tag = "rows-only"
        else:
            ok = _multiset(rows_a, cols) == _multiset(rows_b, cols)
            tag = "exact"
        if ok:
            print(f"PASS {name} ({tag}, {len(rows_a)} rows)")
        else:
            failed.append(name)
            print(
                f"FAIL {name}: {len(rows_a)} rows @ {default} parts"
                f" vs {len(rows_b)} @ 7"
            )

    print(f"\n{len(failed)} unstable" if failed else "\nall stable")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
