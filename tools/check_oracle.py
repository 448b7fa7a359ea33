"""Local stand-in for the driver's correctness gate.

Runs every registered query against its DuckDB oracle at a given
sf dir and compares row count, sorted column names, and the
order-insensitive multiset of rows. Floats compare exactly first; on
mismatch we report the max absolute delta so near-misses (summation
order) are distinguishable from real bugs.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to 9 significant decimals to absorb sub-ulp formatting
        return f"{v:.9g}"
    if isinstance(v, list):
        return tuple(normalize(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, normalize(x)) for k, x in v.items()))
    return v


def row_key(row, col_order):
    return tuple(normalize(row[i]) for i in col_order)


def main() -> int:
    import duckdb
    from syllabus_sense_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"WARN {name}: zero rows from rows-only query")
            continue
        try:
            dres = con.execute(oracles[name])
            dcols = [d[0] for d in dres.description]
            drows = dres.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue

        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        if ok:
            s_order = sorted(range(len(scols)), key=lambda i: scols[i])
            d_order = sorted(range(len(dcols)), key=lambda i: dcols[i])
            s_multiset = Counter(row_key(tuple(r), s_order) for r in srows)
            d_multiset = Counter(row_key(tuple(r), d_order) for r in drows)
            if s_multiset != d_multiset:
                ok = False
                missing = list((d_multiset - s_multiset).items())[:3]
                extra = list((s_multiset - d_multiset).items())[:3]
                print(f"FAIL {name}: value mismatch")
                for r, n in missing:
                    print(f"  oracle-only ({n}x): {r}")
                for r, n in extra:
                    print(f"  spark-only  ({n}x): {r}")
        if ok:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
        else:
            failures.append(name)

    print()
    total = len([n for n in queries if not only or n in only])
    print(f"{total - len(failures)}/{total} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
