"""Print formatted physical plans for registered queries — the
iterate-until-the-plan-is-right loop (scan pushdown, broadcast
choices, WholeStageCodegen spans). This is the one plan printer: no
plan is kept as a file; a plan property worth keeping becomes a law
in tests/test_plan_shape_laws.py.

Usage: python tools/explain.py [sf_dir] <query> [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    from syllabus_sense_spark.session import get_spark
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    spark = get_spark("explain")
    for name in args or list(q.QUERIES):
        print(f"\n===== {name} =====")
        q.QUERIES[name](spark, sf_dir).explain("formatted")


if __name__ == "__main__":
    main()
