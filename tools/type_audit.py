"""Cross-engine output-type audit for every oracle query.

The driver's correctness gate hashes VALUES type-sensitively: a DuckDB
column that widens past 64 bits (HUGEINT — e.g. integer division by a
windowed `SUM(...) OVER ()` or a scalar-subquery SUM) hashes
differently from Spark's BIGINT even when every value is equal. The
local gate compares plain Python values, so this class of bug is
invisible locally and only surfaces as a driver hash-fail (round 7:
`dq_benford_first_digit`; round 8's scan caught six more carriers
before they burned driver window slots).

For each registered oracle this audit builds the DuckDB relation (type
inference only — nothing executes) and the Spark DataFrame, then flags
column-type pairs that are not PROVEN benign. Proof comes from two
sources:

- a hand-seeded identity list (`_OK`), plus
- auto-calibration against driver evidence: every (duckdb, spark) type
  pair carried by a query whose LATEST CORRECTNESS_r*.json row is
  hash-green has, by that row, been hashed equal by the driver — the
  pair is benign everywhere, not just in that query.

Auto-calibration keeps the audit's flag list honest as new oracles
land: benign-but-unlisted pairs (INTEGER vs bigint, FLOAT vs double)
stop flagging the moment any query carrying them earns a green row,
while genuinely unproven widenings (HUGEINT) keep flagging — no
width-class normalization that could silently bless the exact bug
class the audit exists to catch.

Usage: python tools/type_audit.py [sf_dir] [--update]
Exits 1 if flagged.

``--update`` refreshes the green-time source-hash ledger
(tools/green_src_hashes.json). Run it ONCE at round start — right
after new CORRECTNESS evidence lands and BEFORE any source edit — so
the recorded fingerprint is the one the driver actually checked.
Without the flag the audit is read-only: fresh green rows whose
fingerprint isn't in the ledger yet are reported but NOT trusted for
calibration, and the committed ledger is never dirtied as a side
effect of a mid-round audit (which would otherwise bless a stale
green: by mid-round the current source may already differ from what
the driver hashed).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# (duckdb_type, spark_type) identity pairs — hash-equal by definition
_OK = {
    ("BIGINT", "bigint"),
    ("INTEGER", "int"),
    ("DOUBLE", "double"),
    ("VARCHAR", "string"),
    ("DATE", "date"),
    ("BOOLEAN", "boolean"),
    # calibrated benign by green driver rows before auto-calibration
    # existed (see module docstring):
    ("BIGINT", "int"),
    ("JSON", "string"),
}


def _pair_ok(duck: str, spark: str, calibrated: set) -> bool:
    d, s = duck.upper(), spark.lower()
    if (d, s) in _OK or (d, s) in calibrated:
        return True
    if d.startswith("TIMESTAMP") and s.startswith("timestamp"):
        return True
    if d.startswith("DECIMAL") and s.startswith("decimal"):
        return True
    return False


def _driver_hash_green() -> dict[str, int]:
    """name -> round of the LATEST driver row, for names whose latest
    row is hash-green. Rows-only greens (err == no_oracle) prove
    nothing about type hashing and are excluded."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(
        glob.glob(os.path.join(here, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    ):
        try:
            data = json.load(open(path))
        except Exception:  # noqa: BLE001 — a malformed round file is skipped
            continue
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        for name, row in data.items():
            if isinstance(row, dict):
                latest[name] = (rnd, row.get("hash_match") is True)
    return {n: rnd for n, (rnd, green) in latest.items() if green}


def _src_hash(q, name: str) -> str:
    """Fingerprint of a query's CURRENT implementation: the registered
    function's source plus its oracle SQL. Calibration trusts a green
    row only while this fingerprint still matches the one recorded
    when the row was first observed."""
    import hashlib
    import inspect

    try:
        src = inspect.getsource(q.QUERIES[name])
    except Exception:  # noqa: BLE001 — builtins/callables without source
        src = repr(q.QUERIES[name])
    return hashlib.sha256(
        (src + "\n--oracle--\n" + q.ORACLE.get(name, "")).encode()
    ).hexdigest()[:16]


def _green_ledger(
    q, green: dict[str, int], force: set[str], update: bool
) -> set[str]:
    """Names whose green row is proven CURRENT: the query source at
    green-observation time equals the source now.

    The ledger (tools/green_src_hashes.json, committed) records each
    name's source fingerprint via an EXPLICIT ``--update`` run at
    round start — after new driver evidence lands, before any edit —
    so the recorded hash is the hash the driver actually checked.
    A query edited later WITHOUT a force-recheck listing then simply
    stops matching its ledger entry and drops out of calibration,
    closing the hole where an unlisted stale green could bless an
    unproven type pair audit-wide. Read-only runs never write the
    ledger: a mid-round implicit refresh would fingerprint the
    CURRENT (possibly already-edited) source as green-time state —
    the exact blessing of a stale green this mechanism exists to
    prevent — and would dirty the committed file as a side effect.
    (The fingerprint covers the registered function body + oracle
    SQL, not helpers it calls — helper edits remain the force-recheck
    policy's job; output types are almost always decided in the
    function body anyway.)"""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, "tools", "green_src_hashes.json")
    try:
        ledger: dict[str, dict] = json.load(open(path))
    except Exception:  # noqa: BLE001 — missing/corrupt ledger: empty,
        ledger = {}  # repopulated only by an explicit --update run
    stale_entries = 0
    changed = False
    for name, rnd in green.items():
        if name not in q.QUERIES or name in force:
            continue  # stale by policy — record only after the re-green
        ent = ledger.get(name)
        if ent is None or ent.get("round", -1) < rnd:
            if update:
                ledger[name] = {"round": rnd, "src": _src_hash(q, name)}
                changed = True
            else:
                stale_entries += 1
    if changed:
        with open(path, "w") as f:
            json.dump(ledger, f, indent=0, sort_keys=True)
            f.write("\n")
        print(f"ledger updated -> {path}")
    elif stale_entries:
        print(
            f"NOTE {stale_entries} fresh green row(s) not in the ledger — "
            "not calibrated this run; record them with --update at round "
            "start (before edits)"
        )
    return {
        name
        for name, rnd in green.items()
        if name in ledger
        and ledger[name]["round"] == rnd
        and name in q.QUERIES
        and ledger[name]["src"] == _src_hash(q, name)
    }


def main() -> int:
    import duckdb

    from syllabus_sense_spark import queries as q
    from syllabus_sense_spark.session import get_spark
    from syllabus_sense_spark.tables import TABLE_NAMES

    argv = [a for a in sys.argv[1:] if a != "--update"]
    update = "--update" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    q.load_all_queries()
    spark = get_spark("type-audit")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    # pass 1: per-query column-type pairs from both engines
    pairs: dict[str, dict[str, tuple[str, str | None]]] = {}
    errors: list[str] = []
    for name, sql in q.ORACLE.items():
        try:
            rel = con.sql(sql)
            duck = dict(zip(rel.columns, (str(t) for t in rel.types)))
            sk = {
                f.name: f.dataType.simpleString()
                for f in q.QUERIES[name](spark, sf_dir).schema.fields
            }
        except Exception as exc:  # noqa: BLE001 — report, keep scanning
            print(f"ERR  {name}: {type(exc).__name__}: {exc}"[:160])
            errors.append(name)
            continue
        pairs[name] = {col: (dtype, sk.get(col)) for col, dtype in duck.items()}

    # pass 2: every pair a hash-green driver row carried is proven.
    # Stale greens prove nothing about their CURRENT pairs — excluded
    # two ways: the force-recheck list (policy), and the green-time
    # source-hash ledger (mechanical: the fingerprint recorded when
    # the green row was first observed must equal the fingerprint
    # now, so an edit the policy missed still drops the query from
    # calibration).
    force = set(q._FORCE_RECHECK)
    green = _green_ledger(q, _driver_hash_green(), force, update) - force
    calibrated = {
        (d.upper(), s.lower())
        for name in pairs
        if name in green
        for d, s in pairs[name].values()
        if s is not None
    }

    flagged = len(errors)
    for name, cols in pairs.items():
        for col, (dtype, stype) in cols.items():
            if stype is None:
                print(f"FLAG {name}.{col}: {dtype} vs MISSING IN SPARK")
                flagged += 1
            elif not _pair_ok(dtype, stype, calibrated):
                print(f"FLAG {name}.{col}: duckdb {dtype} vs spark {stype}")
                flagged += 1
    print(
        f"{len(q.ORACLE)} oracles scanned, {flagged} flags"
        f" ({len(calibrated)} driver-calibrated pairs)"
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
