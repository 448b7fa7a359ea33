"""Registry-ordering invariants — the driver contract.

The driver verifies the first 50 registered queries per round, so the
ordering logic in ``queries/__init__.load_all_queries`` IS evidence
policy. These tests pin its invariants so a refactor (or a silently
clobbered module — the round-7 relational12 incident) cannot waste
driver window slots unnoticed.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def registry():
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    return q


def test_priority_list_names_all_resolve(registry):
    """Every force-listed name must exist in QUERIES: a missing name
    means a module was silently lost (clobber guard, round-7 incident)."""
    missing = [n for n in registry._FORCE_RECHECK if n not in registry.QUERIES]
    assert missing == [], f"silently-lost queries: {missing}"


def test_window_is_spent_on_evidence_holes(registry):
    """While evidence holes (never-checked + force-listed stale) could
    fill the driver's 50-slot window, every window slot must go to one
    — a green-and-unchanged query in the window is a wasted slot. Once
    holes run short, the tail legitimately back-fills with the
    oldest-green rotation, so the assertion scopes to the hole count."""
    last_green = registry._evidence_from_past_rounds()
    names = list(registry.QUERIES)
    holes = [
        n
        for n in names
        if n not in last_green or n in registry._FORCE_RECHECK
    ]
    budget = min(50, len(holes))
    wasted = [
        n
        for n in names[:budget]
        if n in last_green and n not in registry._FORCE_RECHECK
    ]
    assert wasted == [], f"window slots wasted on green queries: {wasted}"


def test_never_checked_outrank_stale_rechecks(registry):
    """While the never-checked backlog exceeds the window, the whole
    window goes to it (round-7 judge direction); force-listed
    re-checks may only appear interleaved once the backlog fits."""
    last_green = registry._evidence_from_past_rounds()
    names = list(registry.QUERIES)
    never = [n for n in names if n not in last_green]
    if len(never) > 50:
        assert all(n not in last_green for n in names[:50])
    else:
        # interleave active: within the front block every green name
        # must be force-listed (a re-check), never a wasted slot, and
        # all never-checked names still precede the green tail
        block = names[: len(never) + len(registry._FORCE_RECHECK)]
        greens_in_block = [n for n in block if n in last_green]
        assert all(n in registry._FORCE_RECHECK for n in greens_in_block)
        assert set(never) <= set(block)


def test_interleave_policy_on_synthetic_registry():
    """Unit-test the pure ordering policy across both branches —
    including the 1-per-3 interleave the live registry only exercises
    once the backlog fits the window."""
    from syllabus_sense_spark.queries import _ordered

    # --- backlog fits the window: stale re-checks interleave 1-per-3
    registered = [f"g{i}" for i in range(8)] + [f"n{i}" for i in range(6)]
    last_green = {f"g{i}": i % 4 + 1 for i in range(8)}  # rounds 1..4
    order = _ordered(
        registered,
        last_green,
        force_recheck=["g3", "g5", "g7"],
        window=50,
    )
    assert order[:8] == ["n0", "n1", "n2", "g3", "n3", "n4", "n5", "g5"]
    # leftover stale follows the never block...
    assert order[8] == "g7"
    # ...and the green tail sorts by ascending last-green round
    tail = order[9:]
    rounds = [last_green[n] for n in tail]
    assert rounds == sorted(rounds)

    # --- backlog exceeds the window: NO interleave, stale after never
    many_never = [f"n{i}" for i in range(7)]
    order = _ordered(
        many_never + ["g0", "g1"],
        {"g0": 1, "g1": 2},
        force_recheck=["g1"],
        window=5,
    )
    assert order == many_never + ["g1", "g0"]

    # --- stale exhausted mid-interleave: remaining never unaffected
    order = _ordered(
        ["a", "b", "c", "d", "e", "f", "g0"],
        {"g0": 1},
        force_recheck=["g0"],
        window=50,
    )
    assert order == ["a", "b", "c", "g0", "d", "e", "f"]

    # --- rows-only greens sort behind every hash-checkable green in
    # the rotation tail, regardless of vintage (round-10 judge item 7:
    # a rows-only slot can only re-confirm `no_oracle`)
    order = _ordered(
        ["h_new", "h_old", "r_old", "r_new"],
        {"h_new": 9, "h_old": 1, "r_old": 1, "r_new": 9},
        force_recheck=[],
        window=50,
        rows_only={"r_old", "r_new"},
    )
    assert order == ["h_old", "h_new", "r_old", "r_new"]

    # --- force-listed names that are not registered are ignored
    order = _ordered(
        ["x", "g0"],
        {"g0": 1},
        force_recheck=["phantom"],
        window=50,
    )
    assert order == ["x", "g0"]

    # --- ties break by name, not by registration order: registration
    # order follows the import graph, which must not steer the window
    order = _ordered(
        ["n_b", "g_z", "g_a", "n_a", "g_old", "g_m"],
        {"g_z": 2, "g_a": 2, "g_old": 1, "g_m": 2},
        force_recheck=[],
        window=50,
    )
    assert order == ["n_a", "n_b", "g_old", "g_a", "g_m", "g_z"]


def test_oracle_keys_subset_of_queries(registry):
    """Every oracle belongs to a registered query, and both dicts keep
    the same relative order for shared keys (the driver zips them)."""
    assert set(registry.ORACLE) <= set(registry.QUERIES)
    qorder = [n for n in registry.QUERIES if n in registry.ORACLE]
    assert qorder == list(registry.ORACLE)


def test_load_all_queries_discovers_every_module(tmp_path):
    """A query module joins the registry by existing on the package
    path — no import list to edit — and every module under queries/
    without a leading underscore is imported and owns at least one
    registered query (a module that registers nothing is dead weight
    or a silently broken decorator)."""
    import pkgutil
    import sys

    from syllabus_sense_spark import queries as q

    probe = "zz_discovery_probe"
    (tmp_path / f"{probe}.py").write_text(
        "from . import register\n"
        "\n"
        "\n"
        f"@register('{probe}_rows', oracle='SELECT 1 AS one')\n"
        f"def {probe}_rows(spark, sf_dir):\n"
        "    return spark.range(1).selectExpr('1 AS one')\n"
    )
    modules = [
        m.name for m in pkgutil.iter_modules(q.__path__) if not m.name.startswith("_")
    ]
    saved_path = list(q.__path__)
    q.__path__.append(str(tmp_path))
    try:
        q.load_all_queries()
        assert f"{probe}_rows" in q.QUERIES
        assert q.ORACLE[f"{probe}_rows"] == "SELECT 1 AS one"

        owners = {fn.__module__ for fn in q.QUERIES.values()}
        for name in modules:
            assert f"{q.__name__}.{name}" in sys.modules, f"not imported: {name}"
        orphans = [n for n in modules if f"{q.__name__}.{n}" not in owners]
        assert orphans == [], f"modules registering no query: {orphans}"
    finally:
        q.QUERIES.pop(f"{probe}_rows", None)
        q.ORACLE.pop(f"{probe}_rows", None)
        sys.modules.pop(f"{q.__name__}.{probe}", None)
        q.__path__[:] = saved_path
