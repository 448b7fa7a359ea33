"""Laws of the availableNow drain (``streaming/drain.py``): every
streaming query in the package starts, waits and stops through it; a
timed-out drain stops its query and raises a typed error; a repeated
memory-sink drain replaces its table instead of adding one."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "syllabus_sense_spark"
DRAIN_MODULE = "streaming/drain.py"

# (module, function) allowed to run a stream outside ``drain``, with why.
OUTSIDE_DRAIN = {
    ("queries/streaming_queries.py", "streaming_dsv2_replay_drain"): (
        "a PySpark 4.1 Python DataSource stream has no availableNow "
        "support, so it waits with processAllAvailable and stops in a finally"
    ),
}

# The registered drains whose sink is a fixed-name memory table.
MEMORY_SINK_DRAINS = [
    "streaming_tumbling_hourly_drain",
    "streaming_session_windows_drain",
    "streaming_interval_join_drain",
    "streaming_outer_join_drain",
    "streaming_full_outer_join_drain",
    "streaming_dedup_drain",
    "streaming_stateful_counts_drain",
    "streaming_sliding_hourly_drain",
    "streaming_dynamic_gap_drain",
]


def _modules(root: Path):
    pkg = root / PACKAGE
    for path in sorted(pkg.rglob("*.py")):
        yield path.relative_to(pkg).as_posix(), ast.parse(path.read_text())


def _call_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return None


def _chain_has(node: ast.AST, attr: str) -> bool:
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            if node.attr == attr:
                return True
            node = node.value
        else:
            node = node.func
    return False


def _stream_control(node: ast.AST) -> str | None:
    """What stream-control step ``node`` is, or None."""
    name = _call_name(node)
    if name in ("awaitTermination", "processAllAvailable"):
        return name
    if name == "trigger" and any(k.arg == "availableNow" for k in node.keywords):
        return "trigger(availableNow)"
    if name == "start" and _chain_has(node.func, "writeStream"):
        return "writeStream.start"
    if isinstance(node, ast.withitem) and _call_name(node.context_expr) == "state_partitions":
        return "with state_partitions"
    return None


def stream_control_sites(root: Path) -> list[tuple[str, str, str]]:
    """(module, enclosing top-level function, step) of every
    stream-control step in the package."""
    sites = []
    for mod, tree in _modules(root):
        for top in tree.body:
            fn = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                step = _stream_control(node)
                if step:
                    sites.append((mod, fn, step))
    return sites


def asserts_with_method_calls(root: Path) -> list[tuple[str, int]]:
    """(module, line) of every ``assert`` whose test calls a method:
    ``python -O`` strips the assert, and the call with it."""
    return [
        (mod, node.lineno)
        for mod, tree in _modules(root)
        for node in ast.walk(tree)
        if isinstance(node, ast.Assert)
        and any(
            isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
            for c in ast.walk(node.test)
        )
    ]


def test_no_assert_calls_a_method():
    assert asserts_with_method_calls(ROOT) == []


def test_streams_start_wait_and_stop_only_in_drain():
    sites = stream_control_sites(ROOT)
    outside = {(m, f) for m, f, _ in sites if m != DRAIN_MODULE}
    assert outside == set(OUTSIDE_DRAIN), sorted(
        s for s in sites if s[0] != DRAIN_MODULE and s[:2] not in OUTSIDE_DRAIN
    )
    in_drain = {step for m, _, step in sites if m == DRAIN_MODULE}
    assert in_drain == {
        "awaitTermination",
        "trigger(availableNow)",
        "with state_partitions",
    }


def test_drain_timeout_stops_the_query_and_frees_its_name(spark, sf_dir, monkeypatch):
    from syllabus_sense_spark import StreamDrainTimeoutError
    from syllabus_sense_spark.queries import QUERIES, load_all_queries
    from syllabus_sense_spark.streaming import drain

    load_all_queries()
    run = QUERIES["streaming_tumbling_hourly_drain"]
    with monkeypatch.context() as m:
        m.setattr(drain, "DRAIN_TIMEOUT_S", 0.001)
        with pytest.raises(StreamDrainTimeoutError) as ei:
            run(spark, sf_dir)
    assert ei.value.query_name == "harness_hourly_drain"
    assert spark.streams.active == []
    assert run(spark, sf_dir).count() > 0
    assert spark.streams.active == []


@pytest.mark.parametrize("name", MEMORY_SINK_DRAINS)
def test_repeated_memory_sink_drain_adds_no_table(spark, sf_dir, name):
    from syllabus_sense_spark.queries import QUERIES, load_all_queries

    load_all_queries()

    def temp_tables() -> int:
        return sum(t.isTemporary for t in spark.catalog.listTables())

    first = QUERIES[name](spark, sf_dir).count()
    after_first = temp_tables()
    assert QUERIES[name](spark, sf_dir).count() == first
    assert temp_tables() == after_first
