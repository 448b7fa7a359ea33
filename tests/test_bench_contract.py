"""Laws for bench.py's driver contract: one JSON line of timings, no
side effects. bench.py is a timer; parent-vs-change decisions belong
to perfbench/run.py, so a bench run must not write files into the
checkout or stop the shared session."""

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

KEPT_KEYS = {
    "metric",
    "value",
    "unit",
    "queries",
    "construct",
    "execute",
    "streaming_excluded_from_total",
    "timing",
    "order",
    "sf",
    "driver_memory",
    "errors",
}


def _tree_state() -> dict[str, tuple[int, int]]:
    state = {}
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in (".git", "__pycache__", ".pytest_cache")]
        for f in files:
            path = os.path.join(root, f)
            st = os.stat(path)
            state[path] = (st.st_mtime_ns, st.st_size)
    return state


def test_bench_names_are_registered():
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    names = bench.HEADLINE + bench.STREAMING_EXTRA
    missing = [n for n in names if n not in q.QUERIES]
    assert not missing, f"bench names not in the registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_bench_main_prints_one_line_and_writes_nothing(
    spark, sf_dir, monkeypatch, capsys
):
    rows = ["q1_pricing_summary", "join_broadcast_lookup"]
    drain = "streaming_tumbling_hourly_drain"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ITERS", "1")
    # the session already exists; pin the env to its heap so the bench
    # reports it and leaves nothing behind for later tests
    heap = spark.conf.get("spark.driver.memory")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", heap)
    monkeypatch.setattr(bench, "HEADLINE", rows + ["no_such_query"])
    monkeypatch.setattr(bench, "STREAMING_EXTRA", [drain])

    before = _tree_state()
    capsys.readouterr()
    bench.main()
    lines = capsys.readouterr().out.splitlines()

    assert len(lines) == 1, lines
    payload = json.loads(lines[0])
    assert set(payload) == KEPT_KEYS
    assert payload["value"] == round(sum(payload["queries"].values()), 3)
    assert set(payload["queries"]) == set(rows)
    assert set(payload["construct"]) == set(payload["queries"])
    assert set(payload["execute"]) == set(payload["queries"])
    assert set(payload["streaming_excluded_from_total"]) == {drain}
    assert payload["errors"] == {"no_such_query": "not registered"}
    assert payload["sf"] == 0.001
    assert payload["driver_memory"] == heap

    assert spark.range(3).count() == 3
    assert _tree_state() == before


def test_time_query_returns_per_iteration_halves(spark, sf_dir):
    calls = []

    def fn(s, d):
        calls.append(d)
        return s.range(5)

    runs = bench.time_query(spark, fn, sf_dir, 3)
    assert calls == [sf_dir] * 3
    assert len(runs) == 3
    assert all(c >= 0 and e >= 0 for c, e in runs)

    def broken(s, d):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        bench.time_query(spark, broken, sf_dir, 2)
