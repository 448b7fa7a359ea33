from __future__ import annotations

import contextlib
import functools
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from syllabus_sense_spark.session import get_spark

    s = get_spark("syllabus-sense-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@contextlib.contextmanager
def _venue(monkeypatch, side: str):
    """Run ``connected_components`` on ``side``, "driver" or "cluster"
    (forced: every test graph fits the ``driver_edges`` guard), and
    assert through ``guards.TAKEN`` that only that side ran."""
    from syllabus_sense_spark import guards

    with monkeypatch.context() as m:
        if side == "cluster":
            m.setitem(guards.LIMITS, "driver_edges", -1)
        before = guards.TAKEN.copy()
        yield
    taken = {s for n, s in guards.TAKEN - before if n == "driver_edges"}
    assert taken == {side}, f"expected the {side} venue, took {taken}"


@pytest.fixture
def venue(monkeypatch):
    """``with venue(side):`` — see ``_venue``."""
    return functools.partial(_venue, monkeypatch)


@pytest.fixture
def cluster(monkeypatch):
    """The whole test runs ``connected_components`` on the cluster venue."""
    with _venue(monkeypatch, "cluster"):
        yield
