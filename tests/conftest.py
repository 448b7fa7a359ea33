from __future__ import annotations

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
