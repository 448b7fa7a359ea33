"""Tests and tools import the checkout they live in. Each puts its own
checkout root on ``sys.path`` (``Path(__file__).resolve().parents[1]``),
so a second copy of the repo runs its own package on the driver, the
same package its Python workers import from the working directory."""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_no_tests_or_tools_file_names_the_checkout_path():
    needle = str(ROOT).encode()
    pinned = [
        str(p.relative_to(ROOT))
        for d in ("tests", "tools")
        for p in sorted((ROOT / d).rglob("*"))
        if p.is_file() and "__pycache__" not in p.parts and needle in p.read_bytes()
    ]
    assert not pinned, f"files pin the checkout path {ROOT}: {pinned}"


def test_package_is_imported_from_this_checkout():
    import syllabus_sense_spark

    assert Path(syllabus_sense_spark.__file__).resolve().parents[1] == ROOT
