"""No production-dead library code.

Every top-level function, class and constant of the package must have a
code use in the package, ``tools/``, ``perfbench/``, ``bench.py`` or the
driver contract ``__spark_entry__.py``. A use is a name read, an
attribute read or an identifier-like string constant (``getattr`` and
registry names); comments, docstrings and import lines — the
``__init__`` re-exports among them — are not uses. Registered queries
are exempt: the registry runs them.

The only exceptions are the ``KEPT`` entries, each named by a README or
SURVEY row or a reference that a test compares against. A helper that
only a test calls fails the law: delete it with its test, or give it a
row and a ``KEPT`` entry.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "syllabus_sense_spark"

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

KEPT = {
    "operators.rowids.stable_row_ids": "README 'Scale patterns' (operators/rowids.py)",
    "queries._util.dsum": "reference for xsum in tests/test_scaled_long_agg.py",
    "queries.ext_multimodal.FEATURE_SCHEMA": "output schema of byte_histogram_features",
    "queries.ext_multimodal.byte_histogram_features": (
        "SURVEY multimodal row: the law-tested float-vector tier"
    ),
    "queries.ext_multimodal.decode_media_headers": "README 'Real multimodal decode'",
    "schemas.ELEMENT_SCHEMA": "SURVEY §1.5: the parsed-document layer",
    "schemas.TOPIC_SCHEMA": "SURVEY §1.5: the parsed-document layer",
    "session.CLUSTER_CONF": "SURVEY §2: the reviewed cluster deployment preset",
    "sinks.read_questions_json": "SURVEY A14: the JSON sink's read-own-output path",
    "sinks.write_table_csv": "README 'CSV export sink'",
    "sinks.read_table_csv": "README 'CSV export sink'",
    "sinks.layout.write_range_clustered": "README 'Range-clustered layout'",
    "sinks.layout.file_ranges": "README 'Range-clustered layout'",
    "sinks.snapshots.vacuum": "README 'Snapshot sink': vacuum retention",
    "streaming.flagship.drain_with_progress_guard": (
        "README 'Streaming stall guard (A17 complete)'"
    ),
    "streaming.flagship.stream_flagship_drain": "SURVEY §7 step 7: the streaming flagship",
    "streaming.stateful.stream_first_seen_dedupe": "README 'Streaming' (streaming/stateful.py)",
    "streaming.stateful.stream_first_seen_dedupe_dir": (
        "README 'Streaming' (streaming/stateful.py)"
    ),
    "streaming.stateful2.stream_running_user_stats": (
        "README 'Spark 4 surfaces' (streaming/stateful2.py)"
    ),
}


def _use_sites(root: Path) -> list[Path]:
    pkg = root / PACKAGE
    sites = sorted(pkg.rglob("*.py"))
    for extra in ("tools", "perfbench"):
        base = root / extra
        sites += sorted(
            p for p in base.rglob("*.py") if "tests" not in p.relative_to(base).parts
        )
    return sites + [p for p in (root / "bench.py", root / "__spark_entry__.py") if p.exists()]


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _registered(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> bool:
    for d in fn.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "register" or getattr(f, "attr", None) == "register":
            return True
    return False


def _top_level_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return [] if _registered(node) else [node.name]
    if isinstance(node, ast.ClassDef):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def unused_definitions(root: Path) -> set[str]:
    """Dotted names (relative to the package) of the package's
    top-level definitions that no use site reads."""
    pkg = root / PACKAGE
    defined: set[str] = set()
    used: set[str] = set()
    for path in _use_sites(root):
        tree = ast.parse(path.read_text(), str(path))
        if path.is_relative_to(pkg):
            mod = path.relative_to(pkg).with_suffix("").parts
            mod = mod[:-1] if mod[-1] == "__init__" else mod
            for node in tree.body:
                for name in _top_level_names(node):
                    if not (name.startswith("__") and name.endswith("__")):
                        defined.add(".".join((*mod, name)))
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
                and _IDENT.match(node.value)
            ):
                used.add(node.value)
    return {d for d in defined if d.rsplit(".", 1)[-1] not in used}


def test_no_production_dead_library_code():
    unused = unused_definitions(ROOT)
    assert unused - KEPT.keys() == set(), "library code that no entry point runs"
    assert KEPT.keys() - unused == set(), "KEPT entries that now have a code use"


def test_scan_flags_a_test_only_helper(tmp_path):
    """The scan's own rules, on a miniature checkout: a helper that only
    a test calls, or that only a comment, a docstring or an ``__init__``
    re-export names, is reported; a read, a string name and a
    registered query are not."""
    pkg = tmp_path / PACKAGE
    (pkg / "queries").mkdir(parents=True)
    (tmp_path / "tools").mkdir()
    (tmp_path / "perfbench").mkdir()
    (tmp_path / "tests").mkdir()
    (pkg / "__init__.py").write_text("from .lib import helper, documented  # noqa: F401\n")
    (pkg / "lib.py").write_text(
        '"""Module docstring naming helper and documented."""\n'
        "LIMIT = 3\n\n\n"
        "def helper():\n    return 1\n\n\n"
        "def documented():\n    '''see helper'''\n\n\n"
        "def used():\n    return LIMIT  # helper\n\n\n"
        "def by_name():\n    return 2\n"
    )
    (pkg / "queries" / "q.py").write_text(
        "from . import register\n\n\n"
        "@register('q')\ndef q(spark, sf_dir):\n    return getattr(None, 'by_name')\n"
    )
    (tmp_path / "tools" / "t.py").write_text(
        f"from {PACKAGE}.lib import used\n\nused()\n"
    )
    (tmp_path / "tests" / "test_lib.py").write_text(
        f"from {PACKAGE}.lib import helper\n\nhelper()\n"
    )
    assert unused_definitions(tmp_path) == {"lib.helper", "lib.documented"}
