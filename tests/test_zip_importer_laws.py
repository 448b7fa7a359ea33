"""Laws for ``session.drop_zip_importers``, the wrapper on the DOCX
chain's Arrow seams (both run in-process; no Spark session).

1. DROP — once a wrapped batch iterator is exhausted, no
   ``zipimport.zipimporter`` is left in ``sys.path_importer_cache``,
   every other finder is untouched, the batches pass through unchanged,
   and a module not yet imported from the same zip still imports.
2. EVERY SEAM — each ``mapInPandas``/``mapInArrow`` call under
   ``sources/`` and ``pipeline/`` passes its function through the
   wrapper, so a new seam cannot bring the per-task zip re-read back.
"""

from __future__ import annotations

import ast
import os
import sys
import zipfile
import zipimport

from syllabus_sense_spark.session import drop_zip_importers

_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "syllabus_sense_spark")


def _zip_importers() -> list[str]:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_exhausted_wrapper_drops_zip_importers_only(tmp_path):
    archive = str(tmp_path / "zlawpkg.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zlawpkg/__init__.py", "")
        zf.writestr("zlawpkg/first.py", "VALUE = 1\n")
        zf.writestr("zlawpkg/second.py", "VALUE = 2\n")
    sys.path.insert(0, archive)
    try:
        from zlawpkg import first

        assert first.VALUE == 1
        assert archive in _zip_importers()
        others = {
            p: f for p, f in sys.path_importer_cache.items()
            if not isinstance(f, zipimport.zipimporter)
        }

        def gen(batches):
            for b in batches:
                yield b * 10

        wrapped = drop_zip_importers(gen)
        assert wrapped.__name__ == "gen"
        assert list(wrapped(iter([1, 2, 3]))) == [10, 20, 30]

        assert _zip_importers() == []
        for p, f in others.items():
            assert sys.path_importer_cache[p] is f

        from zlawpkg import second

        assert second.VALUE == 2
        assert second.__file__.startswith(archive)
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("zlawpkg", "zlawpkg.first", "zlawpkg.second"):
            sys.modules.pop(name, None)


def _map_calls(tree: ast.AST):
    """(line, first argument) of every ``.mapInPandas``/``.mapInArrow``."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("mapInPandas", "mapInArrow")
        ):
            yield node.lineno, node.args[0] if node.args else None


def test_every_docx_chain_seam_is_wrapped():
    found, bare = [], []
    for sub in ("sources", "pipeline"):
        for root, _dirs, files in os.walk(os.path.join(_PKG, sub)):
            for fname in sorted(files):
                if not fname.endswith(".py"):
                    continue
                path = os.path.join(root, fname)
                rel = os.path.relpath(path, _PKG)
                for line, fn in _map_calls(ast.parse(open(path).read())):
                    found.append(f"{rel}:{line}")
                    if not (
                        isinstance(fn, ast.Call)
                        and isinstance(fn.func, ast.Name)
                        and fn.func.id == "drop_zip_importers"
                    ):
                        bare.append(f"{rel}:{line}")
    assert bare == [], (
        f"Arrow seams not wrapped in session.drop_zip_importers: {bare}"
    )
    # parse, extract, plan, generate: a scan that finds fewer (a changed
    # call shape) fails loudly
    assert len(found) == 4, found
