"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import zipfile
from xml.etree import ElementTree

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_docx  # noqa: E402
import gen_jsonl  # noqa: E402
import gen_tables  # noqa: E402


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_docx_drop_is_deterministic(tmp_path):
    m1 = gen_docx.write_drop(str(tmp_path / "a"), 7, 3, 2)
    m2 = gen_docx.write_drop(str(tmp_path / "b"), 7, 3, 2)
    assert m1 == m2
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    m3 = gen_docx.write_drop(str(tmp_path / "c"), 8, 3, 2)
    assert m3 != m1


def test_docx_drop_shape(tmp_path):
    man = gen_docx.write_drop(str(tmp_path / "d"), 1, 0, 3)
    assert man["docs"] == 3
    assert man["topics"] == 3 * gen_docx.TOPICS_PER_DOC
    assert len(set(man["titles"])) == man["topics"]  # unique across the drop
    with zipfile.ZipFile(tmp_path / "d" / "syllabus_00.docx") as zf:
        assert {"[Content_Types].xml", "_rels/.rels", "word/document.xml"} <= set(zf.namelist())
        xml = zf.read("word/document.xml").decode()
    assert xml.count("<w:tbl>") == gen_docx.TABLES_PER_DOC
    w = f"{{{gen_docx.W_NS}}}"
    body = ElementTree.fromstring(xml).find(f"{w}body")
    paragraphs = ["".join(t.text or "" for t in p.iter(f"{w}t")) for p in body.findall(f"{w}p")]
    assert len(paragraphs) >= 700
    assert sum(gen_docx.MARKER in p for p in paragraphs) == gen_docx.TOPICS_PER_DOC
    assert not paragraphs[0].startswith(gen_docx.MARKER)  # a preamble comes first
    assert any(p and not p.strip() for p in paragraphs)  # whitespace-only paragraphs


def test_jsonl_dump_is_deterministic(tmp_path):
    m1 = gen_jsonl.write_dump(str(tmp_path / "a.jsonl"), 7, 2, 3000)
    m2 = gen_jsonl.write_dump(str(tmp_path / "b.jsonl"), 7, 2, 3000)
    assert m1 == m2
    assert filecmp.cmp(tmp_path / "a.jsonl", tmp_path / "b.jsonl", shallow=False)


def test_jsonl_manifest_matches_lines(tmp_path):
    path = tmp_path / "d.jsonl"
    man = gen_jsonl.write_dump(str(path), 3, 0, 4000)
    parsed, broken = [], 0
    for line in path.read_text().splitlines():
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            broken += 1
    assert broken == man["quarantined"] > 0
    assert len(parsed) == man["ingested"]
    kept = {
        r["text"]
        for r in parsed
        if r["lang"] in gen_jsonl.KEEP_LANGS
        and len(r["text"].split()) >= gen_jsonl.MIN_TOKENS
    }
    assert len(kept) == man["deduped"]
    assert len({r["text"] for r in parsed}) < len(parsed)  # exact duplicates present


def test_tables_are_deterministic(tmp_path):
    gen_tables.write_tables(str(tmp_path / "a"), scale=0.001)
    gen_tables.write_tables(str(tmp_path / "b"), scale=0.001)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert len(os.listdir(tmp_path / "a")) == 10
