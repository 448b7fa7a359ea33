"""Seeded DOCX drops for the ``docx_questions`` workload.

Each document is real OOXML written with the standard library's
``zipfile``: a content-types part, the package relationship, and
``word/document.xml``. Its shape follows the reference fixture
(FIXTURES.md §1.1): about 800 paragraphs, 18 tables of 2 rows x 6
cells, 13 topic markers cycling through separator variants, a preamble
before the first marker, and whitespace-only paragraphs. Paragraphs
are split over one to three runs, the way editors save them.

Topic titles are unique per document and carry the document's key, so
no two documents in a drop share a title (see README.md, "Open engine
bug").

``write_drop`` returns the drop's manifest: the document count and the
topic titles the engine must find.
"""

from __future__ import annotations

import os
import random
import zipfile

W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
MARKER = "Core element"
TOPICS_PER_DOC = 13
TABLES_PER_DOC = 18
PARAGRAPHS_PER_DOC = 800
# "<marker><sep><title>": the engine strips " -:" around the title.
MARKER_SEPARATORS = (" ", " - ", ": ", " : ", " -- ", " -: ", "  ")
WHITESPACE_EVERY = 29

_WORDS = (
    "acid base salt ion atom bond mole mass gas liquid solid energy heat "
    "reaction rate metal oxide water carbon oxygen hydrogen electron "
    "proton charge solution mixture element compound periodic table "
    "group state change pressure volume density indicator neutral"
).split()
_TITLE_WORDS = (
    "Acids Bases Salts Atoms Bonds Moles Gases Energy Rates Metals Oxides "
    "Water Carbon Electrons Solutions Mixtures Elements Compounds Periodicity "
    "Pressure Density Indicators"
).split()

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" '
    'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)
_SECT = '<w:sectPr><w:pgSz w:w="11906" w:h="16838"/></w:sectPr>'


def _para(rng: random.Random, text: str) -> str:
    """A paragraph whose text is split over one to three runs."""
    words = text.split(" ")
    cuts = sorted(rng.sample(range(1, len(words)), min(len(words) - 1, rng.randint(0, 2))))
    pieces = [" ".join(words[a:b]) for a, b in zip([0, *cuts], [*cuts, len(words)])]
    runs = "".join(
        f'<w:r><w:t xml:space="preserve">{p}{" " if i < len(pieces) - 1 else ""}</w:t></w:r>'
        for i, p in enumerate(pieces)
    )
    return f"<w:p>{runs}</w:p>"


def _sentence(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(6, 18))).capitalize() + "."


def _table(rng: random.Random) -> str:
    rows = "".join(
        "<w:tr>"
        + "".join(
            f"<w:tc><w:p><w:r><w:t>{rng.choice(_WORDS)} {rng.randint(1, 99)}</w:t></w:r></w:p></w:tc>"
            for _ in range(6)
        )
        + "</w:tr>"
        for _ in range(2)
    )
    return f"<w:tbl>{rows}</w:tbl>"


def document_xml(rng: random.Random, doc_key: str) -> tuple[str, list[str]]:
    """(word/document.xml, topic titles in document order)."""
    titles = [
        f"{rng.choice(_TITLE_WORDS)} {rng.choice(_TITLE_WORDS)} {doc_key} t{k:02d}"
        for k in range(TOPICS_PER_DOC)
    ]
    preamble = rng.randint(3, 6)
    per_topic = (PARAGRAPHS_PER_DOC - preamble - TOPICS_PER_DOC) // TOPICS_PER_DOC
    table_slots = set(rng.sample(range(TOPICS_PER_DOC * per_topic), TABLES_PER_DOC))
    body = [_para(rng, _sentence(rng)) for _ in range(preamble)]
    slot = 0
    for k, title in enumerate(titles):
        sep = MARKER_SEPARATORS[k % len(MARKER_SEPARATORS)]
        body.append(_para(rng, f"{MARKER}{sep}{title}"))
        for _ in range(per_topic):
            if slot in table_slots:
                body.append(_table(rng))
            elif slot % WHITESPACE_EVERY == WHITESPACE_EVERY - 1:
                body.append(rng.choice(('<w:p/>', '<w:p><w:r><w:t xml:space="preserve">   </w:t></w:r></w:p>')))
            else:
                body.append(_para(rng, _sentence(rng)))
            slot += 1
    xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{W_NS}"><w:body>{"".join(body)}{_SECT}</w:body></w:document>'
    )
    return xml, titles


def write_docx(path: str, xml: str) -> None:
    # Fixed entry timestamps keep the container bytes a pure function
    # of the seed.
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in (
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _RELS),
            ("word/document.xml", xml),
        ):
            zf.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), data)


def write_drop(out_dir: str, seed: int, drop: int, n_docs: int) -> dict:
    """Write ``n_docs`` documents into ``out_dir``; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"docx:{seed}:{drop}")
    titles: list[str] = []
    for d in range(n_docs):
        xml, doc_titles = document_xml(rng, f"d{drop:03d}x{d:02d}")
        write_docx(os.path.join(out_dir, f"syllabus_{d:02d}.docx"), xml)
        titles.extend(doc_titles)
    return {"docs": n_docs, "topics": len(titles), "titles": sorted(titles)}
