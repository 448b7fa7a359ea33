"""Minimal OOXML builders for tests: a real .docx container written
with stdlib zipfile, holding only the parts the DOCX source reads."""

from __future__ import annotations

import zipfile

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"


def paragraph(text: str) -> str:
    return f'<w:p><w:r><w:t xml:space="preserve">{text}</w:t></w:r></w:p>'


def table(rows: list[list[str]]) -> str:
    trs = "".join(
        "<w:tr>"
        + "".join(f"<w:tc>{paragraph(c)}</w:tc>" for c in row)
        + "</w:tr>"
        for row in rows
    )
    return f"<w:tbl>{trs}</w:tbl>"


def make_docx(path: str, body_xml: str) -> None:
    document = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W}"><w:body>{body_xml}</w:body></w:document>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
        "</Types>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("word/document.xml", document)
