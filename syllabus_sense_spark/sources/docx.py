"""DOCX source — the reference's only connector (A1/A2), Spark-first.

Reference: ``NormalSyllabusParser.from_file``
(document_parser/syllabus_parser.py:156-172) wraps python-docx and
walks the document body element by element (:118-154), mapping CT_P →
Paragraph and CT_Tbl → Table and dropping everything else (:48-70).

Here the scan is distributed: ``spark.read.format("binaryFile")``
yields one row per document (path, content); an Arrow-batched
``mapInPandas`` unzips the OOXML container and walks
``word/document.xml`` in document order with the stdlib XML parser —
no python-docx dependency, no driver-side I/O. Output is the
ELEMENT_SCHEMA stream of §1.5, ready for the sessionizer.

Scale posture: one task per document (binaryFile splits by file);
a 100 TB corpus of documents parallelizes across executors with no
coordination, and the parse never materializes more than one
document's XML tree per task at a time.
"""

from __future__ import annotations

import io
import os
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import InvalidDocumentSourceError
from ..session import drop_zip_importers

W_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"

DOCX_ELEMENT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("element_idx", T.LongType(), False),
        T.StructField("element_type", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType())), True),
    ]
)


def _para_text(p) -> str:
    """Concatenate all w:t runs of a paragraph (python-docx's
    Paragraph.text equivalent)."""
    return "".join(t.text or "" for t in p.iter(f"{W_NS}t"))


def parse_docx_bytes(content: bytes) -> list[tuple[int, str, str | None, list | None]]:
    """Walk word/document.xml in document order → (idx, type, text, rows).

    Mirrors the reference's element dispatch (syllabus_parser.py:48-70):
    w:p → paragraph (skipped if stripped text is empty, :61), w:tbl →
    table of cell texts, anything else dropped (returns None there;
    here simply not emitted).

    A corrupt container — not a zip, no ``word/document.xml``, or
    malformed XML — yields ``[]``: the document is skipped and the
    scan goes on (the reference's failure→empty discipline, SURVEY.md
    §4 fault isolation; syllabus_ai_graph.py:88-90). Any other error
    is a fault of the engine and propagates.
    """
    try:
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            try:
                xml = zf.read("word/document.xml")
            except KeyError:
                return []
        root = ET.fromstring(xml)
    except (zipfile.BadZipFile, ET.ParseError):
        return []
    body = root.find(f"{W_NS}body")
    out = []
    idx = 0
    for el in body if body is not None else []:
        if el.tag == f"{W_NS}p":
            text = _para_text(el)
            if text.strip():
                out.append((idx, "paragraph", text, None))
                idx += 1
        elif el.tag == f"{W_NS}tbl":
            rows = [
                [_para_text(tc) for tc in tr.iter(f"{W_NS}tc")]
                for tr in el.iter(f"{W_NS}tr")
            ]
            out.append((idx, "table", None, rows))
            idx += 1
        # other body elements (sectPr, bookmarks, ...) are dropped
    return out


def read_docx_elements(spark: SparkSession, path: str) -> DataFrame:
    """Distributed DOCX scan: one row per document element, in
    document order, with the source path as document identity.

    Path-level misuse raises :class:`InvalidDocumentSourceError` at
    the driver (A20); a corrupt document yields no rows
    (``parse_docx_bytes``).
    """
    if "://" not in path and not os.path.exists(path):
        raise InvalidDocumentSourceError(path)
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.docx")
        .load(path)
        .select("path", "content")
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                for idx, etype, text, rows in parse_docx_bytes(row["content"]):
                    recs.append(
                        {
                            "path": row["path"],
                            "element_idx": idx,
                            "element_type": etype,
                            "text": text,
                            "rows": rows,
                        }
                    )
            yield pd.DataFrame(
                recs, columns=[f.name for f in DOCX_ELEMENT_SCHEMA.fields]
            )

    return binary.mapInPandas(drop_zip_importers(parse), DOCX_ELEMENT_SCHEMA)


def docx_topics(
    spark: SparkSession, path: str, marker: str = "Core element"
) -> DataFrame:
    """Full A1→A5 chain: scan → marker flag (A4) → sessionize-ready
    element stream keyed by document path."""
    elements = read_docx_elements(spark, path)
    return elements.select(
        F.col("path").alias("doc_id"),
        "element_idx",
        "element_type",
        "text",
        "rows",
        (
            (F.col("element_type") == "paragraph")
            & F.col("text").contains(marker)
        ).alias("is_topic_marker"),
    )
