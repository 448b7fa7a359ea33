"""DOCX as a first-class Spark data source (Python DataSource API).

``spark.read.format("docx").load(dir)`` — the connector form of the
binaryFile+mapInPandas scan in ``docx.py``, using Spark 4's Python
DataSource API: the driver lists documents and emits one
InputPartition per file; each task unzips and walks ONE document's
OOXML (same ``parse_docx_bytes`` core), so a 100 TB corpus
parallelizes file-per-task with no coordination and no whole-corpus
memory anywhere.

Reference parity: this is the reference's sole connector
(document_parser/syllabus_parser.py:156-172) exposed the way a Spark
user expects a source — a format string, not a helper function.
Corrupt containers degrade to zero rows for that file (task-level
failure→empty), identical to the mapInPandas variant.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    InputPartition,
)

from ..errors import InvalidDocumentSourceError
from .docx import DOCX_ELEMENT_SCHEMA, parse_docx_bytes


class DocxFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class DocxDataSourceReader(DataSourceReader):
    """One partition per document; supports Spark 4.1 filter pushdown
    (gated on ``spark.sql.python.filterPushdown.enabled``):

    - ``path = <literal>`` prunes at PARTITION PLANNING — non-matching
      files are never listed into partitions, the source-level
      equivalent of partition pruning (at 100 TB: skip the files, not
      the rows);
    - ``element_type = <literal>`` is applied inside ``read`` — rows
      are dropped at parse time before ever crossing into the JVM.

    Everything else is returned unsupported, so Spark still applies it
    post-scan — pushdown must be transparent, never a semantic change.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise InvalidDocumentSourceError("<missing>", "No path supplied")
        self.path_eq: str | None = None
        self.type_eq: str | None = None

    def pushFilters(self, filters):
        unsupported = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("path",):
                self.path_eq = f.value
            elif isinstance(f, EqualTo) and f.attribute == ("element_type",):
                self.type_eq = f.value
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        # Driver-side listing only (object stores: the listing API);
        # one partition per document file.
        pattern = (
            os.path.join(self.path, "**", "*.docx")
            if os.path.isdir(self.path)
            else self.path
        )
        files = sorted(glob.glob(pattern, recursive=True))
        if self.path_eq is not None:
            # Pushed path equality: prune whole files from the plan.
            files = [p for p in files if p == self.path_eq]
            return [DocxFilePartition(p) for p in files]
        if not files:
            raise InvalidDocumentSourceError(self.path, "No .docx documents under path")
        return [DocxFilePartition(p) for p in files]

    def read(self, partition: DocxFilePartition) -> Iterator[tuple]:
        # A corrupt container parses to no rows (``parse_docx_bytes``);
        # the scan of every other document is unaffected.
        with open(partition.path, "rb") as f:
            content = f.read()
        for idx, etype, text, rows in parse_docx_bytes(content):
            if self.type_eq is not None and etype != self.type_eq:
                continue
            yield (partition.path, idx, etype, text, rows)


class DocxDataSource(DataSource):
    """Register once per session:
    ``spark.dataSource.register(DocxDataSource)`` then
    ``spark.read.format("docx").load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "docx"

    def schema(self):
        return DOCX_ELEMENT_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return DocxDataSourceReader(self.options)


def register_docx_source(spark) -> None:
    """Idempotent registration of the ``docx`` format."""
    spark.dataSource.register(DocxDataSource)
