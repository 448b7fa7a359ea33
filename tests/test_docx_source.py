"""DOCX source: build a real OOXML container with stdlib zipfile and
run it through the distributed scan → sessionize chain."""

from __future__ import annotations

from syllabus_sense_spark.operators.sessionize import group_topics, sessionize_elements
from syllabus_sense_spark.sources.docx import docx_topics, read_docx_elements

from ooxml import make_docx, paragraph, table


BODY = (
    paragraph("Preamble to be discarded")
    + paragraph("Core element - Atoms")
    + paragraph("Atoms are small.")
    + paragraph("   ")  # whitespace-only: dropped at scan (A3)
    + table([["H", "He"], ["Li", "Be"]])
    + paragraph("Core element: Bonds")
    + paragraph("Bonds hold atoms.")
)


def test_docx_scan_and_sessionize(spark, tmp_path):
    doc_path = str(tmp_path / "syllabus.docx")
    make_docx(doc_path, BODY)

    elements = read_docx_elements(spark, str(tmp_path)).collect()
    # Whitespace-only paragraph dropped; 5 paragraphs + 1 table remain.
    assert [e.element_type for e in elements] == [
        "paragraph", "paragraph", "paragraph", "table", "paragraph", "paragraph",
    ]
    assert elements[3].rows == [["H", "He"], ["Li", "Be"]]

    topics = (
        group_topics(sessionize_elements(docx_topics(spark, str(tmp_path))))
        .orderBy("topic_id")
        .collect()
    )
    assert [t.title for t in topics] == ["Atoms", "Bonds"]
    # Preamble discarded; topic 1 holds its paragraph + table in order.
    assert [e.type for e in topics[0].elements] == ["paragraph", "table"]
    assert topics[1].elements[0].text == "Bonds hold atoms."


def test_docx_python_datasource_matches_mapinpandas(spark, tmp_path):
    """The registered `docx` format (Python DataSource API) returns the
    same elements as the binaryFile+mapInPandas scan, one partition per
    document; corrupt containers contribute zero rows."""
    from syllabus_sense_spark.queries.relational12 import scoped_confs
    from syllabus_sense_spark.sources.docx_datasource import register_docx_source

    make_docx(str(tmp_path / "a.docx"), BODY)
    make_docx(str(tmp_path / "b.docx"), BODY)
    (tmp_path / "broken.docx").write_bytes(b"not a zip")

    register_docx_source(spark)
    # The reader implements pushFilters, which Spark rejects outright
    # unless the pushdown conf is on — scope it like the queries do.
    with scoped_confs(spark, {"spark.sql.python.filterPushdown.enabled": "true"}):
        via_ds = spark.read.format("docx").load(str(tmp_path))
        assert via_ds.rdd.getNumPartitions() == 3  # one per file

        ds_rows = {
            (r.path.split("/")[-1], r.element_idx, r.element_type, r.text)
            for r in via_ds.collect()
        }
    mp_rows = {
        (r.path.split("/")[-1], r.element_idx, r.element_type, r.text)
        for r in read_docx_elements(spark, str(tmp_path)).collect()
    }
    assert ds_rows == mp_rows
    assert not any(name == "broken.docx" for name, *_ in ds_rows)
