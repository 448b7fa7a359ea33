"""Failure-path semantics (SURVEY.md §5.4): every external boundary
degrades to empty/quarantine, never to a crash — mirroring the
reference's discipline (syllabus_ai_graph.py:88-90 parse failure →
empty; file_output_manager.py:51-54 corrupt sink → fresh start;
syllabus_parser drop-unknown)."""

from __future__ import annotations

import os
import zipfile

import pytest
from pyspark.sql import functions as F

from syllabus_sense_spark.sinks import read_questions_json
from syllabus_sense_spark.sources import docx
from syllabus_sense_spark.sources.docx import read_docx_elements
from syllabus_sense_spark.sources.docx_datasource import (
    DocxDataSourceReader,
    DocxFilePartition,
)


def _write_drop_with_corrupt_containers(d) -> None:
    """One good document plus the three corrupt shapes
    ``parse_docx_bytes`` skips: not a zip, a zip without
    ``word/document.xml``, and malformed document XML."""
    with zipfile.ZipFile(d / "good.docx", "w") as zf:
        zf.writestr(
            "word/document.xml",
            '<w:document xmlns:w="http://schemas.openxmlformats.org/'
            'wordprocessingml/2006/main"><w:body>'
            "<w:p><w:r><w:t>hello world</w:t></w:r></w:p>"
            "</w:body></w:document>",
        )
    (d / "broken.docx").write_bytes(b"this is not a zip container")
    with zipfile.ZipFile(d / "no_document.docx", "w") as zf:
        zf.writestr("word/styles.xml", "<styles/>")
    with zipfile.ZipFile(d / "bad_xml.docx", "w") as zf:
        zf.writestr("word/document.xml", "<w:document><w:body><w:p>")


def test_corrupt_docx_skipped_others_survive(spark, tmp_path):
    """Unparseable containers are dropped; valid documents in the
    same scan still parse (task-level fault isolation)."""
    _write_drop_with_corrupt_containers(tmp_path)

    out = read_docx_elements(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0].text == "hello world"
    assert out[0].path.endswith("good.docx")


def test_datasource_skips_corrupt_docx_and_propagates_other_errors(
    tmp_path, monkeypatch
):
    """In-process: the ``docx`` data source reads no rows from a corrupt
    container, but an error that is not a corrupt container (here a
    ``RuntimeError`` from the XML parser) propagates instead of being
    swallowed as an empty document."""
    _write_drop_with_corrupt_containers(tmp_path)
    reader = DocxDataSourceReader({"path": str(tmp_path)})
    rows = {
        os.path.basename(p.path): list(reader.read(p)) for p in reader.partitions()
    }
    assert [n for n, r in rows.items() if r] == ["good.docx"]
    assert set(rows) == {"good.docx", "broken.docx", "no_document.docx", "bad_xml.docx"}

    def boom(_xml):
        raise RuntimeError("parser fault")

    monkeypatch.setattr(docx.ET, "fromstring", boom)
    with pytest.raises(RuntimeError, match="parser fault"):
        list(reader.read(DocxFilePartition(str(tmp_path / "good.docx"))))


def test_corrupt_json_sink_rows_quarantine_as_nulls(spark, tmp_path):
    """Reading the sink back with a declared schema maps malformed
    lines to null rows (quarantinable) instead of schema drift or a
    crash — the Spark recast of corrupt-file → fresh start."""
    d = tmp_path / "topic=T1"
    d.mkdir(parents=True)
    (d / "part-000.json").write_text(
        '{"question_id": "q1", "text": "ok?", "sub_topic": "s", '
        '"academic_class": "Form 1", "examination_level": "MSCE", '
        '"difficulty": "Easy", "hint": "h"}\n'
        "NOT VALID JSON AT ALL\n"
    )
    df = read_questions_json(spark, str(tmp_path))
    rows = df.collect()
    ok = [r for r in rows if r.question_id is not None]
    bad = [r for r in rows if r.question_id is None]
    assert len(ok) == 1 and ok[0].question_id == "q1"
    assert len(bad) == 1  # quarantined, not crashed

    clean = df.filter(F.col("question_id").isNotNull())
    assert clean.count() == 1


def test_empty_input_pipeline_yields_empty_not_crash(spark):
    """Whole pipeline on an empty element stream → empty output with
    the declared schema (the reference's empty-document path)."""
    from syllabus_sense_spark.pipeline.flagship import flagship_from_elements

    empty = spark.createDataFrame(
        [],
        "sdoc_id long, element_idx long, element_type string, text string, "
        "rows array<array<string>>, is_topic_marker boolean",
    )
    out = flagship_from_elements(empty)
    assert out.count() == 0
    assert "question_id" in out.columns


def test_multimodal_feature_extract_shapes(spark, sf_dir):
    """Byte-histogram features: fixed dim 16, L1-normalized, and
    deterministic across runs (Arrow batch plumbing is real even
    though the codec is absent)."""
    from syllabus_sense_spark.queries.ext_multimodal import (
        FEATURE_SCHEMA, byte_histogram_features,
    )
    from syllabus_sense_spark.tables import load

    d = load(spark, sf_dir, "documents").limit(50)
    media = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    out = media.mapInPandas(byte_histogram_features, FEATURE_SCHEMA)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-9
    again = {r.doc_id: tuple(r.features) for r in out.collect()}
    assert again == {r.doc_id: tuple(r.features) for r in rows}


def test_events_footer_read_degrades_to_zero(sf_dir, tmp_path):
    """The events footer read sizes the replay batches and the state
    partitions: a missing file (``FileNotFoundError``) or one that is
    not Parquet (``ArrowInvalid``) reads as 0 rows, the unknown-size
    fallback."""
    from syllabus_sense_spark.streaming.events import event_rows

    assert event_rows(sf_dir) > 0
    assert event_rows(str(tmp_path)) == 0
    (tmp_path / "events.parquet").write_bytes(b"not parquet at all")
    assert event_rows(str(tmp_path)) == 0


def test_tune_skips_static_confs_only(spark, monkeypatch):
    """``tune`` skips a conf the session owner fixed (a static conf
    raises ``AnalysisException``) and still applies the ones after it."""
    from syllabus_sense_spark import session

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    conf = {"spark.sql.warehouse.dir": "/elsewhere", key: "7"}
    monkeypatch.setattr(session, "RUNTIME_CONF", conf)
    try:
        assert session.tune(spark) is spark
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, old)
