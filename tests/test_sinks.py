"""Sink round-trips: partitioned parquet append + JSON write/read-back
with declared schema (A14 parity without the rewrite loop)."""

from __future__ import annotations

from pyspark.sql import functions as F

from syllabus_sense_spark.pipeline.flagship import run_flagship
from syllabus_sense_spark.schemas import QUESTION_SCHEMA
from syllabus_sense_spark.sinks import (
    read_questions_json,
    read_table_csv,
    write_questions_json,
    write_table_csv,
)


def test_json_sink_roundtrip(spark, sf_dir, tmp_path):
    path = str(tmp_path / "qjson")
    questions = run_flagship(spark, sf_dir).limit(40).cache()
    n = questions.count()
    write_questions_json(questions, path)
    back = read_questions_json(spark, path)
    assert back.count() == n
    # Nested structures survive the JSON round-trip.
    row = back.filter(F.size("choices") == 4).first()
    assert row is not None
    assert sum(c.is_correct for c in row.choices) == 1
    assert row.solution.explanation
    questions.unpersist()


def test_csv_sink_roundtrip(spark, sf_dir, tmp_path):
    path = str(tmp_path / "qcsv")
    questions = run_flagship(spark, sf_dir).limit(40).cache()
    n = questions.count()
    write_table_csv(questions, path)
    back = read_table_csv(spark, path, QUESTION_SCHEMA)
    assert back.count() == n
    # Nested structures survive the JSON-in-CSV bridge.
    row = back.filter(F.size("choices") == 4).first()
    assert row is not None
    assert sum(c.is_correct for c in row.choices) == 1
    assert row.solution.explanation
    # Typed equality on a sample key set: every question_id present.
    ids_in = {r.question_id for r in questions.select("question_id").collect()}
    ids_out = {r.question_id for r in back.select("question_id").collect()}
    assert ids_in == ids_out
    questions.unpersist()


def test_range_clustered_layout(spark, sf_dir, tmp_path):
    """Files written by write_range_clustered cover disjoint key
    ranges (the file-pruning guarantee) and preserve every row."""
    from syllabus_sense_spark.sinks.layout import file_ranges, write_range_clustered
    from syllabus_sense_spark.tables import load

    o = load(spark, sf_dir, "orders")
    n = o.count()
    path = str(tmp_path / "orders_by_date")
    write_range_clustered(o, path, "o_orderdate", target_files=6)
    ranges = sorted(
        file_ranges(spark, path, "o_orderdate").collect(), key=lambda r: r["lo"]
    )
    assert sum(r["rows"] for r in ranges) == n
    assert 1 < len(ranges) <= 6
    for a, b in zip(ranges, ranges[1:]):
        assert a["hi"] <= b["lo"]  # disjoint (boundary ties allowed)
    # the read-back with a range predicate returns the same result as
    # the unclustered source (layout is transparent to semantics)
    cut = ranges[1]["lo"]
    clustered = spark.read.parquet(path).filter(F.col("o_orderdate") < cut).count()
    source = o.filter(F.col("o_orderdate") < cut).count()
    assert clustered == source


def test_zorder_clustered_layout(spark, sf_dir, tmp_path):
    """Z-order export: rows survive intact, and a 2-D box query needs
    only a strict subset of files (the multi-dimensional pruning win
    a single-column sort cannot give on the second dimension)."""
    from syllabus_sense_spark.sinks.layout import write_zorder_clustered
    from syllabus_sense_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    n = li.count()
    lo_x, hi_x, lo_y, hi_y = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    path = str(tmp_path / "li_z")
    write_zorder_clustered(
        li,
        path,
        "l_partkey",
        "l_suppkey",
        x_range=(lo_x, hi_x + 1),
        y_range=(lo_y, hi_y + 1),
        target_files=8,
    )
    back = spark.read.parquet(path)
    assert back.count() == n
    # Box query correctness: layout never changes semantics. Box = the
    # central ~quarter of each dimension.
    qx = (hi_x - lo_x) // 4
    qy = max((hi_y - lo_y) // 4, 1)
    box = (F.col("l_partkey").between(lo_x + qx, hi_x - qx)) & (
        F.col("l_suppkey").between(lo_y + qy, hi_y - qy)
    )
    assert back.filter(box).count() == li.filter(box).count()
    # Pruning evidence: the files containing box rows are a strict
    # subset of all files (per-file min/max of BOTH dims bound the box).
    files_all = {
        r["f"]
        for r in back.select(F.input_file_name().alias("f")).distinct().collect()
    }
    files_box = {
        r["f"]
        for r in back.filter(box)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert files_box and files_box < files_all
