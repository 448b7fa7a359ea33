"""CLI parity with the reference driver script (main.py:14-22):
document in, topic-partitioned questions out."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from ooxml import make_docx, paragraph

from syllabus_sense_spark.__main__ import main

REFERENCE_DOCX = "/root/reference/chemistry_form_1_2.docx"

# A generated 2-document drop: the CLI runs without the reference file.
DROP_TOPICS = {"a.docx": ["Atoms", "Bonds"], "b.docx": ["Acids", "Salts", "Metals"]}


def test_cli_end_to_end_real_document(spark, tmp_path):
    out = str(tmp_path / "questions")
    assert main([REFERENCE_DOCX, out]) == 0
    q = spark.read.parquet(out)
    assert q.count() > 0
    assert "topic" in q.columns  # partition column round-trips
    bad = q.filter(
        (F.size("choices") != 4)
        | (F.size(F.filter("choices", lambda c: c["is_correct"])) != 1)
    ).count()
    assert bad == 0


def test_cli_topics_limit(spark, tmp_path):
    full = str(tmp_path / "full")
    limited = str(tmp_path / "limited")
    assert main([REFERENCE_DOCX, full]) == 0
    assert main([REFERENCE_DOCX, limited, "--topics", "1"]) == 0
    q_full = spark.read.parquet(full)
    q_lim = spark.read.parquet(limited)
    assert q_lim.select("topic").distinct().count() == 1
    assert q_full.select("topic").distinct().count() > 1
    assert q_lim.count() < q_full.count()


@pytest.fixture(scope="module")
def docx_drop(tmp_path_factory) -> str:
    drop = tmp_path_factory.mktemp("drop")
    for name, titles in DROP_TOPICS.items():
        body = "".join(
            paragraph(f"Core element - {t}") + paragraph(f"{t} are studied here.")
            for t in titles
        )
        make_docx(str(drop / name), body)
    return str(drop)


@pytest.fixture(params=["reference", "generated"])
def cli_input(request) -> tuple[str, set[str] | None]:
    """(input path, expected topics); the reference document's topics
    are not pinned, only that there are several."""
    if request.param == "reference":
        if not os.path.exists(REFERENCE_DOCX):
            pytest.skip(f"{REFERENCE_DOCX} not present")
        return REFERENCE_DOCX, None
    markers = {t for titles in DROP_TOPICS.values() for t in titles}
    return request.getfixturevalue("docx_drop"), markers


def _run_in_group(spark, group: str, argv: list[str]) -> dict[int, int]:
    """Run the CLI under a job group; returns {stage id: tasks run}."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        assert main(argv) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = {
        s
        for j in st.getJobIdsForGroup(group)
        if (job := st.getJobInfo(j)) is not None
        for s in job.stageIds
    }
    return {
        s: info.numCompletedTasks
        for s in stages
        if (info := st.getStageInfo(s)) is not None
    }


def test_cli_layout_and_width(spark, cli_input, tmp_path):
    """Full run and --topics 1 under job groups: one parquet file per
    topic partition (the generation exchange clusters by topic), no
    stage wider than the cluster (the chain's Python stages are sized
    by the data, not by spark.sql.shuffle.partitions), and the
    reference tests' choice contract and topic limit."""
    src, markers = cli_input
    full = str(tmp_path / "full")
    limited = str(tmp_path / "limited")
    tasks = _run_in_group(spark, "cli-width-full", [src, full])
    tasks.update(_run_in_group(spark, "cli-width-limited", [src, limited, "--topics", "1"]))
    width = spark.sparkContext.defaultParallelism
    assert tasks and max(tasks.values()) <= width, (
        f"stages wider than defaultParallelism={width}: "
        f"{ {s: n for s, n in tasks.items() if n > width} }"
    )

    q = spark.read.parquet(full)
    bad = q.filter(
        (F.size("choices") != 4)
        | (F.size(F.filter("choices", lambda c: c["is_correct"])) != 1)
    ).count()
    assert q.count() > 0 and bad == 0
    topics = {r.topic for r in q.select("topic").distinct().collect()}
    if markers is None:
        assert len(topics) > 1
    else:
        assert topics == markers

    q_lim = spark.read.parquet(limited)
    assert q_lim.select("topic").distinct().count() == 1
    assert q_lim.count() < q.count()

    for out in (full, limited):
        for part in (d for d in os.listdir(out) if d.startswith("topic=")):
            files = [f for f in os.listdir(os.path.join(out, part)) if f.endswith(".parquet")]
            assert len(files) == 1, f"{out}/{part} holds {len(files)} files"


def test_cli_reports_rows_written_by_this_run(spark, docx_drop, tmp_path, capsys):
    """The second append into one directory reports its own rows, not
    the directory's cumulative total."""
    out = str(tmp_path / "questions")
    reported = []
    for _ in range(2):
        assert main([docx_drop, out]) == 0
        line = capsys.readouterr().out.strip().splitlines()[-1]
        reported.append(int(line.rsplit("(", 1)[1].split()[0]))
    assert reported[0] > 0
    assert reported[1] == reported[0]
    assert spark.read.parquet(out).count() == 2 * reported[0]


def test_cli_curate_subcommand(spark, sf_dir, tmp_path, capsys):
    """curate: JSONL dump → quarantine/filter/dedup/pack/shards, with
    a one-line JSON funnel report."""
    import json as _json

    from syllabus_sense_spark.tables import load

    docs = [
        {"doc_id": r.doc_id, "source": r.source, "lang": r.lang, "text": r.text}
        for r in load(spark, sf_dir, "documents").limit(100).collect()
    ]
    dump = tmp_path / "corpus.jsonl"
    with open(dump, "w") as f:
        for d in docs:
            f.write(_json.dumps(d) + "\n")
        for d in docs[::4]:  # duplicates
            f.write(_json.dumps(d) + "\n")
        f.write("BROKEN {line\n")
    out = str(tmp_path / "shards")
    assert main(["curate", str(dump), out, "--shards", "4"]) == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["quarantined"] == 1
    assert report["ingested"] == len(docs) + len(docs[::4])
    assert report["deduped"] <= len(docs)
    back = spark.read.parquet(out)
    assert back.count() == report["deduped"]
    assert {r["shard"] for r in back.select("shard").distinct().collect()} <= set(range(4))
    assert {"pack_id", "pack_offset"} <= set(back.columns)


def _curate(dump: str, out: str, capsys, *extra: str) -> dict:
    """Run ``curate`` and return its one-line JSON funnel report."""
    assert main(["curate", dump, out, "--shards", "4", *extra]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _write_dump(path, records: list[dict], raw_lines: tuple[str, ...] = ()) -> str:
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
        for line in raw_lines:
            f.write(line + "\n")
    return str(path)


def _documents(spark, sf_dir, n: int) -> list[dict]:
    from syllabus_sense_spark.tables import load

    return [
        {"doc_id": r.doc_id, "source": r.source, "lang": r.lang, "text": r.text}
        for r in load(spark, sf_dir, "documents").orderBy("doc_id").limit(n).collect()
    ]


# Lines a dump can hold besides well-formed documents.
EDGE_LINES = (
    '{"doc_id": 900001, "source": "web", "lang": "en", "text": "cut off',
    '{"doc_id": "abc", "source": "web", "lang": "en", "text": "a b c d e f"}',
    '{"doc_id": 900002, "source": "web", "lang": "en", "text": 12345}',
    "[1, 2]",
    "42",
    "",
    "{}",
    '{"doc_id": 900003, "source": "web", "lang": "en", "text": "g h i j k l"} tail',
)


def test_curate_funnel_matches_split_quarantine(spark, sf_dir, tmp_path, capsys):
    """The observed funnel equals the cached two-branch split on a dump
    of edge-case lines, and ``deduped`` is the row count written."""
    from syllabus_sense_spark.sources.jsonl import read_documents_jsonl, split_quarantine

    docs = _documents(spark, sf_dir, 60)
    dump = _write_dump(tmp_path / "edges.jsonl", docs + docs[::5], EDGE_LINES)
    out = str(tmp_path / "shards")
    report = _curate(dump, out, capsys)

    clean, quarantined = split_quarantine(read_documents_jsonl(spark, dump))
    assert report["quarantined"] == quarantined.count() > 0
    assert report["ingested"] == clean.count() > len(docs)
    assert report["deduped"] == spark.read.parquet(out).count() > 0


def test_curate_survivor_is_min_doc_id_line_at_any_shuffle_width(
    spark, sf_dir, tmp_path, capsys
):
    """A text delivered under two sources survives with every field of
    its min-doc_id line, and the output rows are identical at 32 and 5
    shuffle partitions."""
    docs = _documents(spark, sf_dir, 80)
    # Re-deliveries under a higher id and another source and language,
    # written first so they reach the dedup aggregate before the originals.
    redelivered = [
        {**d, "doc_id": d["doc_id"] + 10_000_000, "source": "mirror", "lang": "fr"}
        for d in docs[::3]
    ]
    # A re-delivery without a doc_id never wins over one with a doc_id.
    orphan = {"source": "orphan", "lang": docs[0]["lang"], "text": docs[0]["text"]}
    dump = _write_dump(tmp_path / "dups.jsonl", [orphan] + redelivered + docs)
    by_id = {d["doc_id"]: d for d in redelivered + docs}
    langs = ",".join({d["lang"] for d in by_id.values()})

    rows = {}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for width in ("32", "5"):
            spark.conf.set("spark.sql.shuffle.partitions", width)
            out = str(tmp_path / f"shards_{width}")
            _curate(dump, out, capsys, "--min-tokens", "1", "--langs", langs)
            rows[width] = sorted(
                spark.read.parquet(out)
                .select("doc_id", "source", "lang", "n_tok", "pack_id", "pack_offset", "shard")
                .collect()
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows["32"] == rows["5"]
    assert all(
        (r.source, r.lang) == (by_id[r.doc_id]["source"], by_id[r.doc_id]["lang"])
        for r in rows["32"]
    )
    assert len(rows["32"]) == len(docs)
    assert not any(r.doc_id >= 10_000_000 for r in rows["32"])


def _one_topic_drop(path, title: str, note: str) -> str:
    """A drop of one generated document holding one topic."""
    path.mkdir()
    body = paragraph(f"Core element - {title}") + paragraph(note)
    make_docx(str(path / "doc.docx"), body)
    return str(path)


def test_cli_same_title_documents_write_the_sum_of_their_runs(spark, tmp_path):
    """Two one-topic documents sharing a title: one drop holding both
    writes as many rows as the two single-document runs together. The
    A12 subtopic context is looked up by subtopic name, which repeats
    across such documents, so a name-keyed join pairs each plan row
    with both documents' subtopics. Rows only: question ids still
    collide until they are derived from the document as well."""
    singles = [
        _one_topic_drop(tmp_path / f"single{i}", "Atoms", f"Atoms, take {i}.")
        for i in range(2)
    ]
    both = tmp_path / "both"
    both.mkdir()
    for i, single in enumerate(singles):
        os.link(os.path.join(single, "doc.docx"), both / f"doc{i}.docx")

    def rows(src: str) -> int:
        out = str(tmp_path / f"{os.path.basename(src)}-questions")
        assert main([src, out]) == 0
        return spark.read.parquet(out).count()

    per_document = [rows(s) for s in singles]
    assert per_document[0] > 0
    assert rows(str(both)) == sum(per_document)


def _curate_calls(spark, sf_dir, tmp_path, capsys):
    docs = _documents(spark, sf_dir, 40)

    def call(i: int) -> None:
        shifted = [{**d, "doc_id": d["doc_id"] + 1000 * i} for d in docs]
        dump = _write_dump(tmp_path / f"dump{i}.jsonl", shifted, ("BROKEN {line",))
        report = _curate(dump, str(tmp_path / f"shards{i}"), capsys)
        assert report["quarantined"] == 1

    return call


def _docx_calls(spark, sf_dir, tmp_path, capsys):
    def call(i: int) -> None:
        drop = _one_topic_drop(tmp_path / f"drop{i}", f"Topic {i}", f"Topic {i} notes.")
        assert main([drop, str(tmp_path / f"questions{i}")]) == 0

    return call


@pytest.mark.parametrize(
    "calls", [_curate_calls, _docx_calls], ids=["curate", "docx"]
)
def test_cli_call_is_one_execution_and_caches_nothing(
    spark, sf_dir, tmp_path, capsys, calls
):
    """Each CLI call — ``curate`` or the DOCX chain — adds exactly one
    SQL execution (its sink write), and three calls on distinct inputs
    leave the persisted-RDD count where it was."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()

    def execution_ids() -> set[int]:
        bus.waitUntilEmpty()
        runs = store.executionsList()
        return {runs.apply(i).executionId() for i in range(runs.size())}

    call = calls(spark, sf_dir, tmp_path, capsys)
    persisted = sc._jsc.getPersistentRDDs().size()
    for i in range(3):
        before = execution_ids()
        call(i)
        assert len(execution_ids() - before) == 1
    assert sc._jsc.getPersistentRDDs().size() == persisted


def _hand_rolled_tokenizers() -> list[str]:
    """``module.function`` of every ``F.filter(F.split(...), lambda ...)``
    in the package, by AST: the split-then-drop-empties copies that
    ``functions.text.tokens`` replaces."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "syllabus_sense_spark"

    def is_call(node, name):
        f = getattr(node, "func", None)
        return isinstance(node, ast.Call) and getattr(f, "attr", None) == name

    found = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    is_call(node, "filter")
                    and len(node.args) == 2
                    and is_call(node.args[0], "split")
                    and isinstance(node.args[1], ast.Lambda)
                ):
                    found.append(f"{path.stem}.{fn.name}")
    return found


def test_space_token_count_equals_lambda_form(spark):
    """``tokens`` — the one tokenizer — equals the filter-lambda form for
    each separator in use, and so ``space_token_count`` (the CLI's
    expression), ``token_count`` and ``quality_score`` equal their
    lambda-form originals, on empty, all-space, irregularly spaced,
    sentence-split and NULL text. The lambda form survives in the
    package only where a query exists to show ``filter`` with a lambda."""
    from syllabus_sense_spark.functions.text import (
        quality_score,
        space_token_count,
        token_count,
        tokens,
    )

    assert _hand_rolled_tokenizers() == ["windows2.array_higher_order_fns"]

    texts = [
        "", "   ", " lead", "trail  ", "a  b   c", " a b ", "one", "a\tb c",
        "a. b.  c", ". lead", "\t x \n", None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    def lam(sep):
        return F.filter(F.split("text", sep), lambda x: F.length(x) > 0)

    for sep in (" ", r"\s+", r"\. "):
        got = df.select(tokens("text", sep).alias("new"), lam(sep).alias("old")).collect()
        assert [r.new for r in got] == [r.old for r in got], sep

    # quality_score as it was written on the lambda form
    toks = lam(r"\s+")
    n = F.size(toks).cast("double")
    avg_tok = F.length(F.regexp_replace("text", r"\s+", "")).cast("double") / F.greatest(
        n, F.lit(1.0)
    )
    old_quality = (
        F.size(F.array_distinct(toks)).cast("double") / F.greatest(n, F.lit(1.0)) * 0.4
        + F.least(n / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.when((avg_tok >= 2) & (avg_tok <= 12), F.lit(1.0)).otherwise(F.lit(0.5)) * 0.2
    )
    got = df.select(
        "text",
        space_token_count(F.col("text")).alias("space"),
        F.size(lam(" ")).alias("space_old"),
        token_count(F.col("text")).alias("ws"),
        F.size(lam(r"\s+")).alias("ws_old"),
        quality_score(F.col("text")).alias("q"),
        old_quality.alias("q_old"),
    ).collect()
    for r in got:
        assert (r.space, r.ws, r.q) == (r.space_old, r.ws_old, r.q_old), r.text
    assert {r.text: r.space for r in got}["a  b   c"] == 3
