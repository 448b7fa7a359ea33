"""Deterministic stand-ins for the reference's three LLM nodes.

The reference calls gpt-4o-mini behind Pydantic-validated prompts
(syllabus_ai_graph.py:75,131,260). Correctness must be hermetic
(SURVEY.md §5), so the engine keeps the exact UDF seam — Arrow-batched
``mapInPandas`` / ``applyInPandas`` with the declared output schemas —
but the model call is a seeded hash generator honoring the same output
contracts:

- extraction (A8, syllabus_ai_graph.py:45-90): topic → >=1 subtopics;
  parse failure → empty (here: topics with empty titles yield none);
- planning (A9, :92-144): >=9 planned questions per subtopic (prompt
  contract at :112);
- generation (A13, :184-271): exactly 4 choices, exactly 1 correct,
  question_id and difficulty preserved from the plan (:220-231).

Swapping a real model back in means replacing ``_h``-derived fields
with client calls — the Spark plumbing (schemas, batching,
partitioning) is identical.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..schemas import PLANNED_QUESTION_SCHEMA, QUESTION_SCHEMA, SUBTOPIC_SCHEMA
from ..session import drop_zip_importers

DIFFICULTIES = ("Easy", "Medium", "Hard")


def _h(s: str, mod: int) -> int:
    """Deterministic small hash (never Python's randomized hash())."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big") % mod


def extract_subtopics(topics: DataFrame, subject: str = "chemistry") -> DataFrame:
    """A8: topic rows → subtopic rows via Arrow-batched mapInPandas.

    Input: TOPIC_SCHEMA-shaped rows (doc_id, topic_id, title, elements).
    1→N expansion happens inside the batch iterator, so one topic never
    holds more than its own subtopics in memory.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            # zip over column lists, not iterrows: row materialization
            # cost dominates the stand-in generation otherwise.
            for title, elements in zip(pdf["title"].tolist(), pdf["elements"].tolist()):
                title = title or ""
                if not title.strip():
                    continue  # extraction failure → empty (A8 :88-90)
                n_sub = 2 + _h(f"nsub:{title}", 3)
                n_elem = len(elements) if elements is not None else 0
                for i in range(n_sub):
                    name = f"{title} — part {i + 1}"
                    out.append(
                        {
                            "subtopic_name": name,
                            "topic_title": title,
                            "academic_class": f"Form {1 + _h(name, 2)}",
                            "subject": subject,
                            "learning_objectives": [
                                f"objective {j + 1} of {name}" for j in range(2 + _h(name, 2))
                            ],
                            "key_concepts": [f"concept {j + 1}" for j in range(1 + n_elem % 3)],
                            "assessment_criteria": [f"criterion {j + 1}" for j in range(2)],
                            "suggested_activities": [f"activity {j + 1}" for j in range(1 + _h(name, 3))],
                        }
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in SUBTOPIC_SCHEMA.fields]
            )

    return topics.mapInPandas(drop_zip_importers(gen), SUBTOPIC_SCHEMA)


def plan_questions(
    subtopics: DataFrame, min_per_subtopic: int = 9, carry: Sequence[str] = ()
) -> DataFrame:
    """A9: plan generation — one plan per topic, >=9 planned questions
    per subtopic (prompt contract syllabus_ai_graph.py:112).

    Output: ``PLANNED_QUESTION_SCHEMA``, then the ``carry`` subtopic
    columns (types kept), copied onto every plan row of the subtopic.

    Implementation note: the reference plans per topic, but each
    planned question is a pure function of its own subtopic row — so
    this is ``mapInPandas`` over Arrow batches rather than
    ``applyInPandas`` grouped by topic: the output SET is identical,
    and dropping the group shuffle removes both an exchange and the
    per-tiny-group Arrow conversion overhead (topics average a handful
    of subtopics; partitions average thousands of rows). The same
    optimization is documented on ``generate_questions``.
    """

    schema = T.StructType(
        PLANNED_QUESTION_SCHEMA.fields + [subtopics.schema[c] for c in carry]
    )

    def gen(batches):
        md5 = hashlib.md5
        for pdf in batches:
            # Column-list building (no per-row dicts, no pandas row
            # inference): the md5 arithmetic is unchanged — same
            # digests, same values — but the output frame is built
            # column-at-a-time, which is the cheap path through
            # pandas + Arrow (guide §4.2; the row-dict version spent
            # more time assembling frames than hashing).
            c_qid: list[str] = []
            c_topic: list[str] = []
            c_sub: list[str] = []
            c_diff: list[str] = []
            c_concept: list[str] = []
            c_carry: dict[str, list] = {c: [] for c in carry}
            for name, topic_title, key_concepts, *context in zip(
                pdf["subtopic_name"].tolist(),
                pdf["topic_title"].tolist(),
                pdf["key_concepts"].tolist(),
                *(pdf[c].tolist() for c in carry),
            ):
                n_q = min_per_subtopic + _h(f"nq:{name}", 3)
                concepts = list(key_concepts) if key_concepts is not None else []
                if not concepts:
                    concepts = ["general"]
                n_c = len(concepts)
                prefix = f"{topic_title}|{name}|".encode()
                for i in range(n_q):
                    qid = md5(prefix + str(i).encode()).hexdigest()[:12]
                    c_qid.append(f"q_{qid}")
                    c_topic.append(topic_title)
                    c_sub.append(name)
                    c_diff.append(DIFFICULTIES[_h(qid, 3)])
                    c_concept.append(concepts[i % n_c])
                for col, value in zip(c_carry.values(), context):
                    col.extend([value] * n_q)
            yield pd.DataFrame(
                {
                    "question_id": c_qid,
                    "topic": c_topic,
                    "subtopic": c_sub,
                    "difficulty": c_diff,
                    "concept_area": c_concept,
                    "status": "planned",
                    **c_carry,
                },
                columns=schema.fieldNames(),
            )

    return subtopics.mapInPandas(drop_zip_importers(gen), schema)


def generate_questions(batches: DataFrame) -> DataFrame:
    """A13: grouped-map question generation per (topic, batch_id) —
    the reference's micro-batch of 5 (bounding each external call)
    becomes the Arrow batch. Output contract: exactly 4 choices,
    exactly 1 correct, non-empty explanation/hint, id + difficulty
    preserved (syllabus_ai_graph.py:220-231).

    Input: plan rows carrying their subtopic's academic_class
    (``plan_questions(carry=...)``), so A12 has no row to drop.

    Implementation note: this is ``mapInPandas`` with a per-(topic,
    batch_id) loop inside the worker rather than ``applyInPandas``
    grouped by batch: the semantics are identical (each batch is still
    one unit — one model call in the non-stand-in version), but one
    Arrow conversion per *partition* replaces one per *batch*, which
    at 5-row batches is the difference between 32 and n_questions/5
    nested-schema conversions. The grouped shuffle is unnecessary
    because generation is row-local given the carried context.
    """

    # Row-invariant nested values, shared across rows (the Arrow
    # serializer only READS them): two step lists keyed by the
    # _h(qid+"s", 2) coin, five metadata structs keyed by the
    # 1 + _h(qid, 5) minutes value, one explanation string per
    # correct-choice index. Byte-identical to the per-row literals.
    _STEPS = (["step 1", "step 2"], ["step 1", "step 2", "step 3"])
    _META = {
        m: {
            "created_by": "syllabus_sense_spark",
            "created_at": "2026-01-01T00:00:00Z",
            "updated_at": "2026-01-01T00:00:00Z",
            "time_estimate": {"minutes": str(m)},
        }
        for m in range(1, 6)
    }
    _EXPLAIN = tuple(f"Because choice {c + 1} is correct." for c in range(4))

    def _frame_for(pdf: pd.DataFrame) -> pd.DataFrame:
        # Column-list building (guide §4.2): generation is row-local
        # md5 arithmetic, and the old list-of-row-dicts path spent its
        # time constructing 13-key dicts and letting pandas re-infer
        # them, not hashing. One digest of qid serves both the
        # correct-choice (mod 4) and minutes (mod 5) draws.
        qids = pdf["question_id"].tolist()
        concepts = pdf["concept_area"].tolist()
        diffs = pdf["difficulty"].tolist()
        h_qid = [
            int.from_bytes(hashlib.md5(q.encode()).digest()[:4], "big")
            for q in qids
        ]
        correct = [h % 4 for h in h_qid]
        return pd.DataFrame(
            {
                "question_id": qids,
                "text": [
                    f"Question on {c} ({q})?" for c, q in zip(concepts, qids)
                ],
                "topic": pdf["topic"].tolist(),
                "sub_topic": pdf["subtopic"].tolist(),
                "academic_class": pdf["academic_class"].tolist(),
                "examination_level": "MSCE",
                "difficulty": diffs,
                "tags": [[c, d.lower()] for c, d in zip(concepts, diffs)],
                "choices": [
                    [
                        {"text": f"choice {j + 1} for {q}", "is_correct": j == k}
                        for j in range(4)
                    ]
                    for q, k in zip(qids, correct)
                ],
                "solution": [
                    {
                        "explanation": _EXPLAIN[k],
                        "steps": _STEPS[_h(q + "s", 2)],
                    }
                    for q, k in zip(qids, correct)
                ],
                "hint": [f"Consider {c}." for c in concepts],
                "metadata": [_META[1 + h % 5] for h in h_qid],
            },
            columns=[f.name for f in QUESTION_SCHEMA.fields],
        )

    def gen(chunks: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in chunks:
            # The reference's micro-batch boundary (one external call
            # per (topic, batch_id), syllabus_ai_graph.py:163-167) is
            # carried by the batch_id column upstream; the
            # deterministic stand-in is row-local, so the whole Arrow
            # chunk generates in one vectorized pass — swapping a real
            # model back in means re-inserting
            # ``pdf.groupby(["topic", "batch_id"])`` around the call
            # (output rows are identical either way; a per-5-row-group
            # pandas groupby+concat was the dominant cost of the old
            # stand-in, not the generation arithmetic).
            yield _frame_for(pdf)

    return batches.mapInPandas(drop_zip_importers(gen), QUESTION_SCHEMA)
