"""Training-data curation ops: deterministic splits + contamination."""

from __future__ import annotations

from syllabus_sense_spark.queries.ext_training import (
    contamination_ngram_overlap,
    split_train_holdout,
)


def test_split_is_deterministic_and_stratified(spark, sf_dir):
    a = {(r.doc_id, r.split) for r in split_train_holdout(spark, sf_dir).collect()}
    b = {(r.doc_id, r.split) for r in split_train_holdout(spark, sf_dir).collect()}
    assert a == b  # pure function of doc_id — no RNG state anywhere

    rows = split_train_holdout(spark, sf_dir).collect()
    frac_train = sum(r.split == "train" for r in rows) / len(rows)
    assert 0.6 < frac_train < 0.95  # ~0.8 modulo small-sample noise
    assert all(0 <= r.bucket < 100 for r in rows)


def test_contamination_excludes_benchmark_side(spark, sf_dir):
    rows = contamination_ngram_overlap(spark, sf_dir).collect()
    for r in rows:
        assert r.bench_id % 50 == 0
        assert r.doc_id % 50 != 0
        assert r.n_shared_shingles >= 2

