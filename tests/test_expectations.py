"""The DQ gate must count real violations, not just pass clean data
(the oracle query proves the all-zero case on orders)."""

from __future__ import annotations

from syllabus_sense_spark.operators.expectations import (
    expect_accepted_values,
    expect_in_range,
    expect_matches,
    expect_not_null,
    expect_unique,
    run_expectations,
)


def _dirty(spark):
    return spark.createDataFrame(
        [
            (1, "A", 10.0, "ok-1"),
            (1, "A", -5.0, "ok-2"),      # dup id, negative value
            (2, None, 20.0, "bad"),       # null status, pattern miss
            (3, "Z", 5000.0, "ok-3"),     # unknown status, too large
        ],
        "id long, status string, value double, tag string",
    )


def test_expectations_count_violations(spark):
    out = {
        r["rule"]: (r["n_violations"], r["passed"])
        for r in run_expectations(
            _dirty(spark),
            [
                expect_not_null("status"),
                expect_unique("id"),
                expect_in_range("value", 0, 1000),
                expect_accepted_values("status", ("A", "B")),
                expect_matches("tag", "^ok-"),
            ],
        ).collect()
    }
    assert out["not_null:status"] == (1, False)
    assert out["unique:id"] == (1, False)           # 4 rows, 3 distinct ids
    assert out["in_range:value"] == (2, False)      # -5 and 5000
    assert out["accepted_values:status"] == (2, False)  # None and 'Z'
    assert out["matches:tag"] == (1, False)         # 'bad'


def test_expectations_single_pass_plan(spark):
    """The gate is one aggregate job: exactly one scan of the input
    in the physical plan regardless of rule count."""
    df = _dirty(spark)
    gate = run_expectations(
        df,
        [
            expect_not_null("status"),
            expect_in_range("value", 0, 1000),
            expect_matches("tag", "^ok-"),
        ],
    )
    plan = gate._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") + plan.count("Scan ExistingRDD") >= 1
    # no join/union fan-out: a single aggregate feeds the stack
    assert "Union" not in plan
    assert "Join" not in plan

