"""Single-pass data-quality expectations (the deequ/dbt-test shape).

A pipeline that ingests 100 TB cannot afford one scan per constraint;
this operator compiles a rule list into ONE aggregate pass — every
row-level rule becomes a conditional counter, uniqueness becomes
``count(*) - count(distinct …)`` inside the same aggregate — and
returns the tidy (rule, n_violations, passed) table a quality gate
consumes. Violation examples (for debugging) are an optional second
pass over the already-filtered rows, never part of the gate.

Reference anchor: the reference validates LLM output with Pydantic
per row (data_types.py); these expectations are the dataset-level
counterpart, declared once and evaluated distributed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """One named rule compiled into an aggregate counter column."""

    name: str
    # Counter expression: number of violating rows (or key overcount
    # for uniqueness) — evaluated inside the single groupless agg.
    counter: Column = field(compare=False)


def expect_not_null(col: str) -> Expectation:
    return Expectation(
        f"not_null:{col}",
        F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).cast("bigint"),
    )


def expect_in_range(col: str, lo, hi) -> Expectation:
    return Expectation(
        f"in_range:{col}",
        F.sum(
            F.when(~F.col(col).between(lo, hi) | F.col(col).isNull(), 1).otherwise(0)
        ).cast("bigint"),
    )


def expect_accepted_values(col: str, values: tuple) -> Expectation:
    arr = F.array(*[F.lit(v) for v in values])
    return Expectation(
        f"accepted_values:{col}",
        F.sum(
            F.when(~F.array_contains(arr, F.col(col)) | F.col(col).isNull(), 1)
            .otherwise(0)
        ).cast("bigint"),
    )


def expect_unique(*cols: str) -> Expectation:
    key = F.concat_ws("", *[F.col(c).cast("string") for c in cols])
    return Expectation(
        "unique:" + ",".join(cols),
        (F.count(F.lit(1)) - F.countDistinct(key)).cast("bigint"),
    )


def expect_matches(col: str, pattern: str) -> Expectation:
    return Expectation(
        f"matches:{col}",
        F.sum(
            F.when(~F.col(col).rlike(pattern) | F.col(col).isNull(), 1).otherwise(0)
        ).cast("bigint"),
    )


def run_expectations(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """Evaluate every rule in one aggregate pass; returns
    (rule, n_violations, passed) — one row per rule via ``stack``, so
    the whole gate is a single job regardless of rule count."""
    agg = df.agg(*[r.counter.alias(f"_c{i}") for i, r in enumerate(rules)])
    stack_expr = "stack({n}, {parts}) as (rule, n_violations)".format(
        n=len(rules),
        parts=", ".join(f"'{r.name}', _c{i}" for i, r in enumerate(rules)),
    )
    return agg.selectExpr(stack_expr).select(
        "rule",
        F.col("n_violations").cast("bigint").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )

