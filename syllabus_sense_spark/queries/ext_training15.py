"""[EXT] Multi-epoch token-budget waterfill — the data-mixture
planning step behind every large pretraining run: given a total token
budget, allocate tokens to each source proportionally to a mixture
weight, but cap every source at `max_epochs × its corpus size` (data
repeated beyond a few epochs stops helping — the constraint that
makes naive proportional allocation infeasible), then redistribute
the capped-off excess among sources that still have headroom.

Allocation is the classic waterfill, unrolled two redistribution
rounds (enough to reach a fixed point unless caps cascade three
deep — the residual budget after round 2 is reported so the planner
sees any undershoot). All arithmetic is exact BIGINT: proportional
shares use integer `DIV`, caps and pools are integer sums, and the
per-source epoch factor is reported in milli-epochs — bit-identical
across engines, partitionings, and summation orders.

The budget is data-derived (B = 2 × total corpus tokens — "two
average epochs"), and each source's epoch cap comes from a
deterministic quality tier (md5(source) → 1, 2, or 4 epochs — the
wiki-repeats-4×/common-crawl-repeats-1× tiering of published
pretraining data tables). Low-tier sources bind immediately and shed
budget; high-tier sources absorb it, some binding only in the second
round — both waterfill rounds are genuinely exercised at every SF.

Scale posture: ONE map-side-combined groupBy reduces the corpus to
the per-source table (a handful of rows at any corpus size); every
window below is an unpartitioned window over that pre-reduced
bounded table (the documented bounded-table pattern — O(|sources|)
rows at 100 TB, not a data-scale global sort). The corpus scan
projects exactly (source, text).

Reference anchor: none (capability extension per SURVEY.md §2 [EXT]);
the cap-and-redistribute rule follows published data-mixture
practice (epoch caps in Llama/GPT-3-style dataset tables).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import token_count
from ..tables import load
from . import register


_TOKS_DUCK = (
    "len(list_filter(regexp_split_to_array(text, '\\s+'),"
    " x -> length(x) > 0))"
)

_TIER_DUCK = (
    "CASE (CAST(('0x' || substr(md5(source), 1, 2)) AS BIGINT) % 3)"
    " WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END"
)

_BUDGET_ORACLE = f"""
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS docs,
         CAST(SUM({_TOKS_DUCK}) AS BIGINT) AS toks,
         CAST({_TIER_DUCK} AS BIGINT) AS tier
  FROM documents
  GROUP BY source
),
base AS (
  SELECT *, tier * toks AS cap,
         SUM(docs) OVER () AS w,
         2 * SUM(toks) OVER () AS b
  FROM per_source
),
r0 AS (
  SELECT *, LEAST((b * docs) // w, cap) AS alloc1 FROM base
),
p1 AS (
  SELECT *,
         b - SUM(alloc1) OVER () AS pool1,
         SUM(CASE WHEN alloc1 < cap THEN docs ELSE 0 END) OVER () AS wu1
  FROM r0
),
r1 AS (
  SELECT *,
         LEAST(alloc1 + CASE WHEN alloc1 < cap AND wu1 > 0
                             THEN (pool1 * docs) // wu1 ELSE 0 END,
               cap) AS alloc2
  FROM p1
),
p2 AS (
  SELECT *,
         b - SUM(alloc2) OVER () AS pool2,
         SUM(CASE WHEN alloc2 < cap THEN docs ELSE 0 END) OVER () AS wu2
  FROM r1
),
r2 AS (
  SELECT *,
         LEAST(alloc2 + CASE WHEN alloc2 < cap AND wu2 > 0
                             THEN (pool2 * docs) // wu2 ELSE 0 END,
               cap) AS alloc3
  FROM p2
)
SELECT source, docs, toks AS total_tokens, tier,
       CAST(cap AS BIGINT) AS cap_tokens,
       CAST(alloc3 AS BIGINT) AS alloc_tokens,
       CAST((alloc3 * 1000) // toks AS BIGINT) AS epochs_milli,
       CAST(CASE WHEN alloc3 = cap THEN 1 ELSE 0 END AS BIGINT) AS is_capped,
       CAST(b - SUM(alloc3) OVER () AS BIGINT) AS residual_budget
FROM r2
"""


@register("training_token_budget_epochs", _BUDGET_ORACLE)
def training_token_budget_epochs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = token_count("text").cast("long")
    tier = F.expr(
        "CASE (conv(substring(md5(source), 1, 2), 16, 10) % 3)"
        " WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END"
    ).cast("long")
    per_source = d.select("source", toks.alias("t")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("t").cast("long").alias("toks"),
    ).withColumn("tier", tier)
    # Unpartitioned windows over the pre-reduced per-source table
    # (bounded at any corpus scale) — the documented bounded-table
    # pattern, not a data-scale global sort.
    w = Window.partitionBy()
    base = (
        per_source.withColumn("cap", F.col("tier") * F.col("toks"))
        .withColumn("w", F.sum("docs").over(w))
        .withColumn("b", F.lit(2) * F.sum("toks").over(w))
    )
    r0 = base.withColumn(
        "alloc1", F.least(F.expr("(b * docs) DIV w"), F.col("cap"))
    )
    p1 = r0.withColumn(
        "pool1", F.col("b") - F.sum("alloc1").over(w)
    ).withColumn(
        "wu1",
        F.sum(
            F.when(F.col("alloc1") < F.col("cap"), F.col("docs")).otherwise(0)
        ).over(w),
    )
    r1 = p1.withColumn(
        "alloc2",
        F.least(
            F.col("alloc1")
            + F.expr(
                "CASE WHEN alloc1 < cap AND wu1 > 0 "
                "THEN (pool1 * docs) DIV wu1 ELSE 0 END"
            ),
            F.col("cap"),
        ),
    )
    p2 = r1.withColumn(
        "pool2", F.col("b") - F.sum("alloc2").over(w)
    ).withColumn(
        "wu2",
        F.sum(
            F.when(F.col("alloc2") < F.col("cap"), F.col("docs")).otherwise(0)
        ).over(w),
    )
    r2 = p2.withColumn(
        "alloc3",
        F.least(
            F.col("alloc2")
            + F.expr(
                "CASE WHEN alloc2 < cap AND wu2 > 0 "
                "THEN (pool2 * docs) DIV wu2 ELSE 0 END"
            ),
            F.col("cap"),
        ),
    )
    return r2.select(
        "source",
        "docs",
        F.col("toks").alias("total_tokens"),
        "tier",
        F.col("cap").cast("long").alias("cap_tokens"),
        F.col("alloc3").cast("long").alias("alloc_tokens"),
        F.expr("(alloc3 * 1000) DIV toks").cast("long").alias("epochs_milli"),
        F.when(F.col("alloc3") == F.col("cap"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_capped"),
        (F.col("b") - F.sum("alloc3").over(w)).cast("long").alias(
            "residual_budget"
        ),
    )
