"""Window batch 3: the two shapes users hit hardest in practice —
running DISTINCT counts over a window (Spark has no native
``count(distinct) over``; the idiom is ``size(collect_set() over)``
on a range frame) and outer explode (empty arrays must keep their
parent row as a null, not vanish).

Scale note for the distinct window: the collect_set state is the
per-partition distinct key set — bounded by the key domain (users per
event type), not the event count; for unbounded domains the HLL
sketch queries in ext_sketches.py are the approximate alternative.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load
from . import register

# --------------------------------------------------------------------------
# Running distinct users per event type by day. The oracle states the
# semantics as a correlated distinct-count (engine-neutral); Spark
# computes it with the FIRST-APPEARANCE transform: a user counts
# toward day d iff their first event of that type is <= d, so
# min(day) per (type, user) -> new-user counts per day -> running SUM
# over days. The direct form (collect_set over a running RANGE frame)
# re-materializes a growing set per row — O(rows × users) per type,
# measured 10 s at the sf1 probe vs 1 s for this plan, and the set
# itself would exceed executor memory long before 100 TB. Same rows,
# bit-identical counts; the running SUM window state is one long.
# --------------------------------------------------------------------------

_DISTINCT_WINDOW_ORACLE = """
WITH days AS (
  SELECT DISTINCT event_type, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
)
SELECT d.event_type, d.day,
       CAST((SELECT COUNT(DISTINCT e.user_id) FROM events e
             WHERE e.event_type = d.event_type
               AND CAST(date_trunc('day', e.ts) AS DATE) <= d.day) AS BIGINT)
         AS distinct_users_cum
FROM days d
"""


@register("window_distinct_users_running", _DISTINCT_WINDOW_ORACLE)
def window_distinct_users_running(spark, sf_dir):
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        "user_id",
    )
    firsts = e.groupBy("event_type", "user_id").agg(
        F.min("day").alias("first_day")
    )
    new_per_day = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    days = e.select("event_type", "day").distinct()
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        days.join(new_per_day, ["event_type", "day"], "left")
        .withColumn(
            "distinct_users_cum",
            F.sum(F.coalesce(F.col("new_users"), F.lit(0)))
            .over(w)
            .cast("bigint"),
        )
        .select("event_type", "day", "distinct_users_cum")
    )


# --------------------------------------------------------------------------
# Outer explode: documents with no long token (>7 chars) still appear, with a
# null token — the left-join-unnest semantics ETL needs so parents
# aren't silently dropped.
# --------------------------------------------------------------------------

_EXPLODE_OUTER_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 7) AS long_toks
  FROM documents
  WHERE doc_id % 20 = 0
)
SELECT t.doc_id, u.tok AS long_token
FROM t LEFT JOIN (SELECT doc_id, unnest(long_toks) AS tok FROM t) u
  ON u.doc_id = t.doc_id
"""


@register("array_explode_outer_keepempty", _EXPLODE_OUTER_ORACLE)
def array_explode_outer_keepempty(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    long_toks = F.filter(tokens("text"), lambda x: F.length(x) > 7)
    return d.select("doc_id", long_toks.alias("long_toks")).select(
        "doc_id", F.explode_outer("long_toks").alias("long_token")
    )
