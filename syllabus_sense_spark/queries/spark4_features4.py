"""Spark 4 surfaces, part 4: SQL scripting (procedural BEGIN/WHILE
blocks) and the state data source reader (querying a streaming
checkpoint's state store as a DataFrame).

`sql_scripting_median_bisect`: Spark 4's SQL scripting runs a
procedural block — DECLARE'd variables, a WHILE loop, per-iteration
SQL against real tables — inside the engine. The demo is a genuinely
iterative data algorithm: binary-search the lower median of
o_totalprice (in exact cents) by issuing one COUNT per iteration
until the bracket closes. 32 iterations bound the loop for any value
range up to ~4×10^9 cents; the oracle is DuckDB's closed-form
`percentile_disc(0.5)` on the same cents column, so the hash match
proves the procedural loop converged to the exact order statistic.
Scale: each probe is one predicate-pushdown COUNT scan (a map-side
partial count, no shuffle); the loop is O(log range) sequential
rounds — the scripting layer adds driver-side control flow, never
row-scale driver data.

`streaming_state_reader`: after an availableNow drain of a stateful
aggregation, `spark.read.format("statestore").load(checkpoint)`
exposes the query's final state as (key, value) rows — the
queryable-state / state-debugging surface. The returned counts ARE
the aggregation state, so the DuckDB twin is the plain batch
GROUP BY: a hash match proves the checkpoint state equals the exact
batch answer (no lost or double-counted updates across micro-batches).
partition_id is projected away — it reflects the shuffle-partition
layout, not query semantics.

Reference anchor: A6/A17 drain-loop posture for the streaming half
(syllabus_ai_graph.py:285-318); the scripting half is [EXT] engine
surface per SURVEY.md §2 Table B.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import register
from ._util import scratch_dir

_MEDIAN_ORACLE = """
WITH cents AS (
  SELECT CAST(o_totalprice * 100 AS BIGINT) AS c FROM orders
)
SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
         AS median_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM cents
"""


@register("sql_scripting_median_bisect", _MEDIAN_ORACLE)
def sql_scripting_median_bisect(spark, sf_dir):
    from ..tables import load

    spark.conf.set("spark.sql.scripting.enabled", "true")
    cents = load(spark, sf_dir, "orders").select(
        F.expr("CAST(o_totalprice * 100 AS BIGINT)").alias("c")
    )
    cents.createOrReplaceTempView("_script_cents")
    # Lower median = smallest v with count(c <= v) >= (n+1) DIV 2 —
    # found by bisection, one COUNT probe per iteration.
    return spark.sql(
        """
        BEGIN
          DECLARE n BIGINT DEFAULT 0;
          DECLARE target BIGINT DEFAULT 0;
          DECLARE lo BIGINT DEFAULT 0;
          DECLARE hi BIGINT DEFAULT 0;
          DECLARE mid BIGINT DEFAULT 0;
          DECLARE cnt BIGINT DEFAULT 0;
          SET n = (SELECT COUNT(*) FROM _script_cents);
          SET target = (n + 1) DIV 2;
          SET lo = (SELECT MIN(c) FROM _script_cents);
          SET hi = (SELECT MAX(c) FROM _script_cents);
          WHILE lo < hi DO
            SET mid = (lo + hi) DIV 2;
            SET cnt = (SELECT COUNT(*) FROM _script_cents WHERE c <= mid);
            IF cnt >= target THEN
              SET hi = mid;
            ELSE
              SET lo = mid + 1;
            END IF;
          END WHILE;
          SELECT lo AS median_cents, n AS n_orders;
        END
        """
    )


_STATE_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


@register("streaming_state_reader", _STATE_ORACLE)
def streaming_state_reader(spark, sf_dir):
    from ..streaming.drain import drain
    from ..streaming.events import _event_stream, _with_event_time

    ckpt = scratch_dir("state_reader_ckpt_")
    ev = _with_event_time(_event_stream(spark, sf_dir))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    drain(agg.writeStream.format("noop").outputMode("update"), ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events"),
    )
