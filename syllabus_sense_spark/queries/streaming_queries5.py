"""Driver-verifiable Structured Streaming, part 5: the stream-stream
LEFT OUTER interval join — the last join mode the streaming battery
did not exercise, and the one whose semantics are watermark-DRIVEN
rather than merely watermark-bounded.

Inner stream-stream joins (streaming_queries2.py) emit on match;
watermarks only evict state. LEFT OUTER adds the hard part: a
buffered left row may turn out to have NO match, and the engine can
only know that — and emit the null-padded row — once the watermark
proves no future right row can land in the join window. So the
output is a function of the final watermark: unmatched views whose
match window closed before the terminal watermark emit with nulls;
younger unmatched views are still "pending" when the availableNow
drain ends and are NOT in the output.

That is exactly reproducible in SQL: the terminal watermark is
min(max(view_ts), max(purchase_ts)) - 2h (Spark's multiple-watermark
policy takes the min across inputs; each input's watermark is its max
event time minus the declared delay), and a view emits null-matched
iff it has no purchase in (view_ts, view_ts + 1h] AND view_ts + 1h
is before that watermark. The oracle encodes both rules, so the
hash check certifies Spark's outer-emission timing, not just the
join predicate.

Scale posture: state on both sides is range-bounded by the watermark
(views evict once the watermark passes view_ts + 1h; purchases once
it passes purchase_ts), so state size is O(events per 3-hour
horizon), independent of total stream length — production-safe at
100 TB/day. Reference anchor: the drain loop posture is A6/A17
(syllabus_ai_graph.py:285-318), as for the other drains.
"""

from __future__ import annotations

from . import register

_OUTER_JOIN_ORACLE = """
WITH v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT LEAST((SELECT MAX(view_ts) FROM v),
               (SELECT MAX(purchase_ts) FROM p))
         - INTERVAL 2 HOUR AS w
)
SELECT v.view_id, p.purchase_id, v.user_id, v.view_ts, p.purchase_ts
FROM v JOIN p
  ON p.user_id = v.user_id
 AND p.purchase_ts > v.view_ts
 AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
UNION ALL
SELECT v.view_id, CAST(NULL AS BIGINT) AS purchase_id, v.user_id,
       v.view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
FROM v, wm
WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.purchase_ts > v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
      )
  AND v.view_ts + INTERVAL 1 HOUR <= wm.w
"""


@register("streaming_outer_join_drain", _OUTER_JOIN_ORACLE)
def streaming_outer_join_drain(spark, sf_dir):
    from ..streaming.events import stream_view_purchase_join

    return stream_view_purchase_join(
        spark, sf_dir, "left_outer", "harness_outer_join_drain"
    )


_FULL_OUTER_JOIN_ORACLE = """
WITH v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT LEAST((SELECT MAX(view_ts) FROM v),
               (SELECT MAX(purchase_ts) FROM p))
         - INTERVAL 2 HOUR AS w
)
SELECT v.view_id, p.purchase_id, v.user_id, v.view_ts, p.purchase_ts
FROM v JOIN p
  ON p.user_id = v.user_id
 AND p.purchase_ts > v.view_ts
 AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
UNION ALL
SELECT v.view_id, CAST(NULL AS BIGINT), v.user_id,
       v.view_ts, CAST(NULL AS TIMESTAMP)
FROM v, wm
WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.purchase_ts > v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
      )
  AND v.view_ts + INTERVAL 1 HOUR <= wm.w
UNION ALL
SELECT CAST(NULL AS BIGINT), p.purchase_id, p.user_id,
       CAST(NULL AS TIMESTAMP), p.purchase_ts
FROM p, wm
WHERE NOT EXISTS (
        SELECT 1 FROM v
        WHERE v.user_id = p.user_id
          AND p.purchase_ts > v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
      )
  AND p.purchase_ts <= wm.w
"""


@register("streaming_full_outer_join_drain", _FULL_OUTER_JOIN_ORACLE)
def streaming_full_outer_join_drain(spark, sf_dir):
    """FULL OUTER stream-stream interval join — both sides' unmatched
    rows emit null-padded once the watermark closes their match
    window: a view when the watermark passes view_ts + 1h (its last
    possible purchase), a purchase when it passes purchase_ts (its
    match window [purchase_ts - 1h, purchase_ts) lies entirely in the
    past at that point). The oracle encodes both eviction rules plus
    the matched pairs, so the hash certifies the engine's two-sided
    emission timing. State stays range-bounded on both sides —
    production-safe at any stream length."""
    from ..streaming.events import stream_view_purchase_join

    return stream_view_purchase_join(
        spark, sf_dir, "full_outer", "harness_full_outer_join_drain"
    )


_DYN_GAP_US = (
    "CASE WHEN event_type = 'purchase' THEN 3600000000 ELSE 1800000000 END"
)

_DYN_SESSION_DRAIN_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, ts, event_type,
         epoch_us(ts) AS ts_us,
         {_DYN_GAP_US} AS gap_us
  FROM events
),
flagged AS (
  SELECT *,
    CASE WHEN MAX(ts_us + gap_us) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           OR ts_us >= MAX(ts_us + gap_us) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_session
  FROM ev
),
numbered AS (
  SELECT *, SUM(new_session) OVER (
              PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT MIN(ts) AS session_start,
       make_timestamp(MAX(ts_us + gap_us)) AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM numbered
GROUP BY user_id, sid
"""


@register("streaming_dynamic_gap_drain", _DYN_SESSION_DRAIN_ORACLE)
def streaming_dynamic_gap_drain(spark, sf_dir):
    """availableNow drain of the DYNAMIC-gap streaming sessionizer
    (per-event timeout in the state-store session operator): the
    drained memory-sink table must hash-match the batch interval-merge
    oracle exactly — no session split or merged across micro-batch
    boundaries. Batch twin: events24.events_sessionize_dynamic_gap."""
    from ..streaming.events import stream_session_windows_dynamic

    return stream_session_windows_dynamic(spark, sf_dir, "harness_dynamic_gap_drain")
