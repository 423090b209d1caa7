"""Streaming query declarations (north-star extension; reference has none)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.sql_common import dec
from vector_graph_rag_spark.streaming.ingest import windowed_event_aggregate

_STREAM_SQL = f"""
SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS window_start_epoch,
       event_type,
       COUNT(*) AS n,
       CAST(SUM({dec('value', 6)}) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register(
    "stream_tumbling_30m",
    oracle=_STREAM_SQL,
    description="Structured Streaming tumbling-window agg with watermark (streaming/ingest.py)",
)
def stream_tumbling_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_event_aggregate(
        spark, os.path.join(sf_dir, "events.parquet"), window_duration="30 minutes"
    )


# Native session windows — the declarative twin of the stateful
# applyInPandasWithState sessionizer.  Oracle: gap-rule sessionization in
# exact integer MICROS (session_window starts a new session at gap >= the
# duration; double-seconds arithmetic could round across that boundary).
_SESSION_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
),
flagged AS (
  SELECT user_id, event_id, us, value,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  SELECT user_id, us, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(us) // 1000000 AS session_start_epoch,
       COUNT(*) AS n,
       CAST(SUM({dec('value', 6)}) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, sid
"""


@register(
    "stream_session_window_30m",
    oracle=_SESSION_SQL,
    description="native session_window streaming agg (gap 30m, watermark) vs exact-micros gap-rule oracle",
)
def stream_session_window_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.streaming.ingest import session_windowed_aggregate

    return session_windowed_aggregate(
        spark, os.path.join(sf_dir, "events.parquet"), gap="30 minutes"
    )


# Streaming exact dedup — the stream twin of dedup_exact; only the key set
# is emitted (which duplicate survives is arrival-order-dependent).
_STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register(
    "stream_dedup_users",
    oracle=_STREAM_DEDUP_SQL,
    description="streaming exact dedup via dropDuplicatesWithinWatermark (bounded state), key set output",
)
def stream_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.streaming.ingest import streaming_dedup_keys

    return streaming_dedup_keys(spark, os.path.join(sf_dir, "events.parquet"))


# Stream-stream interval join — the streaming twin of events_range_join_15m;
# the oracle is the plain inequality join over the same bounded data.
_SS_JOIN_SQL = """
SELECT s.event_id AS signup_event_id,
       e.event_id AS matched_event_id,
       s.user_id
FROM events s
JOIN events e
  ON e.user_id = s.user_id
 AND e.ts > s.ts
 AND e.ts <= s.ts + INTERVAL 15 MINUTE
WHERE s.event_type = 'signup'
"""


@register(
    "stream_interval_join_15m",
    oracle=_SS_JOIN_SQL,
    description="stream-stream inner join, watermarked both sides, time-bounded condition (state expires at ts+width)",
)
def stream_interval_join_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.streaming.ingest import stream_stream_interval_join

    return stream_stream_interval_join(
        spark, os.path.join(sf_dir, "events.parquet"), left_type="signup"
    )


# --- stateful sessionization (applyInPandasWithState), oracle-checked -------
#
# The custom stateful operator itself (streaming/sessionize.py) run
# synchronously via availableNow: it emits each session the moment a later
# event closes it (gap > 30 min), so the drained-stream result is exactly
# the batch sessionization MINUS each user's final (still-open) session —
# which is SQL-expressible, making this the rare stateful stream with a
# full value-hash oracle instead of a rows-only check.

_STATEFUL_SESS_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
),
sessions AS (
  SELECT user_id, session_id,
         MIN(ts) AS start_ts, MAX(ts) AS end_ts, COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id,
       strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(end_ts, '%Y-%m-%d %H:%M:%S') AS session_end,
       n_events
FROM sessions
QUALIFY session_id < MAX(session_id) OVER (PARTITION BY user_id)
"""


@register(
    "stream_stateful_sessions",
    oracle=_STATEFUL_SESS_SQL,
    description=(
        "custom stateful operator (applyInPandasWithState sessionizer) drained "
        "via availableNow — closed sessions equal batch sessionization minus "
        "each user's final open session, checked by full value hash"
    ),
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from vector_graph_rag_spark.streaming.sessionize import run_sessionize_on_events

    out = run_sessionize_on_events(spark, os.path.join(sf_dir, "events.parquet"))
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )
