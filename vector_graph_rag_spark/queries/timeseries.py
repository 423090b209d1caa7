"""Time-series queries over `events` — bounded range join, percentiles, funnel.

The Spark implementations are the shuffle-minimal compositions in
``operators/timeseries.py``; the oracles are portable SQL.  Timestamps are
emitted as formatted strings (FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.sources.tables import load_table

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_SQL = "%Y-%m-%d %H:%M:%S"

# --- bounded range join: events within 15 min after each signup -------------

_RANGE_SQL = f"""
WITH signups AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
),
counted AS (
  SELECT s.event_id, s.user_id, s.ts, COUNT(e.event_id) AS n_following
  FROM signups s
  LEFT JOIN events e
    ON e.user_id = s.user_id
   AND e.ts > s.ts
   AND e.ts <= s.ts + INTERVAL 15 MINUTE
  GROUP BY s.event_id, s.user_id, s.ts
)
SELECT event_id, user_id, strftime(ts, '{_TS_FMT_SQL}') AS ts,
       n_following
FROM counted
"""


@register(
    "events_range_join_15m",
    oracle=_RANGE_SQL,
    description="bounded range join via time-bucket equi-join + residual filter (no inequality cross product)",
)
def events_range_join_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.operators.timeseries import range_join_bucketed

    e = load_table(spark, sf_dir, "events")
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    matches = range_join_bucketed(
        signups,
        e.select("user_id", "ts", "event_id"),
        on=["user_id"],
        width_seconds=15 * 60,
    )
    counts = matches.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_following")
    )
    # Left-join back so zero-match signups keep n_following = 0.
    return signups.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("ts"),
        F.coalesce("n_following", F.lit(0)).alias("n_following"),
    )


# --- exact percentiles per event type ---------------------------------------
#
# Spark's `percentile` (exact, interpolated) == DuckDB `quantile_cont`; the
# approximate scale path is `approx_percentile` (t-digest) — not declared
# because its sketch differs across engines, but the call shape is identical.

_PCTL_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


@register(
    "events_value_percentiles",
    oracle=_PCTL_SQL,
    description="exact interpolated percentiles (p50/p95/p99) per event type",
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


# --- ordered funnel: signup -> click -> purchase ----------------------------
#
# Sequence analytics: per user, the first signup, the first click strictly
# after it, the first purchase strictly after that; the funnel row counts
# survivors per stage.  Expressed as three cascaded conditional-min
# aggregations (each one shuffle on user_id, reusing the same partitioning)
# — no per-user sort, no window over the full event history.

_FUNNEL_SQL = """
WITH s AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
  FROM events GROUP BY user_id
),
c AS (
  SELECT e.user_id, s.s_ts,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > s.s_ts THEN e.ts END) AS c_ts
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE s.s_ts IS NOT NULL
  GROUP BY e.user_id, s.s_ts
),
p AS (
  SELECT e.user_id, c.s_ts, c.c_ts,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > c.c_ts THEN e.ts END) AS p_ts
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE c.c_ts IS NOT NULL
  GROUP BY e.user_id, c.s_ts, c.c_ts
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM s WHERE s_ts IS NOT NULL) AS n_signup,
       (SELECT COUNT(*) FROM c WHERE c_ts IS NOT NULL) AS n_signup_click,
       (SELECT COUNT(*) FROM p WHERE p_ts IS NOT NULL) AS n_full_funnel
"""


@register(
    "events_funnel_3stage",
    oracle=_FUNNEL_SQL,
    description="ordered funnel signup->click->purchase via cascaded conditional mins (one shuffle key)",
)
def events_funnel_3stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts")
    )
    c = (
        e.join(s.filter(F.col("s_ts").isNotNull()), "user_id")
        .groupBy("user_id", "s_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("s_ts")),
                    F.col("ts"),
                )
            ).alias("c_ts")
        )
    )
    p = (
        e.join(c.filter(F.col("c_ts").isNotNull()), "user_id")
        .groupBy("user_id", "s_ts", "c_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")),
                    F.col("ts"),
                )
            ).alias("p_ts")
        )
    )
    return (
        e.agg(F.countDistinct("user_id").alias("n_users"))
        .crossJoin(
            s.filter(F.col("s_ts").isNotNull()).agg(
                F.count(F.lit(1)).alias("n_signup")
            )
        )
        .crossJoin(
            c.filter(F.col("c_ts").isNotNull()).agg(
                F.count(F.lit(1)).alias("n_signup_click")
            )
        )
        .crossJoin(
            p.filter(F.col("p_ts").isNotNull()).agg(
                F.count(F.lit(1)).alias("n_full_funnel")
            )
        )
    )
