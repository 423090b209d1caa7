"""Relational operator coverage over the driver's star schema.

The reference has only degenerate relational forms (SURVEY §2.2) — id-set
semi-joins, collect_set aggregations, head-limits.  These queries exercise
the full standard operator set the engine must support at 100 TB: multi-way
joins (broadcast for dims), hash aggregation with partial combine, window
functions, semi/anti joins, CUBE, sessionization, JSON scalar work.

Determinism: every double aggregation goes through DECIMAL(18,4) so the sum
is exact and order-independent (double summation order differs between Spark
partial-aggregates and DuckDB — decimal makes the oracle hash stable), then
casts back to double.  Timestamps are emitted as formatted strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.sql_common import dec
from vector_graph_rag_spark.sources.tables import load_table


def _dec(col, scale: int = 4):
    return (F.col(col) if isinstance(col, str) else col).cast(f"decimal(18,{scale})")


# --- Q1-style pricing summary: groupBy + 8 aggregates -----------------------

# NOTE on decimal scales: DuckDB's DECIMAL→DOUBLE cast is only correctly
# rounded up to scale ~6 (verified empirically; at scale 12 it's off by one
# ulp vs Java BigDecimal.doubleValue).  The input data is 2-decimal money,
# so every product is EXACT at scale 4-6 — we cast each product down to
# scale ≤6 before SUM, keeping the whole aggregation exact and the final
# double cast identical across engines.
_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({dec('l_quantity')}) AS DOUBLE) AS sum_qty,
       CAST(SUM({dec('l_extendedprice')}) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST({dec('l_extendedprice')} * {dec('1.0 - l_discount', 8)} AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(CAST({dec('l_extendedprice')} * {dec('1.0 - l_discount', 8)} AS DECIMAL(18,4)) * {dec('1.0 + l_tax')} AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM({dec('l_quantity')}) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM({dec('l_extendedprice')}) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM({dec('l_discount', 6)}) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", oracle=_Q1_SQL, description="TPC-H Q1-style agg (SURVEY §2.2 aggregations)")
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = (
        _dec("l_extendedprice") * ((F.lit(1.0) - F.col("l_discount")).cast("decimal(18,8)"))
    ).cast("decimal(18,4)")
    charge = (
        disc_price * ((F.lit(1.0) + F.col("l_tax")).cast("decimal(18,4)"))
    ).cast("decimal(18,6)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
        (F.sum(_dec("l_discount", 6)).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --- Q3-style: 3-way join + top-10 by revenue -------------------------------

_Q3_SQL = f"""
SELECT o.o_orderkey,
       CAST(SUM(CAST({dec('l.l_extendedprice')} * {dec('1.0 - l.l_discount', 8)} AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
"""


@register("shipping_priority", oracle=_Q3_SQL, description="TPC-H Q3-style join + top-k (SURVEY §2.2 joins/sorts)")
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    revenue = (
        _dec("l_extendedprice") * ((F.lit(1.0) - F.col("l_discount")).cast("decimal(18,8)"))
    ).cast("decimal(18,4)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# --- Q5-style: 5-way join through region ------------------------------------

_Q5_SQL = f"""
SELECT n.n_name,
       CAST(SUM(CAST({dec('l.l_extendedprice')} * {dec('1.0 - l.l_discount', 8)} AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey   = c.c_custkey
JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
JOIN supplier s ON s.s_suppkey   = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register("local_supplier_volume", oracle=_Q5_SQL, description="TPC-H Q5-style multi-join (broadcast dims)")
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        _dec("l_extendedprice") * ((F.lit(1.0) - F.col("l_discount")).cast("decimal(18,8)"))
    ).cast("decimal(18,4)")
    return (
        # lineitem⋈orders shuffles on the big keys; customer stays a shuffle
        # join too (it is NOT broadcastable at 100 TB); dims are broadcast.
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# --- top-k per group (window) ------------------------------------------------

_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


@register("topk_orders_per_customer", oracle=_TOPK_SQL, description="window top-k per group (SURVEY §2.2 windows)")
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


# --- semi / anti joins -------------------------------------------------------

_SEMI_ANTI_SQL = """
SELECT c_custkey,
       CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) THEN 1 ELSE 0 END AS has_orders
FROM customer c
WHERE c.c_acctbal > 0
"""


@register("customers_semi_anti", oracle=_SEMI_ANTI_SQL, description="left_semi/left_anti (reference milvus.py:429-507 id-set lookups)")
def customers_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    o = load_table(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", F.lit(1).alias("has_orders")
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", F.lit(0).alias("has_orders")
    )
    return with_orders.unionByName(without)


# --- conditional aggregation (pivot-shaped) ---------------------------------

_PIVOT_SQL = """
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_fulfilled
FROM lineitem
GROUP BY l_returnflag
"""


@register("returnflag_pivot", oracle=_PIVOT_SQL, description="pivot via conditional agg")
def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_linestatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("l_linestatus") == "F", 1)).alias("n_fulfilled"),
    )


# --- events: JSON scalar + per-type aggregate -------------------------------

_EVENTS_JSON_SQL = f"""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM({dec('value', 6)}) AS DOUBLE) AS total_value,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


@register("events_json_agg", oracle=_EVENTS_JSON_SQL, description="JSON extraction + agg (SURVEY §2.2 scalar functions)")
def events_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("value", 6)).cast("double").alias("total_value"),
        F.max(F.get_json_object("props", "$.k").cast("bigint")).alias("max_k"),
    )


# --- sessionization (lag + gap cumsum) --------------------------------------

_SESSION_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, event_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM sess
GROUP BY user_id, session_id
"""


@register(
    "sessionize_events",
    oracle=_SESSION_SQL,
    retired=True,  # r14 swap: key_skew_profile profiles the SAME events user-key this family shuffles on; sessionization semantics stay driver-gated via stream_session_window_30m + stream_stateful_sessions; r13-green
    description="sessionization: lag + cumsum gap>30min",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    sess = e.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


# --- CUBE: all grouping-set combinations in one pass ------------------------

_CUBE_SQL = f"""
WITH ev AS (
  SELECT event_type, strftime(ts, '%Y-%m') AS m, value FROM events
)
SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
       CASE WHEN GROUPING(m) = 1 THEN 'ALL' ELSE m END AS month,
       COUNT(*) AS n,
       CAST(SUM({dec('value', 6)}) AS DOUBLE) AS total_value
FROM ev GROUP BY CUBE(event_type, m)
"""


@register(
    "events_cube_month_type",
    oracle=_CUBE_SQL,
    description="CUBE(event_type, month): all 4 grouping sets in one shuffle, GROUPING() labels totals",
)
def events_cube_month_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM").alias("m"), "value"
    )
    return (
        e.cube("event_type", "m")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value", 6)).cast("double").alias("total_value"),
            # grouping() is only legal inside the aggregate list.
            F.grouping("event_type").alias("g_et"),
            F.grouping("m").alias("g_m"),
        )
        .select(
            F.when(F.col("g_et") == 1, F.lit("ALL")).otherwise(F.col("event_type")).alias("event_type"),
            F.when(F.col("g_m") == 1, F.lit("ALL")).otherwise(F.col("m")).alias("month"),
            "n",
            "total_value",
        )
    )


# --- FULL OUTER join: per-nation high-balance customers vs suppliers --------

# The >9000 balance filters make each side miss some nations, so the outer
# join genuinely produces one-sided rows (coalesced to zeros) — the join
# shape the engine's other queries don't cover.
_FULL_OUTER_SQL = f"""
WITH cust AS (
  SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust,
         CAST(SUM({dec('c_acctbal')}) AS DOUBLE) AS cust_bal
  FROM customer WHERE c_acctbal > 9000 GROUP BY 1
),
supp AS (
  SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp,
         CAST(SUM({dec('s_acctbal')}) AS DOUBLE) AS supp_bal
  FROM supplier WHERE s_acctbal > 9000 GROUP BY 1
)
SELECT nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(cust_bal, 0.0) AS cust_bal,
       coalesce(n_supp, 0) AS n_supp,
       coalesce(supp_bal, 0.0) AS supp_bal
FROM cust FULL JOIN supp USING (nationkey)
"""


@register(
    "nation_balance_full_outer",
    oracle=_FULL_OUTER_SQL,
    description="FULL OUTER join of asymmetric per-nation aggregates (one-sided rows coalesced)",
)
def nation_balance_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cust = (
        c.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("cust_bal"),
        )
    )
    supp = (
        s.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(_dec("s_acctbal")).cast("double").alias("supp_bal"),
        )
    )
    return cust.join(supp, "nationkey", "full").select(
        "nationkey",
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("cust_bal", F.lit(0.0)).alias("cust_bal"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        F.coalesce("supp_bal", F.lit(0.0)).alias("supp_bal"),
    )


# --- keyset-cursor pagination (staged r15) -----------------------------------

_KEYSET_PAGE_SIZE = 20
_KEYSET_START = 5  # first cursor: strictly after doc_id 5

_KEYSET_SQL = f"""
WITH p1 AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE doc_id > {_KEYSET_START} ORDER BY doc_id LIMIT {_KEYSET_PAGE_SIZE}
),
p2 AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE doc_id > (SELECT MAX(doc_id) FROM p1) ORDER BY doc_id LIMIT {_KEYSET_PAGE_SIZE}
),
p3 AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE doc_id > (SELECT MAX(doc_id) FROM p2) ORDER BY doc_id LIMIT {_KEYSET_PAGE_SIZE}
)
SELECT 1 AS page, * FROM p1
UNION ALL SELECT 2, * FROM p2
UNION ALL SELECT 3, * FROM p3
"""


@register(
    "documents_keyset_page",
    oracle=_KEYSET_SQL,
    description=(
        "keyset-cursor pagination (3 chained pages of 20 after doc_id>5): "
        "each page is WHERE key > cursor ORDER BY key LIMIT n, the cursor "
        "being the previous page's last key — the O(page) scan pattern "
        "that replaces OFFSET's O(offset+page), and the scale fix the "
        "/documents API route documents"
    ),
)
def documents_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination as one lazy DAG: page k's cursor is a 1-row
    broadcast aggregate of page k-1 (a scalar-subquery join, never a
    driver collect), and every page is a TakeOrderedAndProject over the
    filtered scan — at 100 TB with a doc_id-sorted/bucketed layout each
    page reads only the file range past its cursor (min/max pruning),
    while OFFSET pagination re-reads and re-sorts everything before the
    offset.  API twin: the /documents cursor mode (api/app.py) serves the
    same kernel per request."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    def page(after_col_frame):
        # after_col_frame: 1-row frame with column `cursor`
        return (
            d.crossJoin(F.broadcast(after_col_frame))
            .filter(F.col("doc_id") > F.col("cursor"))
            .orderBy("doc_id")
            .limit(_KEYSET_PAGE_SIZE)
            .select("doc_id", "source", "n_chars")
        )

    spark_ = d.sparkSession
    c1 = spark_.range(1).select(F.lit(_KEYSET_START).cast("long").alias("cursor"))
    p1 = page(c1)
    p2 = page(p1.agg(F.max("doc_id").alias("cursor")))
    p3 = page(p2.agg(F.max("doc_id").alias("cursor")))
    out = (
        p1.select(F.lit(1).alias("page"), "doc_id", "source", "n_chars")
        .unionByName(p2.select(F.lit(2).alias("page"), "doc_id", "source", "n_chars"))
        .unionByName(p3.select(F.lit(3).alias("page"), "doc_id", "source", "n_chars"))
    )
    return out
