"""Relational operator coverage (SURVEY.md section 2.2 checklist rows:
scans, projections/filters, joins, aggregations, windows, sorts/limits,
set ops, date/time functions) with DuckDB oracles.

Determinism notes for the oracle value-hash:
- double aggregations go through exact DECIMAL(18,4) sums, then cast to
  double and round — identical in both engines regardless of sum order;
- every top-k has a total-order tiebreak on a key column;
- timestamps are compared in UTC (session TZ pinned in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load_table


def _dsum(col: str, alias: str):
    """Order-insensitive exact sum of a double column, rounded."""
    return F.round(
        F.sum(F.col(col).cast("decimal(18,4)")).cast("double"), 4
    ).alias(alias)


_DSUM_SQL = "round(cast(sum(cast({col} as decimal(18,4))) as double), 4) as {alias}"


# --------------------------------------------------------------------- Q1

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .withColumn("disc_price", disc)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            _dsum("disc_price", "sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_DSUM_SQL.format(col='l_quantity', alias='sum_qty')},
       {_DSUM_SQL.format(col='l_extendedprice', alias='sum_base_price')},
       {_DSUM_SQL.format(col='l_extendedprice * (1 - l_discount)', alias='sum_disc_price')},
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------- Q3-ish

def q3_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < cutoff)
            & (F.col("l_shipdate") > cutoff)
        )
        .withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .groupBy("l_orderkey")
        .agg(_dsum("rev", "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey,
       {_DSUM_SQL.format(col='l_extendedprice * (1 - l_discount)', alias='revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ----------------------------------------------------- broadcast dim join

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large fact x small dims: the dims go broadcast (checked in tests via
    explain) — the SURVEY.md section 2.2 joins-row broadcast case."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _dsum("o_totalprice", "total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


REVENUE_BY_NATION_SQL = f"""
SELECT r_name, n_name,
       {_DSUM_SQL.format(col='o_totalprice', alias='total_sales')},
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ------------------------------------------------------------- window fns

def window_top3_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "o_custkey", "o_orderkey", "rk",
            F.round(F.col("o_totalprice").cast("decimal(18,4)").cast("double"), 4)
            .alias("totalprice"),
        )
    )


WINDOW_TOP3_SQL = """
SELECT o_custkey, o_orderkey, rk,
       round(cast(cast(o_totalprice as decimal(18,4)) as double), 4) AS totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap cut via lag + running sum (the SURVEY.md
    'common OLAP patterns' row); batch analogue of session_window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_no",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("event_id", "user_id", "session_no")
    )


SESSIONIZE_SQL = """
SELECT event_id, user_id,
       -- cast: DuckDB window sum(BIGINT) is HUGEINT -> float64 in pandas
       cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS bigint) AS session_no
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
"""


# ------------------------------------------------------------- set ops

def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT coverage: building-segment customers that do NOT
    have a high balance, via except on key sets."""
    cust = load_table(spark, sf_dir, "customer")
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = cust.where(F.col("c_acctbal") > 5000).select("c_custkey")
    return building.exceptAll(rich).withColumnRenamed("c_custkey", "custkey")


SET_OPS_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT ALL
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
"""


# ------------------------------------------------------- date/time aggs

def events_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # no ensure_parallelism round-robin here: r6 added one for the
    # single-partition scan and it measured 0.76x under an interleaved A/B
    # (the round-robin shuffle costs more than the serialized partial agg)
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value", "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


EVENTS_DAILY_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n_events,
       {_DSUM_SQL.format(col='value', alias='sum_value')},
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------- sort / limit

def top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.where(F.col("p_size") >= 30)
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(20)
        .select(
            "p_partkey", "p_name", "p_size",
            F.round(F.col("p_retailprice").cast("decimal(18,4)").cast("double"), 4)
            .alias("retailprice"),
        )
    )


TOP_PARTS_SQL = """
SELECT p_partkey, p_name, p_size,
       round(cast(cast(p_retailprice as decimal(18,4)) as double), 4) AS retailprice
FROM part WHERE p_size >= 30
ORDER BY p_retailprice DESC, p_partkey ASC
LIMIT 20
"""


# ----------------------------------------------------------- JSON fns

def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json / get_json_object coverage: parse props and aggregate the
    extracted field (SURVEY.md section 2.2 math/array/map/JSON row)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       -- DuckDB sum(BIGINT) is HUGEINT -> float64 in pandas; pin to int64 so
       -- the driver's value-hash sees the same representation as Spark
       cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS sum_k,
       max(cast(json_extract_string(props, '$.k') AS bigint)) AS max_k,
       count(*) AS n
FROM events
GROUP BY event_type
"""


# ------------------------------------------------------------- pivot

def pivot_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() — wide per-day event-type counts."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


PIVOT_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'view')     AS view,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'error')    AS error
FROM events
GROUP BY 1
"""


# ----------------------------------------------------------- cube/rollup

def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (orderstatus, orderpriority)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice", "total"),
        )
    )


CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       {_DSUM_SQL.format(col='o_totalprice', alias='total')}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# ------------------------------------------------- exact percentiles

def quantiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median/p90 of account balance per segment
    (percentile in Spark == quantile_cont in DuckDB: both linear-interp)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90"),
    )


QUANTILES_SQL = """
SELECT c_mktsegment,
       round(quantile_cont(c_acctbal, 0.5), 4) AS p50,
       round(quantile_cont(c_acctbal, 0.9), 4) AS p90
FROM customer
GROUP BY c_mktsegment
"""


QUERIES = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "events_json_extract": (events_json_extract, EVENTS_JSON_SQL),
    "pivot_events_by_type": (pivot_events_by_type, PIVOT_SQL),
    "cube_order_stats": (cube_order_stats, CUBE_SQL),
    "quantiles_by_segment": (quantiles_by_segment, QUANTILES_SQL),
    "q3_revenue_topk": (q3_revenue_topk, Q3_SQL),
    "revenue_by_nation": (revenue_by_nation, REVENUE_BY_NATION_SQL),
    "window_top3_orders_per_cust": (window_top3_orders_per_cust, WINDOW_TOP3_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_SQL),
    "set_ops_customers": (set_ops_customers, SET_OPS_SQL),
    "events_daily_agg": (events_daily_agg, EVENTS_DAILY_SQL),
    "top_parts": (top_parts, TOP_PARTS_SQL),
}
