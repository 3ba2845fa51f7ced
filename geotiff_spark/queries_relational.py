"""Relational operator surface (SURVEY.md §2.C) — each query as
(PySpark DataFrame fn, DuckDB oracle SQL).

Conventions for oracle parity:
- every computed column aliased identically on both sides
- double aggregates rounded to 4 decimals (summation order differs between
  engines; exact decimal data keeps the rounded value stable)
- timestamps surfaced as 'yyyy-MM-dd' strings (engine-neutral)
- window orderings made total with key tiebreakers
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geotiff_spark import oracle as _oracle
from geotiff_spark.operators.textstats import sql_tokens, tokens
from geotiff_spark.pipeline import load_table as _t


# ---- scans / filters / projections ----------------------------------------

def q_filter_project(spark, sf_dir):
    """Pushdown-friendly filter + projection on lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "2000-01-01")
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 10)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("disc_rev"),
        )
    )


SQL_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice * l_discount, 4) AS disc_rev
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 10
"""


# ---- aggregations ----------------------------------------------------------

def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: hash agg with partial/final (map-side combine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2001-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_AGG_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4)                            AS sum_qty,
       ROUND(SUM(l_extendedprice), 4)                       AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)    AS sum_disc_price,
       ROUND(AVG(l_quantity), 4)                            AS avg_qty,
       COUNT(*)                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_rollup_region_nation(spark, sf_dir):
    """Rollup hierarchy: acctbal by region → nation → grand total."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum("c_acctbal"), 4).alias("sum_bal"),
        F.count(F.lit(1)).alias("n_cust"),
    )


SQL_ROLLUP_REGION_NATION = """
SELECT r_name, n_name,
       ROUND(SUM(c_acctbal), 4) AS sum_bal,
       COUNT(*) AS n_cust
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_cube_status_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
    )


SQL_CUBE_STATUS_PRIORITY = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 4) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_distinct_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust")
    )


SQL_DISTINCT_CUSTOMERS = """
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust
FROM orders GROUP BY o_orderstatus
"""


def q_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HLL) range-checked against the exact count:
    the estimator value itself is engine-specific, so the oracle-facing
    columns are the exact count plus a within-tolerance flag (HLL default
    rsd 0.05; 4σ tolerance keeps the gate deterministic-in-practice while
    still failing on a broken sketch)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey")
                - F.countDistinct("o_custkey")
            )
            <= F.lit(0.2) * F.countDistinct("o_custkey")
        ).alias("within_rsd"),
    )


SQL_APPROX_DISTINCT = """
SELECT COUNT(DISTINCT o_custkey) AS n_exact, TRUE AS within_rsd
FROM orders
"""


def q_approx_quantiles(spark, sf_dir):
    """approx_percentile (KLL/GK-style sketch) range-checked against the
    exact percentile per status group — the mergeable-sketch quantile a
    100 TB pipeline uses instead of a global sort. Same gate pattern as
    approx_distinct: the sketch value is engine-specific, so the
    oracle-facing columns are the exact percentile plus a
    within-tolerance flag (±2% of the exact value at accuracy 10000)."""
    o = _t(spark, sf_dir, "orders")
    exact = F.expr("percentile(o_totalprice, 0.5)")
    approx = F.expr("approx_percentile(o_totalprice, 0.5, 10000)")
    return o.groupBy("o_orderstatus").agg(
        F.round(exact, 4).alias("exact_median"),
        (F.abs(approx - exact) <= F.lit(0.02) * exact).alias("within_tol"),
    )


SQL_APPROX_QUANTILES = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS exact_median,
       TRUE AS within_tol
FROM orders GROUP BY o_orderstatus
"""


# ---- joins -----------------------------------------------------------------

def q_sessionize(spark, sf_dir):
    """Batch sessionization: per-user sessions split at >30min gaps
    (lag + cumulative boundary sum — the window-function dual of the
    streaming session_window operator)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_new = F.coalesce(
        (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES"))
        .cast("int"),
        F.lit(1),
    )
    sess = e.withColumn(
        "session_idx",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1
              WHEN LAG(ts) OVER w IS NULL THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM sess GROUP BY user_id, session_idx
"""


def q_hourly_gapfill(spark, sf_dir):
    """Time-series resample with zero-fill: a generated hour grid
    (sequence + explode) left-joined against hourly event counts — hours
    with no events surface as 0, not as missing rows."""
    e = _t(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    counts = e.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return grid.join(counts, "hour", "left").select(
        "hour", F.coalesce("n", F.lit(0)).alias("n_events")
    )


SQL_HOURLY_GAPFILL = """
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0,
         date_trunc('hour', MAX(ts)) AS h1
  FROM events
),
grid AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds
),
counts AS (
  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1
)
SELECT g.hour, COALESCE(c.n, 0) AS n_events
FROM grid g LEFT JOIN counts c ON c.hour = g.hour
"""


def q_broadcast_join_brand_volume(spark, sf_dir):
    """Small-dim broadcast equi-join: lineitem ⋈ part."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_BROADCAST_JOIN_BRAND_VOLUME = """
SELECT p_brand, ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_multi_join_revenue_by_region(spark, sf_dir):
    """customer ⋈ orders ⋈ nation ⋈ region; shuffle join on the fact side,
    broadcast dims; Catalyst free to reorder."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_MULTI_JOIN_REVENUE_BY_REGION = """
SELECT r_name, ROUND(SUM(o_totalprice), 4) AS revenue, COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_semi_join(spark, sf_dir):
    """Customers having at least one 'O' order (left semi)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )


SQL_SEMI_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n_cust
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
GROUP BY c_mktsegment
"""


def q_anti_join(spark, sf_dir):
    """Customers with no high-value order (left anti) — also the engine's
    checkpoint-resume primitive (anti-join completed partitions)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_totalprice > 300000
)
"""


def q_range_join(spark, sf_dir):
    """Interval self-join: follow-up events within 5 minutes per user
    (equi-key first, then the time range — avoids a nested-loop blowup)."""
    e1 = _t(spark, sf_dir, "events").alias("e1")
    e2 = _t(spark, sf_dir, "events").alias("e2")
    return (
        e1.join(
            e2,
            (F.col("e1.user_id") == F.col("e2.user_id"))
            & (F.col("e2.ts") > F.col("e1.ts"))
            & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        .groupBy(F.col("e1.event_id").alias("event_id"))
        .agg(F.count(F.lit(1)).alias("n_follow"))
    )


SQL_RANGE_JOIN = """
SELECT e1.event_id AS event_id, COUNT(*) AS n_follow
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts > e1.ts
 AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
GROUP BY e1.event_id
"""


def q_asof_latest_event(spark, sf_dir):
    """As-of join shape: latest event per user at/before a cutoff."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts") <= "2024-01-03 00:00:00"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


SQL_ASOF_LATEST_EVENT = """
SELECT user_id, event_id, event_type
FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-03 00:00:00'
) WHERE rn = 1
"""


# ---- windows ---------------------------------------------------------------

def q_window_topn_orders(spark, sf_dir):
    """Top-3 orders per customer by totalprice (ranking window)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


SQL_WINDOW_TOPN_ORDERS = """
SELECT o_custkey, o_orderkey, rk
FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q_window_lag_delta(spark, sf_dir):
    """Analytic lag: per-user event value delta over time."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(
            F.col("value") - F.lag("value", 1).over(w), 4
        ).alias("delta"),
    )


SQL_WINDOW_LAG_DELTA = """
SELECT user_id, event_id,
       ROUND(value - LAG(value, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id), 4) AS delta
FROM events
"""


def q_window_rolling_sum(spark, sf_dir):
    """Frame spec: rolling 3-row sum per user ordered by time."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    return e.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 4).alias("rolling3"),
    )


SQL_WINDOW_ROLLING_SUM = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
       AS rolling3
FROM events
"""


# ---- sorts / top-k / set ops ------------------------------------------------

def q_global_topk(spark, sf_dir):
    """Global top-k → TakeOrderedAndProject, no full sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


SQL_GLOBAL_TOPK = """
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_set_ops(spark, sf_dir):
    """UNION / INTERSECT / EXCEPT over customer key sets."""
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return (
        a.union(b).distinct().exceptAll(a.intersect(b))
        .withColumnRenamed("c_custkey", "key")
    )


SQL_SET_OPS = """
WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT c_custkey AS key FROM (
  SELECT c_custkey FROM (SELECT * FROM a UNION SELECT * FROM b)
  EXCEPT ALL
  SELECT c_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
)
"""


# ---- scalar functions --------------------------------------------------------

def q_scalar_functions(spark, sf_dir):
    """String / date / math / conditional built-ins, engine-neutral forms."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.lower(F.substring("o_orderpriority", 1, 5)).alias("prio5"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.round(F.sqrt(F.abs(F.col("o_totalprice"))), 4).alias("sqrt_price"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
    )


SQL_SCALAR_FUNCTIONS = """
SELECT o_orderkey,
       LOWER(SUBSTRING(o_orderpriority, 1, 5)) AS prio5,
       STRFTIME(o_orderdate, '%Y-%m') AS order_month,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
       ROUND(SQRT(ABS(o_totalprice)), 4) AS sqrt_price,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 50000 THEN 'mid'
            ELSE 'small' END AS bucket,
       o_orderstatus || '-' || o_orderpriority AS status_prio
FROM orders
"""


def q_json_extract(spark, sf_dir):
    """JSON-ish extraction from the props payload (regexp, both engines)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int").alias("k_val"),
    )


SQL_JSON_EXTRACT = r"""
SELECT event_id,
       CAST(REGEXP_EXTRACT(props, '"k":\s*(\d+)', 1) AS INT) AS k_val
FROM events
"""


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS via Spark SQL."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return o.sparkSession.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_pivot_status_by_priority(spark, sf_dir):
    """Pivot (crosstab): order counts, status × priority."""
    o = _t(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
    )
    for p in prios:
        piv = piv.withColumnRenamed(p, f"n_{p[0]}").withColumn(
            f"n_{p[0]}", F.coalesce(F.col(f"n_{p[0]}"), F.lit(0))
        )
    return piv


SQL_PIVOT_STATUS_BY_PRIORITY = """
SELECT o_orderstatus,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT')        AS n_1,
       COUNT(*) FILTER (o_orderpriority = '2-HIGH')          AS n_2,
       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM')        AS n_3,
       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS n_4,
       COUNT(*) FILTER (o_orderpriority = '5-LOW')           AS n_5
FROM orders GROUP BY o_orderstatus
"""


def q_window_distribution(spark, sf_dir):
    """Distribution windows: ntile / percent_rank / cume_dist."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


SQL_WINDOW_DISTRIBUTION = """
SELECT o_orderkey,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM orders
WHERE o_orderkey < 2000
WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
"""


def q_top_tokens(spark, sf_dir):
    """Explode (UDTF shape): global top-20 document tokens."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.lower("text"))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


SQL_TOP_TOKENS = f"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest({sql_tokens('lower(text)')}) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
"""


def q_haversine_to_vienna(spark, sf_dir):
    """Great-circle distance (haversine, km) from each geo document to
    Vienna — math built-ins only, op order mirrored in the oracle."""
    from geotiff_spark.pipeline import geo_documents

    d = geo_documents(spark, sf_dir)
    lat1, lon1 = F.radians(F.col("lat")), F.radians(F.col("lon"))
    lat2, lon2 = F.radians(F.lit(48.2082)), F.radians(F.lit(16.3738))
    a = (
        F.sin((lat2 - lat1) / 2) * F.sin((lat2 - lat1) / 2)
        + F.cos(lat1) * F.cos(lat2)
        * F.sin((lon2 - lon1) / 2) * F.sin((lon2 - lon1) / 2)
    )
    dist = F.lit(2.0 * 6371.0) * F.asin(F.sqrt(a))
    return d.select(
        "doc_id", F.round(dist, 6).alias("dist_km")
    ).filter(F.col("dist_km") < 500)


SQL_HAVERSINE_TO_VIENNA = f"""
WITH pts AS (
  SELECT doc_id,
         RADIANS({_oracle.LAT_SQL}) AS lat1,
         RADIANS({_oracle.LON_SQL}) AS lon1,
         RADIANS(48.2082) AS lat2, RADIANS(16.3738) AS lon2
  FROM documents
),
dists AS (
  SELECT doc_id,
         ROUND(2.0 * 6371.0 * ASIN(SQRT(
           SIN((lat2 - lat1) / 2) * SIN((lat2 - lat1) / 2)
           + COS(lat1) * COS(lat2)
             * SIN((lon2 - lon1) / 2) * SIN((lon2 - lon1) / 2)
         )), 6) AS dist_km
  FROM pts
)
SELECT doc_id, dist_km FROM dists WHERE dist_km < 500
"""


def q_small_quantity_revenue(spark, sf_dir):
    """Correlated-subquery shape (TPC-H Q17): revenue of lineitems whose
    quantity is below 50% of the per-part average — expressed as join
    against the per-part aggregate (Catalyst's decorrelated form)."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        li.join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_SMALL_QUANTITY_REVENUE = """
SELECT ROUND(SUM(l_extendedprice), 4) AS revenue, COUNT(*) AS n_lines
FROM lineitem l
WHERE l_quantity < (
  SELECT AVG(l_quantity) * 0.5 FROM lineitem i
  WHERE i.l_partkey = l.l_partkey
)
"""


def relational_queries():
    return {
        "filter_project": (q_filter_project, SQL_FILTER_PROJECT),
        "agg_pricing_summary": (q_agg_pricing_summary, SQL_AGG_PRICING_SUMMARY),
        "rollup_region_nation": (q_rollup_region_nation, SQL_ROLLUP_REGION_NATION),
        "cube_status_priority": (q_cube_status_priority, SQL_CUBE_STATUS_PRIORITY),
        "distinct_customers": (q_distinct_customers, SQL_DISTINCT_CUSTOMERS),
        "approx_distinct": (q_approx_distinct, SQL_APPROX_DISTINCT),
        "approx_quantiles": (q_approx_quantiles, SQL_APPROX_QUANTILES),
        "broadcast_join_brand_volume": (
            q_broadcast_join_brand_volume, SQL_BROADCAST_JOIN_BRAND_VOLUME),
        "multi_join_revenue_by_region": (
            q_multi_join_revenue_by_region, SQL_MULTI_JOIN_REVENUE_BY_REGION),
        "semi_join": (q_semi_join, SQL_SEMI_JOIN),
        "anti_join": (q_anti_join, SQL_ANTI_JOIN),
        "range_join": (q_range_join, SQL_RANGE_JOIN),
        "asof_latest_event": (q_asof_latest_event, SQL_ASOF_LATEST_EVENT),
        "sessionize": (q_sessionize, SQL_SESSIONIZE),
        "hourly_gapfill": (q_hourly_gapfill, SQL_HOURLY_GAPFILL),
        "window_topn_orders": (q_window_topn_orders, SQL_WINDOW_TOPN_ORDERS),
        "window_lag_delta": (q_window_lag_delta, SQL_WINDOW_LAG_DELTA),
        "window_rolling_sum": (q_window_rolling_sum, SQL_WINDOW_ROLLING_SUM),
        "global_topk": (q_global_topk, SQL_GLOBAL_TOPK),
        "set_ops": (q_set_ops, SQL_SET_OPS),
        "scalar_functions": (q_scalar_functions, SQL_SCALAR_FUNCTIONS),
        "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
        "grouping_sets": (q_grouping_sets, SQL_GROUPING_SETS),
        "pivot_status_by_priority": (
            q_pivot_status_by_priority, SQL_PIVOT_STATUS_BY_PRIORITY),
        "window_distribution": (q_window_distribution, SQL_WINDOW_DISTRIBUTION),
        "top_tokens": (q_top_tokens, SQL_TOP_TOKENS),
        "haversine_to_vienna": (q_haversine_to_vienna, SQL_HAVERSINE_TO_VIENNA),
        "small_quantity_revenue": (
            q_small_quantity_revenue, SQL_SMALL_QUANTITY_REVENUE),
    }
