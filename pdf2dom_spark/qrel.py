"""Relational / events / TPC-H-analog driver gates: the DataFrame
shapes (broadcast joins, windows, rollups, range joins, percentiles) the
LLM-data pipeline composes with. Split out of queries.py (VERDICT r4
#9)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .qshared import make_reg

REGISTRY: dict = {}
ORACLES: dict[str, str] = {}
_reg = make_reg(REGISTRY, ORACLES)

# ---------------------------------------------------------------------------
# 3. relational shapes the pipeline relies on
# ---------------------------------------------------------------------------

# broadcast dim join (font-table lookup analog; SURVEY.md §2.h "Joins")
@_reg("broadcast_dim_join", """
SELECT p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""")
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    return (li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
            .groupBy(F.col("p_brand").alias("brand"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(F.floor(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100 + 0.5)
                       .cast("long")).cast("long").alias("revenue_cents")))


# checkpoint-resume anti-join shape (SURVEY.md §2.h)
@_reg("anti_join_pending", """
SELECT o.o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_pending
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
GROUP BY o.o_orderpriority
""")
def anti_join_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count(F.lit(1)).alias("n_pending")))


# row_number de-dup naming (F1 usedName analog; FontTable.java:77-88)
@_reg("window_rownum_dedup", """
WITH r AS (
  SELECT p_brand, CAST(p_partkey AS BIGINT) AS p_partkey,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rn
  FROM part
)
SELECT p_brand AS brand, p_partkey,
       CASE WHEN rn = 1 THEN p_brand ELSE p_brand || CAST(rn - 1 AS VARCHAR) END AS used_name
FROM r WHERE rn <= 3
""")
def window_rownum_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    win = Window.partitionBy("p_brand").orderBy("p_partkey")
    r = pt.select("p_brand", F.col("p_partkey").cast("long").alias("p_partkey"),
                  F.row_number().over(win).alias("rn"))
    used = F.when(F.col("rn") == 1, F.col("p_brand")).otherwise(
        F.concat(F.col("p_brand"), (F.col("rn") - 1).cast("string")))
    return r.where(F.col("rn") <= 3).select(
        F.col("p_brand").alias("brand"), "p_partkey", used.alias("used_name"))


# sessionization over the events stream table: the same gaps-and-islands
# shape as the T1 chunk merge, keyed by time gap instead of x-distance
# (SURVEY.md §2.h notes T1 is semantically a session window). In Structured
# Streaming this is session_window(); here it is the batch-backfill form.
@_reg("sessionize_events", """
WITH g AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, ts, value, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       CAST(MIN(FLOOR(epoch(ts))) AS BIGINT) AS start_epoch,
       CAST(MAX(FLOOR(epoch(ts))) AS BIGINT) AS end_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS total_value_milli
FROM s GROUP BY user_id, session_id
""")
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value",
        "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull()
               | ((F.unix_timestamp("ts")
                   - F.unix_timestamp(F.lag("ts").over(w))) > 1800),
               1).otherwise(0))
    cur = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    s = g.withColumn("session_id", F.sum("new_session").over(cur).cast("int"))
    return s.groupBy("user_id", "session_id").agg(
        F.min(F.unix_timestamp("ts")).alias("start_epoch"),
        F.max(F.unix_timestamp("ts")).alias("end_epoch"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000 + 0.5).cast("long"))
        .cast("long").alias("total_value_milli"))


# top-k per group (rank window; §2.h sort/limit/top-k beyond global knn)
@_reg("topk_per_group", """
WITH r AS (
  SELECT o_custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT CAST(o_custkey AS BIGINT) AS custkey, o_orderkey,
       ROUND(o_totalprice, 2) AS price, CAST(rn AS INT) AS rn
FROM r WHERE rn <= 2
""")
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    win = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") <= 2)
            .select(F.col("o_custkey").cast("long").alias("custkey"),
                    F.col("o_orderkey").cast("long").alias("o_orderkey"),
                    F.round("o_totalprice", 2).alias("price"),
                    F.col("rn").cast("int").alias("rn")))


# set operations (§2.h): intersect/except over key sets
@_reg("set_ops_customers", """
SELECT CAST(c AS BIGINT) AS custkey, tag FROM (
  SELECT o_custkey AS c, 'both' AS tag FROM orders
  INTERSECT
  SELECT c_custkey AS c, 'both' AS tag FROM customer
  UNION ALL
  SELECT * FROM (
    SELECT c_custkey AS c, 'no_orders' AS tag FROM customer
    EXCEPT
    SELECT o_custkey AS c, 'no_orders' AS tag FROM orders)
)
""")
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("c"))
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("c"))
    both = o.intersect(c).withColumn("tag", F.lit("both"))
    none = c.exceptAll(o).distinct().withColumn("tag", F.lit("no_orders"))
    return both.unionByName(none).select(
        F.col("c").cast("long").alias("custkey"), "tag")


# rect recognition as a relational op (G9; PDFBoxTree.java:325-348):
# synthesize 4-segment paths from events, test 2-distinct-x / 2-distinct-y
@_reg("rect_detect", """
WITH seg AS (
  SELECT CAST(event_id // 4 AS BIGINT) AS path_id,
         CAST(event_id % 4 AS INT) AS seg_no,
         -- even paths form axis-aligned rects, odd paths get a slanted edge
         CAST(CASE event_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 60
              WHEN 2 THEN 60 ELSE 10 END
              + CASE WHEN event_id % 8 >= 4 AND event_id % 4 = 1
                     THEN 5 ELSE 0 END AS DOUBLE) AS x1,
         CAST(CASE event_id % 4 WHEN 0 THEN 20 WHEN 1 THEN 20
              WHEN 2 THEN 90 ELSE 90 END AS DOUBLE) AS y1
  FROM events
),
p AS (
  SELECT path_id,
         COUNT(DISTINCT x1) AS nx, COUNT(DISTINCT y1) AS ny,
         MIN(x1) AS minx, MIN(y1) AS miny, MAX(x1) AS maxx, MAX(y1) AS maxy,
         COUNT(*) AS nseg
  FROM seg GROUP BY path_id
)
SELECT path_id,
       (nseg = 4 AND nx = 2 AND ny = 2) AS is_rect,
       CASE WHEN nseg = 4 AND nx = 2 AND ny = 2 THEN minx END AS rx,
       CASE WHEN nseg = 4 AND nx = 2 AND ny = 2 THEN miny END AS ry,
       CASE WHEN nseg = 4 AND nx = 2 AND ny = 2 THEN maxx - minx END AS rw,
       CASE WHEN nseg = 4 AND nx = 2 AND ny = 2 THEN maxy - miny END AS rh
FROM p
""")
def rect_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    x_base = (F.when(F.col("event_id") % 4 == 0, 10)
               .when(F.col("event_id") % 4 == 1, 60)
               .when(F.col("event_id") % 4 == 2, 60).otherwise(10))
    x_skew = F.when((F.col("event_id") % 8 >= 4)
                    & (F.col("event_id") % 4 == 1), 5).otherwise(0)
    y_base = (F.when(F.col("event_id") % 4 == 0, 20)
               .when(F.col("event_id") % 4 == 1, 20)
               .when(F.col("event_id") % 4 == 2, 90).otherwise(90))
    seg = ev.select(
        (F.col("event_id") / 4).cast("long").alias("path_id"),
        (F.col("event_id") % 4).cast("int").alias("seg_no"),
        (x_base + x_skew).cast("double").alias("x1"),
        y_base.cast("double").alias("y1"))
    p = seg.groupBy("path_id").agg(
        F.countDistinct("x1").alias("nx"), F.countDistinct("y1").alias("ny"),
        F.min("x1").alias("minx"), F.min("y1").alias("miny"),
        F.max("x1").alias("maxx"), F.max("y1").alias("maxy"),
        F.count(F.lit(1)).alias("nseg"))
    is_rect = (F.col("nseg") == 4) & (F.col("nx") == 2) & (F.col("ny") == 2)
    return p.select(
        "path_id", is_rect.alias("is_rect"),
        F.when(is_rect, F.col("minx")).alias("rx"),
        F.when(is_rect, F.col("miny")).alias("ry"),
        F.when(is_rect, F.col("maxx") - F.col("minx")).alias("rw"),
        F.when(is_rect, F.col("maxy") - F.col("miny")).alias("rh"))


# tumbling-window aggregation, batch form (the streaming twin in
# streaming.windowed_event_counts runs the same shape under a watermark;
# this registers the cross-engine value gate for it)
@_reg("tumbling_window_counts", """
SELECT CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_milli
FROM events GROUP BY 1, 2
""")
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy(
        F.window(F.col("ts").cast("timestamp"), "10 minutes").alias("win"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.floor(F.col("value") * 1000 + 0.5).cast("long"))
             .cast("long").alias("total_milli"))
        .select(F.unix_timestamp("win.start").alias("win_start"),
                "event_type", "n", "total_milli"))


# stream-stream interval join, batch form (the streaming twin in
# streaming.stream_stream_click_purchase_join runs the same predicate
# under two watermarks; tests/test_streaming.py pins streamed == batch,
# and this registers the cross-engine value gate on the shared semantics:
# click x purchase by the same user within the preceding hour)
@_reg("interval_join_events", """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS c_user,
       -- FLOOR before the cast: epoch() is fractional and CAST rounds,
       -- while Spark's unix_timestamp truncates
       CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS c_epoch,
       CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS p_epoch,
       CAST(FLOOR(p.value * 1000 + 0.5) AS BIGINT) AS p_milli
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
""")
def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("c_ts")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("p_ts"),
                         F.floor(F.col("value") * 1000 + 0.5).cast("long")
                         .alias("p_milli")))
    return (clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("c_ts")))
        .select("click_id", "purchase_id", "c_user",
                F.unix_timestamp("c_ts").alias("c_epoch"),
                F.unix_timestamp("p_ts").alias("p_epoch"), "p_milli"))


# The literal spark.sql(...) API surface: the classic TPC-H Q1 pricing
# summary expressed as ONE SQL text over a temp view — identical ANSI SQL
# runs on both engines (fixed-point sums keep the floats exact; count-only
# averages avoid cross-engine float division order).
_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_qty_c,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS sum_base_c,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR((1 - l_discount) * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS sum_disc_price_c4,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR((1 - l_discount) * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR((1 + l_tax) * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS sum_charge_c6,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2024-09-02'
GROUP BY l_returnflag, l_linestatus
"""

@_reg("tpch_q1_pricing", _Q1_SQL)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    return spark.sql(_Q1_SQL)


# TPC-H Q3 analog (shipping-priority top-k): selective filters pushed to
# all three scans, lineitem⋈orders shuffle join, the filtered BUILDING
# customer keys broadcast, then a hash agg and an exact fixed-point
# top-10 (Q1's FLOOR(x*100+0.5) centi-unit idiom — integer revenue makes
# the cross-engine ranking ulp-proof; a double SUM's addend order could
# flip ties). At 100 TB: the two date filters prune most of both fact
# scans before the only big shuffle, and the top-10 is a
# TakeOrderedAndProject (per-partition heaps, no global sort).
_REV_C4 = ("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
           " * CAST(FLOOR((1 - l_discount) * 100 + 0.5) AS BIGINT)")

@_reg("tpch_q3_shipping", f"""
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(SUM({_REV_C4}) AS BIGINT) AS revenue_c4
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue_c4 DESC, l_orderkey
LIMIT 10
""")
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .where(F.col("o_orderdate")
                     < F.lit("1998-06-01").cast("timestamp"))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .where(F.col("l_shipdate")
                 > F.lit("1998-06-01").cast("timestamp"))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    rev = (F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
           * F.floor((1 - F.col("l_discount")) * 100 + 0.5).cast("long"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum(rev).cast("long").alias("revenue_c4"))
            .select(F.col("l_orderkey").cast("long").alias("l_orderkey"),
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"),
                    "revenue_c4")
            .orderBy(F.desc("revenue_c4"), "l_orderkey")
            .limit(10))


# TPC-H Q5 analog (local-supplier volume): the canonical
# big-facts × tiny-dims shape — region (5 rows) and nation (25 rows)
# BROADCAST so the region restriction prunes both key-joins without a
# shuffle; customer⋈orders⋈lineitem⋈supplier shuffle on their keys; the
# c_nationkey = s_nationkey "local" predicate rides the join. Exact
# centi-unit revenue as in Q1/Q3.
@_reg("tpch_q5_local_supplier", f"""
SELECT n_name, CAST(SUM({_REV_C4}) AS BIGINT) AS revenue_c4
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""")
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey")
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .where((F.col("o_orderdate")
                      >= F.lit("1996-01-01").cast("timestamp"))
                     & (F.col("o_orderdate")
                        < F.lit("1997-01-01").cast("timestamp")))
              .select("o_orderkey", "o_custkey"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey")
    reg = (spark.read.parquet(f"{sf_dir}/region.parquet")
           .where(F.col("r_name") == "ASIA").select("r_regionkey"))
    rev = (F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
           * F.floor((1 - F.col("l_discount")) * 100 + 0.5).cast("long"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp, (li.l_suppkey == supp.s_suppkey)
                  & (cust.c_nationkey == supp.s_nationkey))
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .groupBy("n_name")
            .agg(F.sum(rev).cast("long").alias("revenue_c4")))


# TPC-H Q10 analog (returned-item reporting): a quarter's returned
# lineitems joined to their customers, top 20 by lost revenue. Plan shape:
# the o_orderdate quarter filter and the l_returnflag filter both push to
# the fact scans, lineitem⋈orders shuffles on the orderkey, customer joins
# on custkey, the 25-row nation broadcast-decorates, and the top-20 is a
# TakeOrderedAndProject. Exact centi-unit revenue (Q1 idiom).
@_reg("tpch_q10_returns", f"""
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, n_name,
       CAST(SUM({_REV_C4}) AS BIGINT) AS revenue_c4
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_c4 DESC, c_custkey
LIMIT 20
""")
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey")
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .where((F.col("o_orderdate")
                      >= F.lit("1997-01-01").cast("timestamp"))
                     & (F.col("o_orderdate")
                        < F.lit("1997-04-01").cast("timestamp")))
              .select("o_orderkey", "o_custkey"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .where(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name")
    rev = (F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
           * F.floor((1 - F.col("l_discount")) * 100 + 0.5).cast("long"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(rev).cast("long").alias("revenue_c4"))
            .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                    "c_name", "n_name", "revenue_c4")
            .orderBy(F.desc("revenue_c4"), "c_custkey")
            .limit(20))


# TPC-H Q18 analog (large-volume orders): the self-semi-join shape — an
# aggregate over the biggest fact produces the qualifying keys, which
# then SEMI-join the same fact plus its dimensions. Quantities are stored
# integral, so summing them as BIGINT keeps the cross-engine ranking
# exact. At 100 TB the HAVING aggregate is map-side combinable and its
# survivor set is tiny by construction (the HAVING threshold), so the
# key list rides a broadcast into all three probe joins.
@_reg("tpch_q18_large_orders", """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                     HAVING SUM(CAST(l_quantity AS BIGINT)) > 140)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_custkey, o_orderkey, o_orderdate
ORDER BY total_qty DESC, o_orderkey
LIMIT 50
""")
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty"))
    big_keys = (li.groupBy("l_orderkey")
                .agg(F.sum("qty").alias("tq"))
                .where(F.col("tq") > 140).select("l_orderkey"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey")
    return (li.join(F.broadcast(big_keys), "l_orderkey")
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_custkey", "o_orderkey", "o_orderdate")
            .agg(F.sum("qty").alias("total_qty"))
            .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                    F.col("o_orderkey").cast("long").alias("o_orderkey"),
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"),
                    "total_qty")
            .orderBy(F.desc("total_qty"), "o_orderkey")
            .limit(50))


@_reg("value_moments", """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_milli,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)
                * CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_sq_milli
FROM events GROUP BY event_type
""")
def value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("vm"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").cast("long").alias("sum_milli"),
        F.sum(F.col("vm") * F.col("vm")).cast("long").alias("sum_sq_milli"))


# semi-structured (JSON) extraction: the events.props column is a JSON
# blob; extract a typed field and aggregate — Spark get_json_object vs
# DuckDB json_extract.
@_reg("json_extract_props", """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
           AS k_sum,
       CAST(MAX(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS k_max,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""")
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.sum("k").cast("long").alias("k_sum"),
                 F.max("k").cast("int").alias("k_max"),
                 F.count(F.lit(1)).alias("n")))


# frame-bounded windows: 5-row moving sum (ROWS BETWEEN 4 PRECEDING AND
# CURRENT ROW) + ntile quartiles per event_type — quantized inputs keep
# the frame sum exact under any within-frame summation order.
@_reg("window_frames", """
SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT))
            OVER (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS mov_sum_milli,
       CAST(NTILE(4) OVER (PARTITION BY event_type ORDER BY ts, event_id)
            AS INT) AS quartile
FROM events
""")
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").cast("long").alias("event_id"), "event_type",
        "ts", F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("vm"))
    order = Window.partitionBy("event_type").orderBy("ts", "event_id")
    frame = order.rowsBetween(-4, Window.currentRow)
    return ev.select(
        "event_id", "event_type",
        F.sum("vm").over(frame).cast("long").alias("mov_sum_milli"),
        F.ntile(4).over(order).cast("int").alias("quartile"))


# sliding (hopping) windows: width 10 min, slide 5 min — every event lands
# in exactly TWO overlapping windows. Spark's native F.window(w, s) emits
# the duplication internally; the oracle reproduces it with an explicit
# 2-element window-start unnest per event.
@_reg("sliding_window_counts", """
WITH e AS (
  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep, event_type,
         CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm
  FROM events
),
x AS (
  SELECT ep, event_type, vm,
         unnest([(ep // 300) * 300 - 300, (ep // 300) * 300]) AS win_start
  FROM e
)
SELECT CAST(win_start AS BIGINT) AS win_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(vm) AS BIGINT) AS total_milli
FROM x WHERE ep >= win_start AND ep < win_start + 600
GROUP BY 1, 2
""")
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy(
        F.window(F.col("ts").cast("timestamp"),
                 "10 minutes", "5 minutes").alias("win"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.floor(F.col("value") * 1000 + 0.5).cast("long"))
             .cast("long").alias("total_milli"))
        .select(F.unix_timestamp("win.start").alias("win_start"),
                "event_type", "n", "total_milli"))


# as-of join (task brief: "an operator Spark lacks — e.g., as-of join" —
# expressed as a composition of existing DataFrame ops): for every 'click'
# event, the latest 'purchase' value by the same user at ts <= click ts.
# Spark has no ASOF JOIN; the union + last(ignorenulls) window is the
# standard composition — ONE shuffle on user_id, no range join explosion.
# DuckDB verifies with its native ASOF LEFT JOIN. Purchases are pre-
# aggregated per (user, ts) so ties are deterministic on both engines.
@_reg("asof_join_events", """
WITH clicks AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, ts,
         CAST(event_id AS BIGINT) AS event_id
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, ts,
         CAST(FLOOR(MAX(value) * 1000 + 0.5) AS BIGINT) AS pvalue_milli
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.user_id, c.event_id, p.pvalue_milli AS last_purchase_milli
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""")
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").cast("long").alias("user_id"), "ts",
        F.col("event_id").cast("long").alias("event_id"))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .groupBy(F.col("user_id").cast("long").alias("user_id"), "ts")
                 .agg(F.floor(F.max("value") * 1000 + 0.5).cast("long")
                      .alias("pvalue_milli")))
    # tag and union; at equal ts the purchase sorts first (is_click=0) so
    # 'ts >= p.ts' inclusivity matches the ASOF semantics
    u = (clicks.select("user_id", "ts", F.lit(1).alias("is_click"),
                       "event_id", F.lit(None).cast("long").alias("pv"))
         .unionByName(purchases.select(
             "user_id", "ts", F.lit(0).alias("is_click"),
             F.lit(None).cast("long").alias("event_id"),
             F.col("pvalue_milli").alias("pv"))))
    w = (Window.partitionBy("user_id").orderBy("ts", "is_click")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = u.withColumn("last_pv", F.last("pv", ignorenulls=True).over(w))
    return (carried.where(F.col("is_click") == 1)
            .select("user_id", "event_id",
                    F.col("last_pv").alias("last_purchase_milli")))


# rollup aggregation (multi-level hypertable-style summary in one pass:
# grouping-set partial aggregation, no per-level re-scan)
@_reg("events_rollup", """
SELECT event_type,
       CAST(CASE WHEN GROUPING(user_id % 10) = 1 THEN NULL
            ELSE user_id % 10 END AS BIGINT) AS user_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_milli,
       CAST(GROUPING(event_type) * 2 + GROUPING(user_id % 10) AS INT)
           AS grouping_lvl
FROM events
GROUP BY ROLLUP(event_type, user_id % 10)
""")
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", (F.col("user_id") % 10).alias("user_bucket"),
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("milli"))
    return (ev.rollup("event_type", "user_bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("milli").cast("long").alias("total_milli"),
                 (F.grouping("event_type") * 2
                  + F.grouping("user_bucket")).cast("int")
                 .alias("grouping_lvl"))
            .select("event_type",
                    F.col("user_bucket").cast("long").alias("user_bucket"),
                    "n", "total_milli", "grouping_lvl"))


# Salted skew join: the large-x-large join with hot keys that neither
# broadcast (both sides big) nor plain SMJ (one task per hot key drowns)
# survives. Fact rows carry a uniform salt pmod(xxhash64(id), S); the other
# side replicates S-fold with explode(sequence(0, S-1)); joining on
# (key, salt) splits every hot key across S tasks. Results are identical to
# the unsalted join — the oracle IS the plain join — and the fixed-point
# product terms keep the checksum order-independent. Forced .hint("merge")
# so the gate exercises the shuffle path, not a broadcast.
_SALT_S = 8

@_reg("skew_salted_join", """
WITH f AS (
  SELECT user_id % 5 AS k,
         CAST(FLOOR(value + 0.5) AS BIGINT) AS vq
  FROM events
),
d AS (
  SELECT o_custkey % 5 AS k,
         CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS pq
  FROM orders
)
SELECT CAST(f.k AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(f.vq * d.pq) AS BIGINT) AS product_sum
FROM f JOIN d ON f.k = d.k
GROUP BY f.k
""")
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fact = ev.select(
        (F.col("user_id") % 5).alias("k"),
        F.floor(F.col("value") + 0.5).cast("long").alias("vq"),
        F.pmod(F.xxhash64("event_id"), F.lit(_SALT_S)).cast("int")
        .alias("salt"))
    dim = orders.select(
        (F.col("o_custkey") % 5).alias("k"),
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("pq"),
        F.explode(F.sequence(F.lit(0), F.lit(_SALT_S - 1))).alias("salt"))
    joined = fact.hint("merge").join(dim, ["k", "salt"])
    return joined.groupBy(F.col("k").cast("long").alias("k")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("vq") * F.col("pq")).cast("long").alias("product_sum"))


# DOM-heuristic outline: the reference's DOM implies a heading hierarchy
# (font-size tiers -> h1/h2/body); this operator rebuilds the document
# outline from a span stream — classify each span by size tier, then
# assign hierarchical section numbers with two running counts (the same
# gaps-and-islands window machinery as the chunk merge). Span stream is
# synthesized deterministically per doc (12 spans, integer-math sizes) so
# the oracle is closed-form.
@_reg("doc_outline", """
WITH s AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, i AS idx,
         CASE (doc_id * 7 + i * 3) % 7
              WHEN 0 THEN 24 WHEN 1 THEN 18 ELSE 10 END AS font_size
  FROM documents, (SELECT unnest(generate_series(0, 11)) AS i)
),
lv AS (
  SELECT doc_id, idx, font_size,
         CASE font_size WHEN 24 THEN 1 WHEN 18 THEN 2 ELSE 0 END AS level
  FROM s
)
SELECT doc_id, CAST(idx AS INT) AS idx, CAST(font_size AS INT) AS font_size,
       CAST(level AS INT) AS level,
       CAST(SUM(CASE WHEN level = 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY idx) AS INT) AS section,
       CAST(SUM(CASE WHEN level = 2 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY idx) AS INT) AS subsection
FROM lv
""")
def doc_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"))
    s = d.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(11)))
                 .alias("idx"))
    size = (F.when((F.col("doc_id") * 7 + F.col("idx") * 3) % 7 == 0, 24)
             .when((F.col("doc_id") * 7 + F.col("idx") * 3) % 7 == 1, 18)
             .otherwise(10))
    s = s.withColumn("font_size", size)
    level = (F.when(F.col("font_size") == 24, 1)
              .when(F.col("font_size") == 18, 2).otherwise(0))
    s = s.withColumn("level", level)
    w = Window.partitionBy("doc_id").orderBy("idx")
    return s.select(
        "doc_id", F.col("idx").cast("int").alias("idx"),
        F.col("font_size").cast("int").alias("font_size"),
        F.col("level").cast("int").alias("level"),
        F.sum(F.when(F.col("level") == 1, 1).otherwise(0)).over(w)
         .cast("int").alias("section"),
        F.sum(F.when(F.col("level") == 2, 1).otherwise(0)).over(w)
         .cast("int").alias("subsection"))


# pivot: long->wide per-type counts (Spark .pivot with an explicit value
# list so the plan is a single pass — no extra distinct-scan job; oracle is
# the equivalent conditional-aggregate form)
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

@_reg("pivot_event_counts", f"""
SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
       {', '.join(
           "CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
           "AS BIGINT) AS n_{t}".format(t=t) for t in _EVENT_TYPES)}
FROM events GROUP BY 1
""")
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("user_id") % 10).alias("user_bucket"), "event_type")
    wide = (ev.groupBy("user_bucket")
            .pivot("event_type", _EVENT_TYPES)
            .agg(F.count(F.lit(1))))
    # pivot leaves NULL for empty cells; counts must read 0
    return wide.select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
          for t in _EVENT_TYPES])


# exact percentiles (linear interpolation — Spark `percentile` and DuckDB
# `quantile_cont` share the definition; fixed-point for cross-engine parity)
@_reg("percentile_value", """
SELECT event_type,
       CAST(FLOOR(quantile_cont(value, 0.25) * 1000 + 0.5) AS BIGINT) AS p25_milli,
       CAST(FLOOR(quantile_cont(value, 0.50) * 1000 + 0.5) AS BIGINT) AS p50_milli,
       CAST(FLOOR(quantile_cont(value, 0.75) * 1000 + 0.5) AS BIGINT) AS p75_milli
FROM events GROUP BY event_type
""")
def percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy("event_type").agg(
        F.percentile("value", 0.25).alias("q1"),
        F.percentile("value", 0.50).alias("q2"),
        F.percentile("value", 0.75).alias("q3"))
    return agg.select(
        "event_type",
        F.floor(F.col("q1") * 1000 + 0.5).cast("long").alias("p25_milli"),
        F.floor(F.col("q2") * 1000 + 0.5).cast("long").alias("p50_milli"),
        F.floor(F.col("q3") * 1000 + 0.5).cast("long").alias("p75_milli"))


# histogram binning: explicit floor arithmetic (not width_bucket — its edge
# conventions differ across engines), clamped to [0, nbins+1] like the SQL
# width_bucket contract (underflow 0, overflow nbins+1)
_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 500.0, 20

@_reg("histogram_value", f"""
WITH b AS (
  SELECT CASE WHEN value < {_HIST_LO} THEN 0
              WHEN value >= {_HIST_HI} THEN {_HIST_BINS} + 1
              ELSE CAST(FLOOR((value - {_HIST_LO})
                   / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS})) AS INT) + 1
         END AS bucket
  FROM events
)
SELECT CAST(bucket AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY 1
""")
def histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    step = (_HIST_HI - _HIST_LO) / _HIST_BINS
    bucket = (F.when(F.col("value") < _HIST_LO, 0)
               .when(F.col("value") >= _HIST_HI, _HIST_BINS + 1)
               .otherwise(F.floor((F.col("value") - _HIST_LO) / step)
                          .cast("int") + 1))
    return (ev.select(bucket.cast("int").alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))


# correlated EXISTS (semi-join): pairs with the anti-join resume shape;
# Spark expresses it as a left_semi hash join (broadcast when the filtered
# orders side is small)
@_reg("exists_semi_join", """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 400000)
""")
def exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_totalprice") > 400000)
    return (cust.join(orders, cust.c_custkey == orders.o_custkey,
                      "left_semi")
            .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                    "c_name"))


# Bucketized range join (interval containment): the naive non-equi join is
# a nested loop (O(N*W) compares, BroadcastNestedLoop in Spark). The scale
# path bins the time axis: each window explodes into its <=6 covering
# 1-hour bins, events carry their single bin, and an EQUI-join on the bin
# plus an exact containment post-filter finds the same pairs — shuffle-
# partitionable, skew-free, no nested loop. Each (event, window) pair
# matches in exactly one bin (the event's), so no dedup is needed.
# The oracle is the plain BETWEEN join.
_RJ_T0 = 1704067200  # 2024-01-01 00:00:00 UTC, the corpus epoch

@_reg("range_join_events", f"""
WITH w AS (
  SELECT CAST(n_nationkey AS INT) AS window_id,
         {_RJ_T0} + n_nationkey * 100800 AS start_epoch,
         {_RJ_T0} + n_nationkey * 100800
             + (n_nationkey % 5 + 1) * 3600 AS end_epoch
  FROM nation
)
SELECT w.window_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_value_milli
FROM w JOIN events e
  ON FLOOR(epoch(e.ts)) >= w.start_epoch
 AND FLOOR(epoch(e.ts)) < w.end_epoch
GROUP BY w.window_id
""")
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    w = nation.select(
        F.col("n_nationkey").cast("int").alias("window_id"),
        (F.lit(_RJ_T0) + F.col("n_nationkey") * 100800).alias("start_epoch"),
        (F.lit(_RJ_T0) + F.col("n_nationkey") * 100800
         + (F.col("n_nationkey") % 5 + 1) * 3600).alias("end_epoch"))
    wb = w.withColumn(
        "bin", F.explode(F.sequence(
            F.floor(F.col("start_epoch") / 3600),
            F.floor((F.col("end_epoch") - 1) / 3600))))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.unix_timestamp("ts").alias("e_epoch"),
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("vm"))
    ev = ev.withColumn("bin", F.floor(F.col("e_epoch") / 3600))
    joined = (ev.join(wb, "bin")
              .where((F.col("e_epoch") >= F.col("start_epoch"))
                     & (F.col("e_epoch") < F.col("end_epoch"))))
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vm").cast("long").alias("total_value_milli"))


# Hypertable-style multi-resolution rollup cascade: minutely -> hourly ->
# daily continuous aggregates where each coarser level derives from the
# FINER AGGREGATE, not a re-scan — the TimescaleDB continuous-aggregate /
# streaming-rollup shape. At 100 TB the raw table is touched once; the
# cascade reuses the (tiny) minutely result twice, and counts/sums are
# decomposable so the derivation is exact. One tagged union returns all
# three resolutions; the oracle computes each level directly from raw.
@_reg("rollup_cascade", """
WITH m AS (
  -- NOTE: DuckDB's // on DOUBLE is plain division, so floor explicitly
  SELECT CAST(FLOOR(FLOOR(epoch(ts)) / 60) AS BIGINT) * 60 AS bucket_epoch,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS vm
  FROM events GROUP BY 1
),
h AS (
  SELECT CAST(FLOOR(bucket_epoch / 3600) AS BIGINT) * 3600 AS bucket_epoch,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(vm) AS BIGINT) AS vm
  FROM m GROUP BY 1
),
d AS (
  SELECT CAST(FLOOR(bucket_epoch / 86400) AS BIGINT) * 86400 AS bucket_epoch,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(vm) AS BIGINT) AS vm
  FROM h GROUP BY 1
)
SELECT 'minute' AS res, CAST(bucket_epoch AS BIGINT) AS bucket_epoch, n, vm FROM m
UNION ALL
SELECT 'hour', CAST(bucket_epoch AS BIGINT), n, vm FROM h
UNION ALL
SELECT 'day', CAST(bucket_epoch AS BIGINT), n, vm FROM d
""")
def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.unix_timestamp("ts").alias("e"),
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("vm"))
    minute = (ev.groupBy(((F.col("e") / 60).cast("long") * 60)
                         .alias("bucket_epoch"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("vm").cast("long").alias("vm")))
    # one materialization: hourly and the union both reuse the minutely
    # aggregate (without it Spark recomputes the raw scan per branch)
    minute = minute.localCheckpoint(eager=True)
    hour = (minute.groupBy(((F.col("bucket_epoch") / 3600).cast("long")
                            * 3600).alias("bucket_epoch"))
            .agg(F.sum("n").cast("long").alias("n"),
                 F.sum("vm").cast("long").alias("vm")))
    hour = hour.localCheckpoint(eager=True)
    day = (hour.groupBy(((F.col("bucket_epoch") / 86400).cast("long")
                         * 86400).alias("bucket_epoch"))
           .agg(F.sum("n").cast("long").alias("n"),
                F.sum("vm").cast("long").alias("vm")))
    tag = lambda df, r: df.select(
        F.lit(r).alias("res"), F.col("bucket_epoch").cast("long"),
        "n", "vm")
    return tag(minute, "minute").unionByName(tag(hour, "hour")).unionByName(
        tag(day, "day"))


# CUBE grouping sets (the ROLLUP twin: all 2^k grouping combinations)
@_reg("events_cube", """
SELECT event_type,
       CAST(CASE WHEN GROUPING(user_id % 10) = 1 THEN NULL
            ELSE user_id % 10 END AS BIGINT) AS user_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(event_type) * 2 + GROUPING(user_id % 10) AS INT)
           AS grouping_lvl
FROM events
GROUP BY CUBE(event_type, user_id % 10)
""")
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", (F.col("user_id") % 10).alias("user_bucket"))
    return (ev.cube("event_type", "user_bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.grouping("event_type") * 2
                  + F.grouping("user_bucket")).cast("int")
                 .alias("grouping_lvl"))
            .select("event_type",
                    F.col("user_bucket").cast("long").alias("user_bucket"),
                    "n", "grouping_lvl"))


# lineage aggregation shape (per-partition counters + checksums)
@_reg("lineage_agg", """
SELECT CAST(doc_id % 16 AS INT) AS part_id,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(md5(text)) AS checksum_lo, MAX(md5(text)) AS checksum_hi
FROM documents GROUP BY 1
""")
def lineage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # digest projected once; min+max aggregates share it
    d = d.select("doc_id", "n_chars", F.md5("text").alias("h"))
    return (d.groupBy((F.col("doc_id") % 16).cast("int").alias("part_id"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.min("h").alias("checksum_lo"),
                 F.max("h").alias("checksum_hi")))


