"""Relational core (SURVEY.md §2 M1): scans, filters, the full join
suite J1–J8, aggregations A1–A4, window functions, sort/limit/top-k,
set ops, and the scalar-function surface — each with a DuckDB oracle.

Conventions:
- Every computed column is aliased identically in Spark and oracle SQL.
- Float aggregates are rounded (2 or 4 dp) on BOTH sides so the driver's
  value hash is stable against summation-order differences.
- DuckDB ``sum(INTEGER)`` returns HUGEINT — integer sums are cast to
  BIGINT in the oracle to match Spark's LongType.

Scale notes: all joins below go through Catalyst — region/nation are
broadcast (25 rows at any SF), fact-fact joins shuffle on their equi keys
and AQE handles skew. The as-of join uses a union+window plan (no
row-multiplying theta join), which scales as one shuffle + one sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from recipes_spark.io import load
from recipes_spark.operators.joins import asof_join
from recipes_spark.registry import query

# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (M0 walking skeleton).
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                    AS sum_qty,
  round(sum(l_extendedprice), 2)                               AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 4)                                    AS avg_qty,
  round(avg(l_extendedprice), 4)                               AS avg_price,
  round(avg(l_discount), 4)                                    AS avg_disc,
  count(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: scan → filter (pushed to parquet) → hash agg
    (partial+final, whole-stage codegen) → sort. Mirrors the shape the
    reference would need for collection statistics (SURVEY §2.4 A1)."""
    # Expression strings, not Column chains: each F.col/F.round/
    # operator call is a py4j round trip (~0.25 ms of driver-blocked
    # socket wait), and this build ran 356 of them per invocation —
    # 131 ms of pure driver-side chatter per run, measured round 16
    # (guide §5: the driver should do almost no work). One F.expr per
    # aggregate parses to the IDENTICAL Catalyst tree (plan
    # fingerprint unchanged); results are bit-identical.
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where("l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("round(sum(l_quantity), 2) AS sum_qty"),
            F.expr("round(sum(l_extendedprice), 2) AS sum_base_price"),
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 2)"
                " AS sum_disc_price"
            ),
            F.expr(
                "round(sum((l_extendedprice * (1 - l_discount))"
                " * (l_tax + 1)), 2) AS sum_charge"
            ),
            F.expr("round(avg(l_quantity), 4) AS avg_qty"),
            F.expr("round(avg(l_extendedprice), 4) AS avg_price"),
            F.expr("round(avg(l_discount), 4) AS avg_disc"),
            F.expr("count(1) AS count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_top_revenue_orders",
    oracle="""
SELECT
  l_orderkey,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact joins → agg → top-k.
    customer filter reduces the build side; at scale AQE converts the
    orders⋈customer join to broadcast when the filtered side is small."""
    # String predicates/exprs: one py4j round trip each instead of one
    # per Column call (same Catalyst trees — plan fingerprint
    # unchanged; see q1).
    c = load(spark, sf_dir, "customer").where("c_mktsegment = 'BUILDING'")
    o = load(spark, sf_dir, "orders").where(
        "o_orderdate < CAST('1998-03-15' AS TIMESTAMP)"
    )
    li = load(spark, sf_dir, "lineitem").where(
        "l_shipdate > CAST('1998-03-15' AS TIMESTAMP)"
    )
    return (
        c.join(o, F.expr("c_custkey = o_custkey"))
        .join(li, F.expr("l_orderkey = o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_nation_revenue",
    oracle="""
SELECT
  n_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through the region→nation→customer FK
    chain (J1 analog). nation/region are explicitly broadcast — they are
    fixed-size dims (25/5 rows) at every scale factor.

    Join order puts LINEITEM (the fact, the largest table at every
    scale) on the stream side throughout: the planner builds the hash
    relation from the RIGHT side of each join, so fact-first ordering
    hashes orders/customer/supplier (each ≥4× smaller) instead of the
    fact itself. The previous (c⋈o)⋈li order made the local planner
    broadcast-build ALL of lineitem — the one side that can never be a
    build side at 100 TB."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where("r_name = 'ASIA'")
    return (
        li.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(c, F.expr("c_custkey = o_custkey"))
        .join(
            s, F.expr("l_suppkey = s_suppkey AND c_nationkey = s_nationkey")
        )
        .join(F.broadcast(n), F.expr("s_nationkey = n_nationkey"))
        .join(F.broadcast(r), F.expr("n_regionkey = r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
            )
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Join suite J5–J8: every join type the driver verifies.
# ---------------------------------------------------------------------------


@query(
    "join_inner",
    oracle="""
SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_left",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
""",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right",
    oracle="""
SELECT o_orderkey, o_orderstatus, c_custkey, c_acctbal
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
""",
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "o_orderstatus", "c_custkey", "c_acctbal"
    )


@query(
    "join_full_outer",
    oracle="""
SELECT c_custkey, c_nationkey, s_suppkey, s_nationkey
FROM customer FULL OUTER JOIN supplier ON c_nationkey = s_nationkey
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        "c_custkey", "c_nationkey", "s_suppkey", "s_nationkey"
    )


@query(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 100000
)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (J4 listing-cache hit analog)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — the S2 blacklist-drop operator shape
    (reference avhrr recipe.py:118, DatetimeIndex.drop)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_range",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate,
       round(l_extendedprice, 2) AS price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
  AND l_shipdate >= o_orderdate
  AND l_shipdate <  o_orderdate + INTERVAL 30 DAY
""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (theta) join J7: ship within 30 days of order. The
    equi key keeps it a shuffled hash join; the range predicate is a
    post-join filter, so no nested-loop blowup at scale."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        "o_orderdate",
        F.round("l_extendedprice", 2).alias("price"),
    )


@query(
    "join_bucketed",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def join_bucketed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed zero-exchange fact-fact join (SURVEY §4.2, the 100 TB
    shuffle-diet centerpiece): lineitem and orders are written ONCE
    bucketed by orderkey (operators/bucketing.py write_bucketed), then
    the join reads bucket i of each side into the same task — the
    physical plan has no shuffle Exchange on either join side (the
    only Exchange left is the 5-group rollup's); pinned in
    tools/plan_fingerprints.json. Integer-exact aggregates (count /
    distinct / whole-number quantities) so the oracle compare is
    FP-order-free."""
    import re as _re

    from recipes_spark.operators.bucketing import bucketed_join, write_bucketed
    from recipes_spark.session import scratch_dir

    tag = _re.sub(r"[^0-9A-Za-z]+", "_", sf_dir).strip("_")
    lt, rt = f"bx_lineitem_{tag}", f"bx_orders_{tag}"
    if not (spark.catalog.tableExists(lt) and spark.catalog.tableExists(rt)):
        root = scratch_dir("bucketed")
        write_bucketed(
            load(spark, sf_dir, "lineitem").select(
                "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
            ),
            lt, key="l_orderkey", buckets=8, path=f"{root}/{lt}",
        )
        write_bucketed(
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            rt, key="o_orderkey", buckets=8, path=f"{root}/{rt}",
        )
    joined = bucketed_join(spark, lt, rt, "l_orderkey", "o_orderkey")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum("qty").alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "join_salted",
    oracle="""
SELECT c_mktsegment AS segment,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment
ORDER BY segment
""",
)
def join_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient salted equi-join (SURVEY §2 scale notes): the
    fact side's hot keys are spread over 8 salt sub-partitions
    (operators/skew.py salted_join — deterministic event_id-seeded
    salt; the dim side explodes into 8 copies, one per salt value), so
    a power-law key can't produce a straggler task. shuffle_hash hint
    on the dim keeps the demonstration on the shuffle path salting
    exists for (AQE handles sort-merge skew; salting covers the
    broadcast-ineligible hot-key dim join at 100 TB). Result is
    bit-identical to the plain join — the oracle IS the unsalted SQL.
    Integer-exact aggregates (count / distinct / per-row floor) so the
    compare is FP-order-free."""
    from recipes_spark.operators.skew import salted_join

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .hint("shuffle_hash")
    )
    joined = salted_join(
        ev, cust, fact_key="user_id", dim_key="c_custkey",
        salt=8, unique_col="event_id",
    )
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.floor("value").cast("long")).alias("sum_floor_value"),
        )
        .orderBy("segment")
    )


@query(
    "join_asof",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), errors AS (
  SELECT event_id AS rid, user_id, ts AS ets, value
  FROM events WHERE event_type = 'error'
), j AS (
  SELECT c.event_id, c.user_id, c.ts, e.ets, e.value,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY e.ets DESC, e.rid DESC) AS rn
  FROM clicks c JOIN errors e ON c.user_id = e.user_id AND e.ets <= c.ts
)
SELECT event_id, user_id, ts, ets AS asof_ts, round(value, 4) AS asof_value
FROM j WHERE rn = 1
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join J8: for each click, the most recent prior error by the
    same user. Implemented via union+window (operators/joins.py), not a
    theta join — one shuffle on user_id, one sort, no row blowup."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where("event_type = 'click'").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where("event_type = 'error'").selectExpr(
        "event_id AS rid", "user_id", "ts AS ets", "value"
    )
    joined = asof_join(
        clicks, errors, left_ts="ts", right_ts="ets", by="user_id",
        value_cols=["ets", "value"], tiebreak="rid",
    )
    return joined.where("ets IS NOT NULL").selectExpr(
        "event_id",
        "user_id",
        "ts",
        "ets AS asof_ts",
        "round(value, 4) AS asof_value",
    )


@query(
    "join_asof_nearest",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT event_id AS rid, user_id, ts AS pts, value
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT c.event_id, c.user_id, c.ts, p.pts, p.value,
         row_number() OVER (
           PARTITION BY c.event_id
           ORDER BY abs(epoch_us(p.pts) - epoch_us(c.ts)) ASC,
                    p.pts ASC,
                    p.rid DESC
         ) AS rn
  FROM clicks c JOIN purchases p ON c.user_id = p.user_id
)
SELECT event_id, user_id, ts, pts AS nearest_ts,
       round(value, 4) AS nearest_value
FROM j WHERE rn = 1
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction=NEAREST — the third merge_asof direction,
    completing J8: each click takes the purchase closest in time in
    EITHER direction (sensor alignment, nearest-quote matching), equal
    distances resolving to the earlier row and same-instant rows to
    the greatest id. Still ONE shuffle + one sort (asof_nearest_join,
    operators/joins.py): both direction fills run over the same sorted
    partition, and a row-local CASE picks the nearer — where the naive
    encoding (abs-distance rank over a full per-key theta join, which
    IS the oracle) multiplies rows before filtering."""
    from recipes_spark.operators.joins import asof_nearest_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("rid"),
        "user_id",
        F.col("ts").alias("pts"),
        "value",
    )
    joined = asof_nearest_join(
        clicks, purchases, left_ts="ts", right_ts="pts", by="user_id",
        value_cols=["value"], tiebreak="rid",
    )
    return joined.filter(F.col("__nearest_ts").isNotNull()).select(
        "event_id",
        "user_id",
        "ts",
        F.col("__nearest_ts").alias("nearest_ts"),
        F.round("value", 4).alias("nearest_value"),
    )


@query(
    "join_asof_forward",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT event_id AS rid, user_id, ts AS pts, value
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT c.event_id, c.user_id, c.ts, p.pts, p.value,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY p.pts ASC, p.rid DESC) AS rn
  FROM clicks c JOIN purchases p ON c.user_id = p.user_id AND p.pts >= c.ts
)
SELECT event_id, user_id, ts, pts AS next_ts, round(value, 4) AS next_value
FROM j WHERE rn = 1
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for each click, the EARLIEST subsequent purchase
    by the same user (time-to-conversion shape). Same union+window
    plan as backward, ordering reversed."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("rid"), "user_id", F.col("ts").alias("pts"), "value"
    )
    joined = asof_join(
        clicks, purchases, left_ts="ts", right_ts="pts", by="user_id",
        value_cols=["pts", "value"], direction="forward", tiebreak="rid",
    )
    return joined.filter(F.col("pts").isNotNull()).select(
        "event_id",
        "user_id",
        "ts",
        F.col("pts").alias("next_ts"),
        F.round("value", 4).alias("next_value"),
    )


# ---------------------------------------------------------------------------
# Aggregation suite A1–A4.
# ---------------------------------------------------------------------------


@query(
    "agg_extent_rollup",
    oracle="""
SELECT o_orderpriority,
       min(o_orderdate)          AS min_date,
       max(o_orderdate)          AS max_date,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price,
       count(*)                  AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_extent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 collection-extent rollup shape: per group min/max of temporal
    and value bounds — exactly what derives `extent.spatial/temporal`
    from items (reference collections.yaml:7-9 declares these statically)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_rollup",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS total,
       count(*) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS qty,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 via Spark SQL (the SQL API is first-class engine surface)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               round(sum(o_totalprice), 2) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_suppkey)  AS n_supp,
       count(DISTINCT l_orderkey) AS n_orders,
       count(*)                   AS n_rows
FROM lineitem
GROUP BY l_returnflag
HAVING count(*) > 10
ORDER BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A4 distinct aggregation + HAVING. (approx_count_distinct is a
    separate rows-only query — its HLL estimate differs from DuckDB's.)"""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .filter(F.col("n_rows") > 10)
        .orderBy("l_returnflag")
    )


@query("agg_approx_distinct")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++). PERMANENTLY rows-only —
    estimates are implementation-specific, no SQL oracle can replay
    them. The accuracy contract lives in
    tests/test_corpus.py::test_approx_distinct_tracks_exact: every
    per-group estimate within 6% of the exact distinct count
    (rsd=0.02 requested; 6% = 3 sigma). At 100 TB this is the right
    default over exact countDistinct (no huge shuffle)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders")
    )


@query(
    "agg_corr_regression",
    oracle="""
WITH b AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS qx,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS py
  FROM lineitem
), s AS (
  SELECT flag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qx) AS DOUBLE) AS sx,
         CAST(sum(py) AS DOUBLE) AS sy,
         CAST(sum(qx * qx) AS DOUBLE) AS sxx,
         CAST(sum(py * py) AS DOUBLE) AS syy,
         CAST(sum(qx * py) AS DOUBLE) AS sxy
  FROM b GROUP BY flag
), m AS (
  SELECT flag, n, sx, sy,
         (n * sxy - sx * sy) AS cov_n,
         (n * sxx - sx * sx) AS varx_n,
         (n * syy - sy * sy) AS vary_n
  FROM s
)
SELECT flag, n,
       CAST(floor(1000000.0 * cov_n / sqrt(varx_n * vary_n)) AS BIGINT)
         AS corr_micro,
       CAST(floor(1000000.0 * cov_n / varx_n) AS BIGINT)
         AS slope_micro,
       CAST(floor(1000000.0 * (sy - (cov_n / varx_n) * sx) / n) AS BIGINT)
         AS intercept_micro
FROM m
ORDER BY flag
""",
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard statistical aggregates — CORR / REGR_SLOPE /
    REGR_INTERCEPT per group — made CROSS-ENGINE EXACT, which the
    built-ins cannot be (both engines stream co-moments in partition
    order; float corr() differs run to run). The trick extends the
    repo's integer-exact discipline to second moments: inputs become
    integers (quantity; price in cents), the five co-moment sums are
    EXACT big integers (Spark decimal(38,0) — sum(py²) overflows
    int64 at sf0.1 — DuckDB HUGEINT), and only then does one
    fixed-shape scalar expression cast them to double, so both engines
    round the same exact integers and compute bit-identical doubles;
    outputs are floor-scaled micro-units.

    100 TB: one map-side-combining hash agg on integer/decimal sums —
    the same single-shuffle shape as any groupBy sum; the statistics
    are O(groups) driver-free scalar math."""
    li = load(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("qx"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("py"),
    )
    dec = "decimal(38,0)"
    s = b.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qx").cast("double").alias("sx"),
        F.sum("py").cast("double").alias("sy"),
        F.sum((F.col("qx") * F.col("qx")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("py") * F.col("py")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("qx") * F.col("py")).cast(dec)).cast("double").alias("sxy"),
    )
    m = s.select(
        "flag", "n", "sx", "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_n"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("varx_n"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("vary_n"),
    )
    micro = F.lit(1000000.0)
    return m.select(
        "flag", "n",
        F.floor(
            micro * F.col("cov_n") / F.sqrt(F.col("varx_n") * F.col("vary_n"))
        ).alias("corr_micro"),
        F.floor(micro * F.col("cov_n") / F.col("varx_n")).alias("slope_micro"),
        F.floor(
            micro
            * (F.col("sy") - (F.col("cov_n") / F.col("varx_n")) * F.col("sx"))
            / F.col("n")
        ).alias("intercept_micro"),
    ).orderBy("flag")


@query(
    "scalar_map_ops",
    oracle="""
WITH t AS (
  SELECT doc_id,
         n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(lang) AS BIGINT) AS lang_len
  FROM documents
), k AS (
  SELECT doc_id, n_chars, n_tokens, lang_len,
         CAST(2 + CASE WHEN n_tokens >= 60 THEN 1 ELSE 0 END AS INT)
           AS n_keys
  FROM t
)
SELECT doc_id, n_keys, 'chars' AS key,
       CAST(n_chars * 2 AS BIGINT) AS value
FROM k
UNION ALL
SELECT doc_id, n_keys, 'tokens', n_tokens * 2
FROM k WHERE n_tokens >= 60
UNION ALL
SELECT doc_id, n_keys, 'lang_len', lang_len
FROM k
""",
)
def scalar_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface (§2.8 extension — the typed-metadata shape the
    multimodal columns carry): map_from_arrays → key-dependent
    map_filter (tokens kept only when ≥ 60 — 225/500 docs at sf0.01,
    so the lambda genuinely bites) → transform_values (double every
    value) → map_concat with a second map → size + explode back to
    rows. All Catalyst map expressions (no Python); the oracle derives
    the identical (doc_id, key, value) rows relationally, so the
    semantics — not just the shape — are attested. Output is exploded
    BECAUSE the driver canonicalizer cannot hash a top-level map cell
    (the r4 lesson driver_canonicalize pins)."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.col("n_chars").alias("nc"),
        F.size(F.split("text", " ")).cast("long").alias("nt"),
        F.length("lang").cast("long").alias("ll"),
    )
    m = F.map_from_arrays(
        F.array(F.lit("chars"), F.lit("tokens")),
        F.array(F.col("nc").cast("long"), F.col("nt")),
    )
    filt = F.map_filter(m, lambda k, v: (k != F.lit("tokens")) | (v >= 60))
    doubled = F.transform_values(filt, lambda k, v: v * 2)
    mc = F.map_concat(doubled, F.create_map(F.lit("lang_len"), F.col("ll")))
    return (
        t.select("doc_id", mc.alias("m"))
        .select(
            "doc_id",
            F.size("m").alias("n_keys"),
            F.explode("m").alias("key", "value"),
        )
    )


@query(
    "agg_bitmap_merge",
    oracle="""
WITH h AS (
  SELECT lang,
         CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 63 AS pos
  FROM documents
)
SELECT lang,
       bit_or(1::BIGINT << pos)  AS member_bitmap,
       bit_and(1::BIGINT << pos) AS common_bitmap,
       bit_xor(1::BIGINT << pos) AS parity_bitmap,
       CAST(count(DISTINCT pos) AS BIGINT) AS n_positions
FROM h
GROUP BY lang
ORDER BY lang
""",
)
def agg_bitmap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates as BITMAP MERGE — the algebra under the bloom
    filter (operators/dedup.py): each doc sets one bit of a 63-bit word
    (portable sha-slice position; the sign bit stays clear — DuckDB
    raises on BIGINT 1<<63 where Spark would wrap silently), and bit_or/bit_and/bit_xor fold the
    words per group. bit_or IS the bloom-bitmap union (associative,
    commutative, map-side combinable — why sketch state merges for free
    at 100 TB); xor gives per-position insert parity. Exact integers,
    mirrored 1:1 in DuckDB."""
    d = load(spark, sf_dir, "documents")
    pos = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 8), 16, 10)
        .cast("long") % 63
    )
    return (
        d.select("lang", pos.alias("pos"))
        # F.shiftleft only takes a literal bit count — the per-row
        # shift needs the SQL form.
        .withColumn(
            "word", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos AS INT))")
        )
        .groupBy("lang")
        .agg(
            F.bit_or("word").alias("member_bitmap"),
            F.bit_and("word").alias("common_bitmap"),
            F.bit_xor("word").alias("parity_bitmap"),
            F.countDistinct("pos").alias("n_positions"),
        )
        .orderBy("lang")
    )


@query(
    "agg_chisquare_ab",
    oracle="""
WITH e AS (
  SELECT c_mktsegment AS segment,
         user_id % 2 AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
  FROM events ev JOIN customer c ON ev.user_id = c.c_custkey
), counts AS (
  SELECT segment,
         CAST(count_if(variant = 0 AND hit = 1) AS BIGINT) AS a,
         CAST(count_if(variant = 0 AND hit = 0) AS BIGINT) AS b,
         CAST(count_if(variant = 1 AND hit = 1) AS BIGINT) AS c,
         CAST(count_if(variant = 1 AND hit = 0) AS BIGINT) AS d
  FROM e GROUP BY segment
), m AS (
  SELECT segment, a, b, c, d,
         CAST(a AS DOUBLE) AS fa, CAST(b AS DOUBLE) AS fb,
         CAST(c AS DOUBLE) AS fc, CAST(d AS DOUBLE) AS fd
  FROM counts
)
SELECT segment, a, b, c, d,
       CAST(floor(1000000.0
         * ((fa + fb + fc + fd) * (fa * fd - fb * fc) * (fa * fd - fb * fc))
         / ((fa + fb) * (fc + fd) * (fa + fc) * (fb + fd))) AS BIGINT)
         AS chi2_micro
FROM m
ORDER BY segment
""",
)
def agg_chisquare_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment analysis: 2x2 chi-square statistic per segment
    (variant = user_id parity, outcome = purchase), CROSS-ENGINE EXACT
    via the same discipline as agg_corr_regression — the contingency
    cells are exact integers from one conditional-count hash agg, and
    the statistic N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) is one
    fixed-shape double expression over them (integer chi-square
    numerators pass 1e19 at sf0.1, so the scalar stage is double),
    emitted as floor-scaled micro-units.

    100 TB: the dimension join broadcasts, the contingency table is
    one map-side-combining agg (4 count_ifs), and the statistic is
    O(groups) scalar math — the experiment-readout query at any
    scale."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    e = ev.join(F.broadcast(cust), "user_id").select(
        "segment",
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("hit"),
    )
    counts = e.groupBy("segment").agg(
        F.count_if((F.col("variant") == 0) & (F.col("hit") == 1)).alias("a"),
        F.count_if((F.col("variant") == 0) & (F.col("hit") == 0)).alias("b"),
        F.count_if((F.col("variant") == 1) & (F.col("hit") == 1)).alias("c"),
        F.count_if((F.col("variant") == 1) & (F.col("hit") == 0)).alias("d"),
    )
    fa, fb, fc, fd = [
        F.col(x).cast("double") for x in ("a", "b", "c", "d")
    ]
    chi2 = (
        (fa + fb + fc + fd) * (fa * fd - fb * fc) * (fa * fd - fb * fc)
    ) / ((fa + fb) * (fc + fd) * (fa + fc) * (fb + fd))
    return counts.select(
        "segment", "a", "b", "c", "d",
        F.floor(F.lit(1000000.0) * chi2).alias("chi2_micro"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Window suite (§2.5).
# ---------------------------------------------------------------------------


@query(
    "window_rank",
    oracle="""
SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
       row_number() OVER w AS rn,
       rank()       OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4)     OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
""",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "window_autocorr",
    oracle="""
WITH b AS (
  SELECT event_type, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
), l AS (
  SELECT event_type, event_id, ts, c,
         lag(c) OVER (PARTITION BY event_type
                      ORDER BY ts, event_id) AS p
  FROM b
), f AS (
  SELECT event_type, event_id, ts,
         CASE WHEN p IS NOT NULL THEN c END AS cx, p
  FROM l
), s AS (
  SELECT event_type, event_id,
         CAST(count(p) OVER w AS BIGINT)            AS n,
         CAST(sum(cx) OVER w AS DOUBLE)             AS sx,
         CAST(sum(p) OVER w AS DOUBLE)              AS sy,
         CAST(sum(cx * cx) OVER w AS DOUBLE)        AS sxx,
         CAST(sum(p * p) OVER w AS DOUBLE)          AS syy,
         CAST(sum(cx * p) OVER w AS DOUBLE)         AS sxy
  FROM f
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
), m AS (
  SELECT event_type, event_id, n,
         (n * sxy - sx * sy) AS cov_n,
         (n * sxx - sx * sx) AS varx_n,
         (n * syy - sy * sy) AS vary_n
  FROM s
)
SELECT event_type, event_id, n,
       CASE WHEN varx_n > 0 AND vary_n > 0
            THEN CAST(floor(1000000.0 * cov_n / sqrt(varx_n * vary_n))
                      AS BIGINT)
       END AS corr_micro
FROM m
WHERE n >= 10
ORDER BY event_type, event_id
""",
)
def window_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING lag-1 autocorrelation per event type over a 50-row
    frame — the online drift/seasonality detector — carrying
    agg_corr_regression's cross-engine exactness into WINDOW frames:
    co-moment sums accumulate as exact integers inside the frame
    (bounded by 50 rows x cents², far under int64), are cast to double
    once, and one fixed-shape scalar expression produces bit-identical
    floor-scaled micro-units on both engines — float corr() over a
    moving window cannot promise that on either engine alone.

    The frame and the lag share the (ts, event_id) TOTAL order, so
    both engines agree on exactly which 50 rows each frame holds even
    under timestamp ties. 100 TB: one shuffle on event_type feeds the
    lag and all six frame sums (same-partition windows share the
    exchange); per-row state is the 50-row frame, independent of
    history."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    order = Window.partitionBy("event_type").orderBy("ts", "event_id")
    l = b.select(
        "event_type",
        "event_id",
        "ts",
        "c",
        F.lag("c").over(order).alias("p"),
    )
    f = l.select(
        "event_type",
        "event_id",
        "ts",
        F.when(F.col("p").isNotNull(), F.col("c")).alias("cx"),
        "p",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-49, Window.currentRow)
    )
    s = f.select(
        "event_type",
        "event_id",
        F.count("p").over(w).alias("n"),
        F.sum("cx").over(w).cast("double").alias("sx"),
        F.sum("p").over(w).cast("double").alias("sy"),
        F.sum(F.col("cx") * F.col("cx")).over(w).cast("double").alias("sxx"),
        F.sum(F.col("p") * F.col("p")).over(w).cast("double").alias("syy"),
        F.sum(F.col("cx") * F.col("p")).over(w).cast("double").alias("sxy"),
    )
    m = s.select(
        "event_type",
        "event_id",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_n"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("varx_n"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("vary_n"),
    )
    return (
        m.filter(F.col("n") >= 10)
        .select(
            "event_type",
            "event_id",
            "n",
            F.when(
                (F.col("varx_n") > 0) & (F.col("vary_n") > 0),
                F.floor(
                    1000000.0
                    * F.col("cov_n")
                    / F.sqrt(F.col("varx_n") * F.col("vary_n"))
                ).cast("long"),
            ).alias("corr_micro"),
        )
        .orderBy("event_type", "event_id")
    )


@query(
    "window_analytic",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       lag(o_orderdate)  OVER w AS prev_date,
       lead(o_orderdate) OVER w AS next_date,
       first_value(o_orderdate) OVER w AS first_date,
       round(lag(o_totalprice) OVER w, 2) AS prev_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first — the inter-granule gap-detection shape (SURVEY
    §2.5: the reference's blacklist is exactly a lag(ts) gap query)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_date"),
        F.lead("o_orderdate").over(w).alias("next_date"),
        F.first("o_orderdate").over(w).alias("first_date"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
    )


@query(
    "window_frame",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
       round(avg(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
FROM orders
""",
)
def window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_total"),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).alias(
            "moving_avg3"
        ),
    )


@query(
    "topk_per_group",
    oracle="""
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price, rn
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 top-k per group — window + filter, no global sort. At scale this
    beats orderBy().limit() per group because each partition computes its
    own top-k after one shuffle on the group key."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            "rn",
        )
    )


@query(
    "sort_limit",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 global top-k: Spark plans orderBy+limit as TakeOrderedAndProject
    — per-partition top-25 then a single-reduce merge, never a full sort."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"), "o_orderdate")
    )


# ---------------------------------------------------------------------------
# Set operations U1–U3.
# ---------------------------------------------------------------------------


@query(
    "set_union",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
""",
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "set_except",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — the blacklist EXCEPT shape (avhrr recipe.py:118)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@query(
    "set_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


# ---------------------------------------------------------------------------
# Scalar-function surface (§2.8): strings, dates, JSON, try_cast.
# ---------------------------------------------------------------------------


@query(
    "scalar_strings",
    oracle="""
SELECT p_partkey,
       split_part(p_brand, '#', 2)         AS brand_num,
       split_part(p_type, ' ', 1)          AS type_head,
       concat_ws('-', p_brand, p_type)     AS brand_type,
       upper(p_name)                       AS name_upper,
       length(p_name)                      AS name_len,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad
FROM part
""",
)
def scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P7/P15 string suite: path-segment extraction via split /
    substring_index, concat_ws, lpad — the reference's URL-parsing ops
    (insitu recipe.py:75, avhrr recipe.py:34-42) on the part table."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.element_at(F.split("p_brand", "#"), 2).alias("brand_num"),
        F.substring_index("p_type", " ", 1).alias("type_head"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
    )


@query(
    "scalar_intervals",
    oracle="""
SELECT o_orderkey,
       date_trunc('week', o_orderdate)    AS week_start,
       date_trunc('month', o_orderdate)   AS month_start,
       date_trunc('quarter', o_orderdate) AS quarter_start,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
       o_orderdate + INTERVAL 3 MONTH     AS plus_3mo,
       o_orderdate - INTERVAL 45 DAY      AS minus_45d,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
            AS BIGINT) AS days_since_95
FROM orders
ORDER BY o_orderkey
""",
)
def scalar_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-arithmetic scalar surface — truncation to week/month/
    quarter boundaries, month-end, interval add/subtract with
    end-of-month clamping, day-of-week, and day deltas — the date
    dimension every partitioned catalog and reporting rollup bends
    around. Dialect notes the oracle encodes: DuckDB dayofweek is
    0=Sunday where Spark's is 1=Sunday (hence the +1), and both
    engines start date_trunc('week') on Monday — pinned here so a
    regression in either assumption breaks the hash rather than a
    downstream report."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("week", "o_orderdate").alias("week_start"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        # DATE surfaces as pandas object vs the oracle's datetime64 —
        # normalize both sides to TIMESTAMP for the driver's dtype gate.
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTHS")).alias("plus_3mo"),
        (F.col("o_orderdate") - F.expr("INTERVAL 45 DAYS")).alias("minus_45d"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        )
        .cast("long")
        .alias("days_since_95"),
    ).orderBy("o_orderkey")


@query(
    "scalar_regex",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, 'ta[a-z]+')) AS BIGINT) AS n_ta,
       regexp_extract(text, '(s[a-z]+)', 1) AS first_s,
       CAST(len(regexp_extract_all(text, '\\b[a-z]{4}\\b')) AS BIGINT)
         AS n4,
       regexp_replace(text, '\\btable\\b', 'T', 'g') AS scrubbed,
       COALESCE(array_to_string(regexp_extract_all(text, 'w[a-z]+'), '|'),
                '') AS all_w
FROM documents
ORDER BY doc_id
""",
)
def scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface — count / extract-first / extract-all /
    global-replace — on the corpus text, pinned against DuckDB's RE2
    implementations computing the same patterns (Java regex vs RE2
    agree on this ASCII class-and-boundary subset; the suite
    deliberately stays inside the common dialect). Two dialect traps
    the oracle encodes: DuckDB regexp_replace is FIRST-match unless
    the 'g' flag (Spark's is always global), and DuckDB's
    array_to_string over a no-match extract yields NULL where Spark's
    array_join yields '' (hence the COALESCE). Row-local,
    codegen-resident — regex evaluation is the scan-bound hot path of
    every quality-filter pipeline (x4_pii_scrub, lang_id), so the
    primitives get their own oracled query."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("ta[a-z]+")).cast("long").alias("n_ta"),
        F.regexp_extract("text", "(s[a-z]+)", 1).alias("first_s"),
        F.regexp_count("text", F.lit(r"\b[a-z]{4}\b")).cast("long").alias("n4"),
        F.regexp_replace("text", r"\btable\b", "T").alias("scrubbed"),
        F.array_join(
            F.regexp_extract_all("text", F.lit("(w[a-z]+)"), 1), "|"
        ).alias("all_w"),
    ).orderBy("doc_id")


@query(
    "scalar_url_parse",
    oracle="""
WITH u AS (
  SELECT o_orderkey,
         'https://cat.example.org/api/v1/items/item-'
           || CAST(o_orderkey AS VARCHAR) || '.json?coll=col-'
           || split_part(o_orderpriority, '-', 1)
           || '&page=' || CAST(o_orderkey % 7 AS VARCHAR) AS url
  FROM orders
)
SELECT o_orderkey,
       split_part(url, '/', 3) AS host,
       substr(split_part(url, '?', 1),
              9 + length(split_part(url, '/', 3))) AS path,
       split_part(url, '?', 2) AS qs,
       regexp_extract(split_part(url, '?', 2), 'coll=([^&]*)', 1) AS coll,
       CAST(regexp_extract(split_part(url, '?', 2), 'page=([^&]*)', 1)
            AS BIGINT) AS page,
       split_part(string_split(split_part(url, '?', 1), '/')[-1],
                  '.', 1) AS stem
FROM u
ORDER BY o_orderkey
""",
)
def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-parsing scalar surface — the reference's domain is remote
    URLs end to end (granule hrefs, glob listings, asset links), and a
    catalog engine must decompose them: Spark's parse_url builtin
    (HOST / PATH / QUERY / per-key QUERY extraction) plus a filename
    stem, against a DuckDB oracle that re-derives the identical parts
    with split_part/regexp arithmetic — two independent parsers
    agreeing on every component. URLs are built deterministically from
    orders, so both engines see the same inputs. Pure Catalyst,
    row-local, codegen-friendly."""
    o = load(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://cat.example.org/api/v1/items/item-"),
        F.col("o_orderkey").cast("string"),
        F.lit(".json?coll=col-"),
        F.substring_index("o_orderpriority", "-", 1),
        F.lit("&page="),
        (F.col("o_orderkey") % 7).cast("string"),
    )
    u = o.select("o_orderkey", url.alias("url"))
    path = F.parse_url("url", F.lit("PATH"))
    return u.select(
        "o_orderkey",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        path.alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("qs"),
        F.parse_url("url", F.lit("QUERY"), F.lit("coll")).alias("coll"),
        F.parse_url("url", F.lit("QUERY"), F.lit("page"))
        .cast("long")
        .alias("page"),
        F.substring_index(
            F.substring_index(path, "/", -1), ".", 1
        ).alias("stem"),
    ).orderBy("o_orderkey")


@query(
    "scalar_dates",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate)                         AS yr,
       month(o_orderdate)                        AS mth,
       dayofyear(o_orderdate)                    AS doy,
       lpad(CAST(dayofyear(o_orderdate) AS VARCHAR), 3, '0') AS doy_pad,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso,
       strftime(o_orderdate, '%Y%m%d%H%M%S')      AS compact,
       quarter(o_orderdate)                      AS qtr
FROM orders
""",
)
def scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 timestamp-normalize + S3 date-format suite (avhrr
    recipe.py:26-29,34-42): ISO 8601 normalization, strftime patterns,
    zero-padded day-of-year — all pure Catalyst, no UDF."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mth"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.lpad(F.dayofyear("o_orderdate").cast("string"), 3, "0").alias("doy_pad"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("iso"),
        F.date_format("o_orderdate", "yyyyMMddHHmmss").alias("compact"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
    )


@query(
    "scalar_json",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction on events.props (§2.8 ext): get_json_object →
    typed aggregation."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query(
    "scalar_trycast",
    oracle="""
SELECT p_partkey,
       try_cast(split_part(p_brand, '#', 2) AS INTEGER) AS brand_num,
       try_cast(p_type AS DOUBLE)                       AS bad_cast,
       CASE WHEN try_cast(p_type AS DOUBLE) IS NULL THEN 'quarantine'
            ELSE 'ok' END                               AS cast_status
FROM part
""",
)
def scalar_trycast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 cast-with-error-context: try_cast + quarantine flag instead of
    the reference's raise-with-attrs (insitu recipe.py:87-90) — at scale
    bad rows route to a reject table, they don't kill the job."""
    p = load(spark, sf_dir, "part")
    brand_num = F.element_at(F.split("p_brand", "#"), 2).try_cast("int")
    bad = F.col("p_type").try_cast("double")
    return p.select(
        "p_partkey",
        brand_num.alias("brand_num"),
        bad.alias("bad_cast"),
        F.when(bad.isNull(), "quarantine").otherwise("ok").alias("cast_status"),
    )


@query(
    "scalar_case_conditional",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 200000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'low' END AS price_band,
       CASE WHEN o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
            THEN 'late-risk' ELSE 'normal' END AS flag
FROM orders
""",
)
def scalar_case_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 conditional-tagging shape (insitu recipe.py:103-108)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.when(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT"),
            "late-risk",
        )
        .otherwise("normal")
        .alias("flag"),
    )


@query(
    "window_distribution",
    oracle="""
SELECT lang, doc_id,
       round(percent_rank() OVER w, 4) AS pct_rank,
       round(cume_dist()    OVER w, 4) AS cume,
       nth_value(doc_id, 3) OVER w     AS third_doc
FROM documents
WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
""",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist /
    nth_value) — completes §2.5 beyond ranking and frames. The order
    key is (n_chars, doc_id): unique, so ranks are tie-free and both
    engines' default RANGE frame sees identical prefixes. The ratios
    are exact divisions of counts — identical IEEE doubles — and
    round(…, 4) is display-only."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return d.select(
        "lang",
        "doc_id",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
        F.nth_value("doc_id", 3).over(w).alias("third_doc"),
    )


@query(
    "scalar_unicode",
    oracle="""
SELECT doc_id,
       lower(text[1:20])                       AS head_lower,
       reverse(text[1:10])                     AS head_rev,
       replace(text[1:30], ' ', '_')           AS head_snake,
       translate(text[1:20], 'aeiou', '*****') AS head_devowel,
       repeat(lang, 3)                         AS lang3,
       trim('x' || text[1:5] || 'x', 'x')      AS head_trim,
       left(text, 4)                           AS l4,
       right(text, 4)                          AS r4
FROM documents
""",
)
def scalar_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-normalization scalar suite (lower / reverse / replace /
    translate / repeat / trim-chars / left / right) — the per-row
    cleanup toolkit ahead of dedup and tokenization. All whole-stage
    codegen; substring windows keep oracle payloads small."""
    d = load(spark, sf_dir, "documents")
    head = lambda n: F.substring("text", 1, n)  # noqa: E731
    return d.select(
        "doc_id",
        F.lower(head(20)).alias("head_lower"),
        F.reverse(head(10)).alias("head_rev"),
        F.replace(head(30), F.lit(" "), F.lit("_")).alias("head_snake"),
        F.translate(head(20), "aeiou", "*****").alias("head_devowel"),
        F.repeat("lang", 3).alias("lang3"),
        F.trim(F.concat(F.lit("x"), head(5), F.lit("x")), F.lit("x")).alias(
            "head_trim"
        ),
        F.left("text", F.lit(4)).alias("l4"),
        F.right("text", F.lit(4)).alias("r4"),
    )


@query(
    "scalar_array_hof",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(w, t -> len(t) >= 6)) AS BIGINT) AS n_long,
       CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT)
         AS total_chars,
       list_max(w) AS top_token,
       array_to_string(list_sort(w)[1:3], ' ') AS first3_sorted,
       CAST(len(list_filter(range(1, len(w) + 1),
                            j -> w[j] = w[len(w) + 1 - j])) AS BIGINT)
         AS n_mirror
FROM t
""",
)
def scalar_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-array higher-order-function suite (§2.8 extension):
    transform / filter / aggregate / array_sort / slice / array_max
    plus an index-lambda mirror-position count — the per-row
    collection toolkit (token stats, sorted prefixes, palindromic
    positions) mirrored 1:1 against DuckDB's list_* lambdas. Every
    expression is Catalyst HOF (JVM, no Python): at 100 TB this whole
    suite is a single scan projection with zero shuffles.
    F.filter's index lambda is 0-based vs the oracle's 1-based
    range — both sides compare w[j] against its mirror position."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("w"))
    return t.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.size(F.filter("w", lambda tok: F.length(tok) >= 6))
        .cast("long")
        .alias("n_long"),
        F.aggregate(
            "w", F.lit(0).cast("long"), lambda acc, tok: acc + F.length(tok)
        ).alias("total_chars"),
        F.array_max("w").alias("top_token"),
        F.concat_ws(" ", F.slice(F.array_sort("w"), 1, 3)).alias(
            "first3_sorted"
        ),
        F.size(
            F.filter(
                "w",
                lambda tok, j: tok
                == F.element_at(F.col("w"), F.size("w") - j),
            )
        )
        .cast("long")
        .alias("n_mirror"),
    )


# ---------------------------------------------------------------------------
# Two-sample statistical inference (round-7 widening): the experiment
# readouts a data pipeline runs after an A/B split — parametric (Welch's
# t) and rank-based (Mann-Whitney U) — both CROSS-ENGINE EXACT via the
# agg_corr_regression discipline.
# ---------------------------------------------------------------------------


@query(
    "agg_welch_ttest",
    oracle="""
WITH b AS (
  SELECT l_returnflag AS flag,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS hi,
         CAST(l_quantity AS BIGINT) AS qx
  FROM lineitem
), s AS (
  SELECT flag,
         CAST(sum(hi) AS BIGINT) AS n1,
         CAST(count(*) - sum(hi) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN hi = 1 THEN qx ELSE 0 END) AS DOUBLE) AS s1,
         CAST(sum(CASE WHEN hi = 0 THEN qx ELSE 0 END) AS DOUBLE) AS s2,
         CAST(sum(CASE WHEN hi = 1 THEN qx * qx ELSE 0 END) AS DOUBLE) AS q1,
         CAST(sum(CASE WHEN hi = 0 THEN qx * qx ELSE 0 END) AS DOUBLE) AS q2
  FROM b GROUP BY flag
), v AS (
  SELECT flag, n1, n2,
         s1 / n1 AS m1, s2 / n2 AS m2,
         (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
         (q2 - s2 * s2 / n2) / (n2 - 1) AS v2
  FROM s
), w AS (
  SELECT flag, n1, n2, m1, m2, v1, v2,
         v1 / n1 + v2 / n2 AS se2
  FROM v
)
SELECT flag, n1, n2,
       CAST(floor(1000000.0 * (m1 - m2) / sqrt(se2)) AS BIGINT) AS t_micro,
       CAST(floor(1000000.0 * se2 * se2 /
            ((v1 / n1) * (v1 / n1) / (n1 - 1)
             + (v2 / n2) * (v2 / n2) / (n2 - 1))) AS BIGINT) AS df_micro
FROM w ORDER BY flag
""",
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test per group (does the high-discount
    sample ship different quantities?), CROSS-ENGINE EXACT: the
    per-sample sufficient statistics (n, sum x, sum x^2) are exact
    int64 sums from ONE conditional hash agg (quantity <= 50, so
    sum(x^2) < 2.5e3 * rows — int64-safe far past 100 TB), then one
    fixed-shape double expression computes the t statistic and the
    Welch-Satterthwaite degrees of freedom; both engines round the
    same exact integers through the same IEEE operation tree, so the
    floor-scaled micro outputs are bit-identical.

    100 TB: a single map-side-combining agg over six conditional sums —
    the same one-shuffle shape as q1 — and O(groups) scalar math after;
    no second pass, no driver math."""
    li = load(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("hi"),
        F.col("l_quantity").cast("long").alias("qx"),
    )
    qx2 = F.col("qx") * F.col("qx")
    s = b.groupBy("flag").agg(
        F.sum("hi").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("hi")).cast("long").alias("n2"),
        F.sum(F.when(F.col("hi") == 1, F.col("qx")).otherwise(0))
        .cast("double").alias("s1"),
        F.sum(F.when(F.col("hi") == 0, F.col("qx")).otherwise(0))
        .cast("double").alias("s2"),
        F.sum(F.when(F.col("hi") == 1, qx2).otherwise(0))
        .cast("double").alias("q1"),
        F.sum(F.when(F.col("hi") == 0, qx2).otherwise(0))
        .cast("double").alias("q2"),
    )
    v = s.select(
        "flag", "n1", "n2",
        (F.col("s1") / F.col("n1")).alias("m1"),
        (F.col("s2") / F.col("n2")).alias("m2"),
        ((F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
         / (F.col("n1") - 1)).alias("v1"),
        ((F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2"))
         / (F.col("n2") - 1)).alias("v2"),
    )
    w = v.select(
        "flag", "n1", "n2", "m1", "m2", "v1", "v2",
        (F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")).alias("se2"),
    )
    micro = F.lit(1000000.0)
    return w.select(
        "flag", "n1", "n2",
        F.floor(
            micro * (F.col("m1") - F.col("m2")) / F.sqrt(F.col("se2"))
        ).alias("t_micro"),
        F.floor(
            micro * F.col("se2") * F.col("se2")
            / (
                (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1"))
                / (F.col("n1") - 1)
                + (F.col("v2") / F.col("n2")) * (F.col("v2") / F.col("n2"))
                / (F.col("n2") - 1)
            )
        ).alias("df_micro"),
    ).orderBy("flag")


@query(
    "agg_mannwhitney",
    oracle="""
WITH r AS (
  SELECT event_type,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
         2 * rank() OVER (PARTITION BY event_type ORDER BY value)
           + count(*) OVER (PARTITION BY event_type, value) - 1 AS r2
  FROM events
), s AS (
  SELECT event_type,
         CAST(sum(g1) AS BIGINT) AS n1,
         CAST(count(*) - sum(g1) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN g1 = 1 THEN r2 ELSE 0 END) AS BIGINT) AS twor1
  FROM r GROUP BY event_type
)
SELECT event_type, n1, n2,
       twor1 - n1 * (n1 + 1) AS u1_twice,
       CAST(floor(1000000.0 * (twor1 - n1 * (n1 + 1) - n1 * n2)
            / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 3.0))
            AS BIGINT) AS z_micro
FROM s ORDER BY event_type
""",
)
def agg_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) per event type between the even- and
    odd-user cohorts — the nonparametric twin of agg_welch_ttest for
    skewed metrics where a mean test misleads. EXACT despite ties:
    each row's DOUBLED midrank is the integer 2*rank() + tie_count - 1
    (a tie group spanning min-rank a with k members has average rank
    a + (k-1)/2, so twice that is 2a + k - 1), so 2*R1 and the doubled
    U statistic u1_twice = 2R1 - n1(n1+1) stay in exact int64
    (midrank sums pass int64 only beyond ~2e9 rows PER GROUP — salt
    the group key before that); the normal-approximation z (no tie
    correction) is one fixed double expression over exact integers,
    floor-scaled.

    100 TB: one shuffle on event_type feeds both windows (the
    (type, value) tie count is a finer partitioning of the same
    exchange) and the final agg — the skew-salted-window shape applies
    if one type dominates."""
    ev = load(spark, sf_dir, "events")
    w_rank = Window.partitionBy("event_type").orderBy("value")
    w_tie = Window.partitionBy("event_type", "value")
    r = ev.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("g1"),
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - 1
        ).cast("long").alias("r2"),
    )
    s = r.groupBy("event_type").agg(
        F.sum("g1").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g1")).cast("long").alias("n2"),
        F.sum(F.when(F.col("g1") == 1, F.col("r2")).otherwise(0))
        .cast("long").alias("twor1"),
    )
    num = F.col("twor1") - F.col("n1") * (F.col("n1") + 1)
    return s.select(
        "event_type", "n1", "n2",
        num.alias("u1_twice"),
        F.floor(
            F.lit(1000000.0) * (num - F.col("n1") * F.col("n2"))
            / F.sqrt(
                F.col("n1").cast("double") * F.col("n2")
                * (F.col("n1") + F.col("n2") + 1) / 3.0
            )
        ).alias("z_micro"),
    ).orderBy("event_type")


@query(
    "agg_skewness_kurtosis",
    oracle="""
WITH b AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x
  FROM lineitem
), s AS (
  SELECT flag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS s1,
         CAST(sum(x * x) AS DOUBLE) AS s2,
         CAST(sum(x * x * x) AS DOUBLE) AS s3,
         CAST(sum(x * x * x * x) AS DOUBLE) AS s4
  FROM b GROUP BY flag
), m AS (
  SELECT flag, n, s1 / n AS m1, s2 / n AS m2, s3 / n AS m3, s4 / n AS m4
  FROM s
), v AS (
  SELECT flag, n, m1, m2, m3, m4, m2 - m1 * m1 AS var
  FROM m
)
SELECT flag, n,
       CAST(floor(1000000.0 * (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
            / (sqrt(var) * var)) AS BIGINT) AS skew_micro,
       CAST(floor(1000000.0
            * ((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
               / (var * var) - 3)) AS BIGINT) AS kurt_micro
FROM v ORDER BY flag
""",
)
def agg_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third and fourth standardized moments (skewness, excess
    kurtosis) per group — the distribution-shape diagnostics behind
    outlier policies and heavy-tail detection — CROSS-ENGINE EXACT by
    the corr/ttest discipline extended to power sums: n and the four
    integer power sums are exact (quantity <= 50, so sum(x^4) stays
    int64 to ~1.5e12 rows per group; cast the power terms to
    decimal(38,0) beyond), then ONE fixed-shape double expression
    standardizes them, floor-scaled to micros.

    100 TB: one map-side-combining hash agg of five sums — the q1
    shape — and O(groups) scalar math; nothing iterates, nothing
    collects."""
    li = load(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
    )
    x = F.col("x")
    s = b.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("s1"),
        F.sum(x * x).cast("double").alias("s2"),
        F.sum(x * x * x).cast("double").alias("s3"),
        F.sum(x * x * x * x).cast("double").alias("s4"),
    )
    m = s.select(
        "flag", "n",
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("m2"),
        (F.col("s3") / F.col("n")).alias("m3"),
        (F.col("s4") / F.col("n")).alias("m4"),
    )
    v = m.select(
        "flag", "n", "m1", "m2", "m3", "m4",
        (F.col("m2") - F.col("m1") * F.col("m1")).alias("var"),
    )
    m1, m2, m3, m4, var = (F.col(c) for c in ("m1", "m2", "m3", "m4", "var"))
    micro = F.lit(1000000.0)
    return v.select(
        "flag", "n",
        F.floor(
            micro * (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
            / (F.sqrt(var) * var)
        ).alias("skew_micro"),
        F.floor(
            micro
            * (
                (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
                / (var * var)
                - 3
            )
        ).alias("kurt_micro"),
    ).orderBy("flag")


@query(
    "agg_bootstrap_ci",
    oracle="""
WITH reps AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents, b,
         CAST(('0x' || substr(sha256(CAST(event_id AS VARCHAR) || ':'
                || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS h
  FROM events, range(0, 32) t(b)
), mult AS (
  SELECT event_type, cents, b,
         CASE WHEN h < 3679 THEN 0 WHEN h < 7358 THEN 1
              WHEN h < 9197 THEN 2 WHEN h < 9810 THEN 3
              WHEN h < 9963 THEN 4 ELSE 5 END AS m
  FROM reps
), means AS (
  SELECT event_type, b,
         CAST((1000000 * sum(m * cents)) // sum(m) AS BIGINT) AS mean_micro
  FROM mult GROUP BY event_type, b
), ranked AS (
  SELECT event_type, mean_micro,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY mean_micro, b) AS rn
  FROM means
), full_mean AS (
  SELECT event_type,
         CAST((1000000 * sum(CAST(floor(value * 100) AS BIGINT)))
              // count(*) AS BIGINT) AS mean_micro
  FROM events GROUP BY event_type
)
SELECT f.event_type, f.mean_micro,
       CAST(max(CASE WHEN rn = 2 THEN r.mean_micro END) AS BIGINT)
         AS ci_lo_micro,
       CAST(max(CASE WHEN rn = 31 THEN r.mean_micro END) AS BIGINT)
         AS ci_hi_micro
FROM full_mean f JOIN ranked r ON r.event_type = f.event_type
GROUP BY f.event_type, f.mean_micro
ORDER BY f.event_type
""",
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC bootstrap confidence interval for the per-type
    mean — uncertainty quantification as a single declarative plan,
    no random state: each of 32 replicates draws every row with
    multiplicity ~ Poisson(1) via the inverse CDF over the portable
    sha-slice hash of (event_id, replicate) — the Poisson bootstrap
    (resampling without coordinating a global n, the only bootstrap
    that distributes), made replayable bit-for-bit in SQL. Replicate
    means are exact integer micro-units (floored division of exact
    cent sums); the 90% percentile interval picks ranks 2 and 31 of
    the 32 sorted means with a replicate-id tiebreak.

    100 TB: the 33x explode flows into ONE map-side-combining hash agg
    keyed (type, b) — 33 counters per key per partition, no second
    pass over the data, no driver-side resampling; the rank step runs
    over groups x 32 rows. The hash thresholds approximate Poisson(1)
    to 4 digits; swap in more CDF terms if tail multiplicity matters.
    Replicate 32 is the FULL SAMPLE (multiplicity pinned to 1, never
    ranked): (1e6·Σm·cents) div Σm with m=1 everywhere is exactly the
    full mean, so the point estimate rides the same scan and hash agg
    instead of the r16 shape's second full events pass (guide §2.4 —
    the removed pass is fact-sized, the extra replicate is 1/32 more
    shuffle rows into an agg that was already there)."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    cents = F.floor(F.col("value") * 100).cast("long")
    reps = ev.select(
        "event_type", cents.alias("cents"), "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(32))).alias("b"),
    ).select(
        "event_type", "cents", "b",
        # Guarded when: the full-sample replicate (b=32) never reads h,
        # so its rows skip the sha entirely (codegen evaluates when
        # branches lazily) — the 33rd replicate adds shuffle rows, not
        # hash work.
        F.when(
            F.col("b") < 32,
            F.conv(
                F.substring(
                    F.sha2(
                        F.concat(
                            F.col("event_id").cast("string"),
                            F.lit(":"),
                            F.col("b").cast("string"),
                        ),
                        256,
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long") % 10000,
        ).alias("h"),
    )
    mult = reps.select(
        "event_type", "cents", "b",
        F.when(F.col("b") == 32, 1)
        .when(F.col("h") < 3679, 0)
        .when(F.col("h") < 7358, 1)
        .when(F.col("h") < 9197, 2)
        .when(F.col("h") < 9810, 3)
        .when(F.col("h") < 9963, 4)
        .otherwise(5)
        .alias("m"),
    )
    means = mult.groupBy("event_type", "b").agg(
        F.expr("(1000000 * sum(m * cents)) div sum(m)")
        .cast("long")
        .alias("mean_micro")
    ).localCheckpoint(eager=True)
    # Filter BEFORE the rank window: replicate 32 (the full sample)
    # must not occupy a rank. The checkpoint is (types × 33) rows —
    # without it the ranked and full-mean branches would each re-run
    # the fact-sized explode+agg subtree.
    ranked = means.filter(F.col("b") < 32).select(
        "event_type", "mean_micro",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("mean_micro", "b"))
        .alias("rn"),
    )
    full_mean = means.filter(F.col("b") == 32).select(
        "event_type", "mean_micro"
    )
    return (
        full_mean.join(
            ranked.withColumnRenamed("mean_micro", "rep_mean"), "event_type"
        )
        .groupBy("event_type", "mean_micro")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("rep_mean")))
            .cast("long")
            .alias("ci_lo_micro"),
            F.max(F.when(F.col("rn") == 31, F.col("rep_mean")))
            .cast("long")
            .alias("ci_hi_micro"),
        )
        .orderBy("event_type")
    )


def _ewma_oracle() -> str:
    terms = " + ".join(
        f"coalesce(lag(q, {j}) OVER w, 0) * {1 << (15 - j)}"
        for j in range(16)
    )
    return f"""
WITH b AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         CAST(l_quantity AS BIGINT) AS q, l_shipdate
  FROM lineitem WHERE l_suppkey % 49 = 0
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST({terms} AS BIGINT) AS ewma_scaled
FROM b
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber)
ORDER BY l_suppkey, l_orderkey, l_linenumber
"""


@query("window_ewma", oracle=_ewma_oracle())
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT exponentially-weighted moving average (half-life = one
    step) over a 16-observation horizon: ewma_scaled = sum_j q_{t-j} *
    2^(15-j) — the newest observation carries weight 2^15, each older
    one half that, and the finite horizon truncates weights below
    2^0 (a 1/65536 relative error floor, far under any monitoring
    threshold). Keeping the weights as integer powers of two makes
    the statistic EXACT int64 arithmetic — the float recurrence
    s = a*x + (1-a)*s is order-sensitive and never bit-stable across
    engines — so both sides compute sixteen lag terms over the same
    (shipdate, orderkey, linenumber) total order.

    100 TB: one shuffle on the partition key; the 16 lags share one
    window sort (Catalyst collapses same-window lag chains into a
    single WindowExec); the supplier filter is partition-complete so
    Catalyst plans it at the scan stage below the window (a modulo
    predicate cannot use parquet footer stats, so only IsNotNull
    reaches the reader — the row filter still runs pre-shuffle)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 49 == 0)
    b = li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"), "l_shipdate",
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    ewma = None
    for j in range(16):
        term = F.coalesce(F.lag("q", j).over(w), F.lit(0)) * (1 << (15 - j))
        ewma = term if ewma is None else ewma + term
    return (
        b.select(
            "l_suppkey", "l_orderkey", "l_linenumber",
            ewma.cast("long").alias("ewma_scaled"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


@query(
    "join_asof_tolerance",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), errors AS (
  SELECT event_id AS rid, user_id, ts AS ets, value
  FROM events WHERE event_type = 'error'
), j AS (
  SELECT c.event_id, c.user_id, c.ts, e.ets, e.value,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY e.ets DESC, e.rid DESC) AS rn
  FROM clicks c LEFT JOIN errors e
    ON c.user_id = e.user_id AND e.ets <= c.ts
)
SELECT event_id, user_id, ts,
       CASE WHEN ets IS NOT NULL
             AND epoch_us(ts) - epoch_us(ets) <= 7200000000
            THEN ets END AS asof_ts,
       CASE WHEN ets IS NOT NULL
             AND epoch_us(ts) - epoch_us(ets) <= 7200000000
            THEN round(value, 4) END AS asof_value
FROM j WHERE rn = 1
ORDER BY event_id
""",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (merge_asof's `tolerance=`):
    each click takes the most recent prior error by the same user ONLY
    if it is at most 2 hours old — older matches become NULL, exactly
    like no match at all (a stale error should not explain a click).
    LEFT semantics throughout: every click row survives. The bound is
    applied AFTER the single-shuffle union+window as-of resolution
    (operators/joins.asof_join), not inside the join condition, so the
    plan is identical to the unbounded as-of — one exchange on
    user_id, no range-join row blowup — and the tolerance is a
    row-local CASE.

    100 TB: same as J8; tolerance changes selectivity, not shape."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("rid"), "user_id",
        F.col("ts").alias("ets"), "value",
    )
    joined = asof_join(
        clicks, errors, left_ts="ts", right_ts="ets", by="user_id",
        value_cols=["ets", "value"], tiebreak="rid",
    )
    fresh = F.col("ets").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("ets") <= 7_200_000_000
    )
    return joined.select(
        "event_id", "user_id", "ts",
        F.when(fresh, F.col("ets")).alias("asof_ts"),
        F.when(fresh, F.round("value", 4)).alias("asof_value"),
    ).orderBy("event_id")


@query(
    "window_rolling_median",
    oracle="""
WITH b AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_suppkey % 49 = 0
), w AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         list(cents) OVER (PARTITION BY l_suppkey
                           ORDER BY l_shipdate, l_orderkey, l_linenumber
                           ROWS BETWEEN 48 PRECEDING AND CURRENT ROW)
           AS frame
  FROM b
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(len(frame) AS BIGINT) AS n_frame,
       CAST(list_sort(frame)[(len(frame) + 1) // 2] AS BIGINT)
         AS median_cents
FROM w
ORDER BY l_suppkey, l_orderkey, l_linenumber
""",
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING MEDIAN (lower median, trailing 49-row frame) — the
    robust smoother a monitoring pipeline wants where window_ewma's
    mean chases outliers; rolling quantiles have no incremental
    aggregate, so the frame materializes as an array (collect_list
    over the window) and one row-local HOF sorts and indexes it:
    element (n+1) div 2 of the sorted frame = the lower median,
    integer-exact on cents with zero cross-engine float surface.

    100 TB: one shuffle + one sort on the partition key; the O(F log
    F) per-row sort (F = 49) runs JVM-side inside codegen. Cost grows
    linearly in frame size — for F in the thousands switch to the
    two-heap / order-statistic-tree mapInPandas kernel per partition;
    at F = 49 the array form is both simpler and faster. The
    partition-complete supplier filter evaluates at the scan stage
    pre-shuffle exactly as in window_ewma."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 49 == 0)
    b = li.select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-48, 0)
    )
    frame = F.collect_list("cents").over(w)
    out = b.select(
        "l_suppkey", "l_orderkey", "l_linenumber", frame.alias("frame")
    )
    sorted_frame = F.array_sort("frame")
    return out.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.size("frame").cast("long").alias("n_frame"),
        F.element_at(
            sorted_frame, ((F.size("frame") + 1) / 2).cast("int")
        ).cast("long").alias("median_cents"),
    ).orderBy("l_suppkey", "l_orderkey", "l_linenumber")


@query(
    "agg_winsorized_mean",
    oracle="""
WITH b AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS x
  FROM lineitem
), r AS (
  SELECT flag, x,
         row_number() OVER (PARTITION BY flag ORDER BY x) AS rn,
         count(*) OVER (PARTITION BY flag) AS n
  FROM b
), cuts AS (
  SELECT flag,
         max(CASE WHEN rn = (n * 5 + 99) // 100 THEN x END) AS lo,
         max(CASE WHEN rn = (n * 95 + 99) // 100 THEN x END) AS hi
  FROM r GROUP BY flag
)
SELECT b.flag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(c.lo) AS BIGINT) AS lo_cents,
       CAST(max(c.hi) AS BIGINT) AS hi_cents,
       CAST((1000000 * sum(greatest(c.lo, least(c.hi, b.x)))) // count(*)
            AS BIGINT) AS winsorized_mean_micro
FROM b JOIN cuts c ON c.flag = b.flag
GROUP BY b.flag ORDER BY b.flag
""",
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED mean per group — the robust average that clamps the
    tails at the exact p5/p95 order statistics instead of dropping
    rows (trimming changes n; winsorizing keeps it): rank each value
    once (row_number over the cents order — deterministic because
    equal cents are interchangeable under clamping), pick the values
    at ranks ceil(.05n) / ceil(.95n) as integer cut points, clamp,
    and take the exact integer mean. No float quantile estimator
    anywhere, so both engines agree to the last micro.

    100 TB: the rank window, the cut extraction, and the clamp agg all
    cluster on the group key — one exchange (the gini shape); the
    broadcast-back of two integers per group is metadata. An
    approximate variant swaps the rank pass for agg_percentiles'
    sketch when a 0.5% cut-point error is acceptable."""
    li = load(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("x"),
    )
    w = Window.partitionBy("flag").orderBy("x")
    r = b.select(
        "flag", "x",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("flag")).alias("n"),
    )
    cuts = r.groupBy("flag").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n * 5 + 99) div 100"), F.col("x"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.expr("(n * 95 + 99) div 100"), F.col("x"))
        ).alias("hi"),
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("x")))
    return (
        b.join(F.broadcast(cuts), "flag")
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("lo").cast("long").alias("lo_cents"),
            F.max("hi").cast("long").alias("hi_cents"),
            F.expr(
                "(1000000 * sum(greatest(lo, least(hi, x)))) div count(1)"
            ).cast("long").alias("winsorized_mean_micro"),
        )
        .orderBy("flag")
    )


#: Benford first-digit probabilities in integer micro units
#: (floor(1e6*log10(1+1/d))) — literal SPEC constants shared by both
#: engines so no libm call happens at query time.
_BENFORD_MICRO = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


def _benford_oracle() -> str:
    vals = ", ".join(f"({d}, {p})" for d, p in _BENFORD_MICRO.items())
    return f"""
WITH b AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM lineitem
), o AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM b GROUP BY digit
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS total FROM b
), p(digit, p_micro) AS (VALUES {vals}),
cells AS (
  SELECT p.digit, coalesce(o.n_obs, 0) AS n_obs, p.p_micro, n.total,
         n.total * p.p_micro / 1000000.0 AS expected
  FROM p LEFT JOIN o ON o.digit = p.digit CROSS JOIN n
), scored AS (
  SELECT digit, n_obs, p_micro,
         CAST(floor(1000000.0 * (n_obs - expected) * (n_obs - expected)
              / expected) AS BIGINT) AS chi2_part_micro
  FROM cells
)
SELECT digit, n_obs, CAST(p_micro AS BIGINT) AS p_micro, chi2_part_micro,
       CAST(sum(chi2_part_micro) OVER () AS BIGINT) AS chi2_total_micro
FROM scored
ORDER BY digit
"""


@query("agg_benford", oracle=_benford_oracle())
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S LAW audit of price first digits — the
    fraud/synthetic-data screen: observed first-digit counts against
    the log10(1+1/d) distribution with a chi-square distance. The
    expected probabilities are integer micro LITERALS baked into both
    engines (spec constants, like the OSISAF URL template — no libm at
    query time); digits come from string heads of exact integer cents
    (no log10 to find the magnitude); each digit's chi-square
    contribution is floored to integer micros before the order-free
    integer total. Digits with zero observations still appear (LEFT
    join from the digit spec), so a missing digit — the strongest
    fraud signal — cannot vanish from the report.

    100 TB: one map-side-combining digit count + a 9-row broadcast;
    the audit is O(9) scalar math."""
    li = load(spark, sf_dir, "lineitem")
    b = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice") * 100).cast("long").cast("string"),
            1, 1,
        ).cast("long").alias("digit")
    )
    o = b.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    # Total rows derive from the digit histogram itself (every row
    # lands in exactly one digit group), as a 1-row broadcast instead
    # of the r16 `b.count()` — that driver action cost a SECOND full
    # lineitem scan per run (guide §5: no driver actions in query
    # paths). Same long total, same long*long -> long / double
    # arithmetic, bit-identical expected values.
    tot = o.agg(F.sum("n_obs").cast("long").alias("__total"))
    spec = b.sparkSession.createDataFrame(
        list(_BENFORD_MICRO.items()), "digit long, p_micro long"
    )
    cells = (
        F.broadcast(spec)
        .join(o, "digit", "left")
        .join(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            "p_micro",
            (F.col("__total") * F.col("p_micro") / F.lit(1000000.0)).alias(
                "expected"
            ),
        )
    )
    scored = cells.select(
        "digit", "n_obs", "p_micro",
        F.floor(
            F.lit(1000000.0)
            * (F.col("n_obs") - F.col("expected"))
            * (F.col("n_obs") - F.col("expected"))
            / F.col("expected")
        ).alias("chi2_part_micro"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return scored.select(
        "digit", "n_obs", "p_micro", "chi2_part_micro",
        F.sum("chi2_part_micro").over(w).cast("long")
        .alias("chi2_total_micro"),
    ).orderBy("digit")


@query(
    "agg_ratio_delta",
    oracle="""
WITH per_user AS (
  SELECT c.c_mktsegment AS segment, e.user_id, e.user_id % 2 AS variant,
         CAST(count_if(e.event_type = 'purchase') AS BIGINT) AS x,
         CAST(count_if(e.event_type = 'click') AS BIGINT) AS y
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY 1, 2, 3
), s AS (
  SELECT segment, variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy,
         CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM per_user GROUP BY 1, 2
), m AS (
  SELECT segment, variant, n, sx / sy AS r,
         ((sxx - sx * sx / n) / (n - 1)
          - 2 * (sx / sy) * ((sxy - sx * sy / n) / (n - 1))
          + (sx / sy) * (sx / sy) * ((syy - sy * sy / n) / (n - 1)))
         / (n * (sy / n) * (sy / n)) AS var_r
  FROM s
), wide AS (
  SELECT segment,
         max(CASE WHEN variant = 0 THEN n END) AS n0,
         max(CASE WHEN variant = 1 THEN n END) AS n1,
         max(CASE WHEN variant = 0 THEN r END) AS r0,
         max(CASE WHEN variant = 1 THEN r END) AS r1,
         max(CASE WHEN variant = 0 THEN var_r END) AS v0,
         max(CASE WHEN variant = 1 THEN var_r END) AS v1
  FROM m GROUP BY segment
)
SELECT segment, n0, n1,
       CAST(floor(1000000.0 * r0) AS BIGINT) AS r0_micro,
       CAST(floor(1000000.0 * r1) AS BIGINT) AS r1_micro,
       CAST(floor(1000000.0 * (r1 - r0) / sqrt(v0 + v1)) AS BIGINT)
         AS z_micro
FROM wide ORDER BY segment
""",
)
def agg_ratio_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO-METRIC experiment readout via the DELTA METHOD — the
    analysis agg_chisquare_ab and agg_welch_ttest cannot do: a
    clicks-to-purchase ratio R = sum(x)/sum(y) is a ratio of
    per-user sums, so its variance needs the user-level covariance
    (treating every event as independent — the naive z — understates
    the variance whenever users differ, the single most common wrong
    A/B answer). Per (segment, variant): exact per-user integer
    (x, y), exact co-moment sums, then ONE fixed double tree for
    R, Var(R) = (s_x^2 - 2R s_xy + R^2 s_y^2) / (n ybar^2), and the
    two-variant z — floor-scaled micros, bit-identical engines.

    100 TB: the per-user reduce and the per-(segment, variant) moment
    agg are two map-side-combining shuffles on narrowing keys; the
    dim join broadcasts; the statistics are O(segments) scalar
    math."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    per_user = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("segment", "user_id", (F.col("user_id") % 2).alias("variant"))
        .agg(
            F.count_if(F.col("event_type") == "purchase").alias("x"),
            F.count_if(F.col("event_type") == "click").alias("y"),
        )
    )
    s = per_user.groupBy("segment", "variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (
        F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    r = sx / sy
    var_r = (
        (sxx - sx * sx / n) / (n - 1)
        - 2 * r * ((sxy - sx * sy / n) / (n - 1))
        + r * r * ((syy - sy * sy / n) / (n - 1))
    ) / (n * (sy / n) * (sy / n))
    m = s.select("segment", "variant", "n", r.alias("r"), var_r.alias("var_r"))
    wide = m.groupBy("segment").agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("r"))).alias("r0"),
        F.max(F.when(F.col("variant") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("variant") == 0, F.col("var_r"))).alias("v0"),
        F.max(F.when(F.col("variant") == 1, F.col("var_r"))).alias("v1"),
    )
    micro = F.lit(1000000.0)
    return wide.select(
        "segment", "n0", "n1",
        F.floor(micro * F.col("r0")).alias("r0_micro"),
        F.floor(micro * F.col("r1")).alias("r1_micro"),
        F.floor(
            micro * (F.col("r1") - F.col("r0"))
            / F.sqrt(F.col("v0") + F.col("v1"))
        ).alias("z_micro"),
    ).orderBy("segment")


@query(
    "agg_ks_test",
    oracle="""
WITH b AS (
  SELECT l_returnflag AS flag,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS hi,
         CAST(l_quantity AS BIGINT) AS x
  FROM lineitem
), n AS (
  SELECT flag,
         CAST(sum(hi) AS BIGINT) AS n1,
         CAST(count(*) - sum(hi) AS BIGINT) AS n2
  FROM b GROUP BY flag
), v AS (
  SELECT flag, x,
         CAST(sum(hi) AS BIGINT) AS c1,
         CAST(count(*) - sum(hi) AS BIGINT) AS c2
  FROM b GROUP BY flag, x
), cum AS (
  SELECT flag, x,
         sum(c1) OVER (PARTITION BY flag ORDER BY x
                       ROWS UNBOUNDED PRECEDING) AS f1,
         sum(c2) OVER (PARTITION BY flag ORDER BY x
                       ROWS UNBOUNDED PRECEDING) AS f2
  FROM v
)
SELECT c.flag, max(n.n1) AS n1, max(n.n2) AS n2,
       CAST(max(abs(c.f1 * n.n2 - c.f2 * n.n1)) AS BIGINT) AS d_num,
       CAST(floor(1000000.0 * max(abs(c.f1 * n.n2 - c.f2 * n.n1))
            / (CAST(max(n.n1) AS DOUBLE) * max(n.n2))) AS BIGINT)
         AS d_micro
FROM cum c JOIN n ON n.flag = c.flag
GROUP BY c.flag
ORDER BY c.flag
""",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV statistic per group — the
    whole-distribution test completing the inference family
    (Welch = means, Mann-Whitney = location, ANOVA = k means, KS =
    the entire ECDF): D = max |F1 - F2| computed ENTIRELY in integers
    — per distinct value the two samples' cumulative counts, and the
    supremum over |c1·n2 - c2·n1| (the common-denominator form, so
    the only float is the final presentation division). Grouping by
    distinct value first makes ties exact by construction: the ECDF
    evaluates after ALL equal values, the spot per-row running counts
    get wrong.

    100 TB: the distinct-value agg, the two cumulative windows, the
    total windows and the final agg ALL cluster on the group key —
    one fact scan, one exchange, zero joins. The per-sample totals
    n1/n2 are the LAST cumulative counts (running sums are monotone),
    so they come from a whole-partition max window chained on the same
    key instead of a second scan-and-aggregate of the fact table (the
    r16 shape paid 2 lineitem scans + a broadcast join; guide §2.4 —
    chained windows on one partitionBy share a single Exchange)."""
    li = load(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("hi"),
        F.col("l_quantity").cast("long").alias("x"),
    )
    v = b.groupBy("flag", "x").agg(
        F.sum("hi").cast("long").alias("c1"),
        (F.count(F.lit(1)) - F.sum("hi")).cast("long").alias("c2"),
    )
    w = (
        Window.partitionBy("flag")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("flag")
    j = v.select(
        "flag", "x",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    ).select(
        "flag", "x", "f1", "f2",
        F.max("f1").over(wt).alias("n1"),
        F.max("f2").over(wt).alias("n2"),
    )
    dev = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    return (
        j.groupBy("flag")
        .agg(
            F.max("n1").cast("long").alias("n1"),
            F.max("n2").cast("long").alias("n2"),
            F.max(dev).cast("long").alias("d_num"),
            F.floor(
                F.lit(1000000.0) * F.max(dev)
                / (F.max("n1").cast("double") * F.max("n2"))
            ).alias("d_micro"),
        )
        .orderBy("flag")
    )


@query(
    "scalar_bitwise",
    oracle="""
SELECT p_partkey,
       CAST(p_partkey & CAST(p_size AS BIGINT) AS BIGINT)  AS b_and,
       CAST(p_partkey | CAST(p_size AS BIGINT) AS BIGINT)  AS b_or,
       CAST(xor(p_partkey, CAST(p_size AS BIGINT)) AS BIGINT) AS b_xor,
       CAST(p_partkey << (p_size % 4) AS BIGINT)           AS b_shl,
       CAST(p_partkey >> 1 AS BIGINT)                      AS b_shr,
       CAST(bit_count(p_partkey) AS BIGINT)                AS b_pop,
       CAST(~p_partkey AS BIGINT)                          AS b_not
FROM part
""",
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 bitwise suite — AND/OR/XOR, shifts, popcount, complement:
    the integer machinery bitmap indexes, bloom slices (st13), Morton
    interleaves (x6_zorder_layout) and packed PQ codes (x3_pq_codes)
    are built from, pinned as first-class scalars. Dialect note the
    oracle encodes: DuckDB's ^ is exponentiation — XOR is the xor()
    function there, while Spark SQL spells it ^."""
    p = load(spark, sf_dir, "part")
    sz = F.col("p_size").cast("long")
    return p.select(
        "p_partkey",
        F.expr("p_partkey & cast(p_size as bigint)").alias("b_and"),
        F.expr("p_partkey | cast(p_size as bigint)").alias("b_or"),
        F.expr("p_partkey ^ cast(p_size as bigint)").alias("b_xor"),
        F.expr("shiftleft(p_partkey, cast(p_size % 4 as int))")
        .cast("long")
        .alias("b_shl"),
        F.expr("shiftright(p_partkey, 1)").cast("long").alias("b_shr"),
        F.expr("bit_count(p_partkey)").cast("long").alias("b_pop"),
        F.expr("~p_partkey").cast("long").alias("b_not"),
    )


@query(
    "agg_share_of_parent",
    oracle="""
WITH rev AS (
  SELECT r.r_name, n.n_name,
         CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  JOIN region r   ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name, rev_cents,
       CAST(floor(10000.0 * rev_cents
            / sum(rev_cents) OVER (PARTITION BY r_name)) AS BIGINT)
         AS share_bp
FROM rev
ORDER BY r_name, n_name
""",
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent rollup — each nation's revenue as basis points
    of its region's total: the drill-down ratio every BI layer
    computes (window-sum over the PARENT grouping, never a self-join
    back to a separate regional rollup). Per-row revenue floors to
    cents before summation (identical IEEE product both engines), so
    the totals and the share are exact integers.

    100 TB: the fact joins the fixed-size dims broadcast, the rollup
    is one map-side-combining agg on (region, nation) — 25×5 output
    rows — and the parent window runs over that metadata-sized result,
    not the fact stream."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(cents).cast("long").alias("rev_cents"))
    )
    w = Window.partitionBy("r_name")
    return rev.select(
        "r_name",
        "n_name",
        "rev_cents",
        F.floor(F.lit(10000.0) * F.col("rev_cents") / F.sum("rev_cents").over(w))
        .cast("long")
        .alias("share_bp"),
    ).orderBy("r_name", "n_name")


@query(
    "scalar_inet",
    oracle="""
WITH ips AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 167772160 + doc_id
              WHEN doc_id % 7 = 0 THEN 3232235520 + doc_id % 65536
              ELSE (doc_id * 2654435761) % 4294967296 END AS ipint
  FROM documents
), oct AS (
  SELECT doc_id, ipint,
         CAST(ipint >> 24 AS BIGINT) AS o1,
         CAST((ipint >> 16) & 255 AS BIGINT) AS o2,
         CAST((ipint >> 8) & 255 AS BIGINT) AS o3,
         CAST(ipint & 255 AS BIGINT) AS o4
  FROM ips
), flags AS (
  SELECT doc_id, ipint, o1, o2,
         o1 || '.' || o2 || '.' || o3 || '.' || o4 AS ip,
         (o1 = 10)
          OR (o1 = 172 AND (ipint >> 20) = (2886729728 >> 20))
          OR (o1 = 192 AND o2 = 168) AS is_private,
         ((ipint >> 24) = (167772160 >> 24))
          OR ((ipint >> 8) = (3405803776 >> 8)) AS is_blocked
  FROM oct
)
SELECT CAST(ipint >> 16 AS BIGINT) AS subnet16,
       CAST(count(*) AS BIGINT) AS n_ips,
       CAST(count(*) FILTER (WHERE is_private) AS BIGINT) AS n_private,
       CAST(count(*) FILTER (WHERE is_blocked) AS BIGINT) AS n_blocked,
       min(ip) AS sample_ip
FROM flags
GROUP BY 1
ORDER BY subnet16
LIMIT 300
""",
)
def scalar_inet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network-address scalar suite — the IP hygiene pass a web-crawl
    pipeline runs before geolocation/abuse filtering: int↔dotted-quad
    conversion, RFC-1918 private-range detection (10/8, 172.16/12,
    192.168/16), CIDR blocklist containment via prefix shifts
    (10.0.0.0/8 and the TEST-NET 203.0.113.0/24), aggregated per /16
    subnet. Spark has no inet builtins, so the point is the spelling:
    every operation is shift/mask arithmetic on one int64 column —
    whole-stage-codegen'd, pushdown-friendly, no UDF, no regex. The
    CIDR test `ip >> (32-prefix) == net >> (32-prefix)` is the
    longest-prefix-match building block; a real blocklist broadcasts a
    (net, prefix) dim and joins on the shifted key per prefix length.

    100 TB: row-local arithmetic then ONE map-side-combining count on
    the /16 key (65k groups — perfectly uniform here by construction;
    real traffic skews and the count combines map-side anyway)."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    # every 5th doc planted in 10/8, every 7th in 192.168/16, so the
    # private/blocked branches fire at any SF (same CASE both engines)
    _IP = ("CASE WHEN doc_id % 5 = 0 THEN 167772160 + doc_id"
           " WHEN doc_id % 7 = 0 THEN 3232235520 + doc_id % 65536"
           " ELSE (doc_id * 2654435761) % 4294967296 END")
    ipint = F.expr(_IP)
    oct_ = d.select("doc_id", ipint.alias("ipint")).select(
        "doc_id",
        "ipint",
        F.expr("CAST(shiftright(ipint, 24) AS BIGINT)").alias("o1"),
        F.expr("CAST(shiftright(ipint, 16) & 255 AS BIGINT)").alias("o2"),
        F.expr("CAST(shiftright(ipint, 8) & 255 AS BIGINT)").alias("o3"),
        F.expr("CAST(ipint & 255 AS BIGINT)").alias("o4"),
    )
    ip_str = F.concat_ws(".", "o1", "o2", "o3", "o4")
    is_private = (
        (F.col("o1") == 10)
        | ((F.col("o1") == 172) & (F.expr("shiftright(ipint, 20)") == (2886729728 >> 20)))
        | ((F.col("o1") == 192) & (F.col("o2") == 168))
    )
    is_blocked = (
        (F.expr("shiftright(ipint, 24)") == (167772160 >> 24))
        | (F.expr("shiftright(ipint, 8)") == (3405803776 >> 8))
    )
    flags = oct_.select(
        "doc_id",
        "ipint",
        ip_str.alias("ip"),
        is_private.alias("is_private"),
        is_blocked.alias("is_blocked"),
    )
    return (
        flags.groupBy(
            F.expr("CAST(shiftright(ipint, 16) AS BIGINT)").alias("subnet16")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ips"),
            F.count_if("is_private").cast("long").alias("n_private"),
            F.count_if("is_blocked").cast("long").alias("n_blocked"),
            F.min("ip").alias("sample_ip"),
        )
        .orderBy("subnet16")
        .limit(300)
    )
