"""Relational query surface over the TPC-H-ish star schema.

Covers SURVEY.md §2.2 (projection/filter), §2.4 (aggregation), §2.6
(joins/set ops — the reference has none, re-expressed per §7 step 4),
§2.7 (sorts/limits/top-k windows).

Scale notes (100 TB stance), per query:
  * fact-fact joins (orders ⋈ lineitem) shuffle on the join key — at
    scale both sides would be bucketed by orderkey at write time;
  * dim joins: only the BOUNDED dims (region/nation) carry explicit
    ``F.broadcast`` hints; customer/supplier go through
    ``catalog.maybe_broadcast`` which leaves them to the planner — AQE
    broadcasts them at small SFs from runtime sizes, and at 100 TB the
    same plan degrades gracefully to a shuffle join instead of OOMing
    on a forced broadcast;
  * aggregates use map-side partial aggregation automatically; the
    decimal-sum trick (functions/numeric.py) keeps results
    partition-count-independent, which matters when AQE changes the
    shuffle layout between runs;
  * top-k uses window ``row_number`` with a deterministic tiebreak so
    LIMIT queries hash-match the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table, maybe_broadcast
from bigdatamlteamrepo_spark.functions.numeric import davg, davg_expr, dec, dsum, dsum_expr

# Revenue terms in EXACT decimal arithmetic: cast the raw factors (whose
# true decimal scale is tiny) and multiply as decimals, never casting a
# double product — engines disagree on double→decimal rounding of
# large-magnitude products (see functions/numeric.dec).  Built lazily:
# Column construction with literals needs a live SparkContext.


def _rev():
    return dec("l_extendedprice", 16, 2) * (
        F.lit(1).cast("decimal(2,0)") - dec("l_discount", 8, 6)
    )


def _charge():
    return _rev() * (F.lit(1).cast("decimal(2,0)") + dec("l_tax", 8, 6))


# every intermediate type pinned: DuckDB's implicit INTEGER-DECIMAL
# arithmetic widens to DECIMAL(19,6)+ and then overflows/renarrows in
# engine-specific ways
_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(16,2)) "
    "* CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(9,6))"
)
_CHARGE_SQL = (
    f"CAST({_REV_SQL} AS DECIMAL(24,8)) "
    "* CAST(1 + CAST(l_tax AS DECIMAL(8,6)) AS DECIMAL(9,6))"
)
from bigdatamlteamrepo_spark.queries.registry import query

# --------------------------------------------------------------------------
# Q1 — pricing summary (TPC-H Q1 shape): scan + filter + 8-agg groupBy.
# Whole plan is scan→filter(pushed)→partial agg→final agg; no join.
# --------------------------------------------------------------------------

_Q1_CUT = "1998-09-02 00:00:00"


@query(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {dsum_expr('l_quantity', 2)} AS sum_qty,
       {dsum_expr('l_extendedprice', 2)} AS sum_base_price,
       CAST(CAST(SUM({_REV_SQL}) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM({_CHARGE_SQL}) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
       {davg_expr('l_quantity', 2)} AS avg_qty,
       {davg_expr('l_extendedprice', 2)} AS avg_price,
       {davg_expr('l_discount', 6)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUT}'
GROUP BY l_returnflag, l_linestatus
""",
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUT).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2).alias("sum_qty"),
            dsum("l_extendedprice", 2).alias("sum_base_price"),
            F.sum(_rev()).cast("decimal(38,4)").cast("double").alias("sum_disc_price"),
            # rescale 14→6 first: the true scale is ≤6 so this is EXACT,
            # and decimal→double at scale 14 double-rounds in some engines
            F.sum(_charge()).cast("decimal(38,6)").cast("double").alias("sum_charge"),
            davg("l_quantity", 2).alias("avg_qty"),
            davg("l_extendedprice", 2).alias("avg_price"),
            davg("l_discount", 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Q3 — shipping priority: 3-way join + agg + deterministic top-10.
# customer is the selective side (1/5 segment) and is orders-of-magnitude
# smaller than lineitem → broadcast it into orders, then shuffle-join the
# pre-filtered orders with lineitem on orderkey.
# --------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle=f"""
WITH r AS (
  SELECT l_orderkey,
         o_orderdate,
         o_orderpriority,
         CAST(CAST(SUM({_REV_SQL}) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
SELECT * FROM r
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            orders.join(maybe_broadcast(cust, "customer"), F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev()).cast("decimal(38,4)").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q5 — revenue by nation within a region (TPC-H Q5 shape): 6-way join with
# two broadcast dims; exercises join reordering + c_nationkey = s_nationkey
# locality predicate.
# --------------------------------------------------------------------------


@query(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n_name,
       CAST(CAST(SUM({_REV_SQL}) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
    bench=True,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cust.join(
                F.broadcast(nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))),
                F.col("c_nationkey") == F.col("n_nationkey"),
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            maybe_broadcast(supp, "supplier"),
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("decimal(38,4)").cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Per-customer order stats: fact agg + broadcast dim join back.
# --------------------------------------------------------------------------


@query(
    "customer_order_stats",
    oracle=f"""
SELECT c_custkey, c_name, c_mktsegment,
       COUNT(*) AS n_orders,
       {dsum_expr('o_totalprice', 2)} AS total_spent,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       {davg_expr('o_totalprice', 2)} AS avg_price,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name, c_mktsegment
""",
)
def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("total_spent"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            davg("o_totalprice", 2).alias("avg_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


# --------------------------------------------------------------------------
# Top-k per group via window row_number (SURVEY O2 — the reference's one
# latent window use case, top-7 categories per cluster).
# --------------------------------------------------------------------------


@query(
    "top_orders_per_segment",
    oracle="""
WITH ranked AS (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY c_mktsegment
           ORDER BY o_totalprice DESC, o_orderkey
         ) AS rank_in_segment
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment, o_orderkey, o_totalprice, rank_in_segment
FROM ranked WHERE rank_in_segment <= 3
""",
    bench=True,
)
def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.join(maybe_broadcast(cust, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rank_in_segment", F.row_number().over(w))
        .filter(F.col("rank_in_segment") <= 3)
    )


# --------------------------------------------------------------------------
# Anti / semi joins (SURVEY §2.6 — driver-corpus relational surface).
# --------------------------------------------------------------------------


@query(
    "customers_without_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "customers_with_urgent_orders",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
""",
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


# --------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (distinct semantics both sides).
# --------------------------------------------------------------------------


@query(
    "building_and_urgent_custkeys",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
)
def building_and_urgent_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a.intersect(b)


@query(
    "machinery_minus_high_priority",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
""",
)
def machinery_minus_high_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    b = (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a.subtract(b)


# --------------------------------------------------------------------------
# Pivot / crosstab (SURVEY A6: pd.crosstab with forced value set) —
# explicit pivot values reproduce the forced-reindex semantics and keep
# the plan a single pass (no second job to discover pivot values).
# --------------------------------------------------------------------------

_STATUSES = ["F", "O", "P"]


@query(
    "order_priority_status_crosstab",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders
GROUP BY o_orderpriority
""",
)
def order_priority_status_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .count()
        .na.fill(0, _STATUSES)
    )


# --------------------------------------------------------------------------
# Dim-chain rollup: customers per region/nation via two broadcast joins.
# --------------------------------------------------------------------------


@query(
    "nation_region_customer_counts",
    oracle=f"""
SELECT r_name, n_name,
       COUNT(*) AS n_customers,
       {dsum_expr('c_acctbal', 2)} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def nation_region_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        cust.join(F.broadcast(dims), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", 2).alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Part stats: multi-column groupBy with min/max/avg (order-independent).
# --------------------------------------------------------------------------


@query(
    "part_brand_type_stats",
    oracle=f"""
SELECT p_brand, p_type,
       COUNT(*) AS n_parts,
       MIN(p_retailprice) AS min_price,
       MAX(p_retailprice) AS max_price,
       {davg_expr('p_retailprice', 2)} AS avg_price,
       MAX(p_size) AS max_size
FROM part
GROUP BY p_brand, p_type
""",
)
def part_brand_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        davg("p_retailprice", 2).alias("avg_price"),
        F.max("p_size").alias("max_size"),
    )


# --------------------------------------------------------------------------
# Q17 shape — correlated scalar aggregate: lineitems below 20% of their
# part's average quantity.  Re-expressed Spark-idiomatically as a
# grouped-avg + join (Catalyst decorrelates the subquery to the same
# plan); the per-part average uses the decimal trick so the threshold
# comparison is engine-portable.
# --------------------------------------------------------------------------


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
WITH part_avg AS (
  SELECT l_partkey, {davg_expr('l_quantity', 2)} AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT l.l_partkey,
       COUNT(*) AS n_small_items,
       {dsum_expr('l_extendedprice', 2)} AS small_revenue
FROM lineitem l
JOIN part_avg pa ON l.l_partkey = pa.l_partkey
WHERE l.l_quantity < 0.5 * pa.avg_qty
GROUP BY l.l_partkey
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        davg("l_quantity", 2).alias("avg_qty")
    )
    return (
        li.join(part_avg, F.col("l_partkey") == F.col("pa_key"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small_items"),
            dsum("l_extendedprice", 2).alias("small_revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q18 shape — large-volume orders: HAVING over a fact aggregate, joined
# back to customer (broadcast) with deterministic top-k.
# --------------------------------------------------------------------------


@query(
    "q18_large_volume_orders",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey, {dsum_expr('l_quantity', 2)} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {dsum_expr('l_quantity', 2)} > 150
)
SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
""",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(maybe_broadcast(cust, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Date functions: calendar rollup of order volume (year/month extraction
# — absent from the reference, needed by any driver-corpus workload).
# --------------------------------------------------------------------------


@query(
    "orders_monthly_volume",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       COUNT(*) AS n_orders,
       {dsum_expr('o_totalprice', 2)} AS total_price
FROM orders
GROUP BY 1, 2
""",
)
def orders_monthly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.month("o_orderdate").cast("bigint").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# String functions: LIKE / substring / length / case transforms over part
# names (string-surface breadth for the driver corpus).
# --------------------------------------------------------------------------


@query(
    "part_name_analysis",
    oracle="""
SELECT upper(substring(p_name, 1, 3)) AS name_prefix,
       COUNT(*) AS n_parts,
       COUNT(*) FILTER (WHERE p_name LIKE '%a%') AS n_with_a,
       MAX(length(p_name)) AS max_name_len,
       MIN(p_name) AS first_name
FROM part
GROUP BY 1
""",
)
def part_name_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(
            F.upper(F.substring("p_name", 1, 3)).alias("name_prefix")
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.count(F.when(F.col("p_name").like("%a%"), 1)).alias("n_with_a"),
            F.max(F.length("p_name")).alias("max_name_len"),
            F.min("p_name").alias("first_name"),
        )
    )


# --------------------------------------------------------------------------
# Full outer join: nations vs supplier presence (null sides preserved).
# --------------------------------------------------------------------------


@query(
    "nation_supplier_full_outer",
    oracle=f"""
WITH s AS (
  SELECT s_nationkey, COUNT(*) AS n_suppliers,
         {dsum_expr('s_acctbal', 2)} AS total_bal
  FROM supplier GROUP BY s_nationkey
)
SELECT n.n_name, s.n_suppliers, s.total_bal
FROM nation n FULL OUTER JOIN s ON n.n_nationkey = s.s_nationkey
""",
)
def nation_supplier_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum("s_acctbal", 2).alias("total_bal"),
        )
    )
    return nation.join(
        supp, F.col("n_nationkey") == F.col("s_nationkey"), "full_outer"
    ).select("n_name", "n_suppliers", "total_bal")


# --------------------------------------------------------------------------
# Pivot with a non-count aggregate: total price per (priority × status).
# --------------------------------------------------------------------------


def _cond_dsum(status: str) -> str:
    return (
        f"CAST(SUM(CASE WHEN o_orderstatus = '{status}' "
        f"THEN CAST(o_totalprice AS DECIMAL(30,2)) END) AS DOUBLE)"
    )


@query(
    "order_priority_status_value_pivot",
    oracle=f"""
SELECT o_orderpriority,
       {_cond_dsum('F')} AS "F",
       {_cond_dsum('O')} AS "O",
       {_cond_dsum('P')} AS "P"
FROM orders
GROUP BY o_orderpriority
""",
)
def order_priority_status_value_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(dsum("o_totalprice", 2))
    )


# --------------------------------------------------------------------------
# Distinct count + conditional aggregation (SURVEY A3 + F3).
# --------------------------------------------------------------------------


@query(
    "lineitem_flag_distincts",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted
FROM lineitem
GROUP BY l_returnflag
""",
)
def lineitem_flag_distincts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )


# --------------------------------------------------------------------------
# q4-shaped EXISTS semi-join: orders in a quarter having at least one
# late-shipped line (shipdate > orderdate + 60 days).  The driver schema
# lacks commit/receipt dates, so lateness is defined against the order
# date — the plan shape (filtered fact → correlated EXISTS → grouped
# count) is exactly TPC-H q4's.  Semi-join = no row duplication, no
# post-join dedup, and the date filter pushes to the orders scan.
# --------------------------------------------------------------------------


@query(
    "q4_order_priority_checking",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
""",
)
def q4_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --------------------------------------------------------------------------
# q16-shaped supplier-count: distinct suppliers per (brand, type, size)
# for non-excluded parts, excluding "problem" suppliers via NOT IN
# (anti-join).  TPC-H q16's plan shape on the driver schema (negative
# account balance stands in for the complaints filter).
# --------------------------------------------------------------------------


@query(
    "q16_parts_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size >= 5
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
""",
)
def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") >= 5)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(bad_supp, "l_suppkey", "left_anti")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q7-shaped nation-pair volume: revenue shipped from supplier-nation to
# customer-nation per year, both directions of one nation pair.  TPC-H
# q7's plan study: the two fact joins (lineitem⋈orders on orderkey,
# then ⋈customer on custkey) shuffle on their keys; nation is a
# broadcast dim applied twice under different aliases, and the pair
# predicate prunes BEFORE the fact-fact join because each side's
# nationkey filter pushes into its dim join.
# --------------------------------------------------------------------------

_Q7_NATIONS = ("NATION_1", "NATION_2")


@query(
    "q7_nation_pair_volume",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(CAST(SUM(volume) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year, {_REV_SQL} AS volume
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n1 ON n1.n_nationkey = s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c_nationkey
  WHERE (n1.n_name = '{_Q7_NATIONS[0]}' AND n2.n_name = '{_Q7_NATIONS[1]}')
     OR (n1.n_name = '{_Q7_NATIONS[1]}' AND n2.n_name = '{_Q7_NATIONS[0]}')
) GROUP BY supp_nation, cust_nation, l_year
""",
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*_Q7_NATIONS)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem")
    pair = (F.col("supp_nation") == _Q7_NATIONS[0]) & (
        F.col("cust_nation") == _Q7_NATIONS[1]
    ) | (F.col("supp_nation") == _Q7_NATIONS[1]) & (
        F.col("cust_nation") == _Q7_NATIONS[0]
    )
    return (
        li.join(maybe_broadcast(supp, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(cust, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(_rev()).cast("decimal(38,4)").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q2-shaped correlated min: for each large part, the supplier(s) whose
# account balance equals the minimum over that part's shippers.  The
# correlated scalar subquery decorrelates into (distinct part-supplier
# pairs) → window MIN over the part — dedup BEFORE the supplier join
# shrinks the shuffled build side from |lineitem| to |distinct pairs|.
# --------------------------------------------------------------------------


@query(
    "q2_min_acctbal_supplier_per_part",
    oracle="""
SELECT DISTINCT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
FROM part
JOIN lineitem ON l_partkey = p_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE p_size >= 45
  AND s_acctbal = (
    SELECT MIN(s2.s_acctbal)
    FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
    WHERE l2.l_partkey = p_partkey
  )
""",
)
def q2_min_acctbal_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 45)
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    w = Window.partitionBy("l_partkey")
    return (
        pairs.join(maybe_broadcast(supp, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
    )
