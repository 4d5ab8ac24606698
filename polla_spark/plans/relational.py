"""Core relational inventory: scans, joins, aggs, windows, set ops,
scalar functions — each as a Spark DataFrame plan + DuckDB oracle SQL.

Scale notes embedded per query; the common ones:
- filters/projections sit directly on the parquet scan so Catalyst
  pushes them into the reader (verified via explain in tests);
- dimension joins (region/nation/supplier/part at TPC-H shape) are
  broadcast — no shuffle of the fact table;
- aggregates use partial (map-side) aggregation for free because all
  agg functions used are algebraic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import Query


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..session import read_table

    return read_table(spark, sf_dir, name)


def dec(c, scale: int = 4):
    return F.col(c).cast(f"decimal(18,{scale})") if isinstance(c, str) else c.cast(f"decimal(18,{scale})")


def part_baskets(li: DataFrame) -> DataFrame:
    """Order -> sorted distinct part basket: ONE orderkey exchange
    collapses the fact; shared by every market-basket/graph query
    (q133/q146/q176/q181)."""
    return (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )


def basket_pairs(baskets: DataFrame, a: str = "part_a",
                 b: str = "part_b") -> DataFrame:
    """WITHIN-ROW unordered pair expansion of each sorted basket —
    k(k-1)/2 struct pairs per basket, never a fact self-join. The
    1-based ``slice(parts, i + 2, ...)`` index is the easy-to-get-
    wrong bit, so this is the ONE copy all four consumers share
    (r5 self-review: the expr had been pasted verbatim four times)."""
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), "
                f"y -> struct(x AS {a}, y AS {b}))))"
            )
        ).alias("pr")
    ).select(f"pr.{a}", f"pr.{b}")


def as_money(c):
    """Exact decimal -> rounded double: identical across engines."""
    return F.round(c, 2).cast("double")


# ---------------------------------------------------------------------------
# Aggregation / scan
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg, 8 aggregates, 2 group keys.

    Plan: parquet scan with pushed date filter -> partial agg ->
    exchange on (returnflag, linestatus) [6 groups] -> final agg.
    At 100 TB the pre-shuffle partial agg reduces each task's output
    to <=6 rows, so the shuffle is negligible regardless of input size.
    """
    li = t(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (1 - dec("l_discount"))
    charge = dec("l_extendedprice") * (1 - dec("l_discount")) * (1 + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            as_money(F.sum(dec("l_quantity"))).alias("sum_qty"),
            as_money(F.sum(dec("l_extendedprice"))).alias("sum_base_price"),
            as_money(F.sum(disc_price)).alias("sum_disc_price"),
            as_money(F.sum(charge)).alias("sum_charge"),
            as_money(F.sum(dec("l_quantity")) / F.count("*")).alias("avg_qty"),
            as_money(F.sum(dec("l_extendedprice")) / F.count("*")).alias("avg_price"),
            F.round(F.sum(dec("l_discount")) / F.count("*"), 4).cast("double").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


O01 = """
SELECT l_returnflag, l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) / COUNT(*), 2) AS DOUBLE) AS avg_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) / COUNT(*), 2) AS DOUBLE) AS avg_price,
  CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(18,4))) / COUNT(*), 4) AS DOUBLE) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q02_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit -> TakeOrderedAndProject (no full sort).

    Unique tie-break on o_orderkey keeps the k-th row deterministic.
    """
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            as_money(dec("o_totalprice")).alias("total"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


O02 = """
SELECT o_orderkey, o_custkey,
  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS total,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


def q03_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive + rlike + isin predicates, projection pruning.

    All three predicates and the 4-column projection reach the parquet
    scan (PushedFilters / ReadSchema) — the scan reads 4 of 6 columns.
    """
    p = t(spark, sf_dir, "part")
    return (
        p.filter(
            (F.col("p_size") >= 10)
            & F.col("p_type").isin("ECONOMY", "SMALL")
            & F.col("p_name").rlike("^(red|blue) ")
        )
        .select("p_partkey", "p_name", "p_type", "p_size")
        .orderBy("p_partkey")
    )


O03 = """
SELECT p_partkey, p_name, p_type, p_size
FROM part
WHERE p_size >= 10 AND p_type IN ('ECONOMY','SMALL')
  AND regexp_matches(p_name, '^(red|blue) ')
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

def q04_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders x customer; revenue per market segment.

    customer is the small side -> Catalyst broadcasts it (verified);
    orders never shuffles.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            as_money(F.sum(dec("o_totalprice"))).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


O04 = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q05_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer, zero-order customers included."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


O05 = """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey ORDER BY c_custkey
"""


def q06_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: lineitem RIGHT JOIN part keeps unsold parts."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"], "right")
        .groupBy("p_partkey")
        .agg(
            F.count("l_orderkey").alias("n_lines"),
            as_money(F.coalesce(F.sum(dec("l_quantity")), F.lit(0).cast("decimal(18,4)"))).alias("qty"),
        )
        .orderBy("p_partkey")
    )


O06 = """
SELECT p_partkey, COUNT(l_orderkey) AS n_lines,
  CAST(ROUND(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,4))), 0), 2) AS DOUBLE) AS qty
FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey ORDER BY p_partkey
"""


def q07_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two per-nation aggregates."""
    c = t(spark, sf_dir, "customer").groupBy("c_nationkey").agg(F.count("*").alias("n_cust"))
    s = t(spark, sf_dir, "supplier").groupBy("s_nationkey").agg(F.count("*").alias("n_supp"))
    return (
        c.join(s, c["c_nationkey"] == s["s_nationkey"], "full")
        .select(
            F.coalesce(c["c_nationkey"], s["s_nationkey"]).alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


O07 = """
WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
ORDER BY nationkey
"""


def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having at least one finished ('F') order."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = t(spark, sf_dir, "customer")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


O08 = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
ORDER BY c_custkey
"""


def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no orders at all."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_nationkey")
        .orderBy("c_custkey")
    )


O09 = """
SELECT c_custkey, c_nationkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q10_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with explicit broadcast of both dimensions.

    lineitem (fact) joins supplier then nation, both broadcast: zero
    fact-side shuffles before the final 25-group aggregate. This is
    the 100 TB-safe shape — only the tiny dims move.
    """
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_lines"),
            as_money(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias("revenue"),
        )
        .orderBy("n_name")
    )


O10 = """
SELECT n_name, COUNT(*) AS n_lines,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q11_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta BETWEEN) join: parts within a supplier's size band.

    Spark plans this as BroadcastNestedLoopJoin with the 100-row
    supplier side broadcast — the right physical choice; an equi-bucket
    prejoin would be the rewrite if both sides were large.
    """
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey", (F.col("s_suppkey") % 40).alias("lo"), (F.col("s_suppkey") % 40 + 5).alias("hi")
    )
    p = t(spark, sf_dir, "part")
    return (
        p.join(F.broadcast(s), (p["p_size"] >= s["lo"]) & (p["p_size"] <= s["hi"]))
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_parts_in_band"))
        .orderBy("s_suppkey")
    )


O11 = """
SELECT s_suppkey, COUNT(*) AS n_parts_in_band
FROM part JOIN (SELECT s_suppkey, s_suppkey % 40 AS lo, s_suppkey % 40 + 5 AS hi FROM supplier) s
  ON p_size BETWEEN lo AND hi
GROUP BY s_suppkey ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------

def q12_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / exact count-distinct / min / max / avg in one pass."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("o_custkey").alias("n_customers"),
            as_money(F.min(dec("o_totalprice"))).alias("min_price"),
            as_money(F.max(dec("o_totalprice"))).alias("max_price"),
            as_money(F.sum(dec("o_totalprice")) / F.count("*")).alias("avg_price"),
        )
        .orderBy("o_orderpriority")
    )


O12 = """
SELECT o_orderpriority, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_customers,
  CAST(ROUND(MIN(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS min_price,
  CAST(ROUND(MAX(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS max_price,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) / COUNT(*), 2) AS DOUBLE) AS avg_price
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q13_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list with pinned ordering (sort_array), emitted as a
    joined string so both engines hash identically."""
    s = t(spark, sf_dir, "supplier")
    return (
        s.groupBy("s_nationkey")
        .agg(F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("suppliers"))
        .orderBy("s_nationkey")
    )


O13 = """
SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS suppliers
FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
"""


def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over region -> nation with grouping indicators."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            "g_region",
            "g_nation",
            "n_cust",
        )
        .orderBy("region", "nation", "g_region", "g_nation")
    )


O14 = """
SELECT COALESCE(r_name, '(all)') AS region, COALESCE(n_name, '(all)') AS nation,
       CAST(GROUPING(r_name) AS INT) AS g_region, CAST(GROUPING(n_name) AS INT) AS g_nation,
       COUNT(*) AS n_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY region, nation, g_region, g_nation
"""


def q15_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over order priority x status."""
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "g_priority",
            "g_status",
            "n",
        )
        .orderBy("priority", "status", "g_priority", "g_status")
    )


O15 = """
SELECT COALESCE(o_orderpriority, '(all)') AS priority, COALESCE(o_orderstatus, '(all)') AS status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority, CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       COUNT(*) AS n
FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
ORDER BY priority, status, g_priority, g_status
"""


def q16_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status),(priority,status),())."""
    o = t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority,'(all)') AS priority,
               COALESCE(o_orderstatus,'(all)') AS status,
               COUNT(*) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority, o_orderstatus), ())
        ORDER BY priority, status, n
        """
    )


O16 = """
SELECT COALESCE(o_orderpriority,'(all)') AS priority,
       COALESCE(o_orderstatus,'(all)') AS status,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority, o_orderstatus), ())
ORDER BY priority, status, n
"""


def q17_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING: parts whose total ordered quantity exceeds 120."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(as_money(F.sum(dec("l_quantity"))).alias("total_qty"))
        .filter(F.col("total_qty") > 120)
        .orderBy("l_partkey")
    )


O17 = """
SELECT l_partkey, CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
FROM lineitem GROUP BY l_partkey
HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) > 120
ORDER BY l_partkey
"""


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

def q18_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank; top-3 parts per brand.

    rank/dense_rank order by a coarse key (real ties); row_number gets
    a unique tie-break so the cut is deterministic.
    """
    p = t(spark, sf_dir, "part")
    w_ties = Window.partitionBy("p_brand").orderBy(F.desc("p_size"))
    w_total = Window.partitionBy("p_brand").orderBy(F.desc("p_size"), F.asc("p_partkey"))
    return (
        p.withColumn("rnk", F.rank().over(w_ties))
        .withColumn("drnk", F.dense_rank().over(w_ties))
        .withColumn("rn", F.row_number().over(w_total))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "rn", "rnk", "drnk", "p_partkey", "p_size")
        .orderBy("p_brand", "rn")
    )


O18 = """
SELECT p_brand, rn, rnk, drnk, p_partkey, p_size FROM (
  SELECT p_brand, p_partkey, p_size,
    RANK() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS rnk,
    DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS drnk,
    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_size DESC, p_partkey ASC) AS rn
  FROM part
) WHERE rn <= 3 ORDER BY p_brand, rn
"""


def q19_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + day gap between consecutive orders per customer."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("days_since_prev"),
            as_money(F.lag(dec("o_totalprice")).over(w)).alias("prev_price"),
            as_money(F.lead(dec("o_totalprice")).over(w)).alias("next_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


O19 = """
SELECT o_custkey, o_orderkey,
  datediff('day',
    LAG(CAST(o_orderdate AS DATE)) OVER w,
    CAST(o_orderdate AS DATE)) AS days_since_prev,
  CAST(ROUND(LAG(CAST(o_totalprice AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE) AS prev_price,
  CAST(ROUND(LEAD(CAST(o_totalprice AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE) AS next_price
FROM orders WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


def q20_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frames: running sum (unbounded..current) + moving 3-row average."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 5)
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = w.rowsBetween(-2, Window.currentRow)
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            as_money(F.sum(dec("l_quantity")).over(running)).alias("running_qty"),
            as_money(
                F.sum(dec("l_quantity")).over(moving) / F.count("*").over(moving)
            ).alias("moving_avg_qty"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


O20 = """
SELECT l_suppkey, l_orderkey, l_linenumber,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_qty,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
     / COUNT(*) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS moving_avg_qty
FROM lineitem WHERE l_suppkey <= 5
ORDER BY l_suppkey, l_orderkey, l_linenumber
"""


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

def q21_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_name").alias("name"), F.lit("customer").alias("kind"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_name").alias("name"), F.lit("supplier").alias("kind"))
    return c.unionAll(s).orderBy("kind", "name")


O21 = """
SELECT c_name AS name, 'customer' AS kind FROM customer
UNION ALL
SELECT s_name AS name, 'supplier' AS kind FROM supplier
ORDER BY kind, name
"""


def q22_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct().orderBy("nationkey")


O22 = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
ORDER BY nationkey
"""


def q23_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations present among both low-key customers and suppliers."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400).select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 40).select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s).orderBy("nationkey")


O23 = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_custkey < 400
INTERSECT
SELECT s_nationkey FROM supplier WHERE s_suppkey < 40
ORDER BY nationkey
"""


def q24_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics -> subtract): customer nations not served
    by any low-key supplier."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 40)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s).orderBy("nationkey")


O24 = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier WHERE s_suppkey < 40
ORDER BY nationkey
"""


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------

def q25_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lower_name"),
        F.upper("p_type").alias("upper_type"),
        F.substring("p_name", 1, 4).alias("prefix4"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.regexp_extract("p_brand", "#(\\d+)$", 1).cast("int").alias("brand_num"),
    ).orderBy("p_partkey")


O25 = """
SELECT p_partkey,
  lower(p_name) AS lower_name,
  upper(p_type) AS upper_type,
  substr(p_name, 1, 4) AS prefix4,
  length(p_name) AS name_len,
  concat_ws('|', p_brand, p_type) AS brand_type,
  string_split(p_name, ' ')[1] AS first_word,
  translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
  CAST(regexp_extract(p_brand, '#(\\d+)$', 1) AS INT) AS brand_num
FROM part WHERE p_partkey < 200 ORDER BY p_partkey
"""


def q26_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_2002"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus30"),
        F.date_format(F.make_date(F.year(d), F.month(d), F.lit(1)), "yyyy-MM-dd").alias("made_first"),
    ).orderBy("o_orderkey")


O26 = """
SELECT o_orderkey,
  year(CAST(o_orderdate AS DATE)) AS yr,
  month(CAST(o_orderdate AS DATE)) AS mo,
  day(CAST(o_orderdate AS DATE)) AS dom,
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
  datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
  strftime(make_date(year(CAST(o_orderdate AS DATE)), month(CAST(o_orderdate AS DATE)), 1), '%Y-%m-%d') AS made_first
FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
"""


def q27_math_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(dec("l_extendedprice"), 0).cast("long").alias("price_rounded"),
        F.abs(F.col("l_quantity") - 25).cast("double").alias("qty_dev"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.pow(F.lit(2), F.col("l_linenumber")).cast("long").alias("two_pow_line"),
        F.when(F.col("l_discount") > 0.05, "high").otherwise("low").alias("disc_band"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")).alias("flag_or_none"),
    ).orderBy("l_orderkey", "l_linenumber")


O27 = """
SELECT l_orderkey, l_linenumber,
  CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)), 0) AS BIGINT) AS price_rounded,
  CAST(abs(l_quantity - 25) AS DOUBLE) AS qty_dev,
  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
  CAST(power(2, l_linenumber) AS BIGINT) AS two_pow_line,
  CASE WHEN l_discount > 0.05 THEN 'high' ELSE 'low' END AS disc_band,
  COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none
FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber
"""


def q28_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha2-256 + md5 content hashes (the reference's dedup primitive,
    net.py:36-38)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    return c.select(
        "c_custkey",
        F.sha2(F.col("c_name"), 256).alias("sha"),
        F.md5(F.col("c_name")).alias("md5h"),
    ).orderBy("c_custkey")


O28 = """
SELECT c_custkey, sha256(c_name) AS sha, md5(c_name) AS md5h
FROM customer WHERE c_custkey < 300 ORDER BY c_custkey
"""


def q29_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array ops over tokenized document text: size, sort, exists,
    filter, transform."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), "\\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), ",").alias("first5_sorted"),
        F.exists(toks, lambda x: x == F.lit("spark")).alias("has_spark"),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).alias("n_long"),
        F.array_join(F.slice(F.transform(F.array_sort(F.array_distinct(toks)), lambda x: F.upper(x)), 1, 3), ",").alias("up3"),
    ).orderBy("doc_id")


O29 = """
SELECT doc_id,
  len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
  len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS n_distinct,
  array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\\s+')))[1:5], ',') AS first5_sorted,
  list_contains(regexp_split_to_array(text, '\\s+'), 'spark') AS has_spark,
  len(list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 4)) AS n_long,
  array_to_string(list_transform(list_sort(list_distinct(regexp_split_to_array(text, '\\s+'))), x -> upper(x))[1:3], ',') AS up3
FROM documents ORDER BY doc_id
"""


def q30_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props (get_json_object / from_json)."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(F.when(k > 50, 1)).alias("n_k_gt_50"),
        )
        .orderBy("event_type")
    )


O30 = """
SELECT event_type,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
  COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 1 END) AS n_k_gt_50
FROM events GROUP BY event_type ORDER BY event_type
"""


def q31_explode_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode/unnest: word frequencies over part names, top 20."""
    p = t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


O31 = """
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
GROUP BY word ORDER BY n DESC, word ASC LIMIT 20
"""


def q32_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event types to columns (quantized exact sums)."""
    e = t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    q = F.floor(F.col("value") * 100).cast("long")
    return (
        e.withColumn("vq", q)
        .withColumn("bucket", (F.col("user_id") % 10).cast("int"))
        .groupBy("bucket")
        .pivot("event_type", types)
        .sum("vq")
        .select(
            "bucket",
            *[F.coalesce(F.col(ty), F.lit(0)).alias(f"sum_{ty}") for ty in types],
        )
        .orderBy("bucket")
    )


O32 = """
SELECT CAST(user_id % 10 AS INT) AS bucket,
  CAST(COALESCE(SUM(CASE WHEN event_type='click' THEN CAST(floor(value*100) AS BIGINT) END), 0) AS BIGINT) AS sum_click,
  CAST(COALESCE(SUM(CASE WHEN event_type='error' THEN CAST(floor(value*100) AS BIGINT) END), 0) AS BIGINT) AS sum_error,
  CAST(COALESCE(SUM(CASE WHEN event_type='purchase' THEN CAST(floor(value*100) AS BIGINT) END), 0) AS BIGINT) AS sum_purchase,
  CAST(COALESCE(SUM(CASE WHEN event_type='signup' THEN CAST(floor(value*100) AS BIGINT) END), 0) AS BIGINT) AS sum_signup,
  CAST(COALESCE(SUM(CASE WHEN event_type='view' THEN CAST(floor(value*100) AS BIGINT) END), 0) AS BIGINT) AS sum_view
FROM events GROUP BY bucket ORDER BY bucket
"""


def q33_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select("o_orderpriority", "o_orderstatus").dropDuplicates().orderBy(
        "o_orderpriority", "o_orderstatus"
    )


O33 = """
SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
ORDER BY o_orderpriority, o_orderstatus
"""


def q34_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sample (key mod) — the reproducible
    stand-in for .sample(), which is seed/partitioning-dependent."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        as_money(F.sum(dec("l_extendedprice"))).alias("sampled_price"),
    ).orderBy("l_returnflag")


O34 = """
SELECT l_returnflag, COUNT(*) AS n,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sampled_price
FROM lineitem WHERE l_orderkey % 97 = 0
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q35_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price (scalar-subquery shape;
    expressed as a broadcast cross-join of the 1-row aggregate)."""
    o = t(spark, sf_dir, "orders")
    avg_df = o.agg((F.sum(dec("o_totalprice")) / F.count("*")).alias("_avg"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(dec("o_totalprice") > F.col("_avg"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_above_avg"))
        .orderBy("o_orderpriority")
    )


O35 = """
SELECT o_orderpriority, COUNT(*) AS n_above_avg
FROM orders
WHERE CAST(o_totalprice AS DECIMAL(18,4)) >
  (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4))) / COUNT(*) FROM orders)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Scan/sink round-trips (SURVEY §2.6 scan/sink family)
# ---------------------------------------------------------------------------

def q36_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet write -> read -> aggregate equals a direct scan.

    The write partitions by l_returnflag (directory pruning on read)
    and sorts within partitions by shipdate (row-group min/max
    skipping) — the write-side layout decisions that make the 100 TB
    read side cheap. The oracle aggregates the original table, so the
    hash match proves byte-fidelity of the sink+scan pair.
    """
    import os
    import tempfile

    from ..sources.io import read_parquet, write_parquet

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"polla_rt_parquet_{os.getpid()}_{abs(hash(sf_dir)) % 10**8}"
    )
    write_parquet(li, path, partition_by=["l_returnflag"], sort_by=["l_shipdate"])
    back = read_parquet(spark, path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            as_money(F.sum(dec("l_quantity"))).alias("sum_qty"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
        )
        .orderBy("l_returnflag")
    )


O36 = """
SELECT l_returnflag, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
       strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q37_ndjson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON write -> schema-enforced PERMISSIVE read -> aggregate
    equals a direct scan (reference S9/S11 semantics: artifacts are
    NDJSON; reads never infer and never fail on bad lines)."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from ..sources.io import read_ndjson, write_ndjson

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"polla_rt_ndjson_{os.getpid()}_{abs(hash(sf_dir)) % 10**8}"
    )
    write_ndjson(o, path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
        ]
    )
    back = read_ndjson(spark, path, schema)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            as_money(F.sum(dec("o_totalprice"))).alias("sum_price"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
        )
        .orderBy("o_orderstatus")
    )


O37 = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q38_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate per orderstatus (declared
    NON-ORACLE in SURVEY §2.6: sketch values are implementation-
    defined, so DuckDB cannot hash-match them; the exact form is
    checked in q12/q33). The sketch is THE 100 TB shape for distinct
    counts: fixed-size state, map-side combinable, no shuffle of
    distinct values."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey", 0.01).alias("approx_custs"),
            F.countDistinct("o_custkey").alias("exact_custs"),
        )
        .orderBy("o_orderstatus")
    )


def q39_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted two-stage aggregation (operators/skew.py):
    l_returnflag has only 3 values — the canonical hot-key shape — so
    the naive groupBy funnels a third of 100 TB through one reducer.
    The salted plan fans each key over 16 buckets then merges 16
    partial rows/key. The oracle is the PLAIN group-by: the hash match
    proves the rewrite is semantics-preserving."""
    from ..operators.skew import salted_sum_count

    li = t(spark, sf_dir, "lineitem")
    out = salted_sum_count(
        li.select("l_returnflag", "l_quantity"),
        ["l_returnflag"],
        dec("l_quantity"),
        value_alias="sum_qty_dec",
    )
    return (
        out.select(
            "l_returnflag",
            as_money(F.col("sum_qty_dec")).alias("sum_qty"),
            "n",
        ).orderBy("l_returnflag")
    )


O39 = """
SELECT l_returnflag,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q47_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median/p90/p99) of order totals per status.

    ``percentile`` is the EXACT interpolating form (full sort per
    group) — matching DuckDB's ``quantile_cont`` bit-for-bit after
    round(2). The 100 TB form is ``approx_percentile`` (KLL-sketch,
    fixed memory, map-side combinable — q38's family); exact
    percentile is the oracle baseline that bounds the sketch's error.
    """
    o = t(spark, sf_dir, "orders")
    pcts = F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.element_at(pcts, 1), 2).alias("p50"),
            F.round(F.element_at(pcts, 2), 2).alias("p90"),
            F.round(F.element_at(pcts, 3), 2).alias("p99"),
        )
        .orderBy("o_orderstatus")
    )


O47 = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q48_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-table join (customer ⋈ orders ⋈ lineitem)
    with filters on all three sides, revenue agg, top-10.

    Plan: customer (filtered, small) broadcasts into orders; the
    orders⋈lineitem join shuffles on orderkey — the only exchange
    that scales with data; top-10 via TakeOrdered, no global sort.
    """
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    rev = dec("l_extendedprice") * (1 - dec("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(as_money(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


O48 = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q49_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-table star (region→nation→supplier +
    customer + orders + lineitem) with the co-nation predicate.

    All four dimension sides broadcast; the single data-scaling
    exchange is the orders⋈lineitem shuffle on orderkey.
    """
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    rev = dec("l_extendedprice") * (1 - dec("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(s["s_nationkey"] == c["c_nationkey"])  # co-nation
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(as_money(F.sum(rev)).alias("revenue"))
        .orderBy("n_name")
    )


O49 = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND s_nationkey = c_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q45_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-column kernel (SURVEY §2.2 F10 / §1.3 `montos` mapping):
    pack each order's lineitems into map<linenumber, qty> via
    map_from_entries(sort_array(collect_list(struct))) — the sort
    pins entry order, the reference-parity trap from SURVEY §4 #2 —
    then consume the map with element_at / map_values / cardinality.

    Scale: one shuffle on l_orderkey; the map never exceeds 7 entries
    (TPC-H lineitem fan-out) so per-group state is O(1).
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    # the generator repeats (orderkey, linenumber) pairs — pre-aggregate
    # so map keys are unique (map_from_entries errors on duplicates)
    per_line = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty")
    )
    entries = F.sort_array(
        F.collect_list(
            F.struct(F.col("l_linenumber").alias("k"), F.col("qty").alias("v"))
        )
    )
    return (
        per_line.groupBy("l_orderkey")
        .agg(F.map_from_entries(entries).alias("m"))
        .select(
            "l_orderkey",
            F.size(F.map_keys(F.col("m"))).alias("n_lines"),
            F.element_at(F.col("m"), F.lit(1)).alias("first_qty"),
            F.array_max(F.map_values(F.col("m"))).alias("max_qty"),
        )
        .orderBy("l_orderkey")
    )


O45 = """
WITH per_line AS (
  SELECT l_orderkey, l_linenumber, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem WHERE l_orderkey % 7 = 0
  GROUP BY l_orderkey, l_linenumber
)
SELECT l_orderkey,
       COUNT(*) AS n_lines,
       MAX(CASE WHEN l_linenumber = 1 THEN qty END) AS first_qty,
       MAX(qty) AS max_qty
FROM per_line GROUP BY l_orderkey ORDER BY l_orderkey
"""


def q46_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery — lineitems
    below 20% of their part's average quantity, for a filtered part
    subset.

    Plan: per-partkey partial agg of lineitem (sum, count) -> join
    back to lineitem on l_partkey (both sides shuffle on the SAME
    key, so AQE coalesces into one co-partitioned exchange each) ->
    broadcast join against the filtered part dim. The 0.2*avg
    comparison is cross-multiplied (5*qty*cnt < sum) so both engines
    decide boundary rows with exact integer arithmetic — no decimal
    division in a predicate.
    """
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_size") < 25).select("p_partkey", "p_brand")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("_sum_qty"),
        F.count("*").alias("_cnt"),
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(
            F.col("l_quantity").cast("long") * 5 * F.col("_cnt") < F.col("_sum_qty")
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_cheap"),
            as_money(F.sum(dec("l_extendedprice"))).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


O46 = """
WITH per_part AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand, COUNT(*) AS n_cheap,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
FROM lineitem
JOIN per_part USING (l_partkey)
JOIN part ON l_partkey = p_partkey
WHERE p_size < 25 AND CAST(l_quantity AS BIGINT) * 5 * cnt < sum_qty
GROUP BY p_brand ORDER BY p_brand
"""


def q69_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns
    in one quarter — 4-table join, agg, ordered limit.

    Plan: date filter pushed into the orders scan, returnflag filter
    into the lineitem scan; orders⋈lineitem shuffles on orderkey;
    customer joins on the already-aggregated 20-row side? No — at
    TPC-H shape customer is large, so the join runs before the agg
    and nation is broadcast. Top-20 is TakeOrderedAndProject: each
    task keeps 20 rows, no global sort.
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    rev = dec("l_extendedprice") * (1 - dec("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            as_money(F.sum(rev)).alias("revenue"),
            F.round(F.first("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


O69 = """
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
       ROUND(MAX(c_acctbal), 2) AS acctbal
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q78_hot_key_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key split join (operators/skew.py) proven semantics-
    preserving: declared hot orderkeys route through a broadcast join
    of the filtered dim slice (their fact rows never shuffle), the
    long tail through the regular shuffle join, then union. The
    oracle is the PLAIN join + GROUP BY — the hash match shows the
    exchange-layout rewrite changes nothing semantically. At 100 TB
    this is the manual fallback for skew shapes AQE cannot rewrite
    (broadcast-ineligible dims, non-sort-merge plans)."""
    from ..operators.skew import hot_key_split_join

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = hot_key_split_join(li, o, "l_orderkey", [7, 14, 21, 700, 1400])
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            as_money(F.sum(dec("l_quantity"))).alias("sum_qty"),
        )
        .orderBy("o_orderstatus")
    )


O78 = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q79_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist
    per order status. The window's ORDER BY carries a unique tie-break
    (orderkey) so every rank — and therefore every (r-1)/(n-1) ratio —
    is deterministic; the ratios are exact small-integer quotients, so
    round(6) is bit-stable across engines."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("o_orderstatus", "o_orderkey")
    )


O79 = """
SELECT o_orderkey, o_orderstatus,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pr,
       ROUND(CUME_DIST() OVER w, 6) AS cd
FROM orders WHERE o_orderkey % 97 = 0
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderstatus, o_orderkey
"""


def q80_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (FILTER-clause) aggregation: per-priority counts and
    sums restricted by independent predicates, in ONE scan — the
    idiom that replaces N filtered scans with one pass. Spark spells
    it sum(when(...)); the oracle uses SQL's FILTER (WHERE ...). Both
    are map-side partial-aggregable, so the 100 TB cost equals q01's:
    one scan, one tiny shuffle."""
    o = t(spark, sf_dir, "orders")
    high = dec("o_totalprice") > 150000
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
            as_money(F.sum(F.when(high, dec("o_totalprice")))).alias("sum_high"),
            F.sum(F.when(high, 1).otherwise(0)).alias("n_high"),
        )
        .orderBy("o_orderpriority")
    )


O80 = """
SELECT o_orderpriority, COUNT(*) AS n_total,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                  FILTER (WHERE CAST(o_totalprice AS DECIMAL(18,4)) > 150000), 2)
            AS DOUBLE) AS sum_high,
       CAST(COUNT(*) FILTER (WHERE CAST(o_totalprice AS DECIMAL(18,4)) > 150000) AS BIGINT) AS n_high
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q85_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write -> schema-enforced PERMISSIVE read -> aggregate equals
    a direct scan (the third source/sink format after parquet/NDJSON).
    Doubles survive because Spark writes shortest-round-trip reprs;
    the schema-on-read contract (never infer) matches read_ndjson."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from ..sources.io import read_csv, write_csv

    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"polla_rt_csv_{os.getpid()}_{abs(hash(sf_dir)) % 10**8}"
    )
    write_csv(c, path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    back = read_csv(spark, path, schema)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
            as_money(F.sum(dec("c_acctbal"))).alias("sum_bal"),
        )
        .orderBy("c_mktsegment")
    )


O85 = """
SELECT c_mktsegment, COUNT(*) AS n,
       MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q92_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write -> read -> aggregate equals a direct scan — the
    fourth source/sink format (parquet, NDJSON, CSV, ORC). Partitioned
    by o_orderstatus and sorted within partitions by o_orderdate, the
    same layout controls as the parquet sink (q36); the oracle
    aggregates the original table so a hash match proves byte-fidelity
    of the ORC sink+scan pair (dates and decimals included).
    """
    import os
    import tempfile

    from ..sources.io import read_orc, write_orc

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"polla_rt_orc_{os.getpid()}_{abs(hash(sf_dir)) % 10**8}"
    )
    write_orc(o, path, partition_by=["o_orderstatus"], sort_by=["o_orderdate"])
    back = read_orc(spark, path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            as_money(F.sum(dec("o_totalprice"))).alias("sum_price"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
        )
        .orderBy("o_orderstatus")
    )


O92 = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q105_user_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge: a deletion list of user_ids
    (``user_id % 37 == 5`` stands in for the tombstone table) is
    anti-joined against the events fact, and the purge is AUDITED —
    per event_type, surviving rows/users and exactly how many rows the
    purge removed (privacy compliance requires proving the delete, not
    just doing it).

    Plan shape at 100 TB: the purge predicate evaluates inline on ONE
    fact scan, and keep/purge audits are conditional aggregates off
    that same scan — never a second pass. With a real tombstone TABLE
    instead of a predicate, the membership test becomes a broadcast
    (semi/anti) join against the tiny deletion list and the plan is
    otherwise identical; either way the fact side never shuffles
    before the per-type report agg.
    """
    e = t(spark, sf_dir, "events")
    purged = F.col("user_id") % 37 == 5
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(F.when(~purged, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(purged, 1).otherwise(0)).alias("n_purged"),
            F.countDistinct(F.when(~purged, F.col("user_id"))).alias("n_kept_users"),
            F.countDistinct(F.when(purged, F.col("user_id"))).alias("n_purged_users"),
        )
        .orderBy("event_type")
    )


O105 = """
SELECT event_type,
       CAST(SUM(CASE WHEN user_id % 37 <> 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN user_id % 37 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
       COUNT(DISTINCT CASE WHEN user_id % 37 <> 5 THEN user_id END) AS n_kept_users,
       COUNT(DISTINCT CASE WHEN user_id % 37 = 5 THEN user_id END) AS n_purged_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def q106_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / upsert classification — the warehouse maintenance
    operator (``MERGE INTO target USING source``) expressed as a pure
    relational plan: a derived "new snapshot" (customers with
    ``c_custkey % 7 < 2`` get a refreshed acctbal = old + 100; the
    ``c_custkey >= 500`` tail re-keyed to ``+10000`` plays brand-new
    arrivals) is
    merged against the current dimension, and every key is classified
    INSERT (source-only), UPDATE (both sides, payload differs), or
    UNCHANGED (both sides, payload equal). Output: per-action row
    counts and a quantized balance checksum proving the merged values,
    not just the counts.

    Plan shape at 100 TB: one full outer join on the dimension key —
    hash-shuffled both sides (a dimension merge is the rare join where
    neither side is small); classification and checksums are
    conditional aggregates off the join output, one pass, no Python.
    With a transactional table format underneath, the same plan is
    what the format's MERGE compiles to; this query pins the engine
    semantics the format relies on.
    """
    c = t(spark, sf_dir, "customer")
    updates = (
        c.filter(F.col("c_custkey") % 7 < 2)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + F.lit(100.0)).alias("s_acctbal"),
            F.col("c_mktsegment").alias("s_mktsegment"),
        )
    )
    arrivals = (
        c.filter(F.col("c_custkey") >= 500)
        .select(
            (F.col("c_custkey") + 10000).alias("c_custkey"),
            F.col("c_acctbal").alias("s_acctbal"),
            F.col("c_mktsegment").alias("s_mktsegment"),
        )
    )
    source = updates.unionByName(arrivals)
    merged = c.select("c_custkey", "c_acctbal", "c_mktsegment").join(
        source, "c_custkey", "full"
    )
    is_insert = F.col("c_acctbal").isNull()
    is_update = (~is_insert) & F.col("s_acctbal").isNotNull()
    action = (
        F.when(is_insert, "insert").when(is_update, "update").otherwise("unchanged")
    )
    final_bal = F.coalesce("s_acctbal", "c_acctbal")
    return (
        merged.select(
            action.alias("action"),
            F.floor(final_bal * 100).cast("long").alias("balq"),
        )
        .groupBy("action")
        .agg(F.count("*").alias("n_rows"), F.sum("balq").alias("sum_balq"))
        .orderBy("action")
    )


O106 = """
WITH source AS (
  SELECT c_custkey, c_acctbal + 100.0 AS s_acctbal, c_mktsegment AS s_mktsegment
  FROM customer WHERE c_custkey % 7 < 2
  UNION ALL
  SELECT c_custkey + 10000, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey >= 500
), merged AS (
  SELECT t.c_custkey AS t_key, t.c_acctbal, s.c_custkey AS s_key, s.s_acctbal
  FROM customer t FULL OUTER JOIN source s ON t.c_custkey = s.c_custkey
)
SELECT CASE WHEN c_acctbal IS NULL THEN 'insert'
            WHEN s_acctbal IS NOT NULL THEN 'update'
            ELSE 'unchanged' END AS action,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(floor(COALESCE(s_acctbal, c_acctbal) * 100) AS BIGINT)) AS BIGINT) AS sum_balq
FROM merged GROUP BY 1 ORDER BY 1
"""


_Q107_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal
FROM {customer} c
WHERE EXISTS (SELECT 1 FROM {orders} o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
  AND NOT EXISTS (SELECT 1 FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                        AND o.o_totalprice < 50000)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q107_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL FRONT-END
    (``spark.sql`` over temp views) — every other query in the
    inventory drives the DataFrame API; this one pins the other half
    of the declared surface: the SQL parser + analyzer produce the
    same Catalyst plans users of ``spark.sql(...)`` get.

    Catalyst rewrites the EXISTS to a left-semi and the NOT EXISTS to
    a left-anti join (RewritePredicateSubquery) — no per-row subquery
    execution exists at any scale; both joins shuffle on the same
    o_custkey key. The oracle is textually the SAME statement run by
    DuckDB, so this also asserts cross-engine ANSI semantics of
    correlated predicates.
    """
    t(spark, sf_dir, "customer").createOrReplaceTempView("q107_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("q107_orders")
    return spark.sql(
        _Q107_SQL.format(customer="q107_customer", orders="q107_orders")
    )


O107 = _Q107_SQL.format(customer="customer", orders="orders")


def q111_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency per order priority, by sweep line:
    every order holds a 30-day service window; each window emits a +1
    edge at its start and a -1 edge at its end, and a running sum of
    edges ordered by time IS the live-interval count. The classic
    "max concurrent sessions" question without an interval self-join.

    Half-open [start, end) semantics: at equal timestamps the -1
    edges sort before the +1 edges (``ORDER BY t, delta``), so an
    interval ending exactly when another starts never double-counts.
    Both engines use the default RANGE frame, so tied edges are peers
    sharing one cumulative value — order within ties can't matter.

    Plan shape at 100 TB: both edges of every interval fan out
    WITHIN-ROW (one explode over a 2-element array), so the scan runs
    ONCE — the r12 fix: the previous union-of-two-projections form
    read the table twice, since Spark shares no subtrees across union
    branches — then one exchange on the sweep key, zero joins — vs
    the O(n^2) interval self-join it replaces. The partition key
    bounds parallelism (5 priorities here), which is the honest
    constraint of any per-key sweep; a single GLOBAL sweep instead
    uses the two-level prefix-sum decomposition demonstrated by
    q95_pack_sequences (per-bucket partial sums + broadcast bucket
    offsets).
    """
    o = t(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.explode(
            F.array(
                F.struct(
                    F.col("o_orderdate").alias("edge_t"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("edge_t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("e"),
    ).select("prio", "e.edge_t", "e.delta")
    w = Window.partitionBy("prio").orderBy("edge_t", "delta")
    return (
        edges
        .withColumn("conc", F.sum("delta").over(w))
        .groupBy("prio")
        .agg(
            F.max("conc").cast("long").alias("peak_concurrent"),
            (F.count("*") / 2).cast("long").alias("n_intervals"),
        )
        .orderBy("prio")
    )


O111 = """
WITH edges AS (
  SELECT o_orderpriority AS prio, o_orderdate AS edge_t, 1 AS delta FROM orders
  UNION ALL
  SELECT o_orderpriority, o_orderdate + INTERVAL 30 DAY, -1 FROM orders
), sweep AS (
  SELECT prio, SUM(delta) OVER (PARTITION BY prio ORDER BY edge_t, delta) AS conc
  FROM edges
)
SELECT prio, CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
FROM sweep GROUP BY prio ORDER BY prio
"""


def q112_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality audit: one tall (metric, value) report
    covering completeness (null counts), validity (domain/range
    violations), uniqueness (duplicate natural keys), and referential
    integrity (fact rows whose order key has no orders row) — the
    constraint suite a pipeline runs before promoting a table.

    Plan shape at 100 TB: every row-level metric is a conditional
    aggregate in ONE partial-agg pass over the fact scan (a 12-metric
    audit costs one scan, not 12); uniqueness adds one groupBy on the
    natural key; referential integrity is a left-anti join that AQE
    plans as broadcast when the dimension's key projection fits.
    The report itself is metric-count-sized.

    Metric expressions and the tall reshape are imported from
    ``functions/quality.py``.
    """
    from ..functions.quality import melt_metrics, scan_metric_aggs, scan_metric_names

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")

    wide = li.agg(*[c.cast("long").alias(n) for n, c in scan_metric_aggs()])
    scan = melt_metrics(wide, scan_metric_names())
    dup_keys = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count("*").cast("long").alias("value"))
        .select(F.lit("duplicate_line_keys").alias("metric"), "value")
    )
    orphans = (
        li.join(o.select("o_orderkey"),
                li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").cast("long").alias("value"))
        .select(F.lit("orphan_orderkeys").alias("metric"), "value")
    )
    return scan.unionByName(dup_keys).unionByName(orphans).orderBy("metric")


O112 = """
WITH scan AS (
  SELECT * FROM (
    SELECT
      COUNT(*) AS row_count,
      COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_quantity,
      COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS null_shipdate,
      COUNT(CASE WHEN l_quantity NOT BETWEEN 1.0 AND 50.0 THEN 1 END) AS bad_quantity_range,
      COUNT(CASE WHEN l_discount NOT BETWEEN 0.0 AND 1.0 THEN 1 END) AS bad_discount_range,
      COUNT(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 END) AS bad_returnflag,
      COUNT(CASE WHEN l_extendedprice <= 0 THEN 1 END) AS nonpositive_price
    FROM lineitem
  ) UNPIVOT (value FOR metric IN (row_count, null_quantity, null_shipdate,
             bad_quantity_range, bad_discount_range, bad_returnflag, nonpositive_price))
), dups AS (
  SELECT 'duplicate_line_keys' AS metric, COUNT(*) AS value FROM (
    SELECT l_orderkey, l_linenumber FROM lineitem
    GROUP BY 1, 2 HAVING COUNT(*) > 1
  )
), orphans AS (
  SELECT 'orphan_orderkeys' AS metric, COUNT(*) AS value
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
)
SELECT metric, CAST(value AS BIGINT) AS value FROM scan
UNION ALL SELECT metric, CAST(value AS BIGINT) FROM dups
UNION ALL SELECT metric, CAST(value AS BIGINT) FROM orphans
ORDER BY metric
"""


def q113_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-tall UNPIVOT (melt): the part table's numeric
    attributes become (attribute, value) rows via ``DataFrame.unpivot``
    — the inverse of q32's pivot — then a per-attribute profile
    (count / sum / min / max) summarizes each melted column.

    Plan shape at 100 TB: unpivot is a WITHIN-ROW Expand (each input
    row emits one row per attribute, no exchange, no Python); the
    only shuffle is the final partial agg onto an attribute-count-
    sized key. Melting k columns multiplies rows k-fold BEFORE the
    map-side combine absorbs them, so the network cost stays one
    row per (partition, attribute).
    """
    p = t(spark, sf_dir, "part")
    tall = p.select(
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.length("p_name").cast("long").alias("name_len"),
    ).unpivot("p_partkey", ["size", "price_cents", "name_len"], "attr", "val")
    return (
        tall.groupBy("attr")
        .agg(
            F.count("val").alias("n_vals"),
            F.sum("val").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("attr")
    )


O113 = """
WITH tall AS (
  SELECT p_partkey, attr, val FROM (
    SELECT p_partkey,
           CAST(p_size AS BIGINT) AS size,
           CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
           CAST(length(p_name) AS BIGINT) AS name_len
    FROM part
  ) UNPIVOT (val FOR attr IN (size, price_cents, name_len))
)
SELECT attr, COUNT(val) AS n_vals, CAST(SUM(val) AS BIGINT) AS sum_val,
       MIN(val) AS min_val, MAX(val) AS max_val
FROM tall GROUP BY attr ORDER BY attr
"""


def q115_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment z-score outlier detection with EXACT arithmetic:
    account balances are floor-quantized to integer cents, per-segment
    (n, sum, sum-of-squares) are exact decimal aggregates, and each
    row's z-score is z = (n*x - S) / sqrt(n*Q - S^2) — algebraically
    (x - mean) / stddev_pop but computed with exactly TWO IEEE
    roundings (one sqrt, one divide) from identical integers, so both
    engines produce bit-identical doubles and the |z| > 2 outlier
    comparison can never flip across engines. Never ``stddev`` over
    raw doubles — accumulation order makes that engine-dependent.

    Plan shape at 100 TB: a partial-agg groupBy collapses the fact to
    segment-count-sized stats that broadcast-join back to the fact —
    two narrow passes, no window over a 5-value partition key (which
    would serialize per segment). Decimal(38,0) intermediates hold
    n*Q exactly up to ~1e12 rows x 1e6-cent values.
    """
    c = t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("decimal(38,0)").alias("q"),
    )
    stats = c.groupBy("c_mktsegment").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("qq"),
    )
    z = (
        (F.col("n") * F.col("q") - F.col("s")).cast("double")
        / F.sqrt((F.col("n") * F.col("qq") - F.col("s") * F.col("s")).cast("double"))
    )
    return (
        c.join(F.broadcast(stats), "c_mktsegment")
        .select("c_mktsegment", F.round(z, 6).alias("z"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_if(F.abs(F.col("z")) > 2.0).alias("n_outliers"),
            F.max(F.abs(F.col("z"))).alias("max_abs_z"),
        )
        .orderBy("c_mktsegment")
    )


O115 = """
WITH q AS (
  SELECT c_mktsegment, CAST(floor(c_acctbal * 100) AS HUGEINT) AS q FROM customer
), stats AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(q) AS s, SUM(q * q) AS qq
  FROM q GROUP BY 1
), scored AS (
  SELECT q.c_mktsegment,
         ROUND(CAST(n * q.q - s AS DOUBLE)
               / sqrt(CAST(n * qq - s * s AS DOUBLE)), 6) AS z
  FROM q JOIN stats USING (c_mktsegment)
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
       COUNT(CASE WHEN abs(z) > 2.0 THEN 1 END) AS n_outliers,
       MAX(abs(z)) AS max_abs_z
FROM scored GROUP BY 1 ORDER BY 1
"""


def q123_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total contribution (ratio-to-report): each market
    segment's share of total account balance — the denominator is a
    window sum over the WHOLE report, the classic `SUM() OVER ()`
    pattern.

    Determinism: both numerator and denominator are exact integer-cent
    sums; one double division, rounded to 6.

    Plan shape at 100 TB: the data collapses to segment grain in one
    partial-agg shuffle (5 rows); the empty-frame window then runs on
    the 5-row report — a SinglePartition exchange of 5 rows, which is
    the honest cost of a global denominator and independent of data
    size.
    """
    c = t(spark, sf_dir, "customer")
    seg = c.groupBy("c_mktsegment").agg(
        F.sum(F.floor(F.col("c_acctbal") * 100).cast("long")).alias("balance_cents")
    )
    total = F.sum("balance_cents").over(Window.partitionBy())
    return (
        seg.withColumn(
            "share_pct",
            F.round(
                F.col("balance_cents").cast("double") / total.cast("double") * 100.0, 6
            ),
        )
        .select("c_mktsegment", "balance_cents", "share_pct")
        .orderBy("c_mktsegment")
    )


O123 = """
WITH seg AS (
  SELECT c_mktsegment,
         CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS balance_cents
  FROM customer GROUP BY 1
)
SELECT c_mktsegment, balance_cents,
       ROUND(CAST(balance_cents AS DOUBLE)
             / CAST(SUM(balance_cents) OVER () AS DOUBLE) * 100.0, 6) AS share_pct
FROM seg ORDER BY c_mktsegment
"""


def q121_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: customer and orders are written as
    tables bucketed (and sorted) by the join key, so the join reads
    co-located buckets — at 100 TB, pre-bucketing the two biggest
    fact tables by their join key turns every subsequent join between
    them into a shuffle-free merge, amortizing ONE layout write
    across every downstream query.

    The oracle runs the identical join+aggregate over the raw parquet:
    the hash match proves the bucketed layout changes the PLAN, not
    the answer. (tests/test_io.py pins the zero-Exchange property;
    broadcast is disabled there so the SortMergeJoin path is forced.)
    """
    import hashlib
    import os

    from ..sources.io import write_bucketed

    # stable across processes (Python str hash is per-process salted)
    # AND keyed by the source files' identity: the same sf_dir reuses
    # its tables (the amortized-layout point), while a regenerated
    # testdata drop changes the tag so a stale bucketed copy can never
    # silently answer for fresh parquet
    ident = sf_dir
    for name in ("customer", "orders"):
        p = os.path.join(sf_dir, f"{name}.parquet")
        st = os.stat(p)
        ident += f"|{name}:{st.st_size}:{st.st_mtime_ns}"
    tag = hashlib.md5(ident.encode()).hexdigest()[:8]
    cust_t, ord_t = f"q121_cust_{tag}", f"q121_ord_{tag}"
    existing = {x.name for x in spark.catalog.listTables()}

    def _ensure(name: str, df) -> None:
        if name in existing:
            return  # reuse within this session — the amortized layout
        # bucket METADATA lives in the session catalog, not the files:
        # a location left by another session has no catalog entry, so
        # it can't be reused (reading it as plain parquet would lose
        # the co-location property) — clear it and write fresh
        import shutil

        loc = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), name
        )
        shutil.rmtree(loc, ignore_errors=True)
        write_bucketed(df, name, buckets=8, key=df.columns[0])

    _ensure(cust_t, t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"))
    _ensure(ord_t, t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"))
    c, o = spark.table(cust_t), spark.table(ord_t)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            as_money(F.sum(dec("o_totalprice"))).alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


O121 = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q118_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of ``events.value``: 10 buckets of width
    50 over [0, 500), open-ended top bucket — the profiling step
    behind every numeric-column dashboard, plus per-bucket exact sums
    for a weighted density readout.

    Determinism: the value is floor-quantized to integer cents FIRST,
    then bucketed with integer division — no float boundary can
    disagree between engines (bucketing raw doubles with
    ``width_bucket`` risks one-ulp edge flips since the bucket-width
    division is not IEEE-identical across implementations).

    Plan shape at 100 TB: one partial-aggregated shuffle of at most
    10 groups; the scan reads two columns. Nothing is data-sized.
    """
    e = t(spark, sf_dir, "events")
    qv = F.floor(F.col("value") * 100).cast("long")
    bucket = F.least(F.floor(qv / 5000), F.lit(9)).cast("long")
    return (
        e.select(qv.alias("qv"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("qv").alias("sum_cents"),
            F.min("qv").alias("min_cents"),
            F.max("qv").alias("max_cents"),
        )
        .withColumn("lo", F.col("bucket") * 50)
        .select("bucket", "lo", "n", "sum_cents", "min_cents", "max_cents")
        .orderBy("bucket")
    )


O118 = """
WITH q AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS qv FROM events
), b AS (
  SELECT qv, LEAST(CAST(floor(qv / 5000) AS BIGINT), 9) AS bucket FROM q
)
SELECT bucket, bucket * 50 AS lo, COUNT(*) AS n,
       CAST(SUM(qv) AS BIGINT) AS sum_cents,
       MIN(qv) AS min_cents, MAX(qv) AS max_cents
FROM b GROUP BY 1 ORDER BY 1
"""


def q119_segment_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation between quantity and extended price
    per return flag — computed from integer sums, never ``corr()``
    over raw doubles (whose accumulation order is engine- and
    partition-dependent).

    r = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2)):
    every S term is a DECIMAL(38,0) sum of quantized integers (exact),
    each factor casts to double once (round-to-nearest, identical in
    both engines), sqrt is IEEE-correctly-rounded, so the final r is
    bit-identical before the cosmetic round(6). Same discipline as
    q115's z-score.

    Plan shape at 100 TB: one partial-agg pass to 3 groups; the
    per-row products stay in whole-stage codegen.
    """
    # per-row products stay in 64-bit integer codegen wherever the
    # value bound allows it (x <= 5e3 cents, y <= 1e7 cents):
    # sum(x*y) holds a long up to ~1.8e8 rows/flag and sum(x*x) up to
    # ~3.7e11 — far past this testdata; sum(y*y) overflows first and
    # pays the decimal accumulator now. Past the documented envelope
    # ANSI mode fails LOUDLY (no silent wraparound) and the fix is
    # one cast: move the affected sum to the decimal accumulator like
    # syy. Decimal everywhere cost ~2x at sf0.1 for no extra
    # exactness inside the envelope.
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    # the scalar combines overflow a long (n*sxy ~ 1e23) but run on 3
    # rows — decimal there is free
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (d("n") * d("sxy") - d("sx") * d("sy")).cast("double")
    den = F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx")).cast("double")
    ) * F.sqrt(
        (d("n") * F.col("syy") - d("sy") * d("sy")).cast("double")
    )
    return (
        agg.select(
            "l_returnflag",
            F.col("n").cast("long").alias("n_rows"),
            F.round(num / den, 6).alias("pearson_r"),
        )
        .orderBy("l_returnflag")
    )


O119 = """
WITH q AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 100) AS HUGEINT) AS x,
         CAST(floor(l_extendedprice * 100) AS HUGEINT) AS y
  FROM lineitem
), s AS (
  SELECT l_returnflag, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy
  FROM q GROUP BY 1
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS pearson_r
FROM s ORDER BY 1
"""


def q129_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: classify every key across two table
    versions as added / removed / changed / unchanged and emit a
    per-class audit (count + key checksum). The two "versions" are
    deterministic projections of ``orders``: the old snapshot drops
    keys divisible by 10, the new one drops keys divisible by 7 and
    bumps the price on keys divisible by 5 — so all four classes are
    exercised without mutating the source.

    Plan shape at 100 TB: each side collapses to (key, row-hash)
    BEFORE the join — an md5 over the concatenated payload — so the
    full-outer join moves two narrow columns per side, never the wide
    row, and co-partitions on the key (one exchange per side). The
    audit is a 4-group partial agg above it. This is the standard
    "diff two daily snapshots" primitive for incremental pipelines.
    """
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "o_orderstatus",
    )
    old = base.filter(F.col("o_orderkey") % 10 != 0)
    new = base.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "price_c",
        F.col("price_c")
        + F.when(F.col("o_orderkey") % 5 == 0, F.lit(500)).otherwise(F.lit(0)),
    )

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            "o_orderkey",
            F.md5(F.concat_ws("|", "price_c", "o_orderstatus")).alias("rh"),
        )

    a, b = hashed(old).alias("a"), hashed(new).alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    cls = (
        F.when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
        .when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("a.rh") != F.col("b.rh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            cls.alias("change_class"),
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("k"),
        )
        .groupBy("change_class")
        .agg(F.count("*").alias("n"), F.sum("k").alias("key_checksum"))
        .orderBy("change_class")
    )


O129 = """
WITH base AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c,
         o_orderstatus
  FROM orders
), old AS (
  SELECT o_orderkey,
         md5(CAST(price_c AS VARCHAR) || '|' || o_orderstatus) AS rh
  FROM base WHERE o_orderkey % 10 <> 0
), new AS (
  SELECT o_orderkey,
         md5(CAST(price_c + CASE WHEN o_orderkey % 5 = 0 THEN 500 ELSE 0 END
                  AS VARCHAR) || '|' || o_orderstatus) AS rh
  FROM base WHERE o_orderkey % 7 <> 0
), j AS (
  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'removed'
              WHEN a.o_orderkey IS NULL THEN 'added'
              WHEN a.rh <> b.rh THEN 'changed'
              ELSE 'unchanged' END AS change_class,
         COALESCE(a.o_orderkey, b.o_orderkey) AS k
  FROM old a FULL OUTER JOIN new b ON a.o_orderkey = b.o_orderkey
)
SELECT change_class, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_checksum
FROM j GROUP BY 1 ORDER BY 1
"""


def q130_histogram_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-segment median + p90 via histogram-rank — the
    scale-safe alternative to q47's full-sort ``percentile``.

    q47 sorts every group's values; with few groups that is one giant
    sort per group. Here the only data-sized stage is a mergeable
    partial agg to a (segment, cents) histogram; the ordered
    cumulative-sum window then runs over the HISTOGRAM (bounded by the
    value domain, ~1e6 rows regardless of input size), and the
    nearest-rank percentile is ``min(cents) where cum >= rank`` in
    pure integer arithmetic (``2*cum >= total`` ⇔ cum ≥ ceil(n/2)) —
    no interpolation, bit-identical across engines.

    Plan shape at 100 TB: scan → partial agg (map-side collapse to
    distinct cents) → one exchange on (segment, cents) → tiny window
    on segment → final agg. Data never sorts.

    Census + finisher live in ``functions/histogram.py``.
    """
    from ..functions.histogram import cents_histogram, histogram_rank_report

    return histogram_rank_report(
        cents_histogram(t(spark, sf_dir, "customer"))
    )


O130 = """
WITH hist AS (
  SELECT c_mktsegment, CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
         COUNT(*) AS cnt
  FROM customer GROUP BY 1, 2
), h AS (
  SELECT *,
         SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY cents) AS cum,
         SUM(cnt) OVER (PARTITION BY c_mktsegment) AS total
  FROM hist
)
SELECT c_mktsegment, CAST(MAX(total) AS BIGINT) AS n_rows,
       CAST(MIN(CASE WHEN 2 * cum >= total THEN cents END) AS BIGINT) AS median_cents,
       CAST(MIN(CASE WHEN 10 * cum >= 9 * total THEN cents END) AS BIGINT) AS p90_cents
FROM h GROUP BY 1 ORDER BY 1
"""


def q131_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate: |x − median| > 3·MAD per segment.

    Mean/stddev outlier gates (q115) break under the very outliers
    they hunt; median/MAD are robust to 50% contamination. Both
    medians use q130's histogram-rank shape, so nothing data-sized
    ever sorts:

      pass 1  histogram → per-segment median (report-sized)
      pass 2  |cents − median| histogram → per-segment MAD
      pass 3  conditional count of deviations > 3·MAD

    The median and MAD tables are a handful of rows and broadcast back
    onto the fact; at 100 TB that is two scan+partial-agg stages and
    one final conditional agg — integer arithmetic end to end, no
    interpolation, engine-exact. The synthetic acctbal is uniform
    (genuinely outlier-free), so ~1% corrupted balances are PLANTED
    deterministically (custkey % 97) — the check proves the gate
    flags exactly the planted rows while median/MAD barely move.
    """
    c = t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (
            F.floor(F.col("c_acctbal") * 100).cast("long")
            + F.when(F.col("c_custkey") % 97 == 0, F.lit(10_000_000)).otherwise(
                F.lit(0)
            )
        ).alias("cents"),
    )

    def hist_median(df: DataFrame, col: str, out: str) -> DataFrame:
        hist = df.groupBy("c_mktsegment", col).agg(F.count("*").alias("cnt"))
        w = Window.partitionBy("c_mktsegment").orderBy(col)
        wtot = Window.partitionBy("c_mktsegment")
        h = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
            "total", F.sum("cnt").over(wtot)
        )
        return h.groupBy("c_mktsegment").agg(
            F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col(col))).alias(out)
        )

    med = hist_median(c, "cents", "median_cents")
    dev = c.join(F.broadcast(med), "c_mktsegment").withColumn(
        "dev", F.abs(F.col("cents") - F.col("median_cents"))
    )
    mad = hist_median(dev.select("c_mktsegment", "dev"), "dev", "mad_cents")
    return (
        dev.join(F.broadcast(mad), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.max("median_cents").alias("median_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.count_if(F.col("dev") > 3 * F.col("mad_cents")).alias("n_outliers"),
        )
        .orderBy("c_mktsegment")
    )


O131 = """
WITH c AS (
  SELECT c_mktsegment,
         CAST(floor(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 97 = 0 THEN 10000000 ELSE 0 END AS cents
  FROM customer
), hist AS (
  SELECT c_mktsegment, cents, COUNT(*) AS cnt FROM c GROUP BY 1, 2
), h AS (
  SELECT *,
         SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY cents) AS cum,
         SUM(cnt) OVER (PARTITION BY c_mktsegment) AS total
  FROM hist
), med AS (
  SELECT c_mktsegment,
         MIN(CASE WHEN 2 * cum >= total THEN cents END) AS median_cents
  FROM h GROUP BY 1
), dev AS (
  SELECT c.c_mktsegment, c.cents, med.median_cents,
         abs(c.cents - med.median_cents) AS dev
  FROM c JOIN med USING (c_mktsegment)
), dhist AS (
  SELECT c_mktsegment, dev, COUNT(*) AS cnt FROM dev GROUP BY 1, 2
), dh AS (
  SELECT *,
         SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY dev) AS cum,
         SUM(cnt) OVER (PARTITION BY c_mktsegment) AS total
  FROM dhist
), mad AS (
  SELECT c_mktsegment, MIN(CASE WHEN 2 * cum >= total THEN dev END) AS mad_cents
  FROM dh GROUP BY 1
)
SELECT dev.c_mktsegment, COUNT(*) AS n_rows,
       CAST(MAX(dev.median_cents) AS BIGINT) AS median_cents,
       CAST(MAX(mad.mad_cents) AS BIGINT) AS mad_cents,
       COUNT(CASE WHEN dev.dev > 3 * mad.mad_cents THEN 1 END) AS n_outliers
FROM dev JOIN mad USING (c_mktsegment)
GROUP BY 1 ORDER BY 1
"""


def q140_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (price cents weighted by quantity) per
    return flag — the weighted-percentile operator neither engine has
    natively, via q130's histogram-rank kernel with WEIGHTS: the
    data-sized stage is a mergeable partial agg to a
    (segment, cents) -> total-weight histogram; the cumulative window
    runs over the histogram; nearest-rank in pure integers.

    The Arrow-batched GROUPED_AGG pandas UDAF twin
    (``functions/udaf.py weighted_median_udaf``) computes the same
    contract per group — the extensibility surface — but ships every
    group's values through Arrow and sorts per group in Python;
    ``tests/test_udaf.py`` pins the two bit-equal. This native plan
    is the production path.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.floor("l_quantity").cast("long").alias("w"),
    )
    hist = li.groupBy("l_returnflag", "cents").agg(F.sum("w").alias("wt"))
    w = Window.partitionBy("l_returnflag").orderBy("cents")
    wtot = Window.partitionBy("l_returnflag")
    h = hist.withColumn("cum", F.sum("wt").over(w)).withColumn(
        "total", F.sum("wt").over(wtot)
    )
    return (
        h.groupBy("l_returnflag")
        .agg(
            F.max("total").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cum") >= F.col("total"), F.col("cents"))
            ).alias("wmedian_cents"),
        )
        .orderBy("l_returnflag")
    )


O140 = """
WITH hist AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
         SUM(CAST(floor(l_quantity) AS BIGINT)) AS wt
  FROM lineitem GROUP BY 1, 2
), h AS (
  SELECT l_returnflag, cents, wt,
         SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cum,
         SUM(wt) OVER (PARTITION BY l_returnflag) AS total
  FROM hist
)
SELECT l_returnflag, CAST(MAX(total) AS BIGINT) AS total_weight,
       CAST(MIN(CASE WHEN 2 * cum >= total THEN cents END) AS BIGINT)
         AS wmedian_cents
FROM h GROUP BY 1 ORDER BY 1
"""


def q141_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with Welch's t statistic — assignment by
    deterministic user-id hash bucket, metric = per-user purchase
    revenue (users with no purchase count as 0, the correct
    intent-to-treat denominator).

    Exactness: per-variant n/Σx/Σx² are integer cents aggregates;
    mean, lift and the t statistic use the algebraic forms
    ``var = (n·Σx² − (Σx)²) / (n·(n−1))`` so every intermediate stays
    an exact integer until a handful of final double divisions — no
    accumulation-order drift between engines.

    Scale shape: one exchange to the user grain (mergeable partial
    agg), then ONE conditional aggregation emits the whole variant
    census as a single row — no per-variant filter-split (which would
    re-aggregate the user grain per branch) and no join. This is the experimentation-platform kernel: at 100 TB
    the same plan reads the fact once regardless of experiment count
    (conditional aggregation fans metrics per experiment).
    """
    e = t(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * 100).cast("long")
    user = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", vq).otherwise(F.lit(0))
        ).alias("cents")
    )
    is_a = F.col("user_id") % 2 == 0
    # one conditional aggregation emits the full 2-variant census as a
    # single row — no filter-split (which would re-aggregate the user
    # grain per branch) and no join to reassemble it
    j = user.agg(
        F.count(F.when(is_a, 1)).alias("na"),
        F.sum(F.when(is_a, F.col("cents")).otherwise(0)).alias("sa"),
        F.sum(F.when(is_a, F.col("cents") * F.col("cents")).otherwise(0)).alias("ssa"),
        F.count(F.when(~is_a, 1)).alias("nb"),
        F.sum(F.when(~is_a, F.col("cents")).otherwise(0)).alias("sb"),
        F.sum(F.when(~is_a, F.col("cents") * F.col("cents")).otherwise(0)).alias("ssb"),
    )
    mean_a = F.col("sa").cast("double") / F.col("na")
    mean_b = F.col("sb").cast("double") / F.col("nb")
    var_a = (
        F.col("na").cast("double") * F.col("ssa") - F.col("sa").cast("double") * F.col("sa")
    ) / (F.col("na").cast("double") * (F.col("na") - F.lit(1)))
    var_b = (
        F.col("nb").cast("double") * F.col("ssb") - F.col("sb").cast("double") * F.col("sb")
    ) / (F.col("nb").cast("double") * (F.col("nb") - F.lit(1)))
    tstat = (mean_b - mean_a) / F.sqrt(var_a / F.col("na") + var_b / F.col("nb"))
    return j.select(
        "na", "nb",
        F.round(mean_a, 4).alias("mean_a"),
        F.round(mean_b, 4).alias("mean_b"),
        F.round((mean_b - mean_a) / mean_a, 6).alias("lift"),
        F.round(tstat, 6).alias("t_stat"),
    )


O141 = """
WITH user_rev AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS cents
  FROM events GROUP BY 1
), j AS (
  SELECT COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS na,
         SUM(CASE WHEN user_id % 2 = 0 THEN cents ELSE 0 END) AS sa,
         SUM(CASE WHEN user_id % 2 = 0 THEN cents * cents ELSE 0 END) AS ssa,
         COUNT(CASE WHEN user_id % 2 != 0 THEN 1 END) AS nb,
         SUM(CASE WHEN user_id % 2 != 0 THEN cents ELSE 0 END) AS sb,
         SUM(CASE WHEN user_id % 2 != 0 THEN cents * cents ELSE 0 END) AS ssb
  FROM user_rev
)
SELECT na, nb,
       ROUND(CAST(sa AS DOUBLE) / na, 4) AS mean_a,
       ROUND(CAST(sb AS DOUBLE) / nb, 4) AS mean_b,
       ROUND((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
             / (CAST(sa AS DOUBLE) / na), 6) AS lift,
       ROUND((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
             / sqrt((CAST(na AS DOUBLE) * ssa - CAST(sa AS DOUBLE) * sa)
                      / (CAST(na AS DOUBLE) * (na - 1)) / na
                    + (CAST(nb AS DOUBLE) * ssb - CAST(sb AS DOUBLE) * sb)
                      / (CAST(nb AS DOUBLE) * (nb - 1)) / nb), 6) AS t_stat
FROM j
"""


def q142_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / ``IS NOT DISTINCT FROM``) — the
    join-semantics corner a plain ``=`` silently drops: the NULL
    bucket on both sides must MATCH, not vanish.

    Shape: click counts and purchase revenue are aggregated per
    nullable campaign key (NULL = the event carries no campaign);
    joining the two reports null-safely keeps the (none) bucket as a
    first-class row. Spark plans ``<=>`` as a normal hash join
    (null-safe keys still hash) — same shuffle shape as ``=``, pinned
    in test_plan_shapes.
    """
    e = t(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * 100).cast("long")
    k = F.get_json_object("props", "$.k")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(F.when(F.col("user_id") % 7 != 0, k).alias("camp"))
        .groupBy("camp")
        .agg(F.count("*").alias("n_clicks"))
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.when(F.col("user_id") % 7 != 0, k).alias("camp"), vq.alias("vq"))
        .groupBy("camp")
        .agg(F.count("*").alias("n_purchases"), F.sum("vq").alias("revenue_vq"))
    )
    joined = clicks.join(
        purchases, clicks["camp"].eqNullSafe(purchases["camp"]), "inner"
    )
    return (
        joined.select(
            F.coalesce(clicks["camp"], F.lit("(none)")).alias("campaign"),
            "n_clicks", "n_purchases", "revenue_vq",
        )
        .orderBy("campaign")
    )


O142 = """
WITH clicks AS (
  SELECT CASE WHEN user_id % 7 != 0
              THEN json_extract_string(props, '$.k') END AS camp,
         COUNT(*) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1
), purchases AS (
  SELECT CASE WHEN user_id % 7 != 0
              THEN json_extract_string(props, '$.k') END AS camp,
         COUNT(*) AS n_purchases,
         SUM(CAST(floor(value * 100) AS BIGINT)) AS revenue_vq
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT COALESCE(c.camp, '(none)') AS campaign, c.n_clicks,
       p.n_purchases, CAST(p.revenue_vq AS BIGINT) AS revenue_vq
FROM clicks c JOIN purchases p ON c.camp IS NOT DISTINCT FROM p.camp
ORDER BY campaign
"""


def q143_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (BOM-style) rollup: every part's retail value
    contributes to ALL of its ancestors in a decimal-digit hierarchy
    (parent(p) = p div 10, root 0) — the recursive-CTE workload class.

    Spark has no recursive CTE; when the parent function is
    COMPUTABLE (path-enumerable keys: file paths, taxonomy codes,
    decimal hierarchies), the transitive closure needs neither
    recursion nor iteration: each row enumerates its own ancestor
    chain WITHIN-ROW (depth-bounded transform + explode) and one
    shuffle on the ancestor key finishes the rollup. The oracle runs
    the genuine ``WITH RECURSIVE`` walk — proving the closed form
    computes recursive semantics exactly. At 100 TB the explode
    factor is the hierarchy depth (log_10 of the key space), and the
    one exchange carries (ancestor, cents) pairs only. For hierarchies
    with non-computable parents, the fallback is q67's iterative
    pattern (k keyed self-joins + localCheckpoint).
    """
    p = t(spark, sf_dir, "part")
    # the root part (key 0) is its own parent — the recursive base row
    # still attributes it to ancestor 0, so keep a == p for p = 0 only.
    # Depth 18 divisions (pow(10,19) overflows BIGINT) plus an explicit
    # root-0 append cover the full BIGINT key space: every p > 0 has
    # ancestor 0, and array_distinct removes the duplicate when the
    # division chain already reached it, so small-SF output is
    # unchanged while SF >= 5 keys (p_partkey >= 10^6) still roll up.
    ancestors = F.expr(
        "array_distinct(concat(filter("
        "  transform(sequence(1, 18), k -> p_partkey div cast(pow(10, k) as bigint)),"
        "  a -> a < p_partkey), array(cast(0 as bigint))))"
    )
    return (
        p.select(
            F.explode(ancestors).alias("ancestor"),
            F.floor(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("ancestor")
        .agg(F.count("*").alias("n_descendants"), F.sum("cents").alias("total_cents"))
        .orderBy(F.desc("total_cents"), "ancestor")
        .limit(25)
    )


O143 = """
WITH RECURSIVE anc AS (
  SELECT p_partkey // 10 AS ancestor,
         CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
  UNION ALL
  SELECT ancestor // 10, cents FROM anc WHERE ancestor > 0
)
SELECT ancestor, COUNT(*) AS n_descendants,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM anc GROUP BY 1
ORDER BY total_cents DESC, ancestor LIMIT 25
"""


def q144_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline): parts not strictly dominated on
    BOTH axes (size, price) — the multi-objective shortlist query.

    The textbook formulation is a ``NOT EXISTS`` dominance self-join —
    O(n²) candidate pairs and a nested-loop plan. The dominance test
    itself collapses to a range-frame window: dominated iff
    ``max(price) OVER (ORDER BY size RANGE BETWEEN 1 FOLLOWING AND
    UNBOUNDED FOLLOWING) > price`` (value-based frame, so size TIES
    are correctly excluded). Run unpartitioned that window is a
    SinglePartition sort of the whole table — so this plan exploits
    skyline DECOMPOSABILITY (frontier(A ∪ B) = frontier(frontier(A) ∪
    frontier(B))): a bucket-partitioned local frontier prunes ~all
    rows in parallel, and the exact global pass runs the same window
    over the tiny survivor set only. The oracle runs the genuine
    NOT EXISTS — proving both levels together compute skyline
    semantics exactly.
    """
    p = t(spark, sf_dir, "part").select(
        "p_partkey", "p_size",
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )

    def frontier(df: DataFrame, *partition) -> DataFrame:
        w = (
            Window.partitionBy(*partition)
            .orderBy("p_size")
            .rangeBetween(1, Window.unboundedFollowing)
            if partition
            else Window.orderBy("p_size").rangeBetween(
                1, Window.unboundedFollowing
            )
        )
        m = F.max("cents").over(w)
        return df.withColumn("_m", m).filter(
            F.col("_m").isNull() | (F.col("_m") <= F.col("cents"))
        ).drop("_m")

    local = frontier(
        p.withColumn("bucket", F.pmod(F.hash("p_partkey"), F.lit(64))), "bucket"
    ).drop("bucket")
    return (
        frontier(local)
        .select("p_partkey", "p_size", "cents")
        .orderBy("p_size", "p_partkey")
    )


O144 = """
WITH p AS (
  SELECT p_partkey, p_size, CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
)
SELECT p_partkey, p_size, cents
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b WHERE b.p_size > a.p_size AND b.cents > a.cents
)
ORDER BY p_size, p_partkey
"""


def q146_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power iterations of PageRank (d = 0.85) over the part
    co-purchase graph — the iterative-graph-algorithm workload class,
    declared as an oracle-checkable query by UNROLLING a bounded
    iteration count (the open-ended production loop is
    ``operators/graph.py``'s pattern: iterate + localCheckpoint +
    1-row convergence scalar).

    Exactness: ranks are scaled integers (SCALE = 1e12). Each edge
    contribution is ``(rank * weight) div out_weight`` and the
    damping is ``(17 * inflow) div 20`` — ALL floor divisions on
    BIGINTs, so every iteration is bit-identical in both engines
    regardless of summation order; no float ever appears.

    Scale shape per iteration: one keyed join (ranks onto edges — at
    100 TB both sides pre-partitioned on the node key so the join
    reuses one partitioning across rounds) + one partial-agged
    inflow shuffle. The co-purchase edges come from q133's
    within-row pair expansion — the fact never self-joins.
    """
    li = t(spark, sf_dir, "lineitem")
    pairs = (
        basket_pairs(part_baskets(li), "a", "b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
    )
    # undirected: both directions; persisted — edges feed both
    # iterations and the out-weight census
    edges = pairs.union(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    ).persist()
    wout = edges.groupBy("a").agg(F.sum("w").alias("wout"))
    nodes = edges.select(F.col("a").alias("node")).distinct()
    n_tot = nodes.agg(F.count("*").alias("n"))
    r = nodes.crossJoin(F.broadcast(n_tot)).select(
        "node", "n", F.expr("1000000000000L div n").alias("rank")
    )

    def step(r: DataFrame) -> DataFrame:
        contrib = (
            edges.join(r.withColumnRenamed("node", "a"), "a")
            .join(wout, "a")
            .select(
                F.col("b").alias("node"),
                "n",
                F.expr("(rank * w) div wout").alias("c"),
            )
        )
        inflow = contrib.groupBy("node", "n").agg(F.sum("c").alias("inflow"))
        return inflow.select(
            "node", "n",
            F.expr(
                "(3000000000000L div (20 * n)) + ((17 * inflow) div 20)"
            ).alias("rank"),
        )

    r2 = step(step(r))
    return (
        r2.select("node", "rank")
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )


O146 = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS w
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), edges AS (
  SELECT a, b, w FROM pairs UNION ALL SELECT b AS a, a AS b, w FROM pairs
), wout AS (
  SELECT a, SUM(w) AS wout FROM edges GROUP BY 1
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), nt AS (
  SELECT COUNT(*) AS n FROM nodes
), r0 AS (
  SELECT node, n, 1000000000000 // n AS rank FROM nodes CROSS JOIN nt
), r1 AS (
  SELECT e.b AS node, MAX(r.n) AS n,
         (3 * 1000000000000) // (20 * MAX(r.n))
           + (17 * SUM((r.rank * e.w) // wo.wout)) // 20 AS rank
  FROM edges e JOIN r0 r ON e.a = r.node JOIN wout wo ON e.a = wo.a
  GROUP BY 1
), r2 AS (
  SELECT e.b AS node, MAX(r.n) AS n,
         (3 * 1000000000000) // (20 * MAX(r.n))
           + (17 * SUM((r.rank * e.w) // wo.wout)) // 20 AS rank
  FROM edges e JOIN r1 r ON e.a = r.node JOIN wout wo ON e.a = wo.a
  GROUP BY 1
)
SELECT node, CAST(rank AS BIGINT) AS rank FROM r2
ORDER BY rank DESC, node LIMIT 20
"""


def q151_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence: is event mix independent of
    user segment (user_id mod 3)? The categorical counterpart to
    q141's Welch t — the experimentation-platform kernel for
    conversion-mix questions.

    Exactness: observed counts are one integer contingency census off
    ONE fact scan (5 types x 3 segments = 15 cells + margins from the
    same pass); expected counts and the chi² sum are a handful of
    double ops over exact integers on the 15-row table — both engines
    execute the identical expression tree over identical integers.
    """
    e = t(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", (F.col("user_id") % 3).alias("segment")
    ).agg(F.count("*").alias("o"))
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("row_tot"))
    cols_ = cells.groupBy("segment").agg(F.sum("o").alias("col_tot"))
    tot = cells.agg(F.sum("o").alias("n_tot"))
    expected = (
        cells.join(rows_, "event_type")
        .join(cols_, "segment")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "e",
            F.col("row_tot").cast("double")
            * F.col("col_tot")
            / F.col("n_tot"),
        )
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    # deterministic summation order: fold the 15 sorted terms
    # left-to-right (a plain SUM over doubles is order-nondeterministic)
    folded = expected.select(
        term.alias("t"), "event_type", "segment"
    ).agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("event_type", "segment", "t"))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("chi2")
    )
    return folded.select(
        F.round("chi2", 6).alias("chi2"),
        F.lit(8).alias("dof"),  # (5-1) * (3-1)
    )


O151 = """
WITH cells AS (
  SELECT event_type, user_id % 3 AS segment, COUNT(*) AS o
  FROM events GROUP BY 1, 2
), rows_ AS (
  SELECT event_type, SUM(o) AS row_tot FROM cells GROUP BY 1
), cols_ AS (
  SELECT segment, SUM(o) AS col_tot FROM cells GROUP BY 1
), tot AS (
  SELECT SUM(o) AS n_tot FROM cells
), terms AS (
  SELECT c.event_type, c.segment,
         (c.o - CAST(r.row_tot AS DOUBLE) * co.col_tot / t.n_tot)
         * (c.o - CAST(r.row_tot AS DOUBLE) * co.col_tot / t.n_tot)
         / (CAST(r.row_tot AS DOUBLE) * co.col_tot / t.n_tot) AS t
  FROM cells c JOIN rows_ r USING (event_type)
  JOIN cols_ co USING (segment) CROSS JOIN tot t
)
SELECT ROUND(list_sum(list_transform(
         list_sort(list(struct_pack(event_type := event_type,
                                    segment := segment, t := t))),
         x -> x.t)), 6) AS chi2,
       8 AS dof
FROM terms
"""


def q152_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment: the
    Herfindahl-Hirschman index ``HHI = Σ share_i²`` over customers —
    the anti-trust / key-account-risk metric ("how dependent is this
    segment on its top customers?"), plus the top-customer share.

    Exactness: per-customer revenue is integer cents off one fact
    scan; ``Σ cents_i²`` and ``(Σ cents_i)²`` are exact DECIMAL(38,0)
    sums, so ``HHI = Σc² / (Σc)²`` is ONE double division per segment
    — no per-share float accumulation at all (the naive
    sum-of-squared-shares adds 10⁵ rounded doubles in arbitrary
    order).
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = (F.col("o_totalprice").cast("decimal(18,4)") * 100).cast("long")
    cust = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    seg = cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("sq"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.max("cents").alias("top_cents"),
    )
    return seg.select(
        "c_mktsegment",
        "n_customers",
        F.round(
            F.col("sq").cast("double")
            / (F.col("s").cast("double") * F.col("s").cast("double")),
            8,
        ).alias("hhi"),
        F.round(
            F.col("top_cents").cast("double") / F.col("s").cast("double"), 6
        ).alias("top_share"),
    ).orderBy("c_mktsegment")


O152 = """
WITH cust AS (
  SELECT c.c_mktsegment, o.o_custkey,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), seg AS (
  SELECT c_mktsegment, COUNT(*) AS n_customers,
         SUM(CAST(cents AS HUGEINT) * cents) AS sq,
         SUM(CAST(cents AS HUGEINT)) AS s,
         MAX(cents) AS top_cents
  FROM cust GROUP BY 1
)
SELECT c_mktsegment, n_customers,
       ROUND(CAST(sq AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 8) AS hhi,
       ROUND(CAST(top_cents AS DOUBLE) / CAST(s AS DOUBLE), 6) AS top_share
FROM seg ORDER BY 1
"""


def q153_interval_union_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total COVERED time (union-of-intervals length) per user — the
    billing/active-time metric, completing the interval family: q111
    answers peak concurrency, q134 who-overlaps-whom, this one
    how-much-time-is-covered with double-counted overlap removed.

    Intervals: per (user, day, event_type) activity spans. The naive
    approach merges intervals in a per-key Python loop; the
    declarative form is the classic sweep: order intervals by start,
    carry ``running max end`` over STRICTLY PRECEDING rows (rows
    frame to -1), and each interval contributes
    ``max(0, end - max(start, carried))`` microseconds — overlap with
    anything earlier is clipped exactly once. Pure integer
    microsecond arithmetic on ONE user_id exchange.
    """
    e = t(spark, sf_dir, "events")
    # partition the fact by user_id ONCE: hashpartitioning(user_id)
    # satisfies the (user, day, type) grouping's clustering AND the
    # sweep window's requirement, so the fact crosses the wire once
    # instead of once per grain
    iv = e.repartition("user_id").groupBy(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.min(F.unix_micros("ts")).alias("s"),
        F.max(F.unix_micros("ts")).alias("t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "t", "day", "event_type")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = iv.withColumn("carried", F.max("t").over(w)).select(
        "user_id",
        F.greatest(
            F.lit(0),
            F.col("t") - F.greatest(F.col("s"), F.coalesce("carried", F.lit(0))),
        ).alias("covered_us"),
    )
    return (
        contrib.groupBy("user_id")
        .agg(F.sum("covered_us").alias("us"))
        .select("user_id", F.expr("us div 1000000").alias("covered_sec"))
        .orderBy(F.desc("covered_sec"), "user_id")
        .limit(25)
    )


O153 = """
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS t
  FROM events GROUP BY 1, 2, 3
), c AS (
  SELECT user_id,
         GREATEST(0, t - GREATEST(s, COALESCE(
           MAX(t) OVER (PARTITION BY user_id ORDER BY s, t, day, event_type
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0))) AS covered_us
  FROM iv
)
SELECT user_id, CAST(SUM(covered_us) // 1000000 AS BIGINT) AS covered_sec
FROM c GROUP BY 1 ORDER BY covered_sec DESC, user_id LIMIT 25
"""


def q154_anova_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does day-of-week explain purchase value?
    Completes the classical-statistics family (q141 Welch t, q151
    chi-square): F statistic + eta-squared from the between/within
    variance decomposition.

    Exactness: per-day-of-week (n, Σx, Σx²) are integer-cent
    aggregates off ONE scan; ``SSW = Σ_d (SS_d − S_d²/n_d)`` and
    ``SSB = Σ_d S_d²/n_d − S²/n`` need only those integers, and the
    7-term double sums fold in dow order (a bare SUM over doubles is
    order-nondeterministic) — same bit-stability discipline as q151.
    """
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    vq = F.floor(F.col("value") * 100).cast("long")
    g = e.groupBy(F.dayofweek("ts").alias("dow")).agg(
        F.count("*").alias("n"),
        F.sum(vq).alias("S"),
        F.sum(vq * vq).alias("SS"),
    )
    folded = g.agg(
        F.sum("n").alias("n_tot"),
        F.sum("S").alias("S_tot"),
        F.count("*").alias("k"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("dow", "n", "S", "SS"))),
            F.struct(
                F.lit(0.0).alias("ssw"), F.lit(0.0).alias("sb")
            ),
            # per-group terms are complete sub-expressions BEFORE the
            # fold adds them, so both engines associate identically
            lambda acc, x: F.struct(
                (
                    acc["ssw"]
                    + (
                        x["SS"].cast("double")
                        - x["S"].cast("double") * x["S"] / x["n"]
                    )
                ).alias("ssw"),
                (
                    acc["sb"] + x["S"].cast("double") * x["S"] / x["n"]
                ).alias("sb"),
            ),
        ).alias("acc"),
    )
    ssb = F.col("acc.sb") - F.col("S_tot").cast("double") * F.col("S_tot") / F.col("n_tot")
    ssw = F.col("acc.ssw")
    fstat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_tot") - F.col("k")))
    return folded.select(
        F.col("k").alias("k_groups"),
        F.col("n_tot").alias("n_rows"),
        F.round(fstat, 4).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_sq"),
    )


O154 = """
WITH g AS (
  SELECT dayofweek(ts) + 1 AS dow, COUNT(*) AS n,
         SUM(CAST(floor(value * 100) AS BIGINT)) AS S,
         SUM(CAST(floor(value * 100) AS BIGINT)
             * CAST(floor(value * 100) AS BIGINT)) AS SS
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), folded AS (
  SELECT SUM(n) AS n_tot, SUM(S) AS S_tot, COUNT(*) AS k,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(
           list_sort(list(struct_pack(dow := dow, n := n, S := S, SS := SS))),
           x -> CAST(x.SS AS DOUBLE) - CAST(x.S AS DOUBLE) * x.S / x.n)),
           (a, b) -> a + b) AS ssw,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(
           list_sort(list(struct_pack(dow := dow, n := n, S := S, SS := SS))),
           x -> CAST(x.S AS DOUBLE) * x.S / x.n)),
           (a, b) -> a + b) AS sb
  FROM g
)
SELECT k AS k_groups, CAST(n_tot AS BIGINT) AS n_rows,
       ROUND(((sb - CAST(S_tot AS DOUBLE) * S_tot / n_tot) / (k - 1))
             / (ssw / (n_tot - k)), 4) AS f_stat,
       ROUND((sb - CAST(S_tot AS DOUBLE) * S_tot / n_tot)
             / ((sb - CAST(S_tot AS DOUBLE) * S_tot / n_tot) + ssw), 6) AS eta_sq
FROM folded
"""


def q133_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in
    >= 2 orders, mined WITHOUT self-joining the fact table.

    Scale shape: one exchange on orderkey collapses each order to its
    sorted distinct part basket; pair expansion is WITHIN-ROW
    (k*(k-1)/2 per basket, bounded by basket size — at 100 TB cap
    outlier baskets before expanding, exactly like the LSH bucket
    caps); one exchange on the pair key finishes the census. The
    naive mine self-joins the fact on orderkey — the fact crosses the
    wire twice and hot orders explode quadratically INSIDE the join;
    here the quadratic term never leaves the row it was born in.
    test_plan_shapes pins the no-join property.
    """
    li = t(spark, sf_dir, "lineitem")
    pairs = basket_pairs(part_baskets(li))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(25)
    )


O133 = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2 HAVING COUNT(*) >= 2
ORDER BY n_orders DESC, part_a, part_b LIMIT 25
"""


def q134_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap PAIR COUNTING via sweep line — the join family
    q11's point-in-range form doesn't cover: BOTH sides are intervals
    (per user-day purchase spans), and the answer is how many pairs
    overlap per day.

    The r6 full-registry scale sweep caught the previous bucket-
    binned SELF-JOIN form as the inventory's one genuine cliff:
    overlap PAIRS grow quadratically in per-day concurrency (measured
    404.9× pairs for 20× data), so any pair-enumerating plan is
    Θ(answer) — 51 s at 20×. But the REPORT is only a per-day count,
    and counts don't need enumeration: with intervals sorted within a
    day, the pairs overlapping interval i and counted AT i's start
    are exactly (#starts ≤ mine) − 1 − (#ends strictly before my
    start) — every overlapping pair is counted once, at the later of
    the two starts (row_number breaks start ties into a total order).

    The plan is q111's endpoint-union sweep: project each interval to
    a start event and an end event, one exchange on day, one sort
    within day over the 2n endpoint stream (running end-count via
    cumsum, start rank via conditional cumsum), then a day-grain agg.
    Work is O(n log n) per day INDEPENDENT of the answer size —
    re-measured at the 20× sweep dir: 51 s → ~1 s, and the answer is
    hash-identical to the theta-join oracle, which still enumerates
    (proving the sweep changes the shape, not the semantics).
    """
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    iv = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min("ts").alias("s"), F.max("ts").alias("t")
    )
    # endpoint union: kind 1 = end, kind 2 = start. Sorting by
    # (time, kind, user_id) puts an END at time x BEFORE a START at
    # the same x — but t_j == s_i IS an overlap, so "ends strictly
    # before my start" must order ends AFTER equal-time starts:
    # kind 0 start / kind 1 end with (time, kind) ascending gives
    # ends_before = running end-count at each start, counting only
    # t_j < s_i... use kind: start=0, end=1 so equal-time ends sort
    # AFTER the start and are not yet in the running end-count.
    starts = iv.select(
        "day", F.col("s").alias("ts_pt"), F.lit(0).alias("kind"), "user_id"
    )
    ends = iv.select(
        "day", F.col("t").alias("ts_pt"), F.lit(1).alias("kind"), "user_id"
    )
    pts = starts.unionByName(ends)
    w = (
        Window.partitionBy("day")
        .orderBy("ts_pt", "kind", "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = (
        pts.withColumn(
            "starts_upto", F.sum(F.when(F.col("kind") == 0, 1).otherwise(0)).over(w)
        )
        .withColumn(
            "ends_before", F.sum(F.when(F.col("kind") == 1, 1).otherwise(0)).over(w)
        )
        .filter(F.col("kind") == 0)
        .withColumn(
            "new_pairs",
            F.col("starts_upto") - F.lit(1) - F.col("ends_before"),
        )
    )
    return (
        swept.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.sum("new_pairs").cast("long").alias("n_overlaps"))
        .filter(F.col("n_overlaps") > 0)
        .orderBy("day")
    )


O134 = """
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MIN(ts) AS s, MAX(ts) AS t
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT strftime(a.day, '%Y-%m-%d') AS day, COUNT(*) AS n_overlaps
FROM iv a JOIN iv b
  ON a.day = b.day AND a.user_id < b.user_id AND a.s <= b.t AND b.s <= a.t
GROUP BY 1 ORDER BY 1
"""


def q135_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation via broadcast quartile cuts.

    Recency (days from last order to the 1998-12-31 anchor),
    frequency (#orders), monetary (cents, exact) per customer; each
    metric scored 1-4 by counting how many global quartile boundaries
    the value strictly exceeds; the report is segment-level counts.

    Scale shape: the per-customer grain is one exchange on custkey.
    Scoring then joins every customer against a ONE-ROW boundary
    table (broadcast) — NOT the classic ``ntile(4)`` formulation,
    whose unpartitioned window needs a SinglePartition sort of the
    entire customer grain and dies at billions of customers. The
    exact interpolated percentile boundaries (a full sort of the
    customer GRAIN, not the fact) bound the error of the
    ``approx_percentile`` twin you'd use at extreme scale — the same
    exact-vs-sketch contract as q47/q38.
    """
    o = t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,4)") * 100).cast("long")
    cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-12-31").cast("date"), F.max(F.to_date("o_orderdate"))
        ).alias("rec"),
        F.count("*").alias("freq"),
        F.sum(cents).alias("mon"),
    )
    cuts = cust.agg(
        F.expr("percentile(rec, array(0.25, 0.5, 0.75))").alias("rc"),
        F.expr("percentile(freq, array(0.25, 0.5, 0.75))").alias("fc"),
        F.expr("percentile(mon, array(0.25, 0.5, 0.75))").alias("mc"),
    )

    def score(col: str, cut: str):
        return (
            F.lit(1)
            + (F.col(col) > F.element_at(cut, 1)).cast("int")
            + (F.col(col) > F.element_at(cut, 2)).cast("int")
            + (F.col(col) > F.element_at(cut, 3)).cast("int")
        )

    scored = cust.crossJoin(F.broadcast(cuts)).select(
        score("rec", "rc").alias("r_score"),
        score("freq", "fc").alias("f_score"),
        score("mon", "mc").alias("m_score"),
        "mon",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_customers"), F.sum("mon").alias("total_cents"))
        .orderBy("r_score", "f_score", "m_score")
    )


O135 = """
WITH cust AS (
  SELECT o_custkey,
         datediff('day', MAX(CAST(o_orderdate AS DATE)), DATE '1998-12-31') AS rec,
         COUNT(*) AS freq,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS mon
  FROM orders GROUP BY 1
), cuts AS (
  SELECT quantile_cont(rec, [0.25, 0.5, 0.75]) AS rc,
         quantile_cont(freq, [0.25, 0.5, 0.75]) AS fc,
         quantile_cont(mon, [0.25, 0.5, 0.75]) AS mc
  FROM cust
), scored AS (
  SELECT (1 + (rec > rc[1])::INT + (rec > rc[2])::INT + (rec > rc[3])::INT) AS r_score,
         (1 + (freq > fc[1])::INT + (freq > fc[2])::INT + (freq > fc[3])::INT) AS f_score,
         (1 + (mon > mc[1])::INT + (mon > mc[2])::INT + (mon > mc[3])::INT) AS m_score,
         mon
  FROM cust CROSS JOIN cuts
)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
       CAST(SUM(mon) AS BIGINT) AS total_cents
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q156_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order shipping priority — revenue of
    orders placed before a date whose lineitems ship after it, for one
    market segment; top-10 by revenue.

    Plan: all three predicates push into their scans (mktsegment into
    customer, orderdate into orders, shipdate into lineitem — the
    lineitem scan is the big win: only post-cutoff rows leave the
    reader). customer carries only c_custkey after pruning;
    orders⋈lineitem shuffles on orderkey; the top-10 is
    TakeOrderedAndProject — each task keeps 10 rows, no global sort.
    At 100 TB nothing here is size-of-data except the two keyed
    exchanges, both on uniform keys.
    """
    cutoff = F.lit("1998-01-01").cast("timestamp")
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = dec("l_extendedprice") * (1 - dec("l_discount"))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            as_money(F.sum(rev)).alias("revenue"),
            F.max("o_orderdate").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


O156 = """
SELECT l_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
       MAX(o_orderdate) AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q157_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue volume delivered by LOCAL suppliers
    (supplier nation == customer nation) per nation of one region, one
    year.

    Plan: the year filter pushes into the orders scan; nation and
    region broadcast (25/5 rows at any SF) so the region restriction
    prunes suppliers map-side before any fact shuffle. The fact chain
    shuffles on custkey then orderkey; the locality predicate
    (c_nationkey == s_nationkey) rides the supplier join as a second
    equi-key rather than a post-filter, so the join itself stays hash.
    """
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    local_n = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name"
    )
    rev = dec("l_extendedprice") * (1 - dec("l_discount"))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(
            sup,
            (li["l_suppkey"] == sup["s_suppkey"])
            & (c["c_nationkey"] == sup["s_nationkey"]),
        )
        .join(F.broadcast(local_n), sup["s_nationkey"] == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(as_money(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


O157 = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name ORDER BY revenue DESC
"""


def q158_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share (CASE-share of
    revenue volume) inside one region's market for one part type, by
    year.

    Plan: p_type pushes into the part scan (the most selective filter
    — the lineitem⋈part join then discards ~5/6 of lineitem early);
    both nation copies and region broadcast; the share is a
    conditional-sum over ONE aggregation — never two scans, never a
    join of numerator to denominator. Exact decimal sums divide once
    at the end, so both engines round the same quotient.
    """
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    mkt_n = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_nationkey").alias("mkt_nationkey")
    )
    supp_n = n.select(
        F.col("n_nationkey").alias("sn_nationkey"), F.col("n_name").alias("nation")
    )
    vol = dec("l_extendedprice") * (1 - dec("l_discount"))
    base = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(mkt_n), c["c_nationkey"] == F.col("mkt_nationkey"))
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(supp_n), sup["s_nationkey"] == F.col("sn_nationkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            F.col("nation"),
        )
    )
    share = F.sum(
        F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(
            F.lit(0).cast("decimal(18,4)")
        )
    ) / F.sum("volume")
    return (
        base.groupBy("o_year")
        .agg(F.round(share, 6).cast("double").alias("mkt_share"))
        .orderBy("o_year")
    )


O158 = """
SELECT o_year,
       CAST(ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                  / SUM(volume), 6) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,4)) *
         (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
         n2.n_name AS nation
  FROM part JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
) t GROUP BY o_year ORDER BY o_year
"""


def q159_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who kept finished orders waiting —
    each late line of a multi-supplier order where that supplier was
    the ONLY late one (late = shipped > 90 days after the order date;
    the synthetic schema has no commit/receipt dates).

    The textbook form is a correlated EXISTS + NOT EXISTS pair (the
    oracle runs exactly that). The Spark plan rewrites both into ONE
    order-grain census — after the lineitem⋈orders shuffle on
    orderkey, the per-(order, supplier) aggregate and the per-order
    window REUSE that partitioning (grouping keys are a superset /
    window key is the partition key), so the entire kernel costs a
    single fact exchange:
      EXISTS(other supplier)          ==  n_suppliers >= 2
      NOT EXISTS(other late supplier) ==  n_late_suppliers == 1 (self)
    numwait then sums the qualifying suppliers' late line counts.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).cast(
        "int"
    )
    per_os = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("l_orderkey", "l_suppkey", late.alias("late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum("late").alias("n_late_lines"), F.max("late").alias("any_late"))
    )
    w = Window.partitionBy("l_orderkey")
    qualified = (
        per_os.withColumn("n_suppliers", F.count("*").over(w))
        .withColumn("n_late_suppliers", F.sum("any_late").over(w))
        .filter(
            (F.col("any_late") == 1)
            & (F.col("n_suppliers") >= 2)
            & (F.col("n_late_suppliers") == 1)
        )
    )
    sup = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    return (
        qualified.join(sup, qualified["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(n), sup["s_nationkey"] == n["n_nationkey"])
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


O159 = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_5'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
"""



def q160_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking — orders in one quarter
    with at least one late lineitem (EXISTS), counted per priority.

    Plan: the quarter filter pushes into the orders scan; the EXISTS
    compiles to a LEFT-SEMI hash join on orderkey with the lateness
    predicate as a residual (RewritePredicateSubquery's shape, built
    directly) — each order's lines are checked once, no duplicate
    counting, no second aggregation to dedup. The census is 5 rows.
    """
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        o.join(li, (o["o_orderkey"] == li["l_orderkey"]) & late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


O160 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY 1 ORDER BY 1
"""


def q161_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional trade volume between two nations
    by ship year.

    Plan: both 25-row nation copies broadcast; the disjunctive pair
    restriction collapses to two single-nation IN-filters that prune
    EACH broadcast side before the fact joins (supplier keeps 2
    nations' rows, customer keeps 2 nations' rows), and the exact
    pair constraint is a residual on the final 4-row-per-year census
    input. The shipdate range pushes into the lineitem scan.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n1 = n.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    vol = dec("l_extendedprice") * (1 - dec("l_discount"))
    return (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(n1), sup["s_nationkey"] == F.col("sn_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(as_money(F.sum(vol)).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


O161 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,4)) *
         (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume
  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
) t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q162_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count —
    LEFT OUTER join with an ON-clause filter (customers with zero
    qualifying orders must keep a 0 row), then a histogram of counts.

    Plan: the priority exclusion lives in the JOIN CONDITION, not a
    WHERE (a WHERE would silently turn the outer join inner and drop
    the zero-order customers). One custkey shuffle for join+count;
    the distribution histogram is order-count-sized (= tens of rows).
    """
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    per = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


O162 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY 1
) c GROUP BY 1 ORDER BY custdist DESC, c_count DESC
"""


def q163_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share for one ship month —
    a CASE-share over a part-dimension join.

    Plan: the month filter pushes into the lineitem scan (one month
    of a 7-year corpus ~ 1% of rows leaves the reader); numerator and
    denominator are ONE conditional aggregation over one pass — never
    two scans or a self-join of aggregates (same discipline as q158).
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = dec("l_extendedprice") * (1 - dec("l_discount"))
    base = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "p_type", vol.alias("volume")
    )
    share = (
        F.lit(100.0)
        * F.sum(
            F.when(F.col("p_type") == "PROMO", F.col("volume")).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        )
        / F.sum("volume")
    )
    return base.agg(F.round(share, 4).cast("double").alias("promo_revenue_pct"))


O163 = """
SELECT CAST(ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN volume ELSE 0 END)
                  / SUM(volume), 4) AS DOUBLE) AS promo_revenue_pct
FROM (
  SELECT p_type, CAST(l_extendedprice AS DECIMAL(18,4)) *
                 (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
) t
"""


def q164_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the maximum revenue
    in one quarter (the view + scalar-subquery query).

    Plan: one partial-agged shuffle builds the supplier-grain revenue
    table; the global max is a 1-row aggregate of THAT table (not the
    fact) broadcast back as an equality filter — exact decimal
    equality, so ties surface exactly as in the oracle's scalar
    subquery. The supplier name join is dimension-sized.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    # persisted: rev feeds BOTH the scalar max and the equality probe —
    # without it each consumer re-scans and re-shuffles the fact
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).alias("_rev"))
        .persist()
    )
    mx = rev.agg(F.max("_rev").alias("_mx"))
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev["_rev"] == mx["_mx"])
        .join(sup, F.col("supplier_no") == sup["s_suppkey"])
        .select(
            "s_suppkey", "s_name", as_money(F.col("_rev")).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


O164 = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
             (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name,
       CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q165_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-quantity orders (volume customers) —
    orders whose total lineitem quantity exceeds a threshold, with
    customer attribution, top-20 by order value.

    The textbook form computes the per-order quantity TWICE (an IN
    subquery plus an outer re-aggregation — the oracle runs exactly
    that). The Spark plan computes it ONCE: one partial-agged shuffle
    to the order grain, threshold filter, then dimension joins to
    orders/customer and TakeOrdered top-20. Half the fact work, hash-
    identical output — the single-pass rewrite is the point.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 180.0)
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        qty.join(o, qty["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


O165 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY 1 HAVING SUM(l_quantity) > 180)
GROUP BY 1, 2, 3, 4, 5 ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def q166_bracket_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue under a disjunction of
    (brand, size-range, quantity-range) brackets — the classic
    OR-of-conjunctions join predicate.

    Plan: the join stays a plain equi-join on partkey; the
    disjunction is a post-join residual filter, NEVER part of the
    join condition (an OR in the ON clause blocks hash-join
    selection and degrades to nested-loop). The part-side IN(brand)
    superset filter — implied by the disjunction — pushes into the
    part scan, shrinking the build side before the join.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    brands = ["Brand#12", "Brand#23", "Brand#34"]
    p = t(spark, sf_dir, "part").filter(F.col("p_brand").isin(brands)).select(
        "p_partkey", "p_brand", "p_size"
    )
    joined = li.join(p, li["l_partkey"] == p["p_partkey"])
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    rev = dec("l_extendedprice") * (1 - dec("l_discount"))
    return joined.filter(bracket).agg(as_money(F.sum(rev)).alias("revenue"))


O166 = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
       AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


def q167_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with NO
    recent orders (global-avg scalar + NOT EXISTS anti-join),
    reported per derived segment.

    Plan: the positive-balance average is a 1-row aggregate broadcast
    back as a filter (the scalar subquery); NOT EXISTS compiles to a
    LEFT-ANTI hash join against recent orders — the recency filter
    pushes into the orders scan so the anti side is months, not
    years, of orders. The segment census is 10 rows.
    """
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_ab")
    )
    recent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("_ab"))
    return (
        rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy((F.col("c_custkey") % 10).cast("int").alias("seg"))
        .agg(
            F.count("*").alias("numcust"),
            as_money(F.sum(dec("c_acctbal", 2))).alias("totacctbal"),
        )
        .orderBy("seg")
    )


O167 = """
WITH avg_bal AS (
  SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
)
SELECT seg, COUNT(*) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
       AS totacctbal
FROM (
  SELECT CAST(c_custkey % 10 AS INTEGER) AS seg, c_acctbal
  FROM customer, avg_bal
  WHERE c_acctbal > ab
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
) t GROUP BY 1 ORDER BY 1
"""



def q168_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the minimum-cost supplier per part within one
    region (the correlated-scalar-MIN query), for one part size.

    Unit cost is observed floor(price·10⁴) div quantity — pure BIGINT
    floor division, bit-identical across engines (a decimal division
    here would tie the hash to each engine's quotient scale rules).
    The correlated ``= (SELECT MIN ... WHERE same part)`` runs as a
    per-part window MIN over the (part, supplier) census: after an
    explicit repartition on partkey, the census aggregate (grouping
    keys ⊇ partition key) and the window both REUSE that one
    exchange — the oracle's per-row correlated subquery disappears
    into one pass. p_size pushes into the part scan.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_name")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    region_n = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_nationkey").alias("rn_key")
    )
    micro = F.expr(
        "cast(floor(l_extendedprice * 10000) as bigint) div cast(l_quantity as bigint)"
    )
    cost = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(region_n), sup["s_nationkey"] == F.col("rn_key"))
        .select("l_partkey", "l_suppkey", micro.alias("_m"))
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("_m").alias("unit_micro"))
    )
    part_min = F.min("unit_micro").over(Window.partitionBy("l_partkey"))
    best = cost.withColumn("_pm", part_min).filter(
        F.col("unit_micro") == F.col("_pm")
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_size") == 25).select(
        "p_partkey", "p_brand"
    )
    sname = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(p, best["l_partkey"] == p["p_partkey"])
        .join(sname, best["l_suppkey"] == sname["s_suppkey"])
        .select(
            "p_partkey", "p_brand", "s_name",
            F.round(F.col("unit_micro") / F.lit(10000.0), 4).alias("unit_cost"),
        )
        .orderBy(F.desc("unit_cost"), "p_partkey", "s_name")
        .limit(10)
    )


O168 = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(floor(l_extendedprice * 10000) AS BIGINT)
             // CAST(l_quantity AS BIGINT)) AS unit_micro
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY 1, 2
)
SELECT p_partkey, p_brand, s_name,
       CAST(ROUND(unit_micro / 10000.0, 4) AS DOUBLE) AS unit_cost
FROM cost
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE unit_micro = (SELECT MIN(c2.unit_micro) FROM cost c2
                    WHERE c2.l_partkey = cost.l_partkey)
  AND p_size = 25
ORDER BY unit_cost DESC, p_partkey, s_name LIMIT 10
"""


def q169_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation × order
    year (the schema has no partsupp, so cost basis is 60% of retail
    — the join/agg skeleton is Q9's exactly).

    Plan: the disjunctive part filter (LIKE OR brand) sits wholly on
    the part side and prunes before the fact join; profit is exact
    decimal arithmetic summed per (nation, year); nation broadcasts.
    """
    p = t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%green%") | (F.col("p_brand") == "Brand#21")
    ).select("p_partkey", "p_retailprice")
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation")
    amount = dec("l_extendedprice") * (1 - dec("l_discount")) - F.lit(
        "0.6"
    ).cast("decimal(18,4)") * dec("p_retailprice") * dec("l_quantity")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), sup["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(as_money(F.sum("amount")).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


O169 = """
SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,4)) *
         (1 - CAST(l_discount AS DECIMAL(18,4)))
         - CAST(0.6 AS DECIMAL(18,4)) * CAST(p_retailprice AS DECIMAL(18,4))
           * CAST(l_quantity AS DECIMAL(18,4)) AS amount
  FROM part JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%green%' OR p_brand = 'Brand#21'
) t GROUP BY 1, 2 ORDER BY 1, 2 DESC
"""


def q170_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: (nation, part) value exceeding a fraction of
    GLOBAL total value — the HAVING-against-scalar-subquery query.

    Plan: one partial-agged shuffle builds the (nation, part) value
    census (persisted — it feeds both the scalar total and the
    threshold filter); the global total is a 1-row aggregate OF THE
    CENSUS broadcast back as a filter. The fact is scanned once;
    top-25 is TakeOrdered.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation")
    val = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(n), sup["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("v"))
        .persist()
    )
    thresh = val.agg(
        (F.sum("v") * F.lit("0.00008").cast("decimal(18,10)")).alias("_th")
    )
    return (
        val.join(F.broadcast(thresh), F.col("v") > F.col("_th"))
        .select(
            "n_name", "l_partkey", as_money(F.col("v")).alias("part_value")
        )
        .orderBy(F.desc("part_value"), "n_name", "l_partkey")
        .limit(25)
    )


O170 = """
WITH val AS (
  SELECT n_name, l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS v
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, l_partkey, CAST(ROUND(v, 2) AS DOUBLE) AS part_value
FROM val
WHERE v > (SELECT SUM(v) * 0.00008 FROM val)
ORDER BY part_value DESC, n_name, l_partkey LIMIT 25
"""


def q171_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each
    (brand, size-band), excluding an unwanted supplier set (the
    NOT-IN + COUNT DISTINCT query).

    Plan: the brand IN-list pushes into the part scan; the exclusion
    set (negative-balance suppliers) is a LEFT-ANTI join — never a
    NOT IN rewrite risking the null-semantics nested-loop; distinct
    supplier counting is Spark's standard two-level partial aggregate
    on the (brand, band) key. Size band is integer floor division.
    """
    p = t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#33")
    ).select("p_partkey", "p_brand", "p_size")
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_key")
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(bad, li["l_suppkey"] == F.col("bad_key"), "left_anti")
        .groupBy(
            "p_brand", F.expr("p_size div 10").cast("int").alias("size_band")
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "size_band")
        .limit(20)
    )


O171 = """
SELECT p_brand, CAST(p_size // 10 AS INTEGER) AS size_band,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, size_band LIMIT 20
"""


def q172_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than half of some
    promo part's yearly volume (the nested-aggregate availability
    query).

    Plan: one (supplier, part) shipped census off the pushed-year
    scan; the per-part total is a window SUM over the census riding
    the SAME exchange (explicit partkey repartition, census keys ⊇
    partition key — q168's pattern); the dominance filter, the
    promo-part join (filter pushed into the part scan) and the
    supplier-grain count follow. The fact is scanned once; the
    oracle's shipped/tot CTE pair is the two-scan equivalent.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    shipped = (
        li.repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    part_qty = F.sum("qty").over(Window.partitionBy("l_partkey"))
    dominant = shipped.withColumn("_pq", part_qty).filter(
        F.col("qty") > F.lit(0.5) * F.col("_pq")
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        dominant.join(p, dominant["l_partkey"] == p["p_partkey"])
        .join(sup, dominant["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("n_dominant_parts"))
        .orderBy(F.desc("n_dominant_parts"), "s_name")
        .limit(15)
    )


O172 = """
WITH shipped AS (
  SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
), tot AS (
  SELECT l_partkey, SUM(qty) AS part_qty FROM shipped GROUP BY 1
)
SELECT s_name, COUNT(*) AS n_dominant_parts
FROM shipped
JOIN tot USING (l_partkey)
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE p_type = 'PROMO' AND qty > 0.5 * part_qty
GROUP BY 1 ORDER BY n_dominant_parts DESC, s_name LIMIT 15
"""



def q173_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast revenue change — pure scan-side
    filter-and-aggregate, zero joins.

    Plan: all three predicates (shipdate range, discount band,
    quantity cap) push into the parquet reader; the aggregate is one
    partial-combine to a single row. At 100 TB this query IS the
    scan — row-group min/max skipping on shipdate does the rest.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        as_money(F.sum(dec("l_extendedprice") * dec("l_discount"))).alias(
            "revenue"
        )
    )


O173 = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
       AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q174_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high- vs low-priority order counts among late
    shipments per category (the schema has no shipmode; returnflag is
    the category — the join + dual conditional count skeleton is
    Q12's exactly).

    Plan: the shipdate-year filter pushes into the lineitem scan; the
    lateness predicate is a join residual; both priority counts are
    conditional sums in ONE aggregation over the joined rows — the
    3-row census shape.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, (li["l_orderkey"] == o["o_orderkey"]) & late)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


O174 = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1
"""



def q176_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity LIFT: for frequent part pairs,
    ``lift = P(A,B) / (P(A)·P(B)) = n_pair · n_baskets /
    (n_A · n_B)`` — the cross-sell signal that co-occurrence counts
    alone (q133) can't give, because popular items co-occur by chance.

    Scale shape: q133's no-self-join pair census (within-row pair
    expansion off one orderkey exchange) PERSISTED at the basket
    stage so the pair census, the per-item census and the basket
    total all derive from ONE distinct-collapse of the fact; item
    counts and the 1-row basket total join back as broadcasts onto
    the ≥3-support pair census (support-pruned BEFORE the joins, so
    the broadcast probe side is small). Exact integer arithmetic
    until one final double division.
    """
    li = t(spark, sf_dir, "lineitem")
    baskets = part_baskets(li).persist()
    n_baskets = baskets.agg(F.count("*").alias("n_baskets"))
    item = baskets.select(F.explode("parts").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count("*").alias("n_item"))
    pairs = basket_pairs(baskets)
    pair_census = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    lift = (
        F.col("n_pair").cast("double")
        * F.col("n_baskets")
        / (F.col("n_a") * F.col("n_b"))
    )
    return (
        pair_census.join(F.broadcast(n_baskets))
        .join(ia, "part_a")
        .join(ib, "part_b")
        .select(
            "part_a", "part_b", "n_pair",
            F.round(lift, 4).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(20)
    )


O176 = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM lp),
item AS (SELECT l_partkey, COUNT(*) AS n_item FROM lp GROUP BY 1),
pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT part_a, part_b, n_pair,
       CAST(ROUND(CAST(n_pair AS DOUBLE) * n_baskets
                  / (ia.n_item * ib.n_item), 4) AS DOUBLE) AS lift
FROM pair, tot
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b
ORDER BY lift DESC, part_a, part_b LIMIT 20
"""


def q181_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the part co-purchase graph — the
    clustering-coefficient / community-structure primitive of graph
    analytics, computed with the DEGREE-ORIENTATION algorithm
    ("compact-forward", Latapy 2008; Suri & Vassilvitskii WWW'11 for
    the MapReduce form).

    Why orientation matters at 100 TB: the naive triple self-join
    enumerates every WEDGE — for a hot node of degree d that is d²
    candidates, and real co-purchase graphs have power-law hubs. Each
    undirected edge is instead directed from its LOWER (degree, id)
    endpoint to the higher; every out-neighborhood then has size
    O(√m) regardless of hubs, so the wedge join is bounded by
    Σ outdeg² = O(m^1.5) with NO skew blowup, and each triangle is
    counted exactly once (its two lowest-ranked endpoints form the
    wedge). The oracle runs the naive a<b<c triple join — the hash
    match proves the orientation rewrite is count-preserving.

    Edges come from q133/q146's within-row basket pair expansion (the
    fact never self-joins); the kernel lives in
    ``operators/graph.triangle_count`` (persisted edge/oriented
    tables feed the degree census, both wedge sides and the closure
    probe), re-proved on seeded random graphs in
    tests/test_graph_props.py.
    """
    from ..operators.graph import triangle_count

    li = t(spark, sf_dir, "lineitem")
    edges = basket_pairs(part_baskets(li), "a", "b").distinct()
    return triangle_count(edges)


O181 = """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT b1.l_partkey AS a, b2.l_partkey AS bb
  FROM b b1 JOIN b b2 USING (l_orderkey)
  WHERE b1.l_partkey < b2.l_partkey
)
SELECT
  (SELECT COUNT(*) FROM (SELECT a FROM e UNION SELECT bb FROM e)) AS n_nodes,
  (SELECT COUNT(*) FROM e) AS n_edges,
  (SELECT COUNT(*) FROM e e1
     JOIN e e2 ON e1.bb = e2.a
     JOIN e e3 ON e3.a = e1.a AND e3.bb = e2.bb) AS n_triangles
"""


def q178_approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile`` — the mergeable fixed-memory quantile
    sketch q47's docstring names as THE 100 TB percentile form —
    SELF-VERIFYING against its own rank guarantee in-plan (q177's
    rows-only pattern; sketch outputs are implementation-defined, so
    no cross-engine value hash is possible by construction).

    The contract Spark documents for accuracy parameter ``acc``: the
    returned value's rank is within ``n/acc`` of the target rank.
    The plan computes the approx p50/p90 per orderstatus, then ONE
    extra conditional-sum pass over the fact computes the true ranks
    ``count(x < v)`` / ``count(x <= v)`` of each returned value, and
    flags ``verified`` iff the target rank lies in
    ``[rank_lt - n/acc - 1, rank_le + n/acc + 1]``. A sketch
    regression flips the flag; the driver's rows-only row (6 rows:
    3 statuses x 2 percentiles) catches it.

    100 TB shape: the sketch is a one-exchange mergeable agg (map-side
    partial sketches combine — the whole point vs q47's full sort);
    the verification census is a second scan + broadcast of the 6-row
    approx table — the TEST harness, not the production path.
    """
    from ..functions.quantiles import approx_group_quantiles, rank_bound_verify

    acc = 200
    o = t(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    ap = approx_group_quantiles(o, "o_orderstatus", "o_totalprice", [0.5, 0.9], acc)
    # shared sketch-verification kernel (functions/quantiles.py — also
    # q202): exact-rank census + in-plan abort
    return (
        rank_bound_verify(ap, o, "o_orderstatus", "o_totalprice", acc, tag="q178")
        .select(
            "o_orderstatus",
            "pct",
            F.round("approx_value", 2).alias("approx_value"),
            "n",
            "rank_lt",
            "rank_le",
            "verified",
        )
        .orderBy("o_orderstatus", "pct")
    )


def q202_quantile_merge_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketch under ADVERSARIAL merge order — the piece
    q178 leaves unpinned. ``percentile_approx``'s mergeable-sketch
    guarantee (true rank of the returned value within ``n/acc`` of
    the target, regardless of how partial sketches merge) is only
    worth trusting at 100 TB if it survives the worst merge schedule,
    not just the natural one. This plan builds the SAME per-flag
    sketch twice:

    - natural partitioning (whatever the scan delivers), and
    - value-range-sorted runs (``repartitionByRange`` on the value,
      so every partition holds a contiguous value range — the classic
      adversarial input for rank-sketch compaction: each merge sees
      totally disjoint, ordered mass),

    then verifies BOTH against the exact rank census via the shared
    kernel (functions/quantiles.rank_bound_verify) which ABORTS in-plan on any
    violation. Report: per (flag, pct) both sketch values and their
    exact-rank windows — values may legitimately differ (sketch
    output is merge-order-dependent, hence rows-only), the GUARANTEE
    may not.

    100 TB shape: two one-exchange mergeable aggregations (map-side
    partial sketches, fixed memory per group) + one conditional-sum
    census pass per variant joined against the broadcast report-sized
    sketch table. The adversarial repartition is the TEST harness,
    not the production path.
    """
    from ..functions.quantiles import (
        QUANTILE_ACC,
        approx_group_quantiles,
        rank_bound_verify,
    )

    fact = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("price")
    )
    runs = fact.repartitionByRange(16, "price")

    nat = rank_bound_verify(
        approx_group_quantiles(fact, "l_returnflag", "price"),
        fact, "l_returnflag", "price", QUANTILE_ACC, tag="q202 natural",
    ).select(
        "l_returnflag", "pct", "n",
        F.col("approx_value").alias("v_natural"),
        F.col("rank_lt").alias("rank_lt_nat"),
        F.col("rank_le").alias("rank_le_nat"),
    )
    adv = rank_bound_verify(
        approx_group_quantiles(runs, "l_returnflag", "price"),
        fact, "l_returnflag", "price", QUANTILE_ACC, tag="q202 sorted-runs",
    ).select(
        "l_returnflag", "pct",
        F.col("approx_value").alias("v_sorted_runs"),
        F.col("rank_lt").alias("rank_lt_runs"),
        F.col("rank_le").alias("rank_le_runs"),
    )
    return (
        nat.join(adv, ["l_returnflag", "pct"])
        .select(
            "l_returnflag", "pct", "n",
            "v_natural", "v_sorted_runs",
            "rank_lt_nat", "rank_le_nat", "rank_lt_runs", "rank_le_runs",
        )
        .orderBy("l_returnflag", "pct")
    )


_Q196_SQL = """
WITH mixed AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END AS src,
         n_chars
  FROM {documents}
)
SELECT CAST(lower(min(src COLLATE UTF8_LCASE)) AS STRING) AS source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM mixed
GROUP BY src COLLATE UTF8_LCASE
ORDER BY source
"""


def q196_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 COLLATIONS — the third
    engine-native Spark 4 feature in the inventory (q184 recursive
    CTE, q185 VARIANT): ``GROUP BY src COLLATE UTF8_LCASE`` makes the
    ENGINE equate case variants, where the classic ``lower(src)``
    rewrite (the oracle's form, since DuckDB has no collation
    equivalent here) normalizes the data instead. Semantically equal
    on this corpus; operationally the collation keeps the ORIGINAL
    strings flowing (no derived column) and applies to joins, ORDER
    BY and DISTINCT uniformly once declared on the column.

    Determinism note: case variants are EQUAL under the collation, so
    ``min(src)`` may return either variant — the report lowers it, so
    the displayed key is stable regardless of which representative
    the engine picks. Mixed-case input is derived in-query (upper()
    on even doc_ids) because the corpus itself is single-case.

    Plan shape: one partial-agged groupBy; the collation comparator
    runs inside codegen — no UDF, no second pass.
    """
    t(spark, sf_dir, "documents").createOrReplaceTempView("q196_documents")
    return spark.sql(_Q196_SQL.format(documents="q196_documents"))


O196 = """
WITH mixed AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END AS src,
         n_chars
  FROM documents
)
SELECT lower(min(src)) AS source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM mixed
GROUP BY lower(src)
ORDER BY source
"""


_Q197_SQL = """
SELECT c.c_custkey, t.o_orderkey,
       CAST(floor(t.o_totalprice * 100) AS BIGINT) AS price_cents
FROM {customer} c,
LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey % 10 = 0
ORDER BY c.c_custkey, price_cents DESC, t.o_orderkey
"""


def q197_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer through a correlated LATERAL
    subquery with LIMIT — the SQL-native per-group top-k surface
    (q02/q104 drive the same semantics through window functions).
    The statement is textually identical in both engines, so this
    pins cross-engine LATERAL semantics the way q107 pins correlated
    EXISTS.

    What Catalyst does with it at scale: DecorrelateInnerQuery +
    RewriteLateralSubquery turn the per-row subquery into a JOIN +
    per-key rank limit — there is NO per-row re-execution of the
    inner query at any scale, and nothing cartesians (plan-pinned in
    tests/test_plan_shapes.py). The customer filter prunes the outer
    side before the join.
    """
    t(spark, sf_dir, "customer").createOrReplaceTempView("q197_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("q197_orders")
    return spark.sql(
        _Q197_SQL.format(customer="q197_customer", orders="q197_orders")
    )


O197 = _Q197_SQL.format(customer="customer", orders="orders")


_Q198_PIPE = """
FROM {lineitem}
|> WHERE l_shipdate <= DATE '1998-09-02'
|> EXTEND CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
     AS disc_cents
|> AGGREGATE COUNT(*) AS n,
     CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
     CAST(SUM(disc_cents) AS BIGINT) AS revenue_cents
     GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag, l_linestatus
"""


def q198_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1's shape through Spark 4's SQL PIPE syntax (`|>`) —
    the fifth engine-native Spark 4 surface in the inventory (q184
    recursive CTE, q185 VARIANT, q196 collations, q197 LATERAL):
    FROM … |> WHERE … |> EXTEND … |> AGGREGATE … |> ORDER BY reads in
    dataflow order, and the parser lowers each stage onto the SAME
    Catalyst operators as the classic statement — pushed scan filter,
    partial-agged groupBy, sorted report — so the feature costs
    nothing at scale (it is syntax, not a new executor). The oracle
    is the classic-SQL equivalent (DuckDB has no pipe parser), which
    also proves stage-lowering preserves ANSI semantics; the exact
    integer-cent quantization keeps both engines' sums bit-equal
    (q01's discipline).
    """
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("q198_lineitem")
    return spark.sql(_Q198_PIPE.format(lineitem="q198_lineitem"))


O198 = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q194_inclusion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency census — the data-PROFILING operator
    (Metanome/SINDY family): for each candidate (lhs ⊆ rhs) column
    pair, the distinct-value inclusion coefficient and an
    ind / partial / none verdict. This is how a pipeline DISCOVERS
    joinability and validates assumed FKs before trusting a join —
    q112's quality audit checks ONE declared FK; this profiles the
    candidate space, including the deliberately partial directions
    (orders with no lineitems; customers who never produced events)
    and the cross-domain links (events.user_id → customer,
    documents → embeddings).

    Plan shape at 100 TB (r12, SINDY's single-pass form): every table
    is scanned exactly ONCE (pruned to just its profiled columns) and
    fans within-row into (value, attr-bit) rows; one value-keyed
    group-by ``bit_or``s the 13 attr bits into a mask per distinct
    value — partial aggregation dedups map-side, so the single
    exchange is bounded by the cross-attr distinct count (SMALLER
    than the per-pair distinct sets summed, since shared columns like
    c_custkey ship once, not once per pair) — and ALL 16 report
    counts read off one 1-row agg over the mask table:
    n_lhs = Σ lhs-bit, n_matched = Σ (lhs-bit ∧ rhs-bit ∧ v NOT NULL).
    NULL semantics unchanged from the join form: each attr's NULLs
    collapse into the one NULL group whose mask records exactly which
    attrs held a NULL, so a NULL lhs value still counts once in n_lhs
    and never in n_matched. Earlier forms, both measured: per-pair
    distinct+LEFT-join (41 jobs / 72 stages), then per-pair
    union+group-by (27 jobs / 51 stages, 16 scans, 16 value
    exchanges); this form is one scan per table, ONE value exchange,
    zero joins.
    """
    # attr registry: bit position in the mask, table column it profiles
    A = {
        "c_custkey": 0, "c_nationkey": 1, "n_nationkey": 2,
        "user_id": 3, "doc_id": 4, "vec_id": 5,
        "l_partkey": 6, "l_suppkey": 7, "l_orderkey": 8,
        "p_partkey": 9, "s_suppkey": 10,
        "o_custkey": 11, "o_orderkey": 12,
    }

    def attr_rows(df: DataFrame, cols: list[str]) -> DataFrame:
        return df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.col(c).cast("long").alias("v"),
                        F.lit(1 << A[c]).cast("long").alias("m"),
                    )
                    for c in cols
                ])
            ).alias("s")
        ).select("s.v", "s.m")

    allv = (
        attr_rows(t(spark, sf_dir, "customer"), ["c_custkey", "c_nationkey"])
        .unionByName(attr_rows(t(spark, sf_dir, "nation"), ["n_nationkey"]))
        .unionByName(attr_rows(t(spark, sf_dir, "events"), ["user_id"]))
        .unionByName(attr_rows(t(spark, sf_dir, "documents"), ["doc_id"]))
        .unionByName(attr_rows(t(spark, sf_dir, "embeddings"), ["vec_id"]))
        .unionByName(attr_rows(
            t(spark, sf_dir, "lineitem"),
            ["l_partkey", "l_suppkey", "l_orderkey"],
        ))
        .unionByName(attr_rows(t(spark, sf_dir, "part"), ["p_partkey"]))
        .unionByName(attr_rows(t(spark, sf_dir, "supplier"), ["s_suppkey"]))
        .unionByName(attr_rows(t(spark, sf_dir, "orders"), ["o_custkey", "o_orderkey"]))
    )
    masks = allv.groupBy("v").agg(F.bit_or("m").alias("mask"))
    PAIRS = [
        ("customer.c_custkey<=events.user_id", "c_custkey", "user_id"),
        ("customer.c_nationkey<=nation.n_nationkey", "c_nationkey", "n_nationkey"),
        ("documents.doc_id<=embeddings.vec_id", "doc_id", "vec_id"),
        ("events.user_id<=customer.c_custkey", "user_id", "c_custkey"),
        ("lineitem.l_partkey<=part.p_partkey", "l_partkey", "p_partkey"),
        ("lineitem.l_suppkey<=supplier.s_suppkey", "l_suppkey", "s_suppkey"),
        ("orders.o_custkey<=customer.c_custkey", "o_custkey", "c_custkey"),
        ("orders.o_orderkey<=lineitem.l_orderkey", "o_orderkey", "l_orderkey"),
    ]

    def bit(col_bit: int):
        return F.shiftright(F.col("mask"), col_bit).bitwiseAND(F.lit(1))

    aggs = []
    for i, (_, lc, rc) in enumerate(PAIRS):
        aggs.append(F.sum(bit(A[lc])).cast("long").alias(f"nl{i}"))
        aggs.append(
            F.sum(
                F.when(
                    F.col("v").isNotNull(), bit(A[lc]) * bit(A[rc])
                ).otherwise(F.lit(0))
            ).cast("long").alias(f"nm{i}")
        )
    wide = masks.agg(*aggs)
    rep = wide.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(label).alias("pair"),
                    F.col(f"nl{i}").alias("n_lhs"),
                    F.col(f"nm{i}").alias("n_matched"),
                )
                for i, (label, _, _) in enumerate(PAIRS)
            ])
        ).alias("s")
    ).select("s.*")
    ppm = F.expr("(1000000 * n_matched) div n_lhs")
    verdict = (
        F.when(F.col("n_matched") == F.col("n_lhs"), F.lit("ind"))
        .when(F.col("n_matched") > 0, F.lit("partial"))
        .otherwise(F.lit("none"))
    )
    return rep.select(
        "pair", "n_lhs", "n_matched", ppm.alias("incl_ppm"), verdict.alias("verdict")
    ).orderBy("pair")


def _O194_pair(label: str, lhs: str, lcol: str, rhs: str, rcol: str) -> str:
    return f"""
  SELECT '{label}' AS pair, COUNT(*) AS n_lhs,
         CAST(SUM(CASE WHEN r.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
  FROM (SELECT DISTINCT CAST({lcol} AS BIGINT) AS v FROM {lhs}) l
  LEFT JOIN (SELECT DISTINCT CAST({rcol} AS BIGINT) AS v FROM {rhs}) r USING (v)"""


O194 = f"""
WITH rep AS (
{" UNION ALL ".join([
    _O194_pair("customer.c_custkey<=events.user_id", "customer", "c_custkey", "events", "user_id"),
    _O194_pair("customer.c_nationkey<=nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    _O194_pair("documents.doc_id<=embeddings.vec_id", "documents", "doc_id", "embeddings", "vec_id"),
    _O194_pair("events.user_id<=customer.c_custkey", "events", "user_id", "customer", "c_custkey"),
    _O194_pair("lineitem.l_partkey<=part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    _O194_pair("lineitem.l_suppkey<=supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    _O194_pair("orders.o_custkey<=customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    _O194_pair("orders.o_orderkey<=lineitem.l_orderkey", "orders", "o_orderkey", "lineitem", "l_orderkey"),
])}
)
SELECT pair, n_lhs, n_matched,
       (1000000 * n_matched) // n_lhs AS incl_ppm,
       CASE WHEN n_matched = n_lhs THEN 'ind'
            WHEN n_matched > 0 THEN 'partial'
            ELSE 'none' END AS verdict
FROM rep ORDER BY pair
"""


QUERIES = [
    Query("q01_pricing_summary", q01_pricing_summary, O01, "TPC-H Q1 scan+agg"),
    Query("q02_topk_orders", q02_topk_orders, O02, "global top-k"),
    Query("q03_filter_predicates", q03_filter_predicates, O03, "pushdown filters"),
    Query("q04_join_inner", q04_join_inner, O04, "inner equi-join"),
    Query("q05_join_left", q05_join_left, O05, "left outer join"),
    Query("q06_join_right", q06_join_right, O06, "right outer join"),
    Query("q07_join_full", q07_join_full, O07, "full outer join"),
    Query("q08_semi_join", q08_semi_join, O08, "left-semi EXISTS"),
    Query("q09_anti_join", q09_anti_join, O09, "left-anti NOT EXISTS"),
    Query("q10_broadcast_star", q10_broadcast_star, O10, "broadcast star join"),
    Query("q11_range_join", q11_range_join, O11, "non-equi BETWEEN join"),
    Query("q12_multi_agg", q12_multi_agg, O12, "multi-aggregate"),
    Query("q13_collect_sorted", q13_collect_sorted, O13, "ordered collect_list"),
    Query("q14_rollup", q14_rollup, O14, "ROLLUP"),
    Query("q15_cube", q15_cube, O15, "CUBE"),
    Query("q16_grouping_sets", q16_grouping_sets, O16, "GROUPING SETS"),
    Query("q17_having", q17_having, O17, "HAVING"),
    Query("q18_window_rank", q18_window_rank, O18, "ranking windows"),
    Query("q19_window_lag_lead", q19_window_lag_lead, O19, "lag/lead"),
    Query("q20_window_frames", q20_window_frames, O20, "window frames"),
    Query("q21_union_all", q21_union_all, O21, "UNION ALL"),
    Query("q22_union_distinct", q22_union_distinct, O22, "UNION DISTINCT"),
    Query("q23_intersect", q23_intersect, O23, "INTERSECT"),
    Query("q24_except", q24_except, O24, "EXCEPT"),
    Query("q25_string_funcs", q25_string_funcs, O25, "string functions"),
    Query("q26_date_funcs", q26_date_funcs, O26, "date functions"),
    Query("q27_math_conditional", q27_math_conditional, O27, "math+conditional"),
    Query("q28_hash_funcs", q28_hash_funcs, O28, "sha2/md5"),
    Query("q29_array_funcs", q29_array_funcs, O29, "array lambda ops"),
    Query("q30_json_funcs", q30_json_funcs, O30, "JSON extraction"),
    Query("q31_explode_wordcount", q31_explode_wordcount, O31, "explode/unnest"),
    Query("q32_pivot", q32_pivot, O32, "pivot"),
    Query("q33_distinct", q33_distinct, O33, "distinct"),
    Query("q34_systematic_sample", q34_systematic_sample, O34, "deterministic sample"),
    Query("q35_scalar_subquery", q35_scalar_subquery, O35, "scalar subquery"),
    Query("q36_parquet_roundtrip", q36_parquet_roundtrip, O36, "parquet sink+scan round-trip"),
    Query("q37_ndjson_roundtrip", q37_ndjson_roundtrip, O37, "NDJSON sink+scan round-trip"),
    Query("q38_approx_count_distinct", q38_approx_count_distinct, None,
          "HLL++ sketch (non-oracle by design)"),
    Query("q39_salted_agg", q39_salted_agg, O39, "skew-safe salted aggregation"),
    Query("q45_map_funcs", q45_map_funcs, O45, "map pack/consume kernel"),
    Query("q46_small_quantity_revenue", q46_small_quantity_revenue, O46,
          "TPC-H Q17 correlated aggregate subquery"),
    Query("q47_percentiles", q47_percentiles, O47, "exact interpolated percentiles"),
    Query("q48_shipping_priority", q48_shipping_priority, O48, "TPC-H Q3 3-table join"),
    Query("q49_local_volume", q49_local_volume, O49, "TPC-H Q5 5-table star"),
    Query("q69_returned_items", q69_returned_items, O69, "TPC-H Q10 top-k returns"),
    Query("q78_hot_key_split_join", q78_hot_key_split_join, O78,
          "skew-safe hot-key split join vs plain join"),
    Query("q79_distribution_windows", q79_distribution_windows, O79,
          "ntile / percent_rank / cume_dist"),
    Query("q80_filtered_agg", q80_filtered_agg, O80,
          "conditional (FILTER-clause) aggregation"),
    Query("q85_csv_roundtrip", q85_csv_roundtrip, O85,
          "CSV sink+scan roundtrip (schema-on-read, PERMISSIVE)"),
    Query("q92_orc_roundtrip", q92_orc_roundtrip, O92,
          "ORC sink+scan roundtrip (partitioned + sorted layout)"),
    Query("q105_user_purge", q105_user_purge, O105,
          "right-to-be-forgotten purge with audit (one-scan)"),
    Query("q106_merge_upsert", q106_merge_upsert, O106,
          "MERGE/upsert classification (full-outer dimension merge)"),
    Query("q107_exists_subquery", q107_exists_subquery, O107,
          "correlated EXISTS/NOT EXISTS via the spark.sql front-end"),
    Query("q111_peak_concurrency", q111_peak_concurrency, O111,
          "sweep-line peak interval concurrency (no self-join)"),
    Query("q112_quality_audit", q112_quality_audit, O112,
          "one-scan data-quality constraint audit (deequ-style)"),
    Query("q113_unpivot", q113_unpivot, O113,
          "UNPIVOT/melt wide-to-tall + per-attribute profile"),
    Query("q115_zscore_outliers", q115_zscore_outliers, O115,
          "exact-arithmetic z-score outlier detection"),
    Query("q118_value_histogram", q118_value_histogram, O118,
          "equal-width histogram (integer-exact bucketing)"),
    Query("q121_bucketed_join", q121_bucketed_join, O121,
          "bucketed co-located join (layout write amortized)"),
    Query("q123_share_of_total", q123_share_of_total, O123,
          "percent-of-total via SUM() OVER () on the report"),
    Query("q119_segment_correlation", q119_segment_correlation, O119,
          "exact Pearson correlation from integer sums"),
    Query("q129_snapshot_diff", q129_snapshot_diff, O129,
          "CDC snapshot diff: added/removed/changed audit via row-hash"),
    Query("q130_histogram_median", q130_histogram_median, O130,
          "exact nearest-rank median/p90 via histogram-rank (no data sort)"),
    Query("q131_mad_outliers", q131_mad_outliers, O131,
          "robust |x-med| > 3*MAD outlier gate (two histogram medians)"),
    Query("q133_basket_pairs", q133_basket_pairs, O133,
          "market-basket pair census (within-row expansion, no fact self-join)"),
    Query("q134_interval_overlap", q134_interval_overlap, O134,
          "interval-overlap join via hour-bucket binning (exact-once attribution)"),
    Query("q135_rfm_segments", q135_rfm_segments, O135,
          "RFM segmentation via broadcast quartile cuts (no global ntile sort)"),
    Query("q140_weighted_median", q140_weighted_median, O140,
          "exact weighted median via weighted histogram-rank (UDAF twin pinned)"),
    Query("q141_ab_test", q141_ab_test, O141,
          "A/B readout with Welch's t (exact integer sums, 2-row census)"),
    Query("q142_null_safe_join", q142_null_safe_join, O142,
          "null-safe equi-join (<=> / IS NOT DISTINCT FROM semantics)"),
    Query("q143_hierarchy_rollup", q143_hierarchy_rollup, O143,
          "recursive-CTE rollup via within-row ancestor enumeration"),
    Query("q144_pareto_frontier", q144_pareto_frontier, O144,
          "Pareto skyline via range-frame window (vs NOT EXISTS oracle)"),
    Query("q146_pagerank", q146_pagerank, O146,
          "2-iteration integer PageRank on the co-purchase graph"),
    Query("q151_chi_square", q151_chi_square, O151,
          "chi-square independence test (integer census, ordered fold)"),
    Query("q152_revenue_concentration", q152_revenue_concentration, O152,
          "HHI revenue concentration (exact decimal sums, one division)"),
    Query("q153_interval_union_time", q153_interval_union_time, O153,
          "union-of-intervals covered time (clip-once sweep, one exchange)"),
    Query("q154_anova_dow", q154_anova_dow, O154,
          "one-way ANOVA F/eta-sq (integer census, ordered fold)"),
    Query("q156_shipping_priority", q156_shipping_priority, O156,
          "TPC-H Q3 shipping priority (3 pushed filters, top-10)"),
    Query("q157_local_supplier_volume", q157_local_supplier_volume, O157,
          "TPC-H Q5 local-supplier volume (2-key locality join)"),
    Query("q158_market_share", q158_market_share, O158,
          "TPC-H Q8 market share (one-agg CASE-share)"),
    Query("q159_suppliers_kept_waiting", q159_suppliers_kept_waiting, O159,
          "TPC-H Q21 multi-EXISTS as one-exchange order census"),
    Query("q160_order_priority_check", q160_order_priority_check, O160,
          "TPC-H Q4 EXISTS as residual-predicate semi join"),
    Query("q161_nation_volume", q161_nation_volume, O161,
          "TPC-H Q7 two-nation trade volume (pruned broadcast dims)"),
    Query("q162_order_count_distribution", q162_order_count_distribution, O162,
          "TPC-H Q13 outer-join ON-filter + count histogram"),
    Query("q163_promo_revenue", q163_promo_revenue, O163,
          "TPC-H Q14 promo share (one-agg CASE-share)"),
    Query("q164_top_supplier", q164_top_supplier, O164,
          "TPC-H Q15 max-revenue supplier (scalar max broadcast)"),
    Query("q165_large_orders", q165_large_orders, O165,
          "TPC-H Q18 single-pass order-quantity threshold"),
    Query("q166_bracket_predicate", q166_bracket_predicate, O166,
          "TPC-H Q19 disjunctive brackets as equi-join residual"),
    Query("q167_dormant_rich_customers", q167_dormant_rich_customers, O167,
          "TPC-H Q22 scalar-avg broadcast + anti join census"),
    Query("q168_cheapest_supplier", q168_cheapest_supplier, O168,
          "TPC-H Q2 correlated MIN as one-exchange census window"),
    Query("q169_product_profit", q169_product_profit, O169,
          "TPC-H Q9 product profit by nation x year"),
    Query("q170_important_stock", q170_important_stock, O170,
          "TPC-H Q11 HAVING vs global-scalar broadcast"),
    Query("q171_supplier_count", q171_supplier_count, O171,
          "TPC-H Q16 NOT IN as anti join + count distinct"),
    Query("q172_dominant_suppliers", q172_dominant_suppliers, O172,
          "TPC-H Q20 nested aggregate as census window"),
    Query("q173_forecast_revenue", q173_forecast_revenue, O173,
          "TPC-H Q6 pure pushed-filter scan aggregate"),
    Query("q174_priority_shipping", q174_priority_shipping, O174,
          "TPC-H Q12 dual conditional count on one join"),
    Query("q176_affinity_lift", q176_affinity_lift, O176,
          "market-basket lift off one persisted basket collapse"),
    Query("q181_triangle_count", q181_triangle_count, O181,
          "exact triangle census via degree orientation (compact-forward; "
          "oracle is the naive a<b<c triple join)"),
    Query("q178_approx_percentile_check", q178_approx_percentile_check, None,
          "approx_percentile sketch, self-verifying its rank guarantee "
          "in-plan (rows-only: sketch values are implementation-defined)"),
    Query("q202_quantile_merge_order", q202_quantile_merge_order, None,
          "KLL quantile sketch under adversarial (value-sorted-runs) "
          "merge order vs natural partitioning, both rank-bound-verified "
          "in-plan via the shared functions/quantiles kernel (rows-only: "
          "sketch values are merge-order-dependent by construction)"),
    Query("q196_collated_grouping", q196_collated_grouping, O196,
          "Spark 4 collation-aware grouping (COLLATE UTF8_LCASE vs the "
          "oracle's lower() rewrite; engine-equated case variants)"),
    Query("q197_lateral_topk", q197_lateral_topk, O197,
          "correlated LATERAL subquery with LIMIT (SQL-native per-group "
          "top-k; decorrelated to a join, textually identical oracle)"),
    Query("q198_pipe_syntax", q198_pipe_syntax, O198,
          "Spark 4 SQL pipe syntax (FROM |> WHERE |> EXTEND |> AGGREGATE "
          "lowered onto classic Catalyst operators; classic-SQL oracle)"),
    Query("q194_inclusion_profile", q194_inclusion_profile, O194,
          "inclusion-dependency census (Metanome-style FK discovery: "
          "distinct-set inclusion ppm + ind/partial/none verdict per "
          "candidate pair, incl. deliberately partial directions)"),
]
