"""Classic OLAP benchmark shapes over the raw TPC-H-ish tables.

Beyond the reference's star-schema workload, these exercise the remaining
testdata tables (region/nation) and the canonical many-way-join +
aggregate patterns every warehouse engine must plan well: pricing summary
(wide aggregate), shipping priority (3-way join + top-k), local supplier
volume (6-way join with a cross-dimension equality). Same decimal
discipline as the analysis library — all oracle hash-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import registry
from ..profile import scan_partitions
from ..sources.testdata import load_tables


def _dec(col: str, scale: str = "decimal(18,2)") -> F.Column:
    return F.col(col).cast(scale)


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped wide aggregate over lineitem with exact
    decimal money and sum/count averages. One scan, one shuffle.

    Money sums are emitted as DECIMAL (never cast to double): at
    ≥ ~10⁶-row group magnitudes the exact sum can straddle a double
    midpoint, where Spark's correctly-rounded BigDecimal→double and
    DuckDB's double-rounding int128→double casts split by 1 ULP.
    Averages go through the exact BIGINT unscaled value (sum·10^scale
    is integral, < 2⁶³ at any plausible scale, and int64→double is the
    SAME correctly-rounded conversion in both engines), so every double
    emitted here is the result of identical IEEE operations."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    filtered = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    charge = (disc_price * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))).cast("decimal(18,6)")
    n = F.count(F.lit(1))
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(charge).alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("long")) / n).alias("avg_qty"),
            (
                (F.sum(_dec("l_extendedprice")) * 100).cast("long").cast("double")
                / (n * 100)
            ).alias("avg_price"),
            (
                (F.sum(_dec("l_discount")) * 100).cast("long").cast("double")
                / (n * 100)
            ).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price,
       SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS sum_disc_price,
       SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))
                AS DECIMAL(18,6))) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) / COUNT(*) AS avg_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE)
         / (COUNT(*) * 100) AS avg_price,
       CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE)
         / (COUNT(*) * 100) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer⋈orders⋈lineitem, revenue per unshipped
    order, top 10; top-k is TakeOrdered.

    No broadcast hint on customer: it SCALES with the dataset (unlike the
    bounded retail dims), so pinning it would OOM executors at 100 TB.
    AQE broadcasts it adaptively while its measured size fits."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cutoff = F.lit("1996-03-15").cast("timestamp")
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    return (
        t["lineitem"].filter(F.col("l_shipdate") > cutoff)
        .join(t["orders"].filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["customer"].filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


SHIPPING_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join (region→nation→customer/supplier→
    orders→lineitem) with the customer-nation = supplier-nation equality;
    revenue per nation.

    Broadcast hints pin only the FIXED-cardinality tables (region: 5,
    nation: 25). customer/supplier scale with the dataset, so their join
    strategy is left to AQE — adaptively broadcast while small, shuffled
    when not. The hinted plan must never be the one that breaks at
    100 TB."""
    t = load_tables(
        spark, sf_dir, ("region", "nation", "customer", "supplier", "orders", "lineitem")
    )
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    nations = t["nation"].join(
        F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        t["lineitem"]
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).alias("revenue"))
    )


LOCAL_SUPPLIER_SQL = """
SELECT n_name,
       SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — LEFT SEMI join: orders having ≥1 returned line
    item, counted per priority. Semi-join never duplicates the left side,
    so no post-join distinct is needed; at scale Catalyst can pick a
    broadcast semi when the filtered key set is small, else a shuffled
    semi with only the key column moving."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        t["orders"]
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def parts_never_shipped_recently(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: parts with no shipment on/after 2001-06-01, counted
    per brand. The anti side is projected to its join key before the join
    — at 100 TB only one bigint column of lineitem crosses the wire."""
    t = load_tables(spark, sf_dir, ("part", "lineitem"))
    recent = (
        t["lineitem"]
        .filter(F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
        .select("l_partkey")
    )
    return (
        t["part"]
        .join(recent, F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_partkey").alias("min_partkey"),
        )
    )


PARTS_ANTI_SQL = """
SELECT p_brand, COUNT(*) AS n_parts, MIN(p_partkey) AS min_partkey
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey
                    AND l_shipdate >= TIMESTAMP '2001-06-01 00:00:00')
GROUP BY p_brand
"""


def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — LEFT OUTER join + two-level aggregate: order
    count per customer (zero-order customers kept by the outer join),
    then the distribution of those counts. Both aggregations are
    map-side-combinable; the join shuffles on the customer key."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    per_cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


CUSTOMER_HISTOGRAM_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers FROM per_cust GROUP BY n_orders
"""


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a disjunction of conjunctive
    brand/size/quantity branches. One scan — the common join key is
    factored out of the OR so Catalyst keeps a single lineitem⋈part
    equi-join with the disjunction as a residual filter (never a union of
    three scans); per-branch range predicates still push to the scan as
    a derived quantity bound."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    qty = F.col("l_quantity").cast("long")
    branch = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15)) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25)) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35)) & qty.between(20, 30))
    )
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    return (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .groupBy("p_brand")
        .agg(F.sum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


DISJUNCTIVE_SQL = """
SELECT p_brand,
       SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
         AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
         AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)
GROUP BY p_brand
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery: revenue from line
    items whose quantity is below 20% of their part's average quantity.
    The DataFrame form IS the decorrelated plan Catalyst rewrites the
    subquery into — a per-part aggregate joined back to the fact — which
    keeps the "subquery" a single shuffle instead of a per-row probe.
    The threshold comparison stays in exact DECIMAL arithmetic."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    qty = F.col("l_quantity").cast("decimal(18,6)")
    per_part = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("avg_partkey"))
        .agg(
            (
                (F.sum(qty) / F.count(F.lit(1))).cast("decimal(18,6)")
                * F.lit(0.2).cast("decimal(18,6)")
            ).cast("decimal(18,6)").alias("qty_threshold")
        )
    )
    small = (
        t["lineitem"]
        .join(t["part"].filter(F.col("p_size") < 10), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("avg_partkey"))
        .filter(qty < F.col("qty_threshold"))
    )
    return small.groupBy("p_brand").agg(
        (
            (F.sum(_dec("l_extendedprice")) * 100).cast("long").cast("double") / 700.0
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SMALL_QTY_SQL = """
SELECT p_brand,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE)
         / 700.0 AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size < 10
  AND CAST(l_quantity AS DECIMAL(18,6)) <
      (SELECT CAST(CAST(CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) / COUNT(*) AS DECIMAL(18,6))
                   * CAST(0.2 AS DECIMAL(18,6)) AS DECIMAL(18,6)) AS DECIMAL(18,6))
       FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
GROUP BY p_brand
"""


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — cross-nation trade volume: revenue between two
    nations in either direction (the symmetric OR pair predicate), per
    (supplier nation, customer nation, year). The nation filter reduces
    to two keys, applied to supplier and customer BEFORE their joins so
    the fact-side rows shrink early; nation is fixed-cardinality →
    broadcast-safe."""
    t = load_tables(
        spark, sf_dir, ("nation", "customer", "supplier", "orders", "lineitem")
    )
    n1, n2 = "NATION_1", "NATION_2"
    nations = t["nation"].filter(F.col("n_name").isin(n1, n2)).select(
        "n_nationkey", "n_name"
    )
    supp = t["supplier"].join(
        F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = t["customer"].join(
        F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    return (
        t["lineitem"]
        .join(t["orders"].select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").cast("long").alias("l_year"))
        .agg(F.sum(revenue).alias("revenue"))
    )


VOLUME_SHIPPING_SQL = """
SELECT supp_nation, cust_nation, l_year,
       SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS revenue
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
     OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: per order-year, the share
    of ASIA-region PROMO-part revenue supplied from NATION_1. The deepest
    join in the library (lineitem⋈part⋈orders⋈customer⋈nation⋈region +
    supplier⋈nation) — the case that exercises join-reorder depth; the
    share is a conditional aggregate ratio, one pass, no self-join.

    Fixed-cardinality sides (nation, region, the two bounded lookup
    products) broadcast; scaling sides (customer, supplier, orders) are
    left to AQE. Exactness: both sums stay DECIMAL(18,4) accumulations
    end-to-end (a decimal→double cast of a scaled sum diverges 1 ULP
    between engines at ≥ ~10⁶-row magnitudes); the share ratio divides
    the exact BIGINT unscaled values, whose int64→double conversions
    are identical correctly-rounded operations in both engines."""
    t = load_tables(
        spark, sf_dir,
        ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    )
    asia_nations = t["nation"].join(
        F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cust_nationkey"))
    supp = t["supplier"].join(
        F.broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    per_year = (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ).select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"].select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cust_nationkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", revenue).otherwise(zero))
            .alias("nation_revenue"),
            F.sum(revenue).alias("total_revenue"),
        )
    )
    return per_year.select(
        "o_year",
        "nation_revenue",
        "total_revenue",
        (
            (F.col("nation_revenue") * 10000).cast("long").cast("double")
            / (F.col("total_revenue") * 10000).cast("long").cast("double")
        ).alias("mkt_share"),
    )


MARKET_SHARE_SQL = """
WITH per_year AS (
  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
         SUM(CASE WHEN ns.n_name = 'NATION_1'
                  THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                            AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS nation_revenue,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                  AS DECIMAL(18,4))) AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region ON nc.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE p_type = 'PROMO' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY o_year
)
SELECT o_year, nation_revenue, total_revenue,
       CAST(CAST(nation_revenue * 10000 AS BIGINT) AS DOUBLE)
         / CAST(CAST(total_revenue * 10000 AS BIGINT) AS DOUBLE) AS mkt_share
FROM per_year
"""


def potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — nested semi-join chain: suppliers who shipped a
    MAJORITY of some PROMO part's 1996 volume, with their nation. Three
    nesting levels (part filter → per-(supplier, part) volume vs per-part
    total → supplier list), each a semi join, so no level duplicates rows
    and only join keys cross the wire. The majority test is ``2·qty >
    total_qty`` — integer-exact, no float threshold. (TPC-H Q20 filters
    to one nation; this corpus has ~1 supplier per nation at small sf, so
    the nation is reported instead of filtered to keep the result set
    non-degenerate at every scale.)"""
    t = load_tables(spark, sf_dir, ("nation", "supplier", "part", "lineitem"))
    shipped = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    part_total = shipped.groupBy(F.col("l_partkey").alias("tot_partkey")).agg(
        F.sum("qty").alias("total_qty")
    )
    qualifying = (
        shipped.join(part_total, F.col("l_partkey") == F.col("tot_partkey"))
        .filter(F.col("qty") * 2 > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


POTENTIAL_PROMOTION_SQL = """
WITH shipped AS (
  SELECT l_suppkey, l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
  GROUP BY l_suppkey, l_partkey
),
part_total AS (
  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total_qty FROM shipped GROUP BY l_partkey
),
qualifying AS (
  SELECT DISTINCT l_suppkey
  FROM shipped JOIN part_total USING (l_partkey)
  WHERE qty * 2 > total_qty
)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM qualifying)
"""


def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the SOLE late supplier on a
    multi-supplier order ("late" = shipped >365 days after the order
    date, scaled to this corpus's synthetic date spread). The classic
    correlated EXISTS + NOT-EXISTS double self-join, decorrelated the
    way a distributed engine wants it: the late-lines set is computed
    once, then a LEFT SEMI join keeps lines whose order has another
    supplier and a LEFT ANTI join drops lines whose order has another
    LATE supplier — three hash joins co-partitioned on the order key,
    no correlated subquery re-execution per row."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    # The semi/anti sort-merge legs all key on the order key; at a fixed
    # 32 partitions their per-task sort runs grow ∝ corpus and spilled
    # 2.3 GB to disk at the 100× probe. One knee-sized explicit exchange
    # per input bounds every sort at a few MB per task at any SF (the
    # star_basket_onepass discipline); the identical lineitem subtree is
    # shuffled ONCE (ReuseExchange) and feeds both the late derivation
    # and the "other supplier" semi leg. At driver SFs the knee floors
    # to the session count, so these are the exchanges EnsureRequirements
    # would have inserted anyway.
    n_parts = scan_partitions(t["lineitem"])
    li = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .repartition(n_parts, "l_orderkey")
    )
    od = (
        t["orders"]
        .select("o_orderkey", "o_orderdate")
        .repartition(n_parts, "o_orderkey")
    )
    late = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    other_late = late.select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    sole_late = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "leftsemi",
        ).join(
            other_late,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "leftanti",
        )
    )
    return (
        sole_late.groupBy(F.col("l_suppkey").alias("supp"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "supp")
        .limit(100)
    )


def waiting_suppliers_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """waiting_suppliers (TPC-H Q21 shape) re-expressed as per-order
    aggregation — the join-free scale shape (NEXT.md r6 #7, the second
    50× sort-spiller): EXISTS(other supplier) ⟺ the order's distinct
    supplier count ≥ 2, and NOT EXISTS(other LATE supplier) ⟺ the
    order's distinct LATE supplier count = 1 (the line's own supplier
    is late by construction). The two lineitem self-joins become two
    map-side-combinable groupBys on the order key plus joins against
    per-order one-row aggregates, so nothing lineitem-sized is ever
    sort-merged. Line-level multiplicity (numwait counts LINES) is
    preserved because the qualifying late rows pass through unreduced.
    Same oracle as classic_waiting_suppliers; that entry keeps the
    classic decorrelated semi/anti form. Measured at the 50× probe
    (solo host): ~25% faster wall (9.3–10.2 s vs 11.6–13.3 s); the
    1.9 GB sort spill the round-6 whole-registry sweep recorded for
    the join form did not reproduce solo (co-resident memory
    pressure), but the agg form's intermediates are per-order rows,
    structurally smaller under any pressure."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    late = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    multi_supp = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("n_supp"))
        .filter(F.col("n_supp") >= 2)
        .select("l_orderkey")
    )
    solo_late = (
        late.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("n_late"))
        .filter(F.col("n_late") == 1)
        .select("l_orderkey")
    )
    sole = late.join(multi_supp, "l_orderkey", "leftsemi").join(
        solo_late, "l_orderkey", "leftsemi"
    )
    return (
        sole.groupBy(F.col("l_suppkey").alias("supp"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "supp")
        .limit(100)
    )


WAITING_SUPPLIERS_SQL = """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 365 DAY
)
SELECT l1.l_suppkey AS supp, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late l1
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY l1.l_suppkey
ORDER BY numwait DESC, supp
LIMIT 100
"""


def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: suppliers whose revenue exceeds a fixed fraction
    of GLOBAL revenue — the aggregate-filtered-by-global-scalar pattern.
    The scalar is a one-row aggregate cross-joined (broadcast, free) into
    the per-supplier aggregate: both aggregates shuffle once and share
    the scan via Spark's plan; no correlated re-execution. The threshold
    test is EXACT decimal arithmetic (supp_rev·200 > total_rev, since
    0.005 = 1/200): a double-cast of the global sum could flip boundary
    memberships 1 ULP apart between engines at scaled magnitudes. The
    per-supplier revenue emission stays a double cast — its magnitude is
    bounded per group, where decimal→double is exact in both engines."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(revenue).alias("supp_rev"))
    total = li.agg(F.sum(revenue).alias("total_rev"))
    return (
        per_supp.crossJoin(F.broadcast(total))
        .filter(F.col("supp_rev") * 200 > F.col("total_rev"))
        .select(
            F.col("l_suppkey").alias("supp"),
            F.col("supp_rev").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "supp")
    )


_REV = """CAST(CAST(l_extendedprice AS DECIMAL(18,2))
          * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
          AS DECIMAL(18,4))"""

REVENUE_CONCENTRATION_SQL = f"""
WITH per_supp AS (
  SELECT l_suppkey AS supp, SUM({_REV}) AS supp_rev
  FROM lineitem GROUP BY l_suppkey
),
total AS (SELECT SUM({_REV}) AS total_rev FROM lineitem)
SELECT supp, CAST(supp_rev AS DOUBLE) AS revenue
FROM per_supp, total
WHERE supp_rev * 200 > total_rev
ORDER BY revenue DESC, supp
"""


def top_balance_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive account
    balance and no RECENT orders (the trailing 30 days of the order
    timeline), summarized per nation. Three decorrelations in one query:
    the scalar-avg subquery and the timeline-max cutoff each become a
    broadcast one-row aggregate (avg as exact decimal-sum/count, the
    repo's standard), and NOT EXISTS(recent orders) becomes a LEFT ANTI
    hash join on the customer key. (Plain NOT EXISTS(any order) is
    vacuously empty on this corpus — every rich customer has orders —
    which would hide regressions exactly like q17's empty-year trap.)"""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    cust = t["customer"].select(
        "c_custkey", "c_nationkey", _dec("c_acctbal").alias("bal")
    )
    # Threshold average via the exact BIGINT unscaled sum: the global
    # decimal sum's double cast is the 1-ULP-divergent operation at
    # scaled magnitudes; int64→double is identical in both engines.
    threshold = (
        cust.filter(F.col("bal") > 0)
        .agg(
            (
                (F.sum("bal") * 100).cast("long").cast("double")
                / (F.count(F.lit(1)) * 100)
            ).alias("avg_bal")
        )
    )
    rich = cust.crossJoin(F.broadcast(threshold)).filter(
        F.col("bal").cast("double") > F.col("avg_bal")
    )
    cutoff = t["orders"].agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 30 DAYS")).alias("cut")
    )
    recent = (
        t["orders"]
        .crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") > F.col("cut"))
        .select("o_custkey")
    )
    inactive = rich.join(
        recent,
        rich.c_custkey == F.col("o_custkey"),
        "leftanti",
    )
    return (
        inactive.groupBy(F.col("c_nationkey").cast("long").alias("nation_key"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal").alias("totacctbal"),
        )
        .orderBy("nation_key")
    )


TOP_BALANCE_SQL = """
WITH cust AS (
  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer
),
threshold AS (
  SELECT CAST(CAST(SUM(bal) * 100 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100) AS avg_bal
  FROM cust WHERE bal > 0
),
cutoff AS (SELECT MAX(o_orderdate) - INTERVAL 30 DAY AS cut FROM orders),
recent AS (SELECT o_custkey FROM orders, cutoff WHERE o_orderdate > cut)
SELECT CAST(c_nationkey AS BIGINT) AS nation_key,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       SUM(bal) AS totacctbal
FROM cust, threshold
WHERE CAST(bal AS DOUBLE) > avg_bal
  AND NOT EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY nation_key
"""


registry.register("classic_market_share", market_share, MARKET_SHARE_SQL)
registry.register("classic_waiting_suppliers", waiting_suppliers, WAITING_SUPPLIERS_SQL)
registry.register(
    "classic_waiting_suppliers_agg", waiting_suppliers_agg, WAITING_SUPPLIERS_SQL
)
def customer_order_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global percent_rank/cume_dist of each customer's total order value
    — the ranking shape that tempts ``Window.orderBy`` with no partition
    key (the single-partition 100 TB cliff). Runs on the distributed
    kernel instead (operators/ranking.scalable_percent_rank): range
    partition + local sort + offsets, then tie-correct min/max rank per
    distinct value. The oracle is the true SQL window form, so the
    kernel must match ``percent_rank() OVER (ORDER BY total)``
    bit-for-bit, ties included."""
    from ..operators.ranking import scalable_percent_rank

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    totals = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("total_value")
    )
    return scalable_percent_rank(totals, ["total_value"]).select(
        F.col("o_custkey").alias("custkey"),
        "total_value",
        "percent_rank",
        "cume_dist",
    )


CUSTOMER_PERCENTILE_SQL = """
WITH totals AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM orders GROUP BY o_custkey
)
SELECT custkey, total_value,
       percent_rank() OVER (ORDER BY total_value) AS percent_rank,
       cume_dist() OVER (ORDER BY total_value) AS cume_dist
FROM totals
"""


registry.register("classic_revenue_concentration", revenue_concentration, REVENUE_CONCENTRATION_SQL)
registry.register("classic_customer_order_percentile", customer_order_percentile, CUSTOMER_PERCENTILE_SQL)
registry.register("classic_top_balance_inactive", top_balance_inactive, TOP_BALANCE_SQL)
registry.register("classic_potential_promotion", potential_promotion, POTENTIAL_PROMOTION_SQL)
def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source reconciliation — the warehouse data-quality audit no
    other entry's join kernel covers: a FULL OUTER join of the order
    header totals against the lineitem-derived totals, classifying every
    order as matched / amount_mismatch / missing on either side. At
    scale this is one co-partitionable equi-join (both sides keyed on
    orderkey — the bucketed layout in bucketing.py makes it
    exchange-free); the classification is pure projection. Money stays
    DECIMAL(18,2) end to end, so 'matched' means exact equality, not a
    float tolerance."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    line = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("line_total"))
    )
    o = t["orders"].select("o_orderkey", _dec("o_totalprice").alias("header_total"))
    j = o.join(line, o["o_orderkey"] == line["l_orderkey"], "full_outer")
    status = (
        F.when(F.col("o_orderkey").isNull(), "missing_order")
        .when(F.col("l_orderkey").isNull(), "missing_lineitems")
        .when(F.col("header_total") == F.col("line_total"), "matched")
        .otherwise("amount_mismatch")
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce("header_total", F.lit(0).cast("decimal(18,2)")).alias("h"),
            F.coalesce("line_total", F.lit(0).cast("decimal(18,2)")).alias("l"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("h").alias("header_total"),
            F.sum("l").alias("line_total"),
        )
    )


RECONCILIATION_SQL = """
WITH line AS (
  SELECT l_orderkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS line_total
  FROM lineitem GROUP BY l_orderkey
),
o AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS header_total FROM orders),
j AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'missing_order'
              WHEN line.l_orderkey IS NULL THEN 'missing_lineitems'
              WHEN o.header_total = line.line_total THEN 'matched'
              ELSE 'amount_mismatch' END AS status,
         COALESCE(o.header_total, CAST(0 AS DECIMAL(18,2))) AS h,
         COALESCE(line.line_total, CAST(0 AS DECIMAL(18,2))) AS l
  FROM o FULL OUTER JOIN line ON o.o_orderkey = line.l_orderkey
)
SELECT status,
       COUNT(*) AS n_orders,
       SUM(h) AS header_total,
       SUM(l) AS line_total
FROM j
GROUP BY status
"""



registry.register("classic_pricing_summary", pricing_summary, PRICING_SQL)
registry.register("classic_small_quantity_revenue", small_quantity_revenue, SMALL_QTY_SQL)
registry.register("classic_volume_shipping", volume_shipping, VOLUME_SHIPPING_SQL)
registry.register("classic_shipping_priority", shipping_priority, SHIPPING_SQL)
registry.register("classic_local_supplier_volume", local_supplier_volume, LOCAL_SUPPLIER_SQL)
registry.register("classic_order_priority_semi", order_priority_semi, ORDER_PRIORITY_SQL)
registry.register("classic_parts_never_shipped", parts_never_shipped_recently, PARTS_ANTI_SQL)
registry.register("classic_customer_order_histogram", customer_order_histogram, CUSTOMER_HISTOGRAM_SQL)
registry.register("classic_disjunctive_revenue", disjunctive_revenue, DISJUNCTIVE_SQL)


# ---------------------------------------------------------------------------
# Round-2 completion of the classic suite: the remaining TPC-H shapes
# expressible over the lean testdata schema (no partsupp / shipmode /
# commitdate columns exist, so Q2/Q9/Q12/Q16 are adapted: supply cost is
# proxied by observed lineitem prices and p_retailprice, and the Q12
# shipmode split has no column to stand on). Same decimal discipline —
# every intermediate that feeds a comparison or a sum is an explicit
# DECIMAL cast, so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------


def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — single-scan predicate aggregate: revenue uplift
    from discounted small-quantity lines in one year. The entire query is
    a scan with three pushed predicates and a map-side-combinable sum —
    the canonical pushdown showcase (the plan must show PushedFilters on
    the shipdate range and no shuffle beyond the final 1-row agg)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    uplift = (_dec("l_extendedprice") * _dec("l_discount")).cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & _dec("l_discount").between(
                F.lit(0.05).cast("decimal(18,2)"), F.lit(0.07).cast("decimal(18,2)")
            )
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(uplift).alias("forecast_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


FORECAST_REVENUE_SQL = """
SELECT SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)))
         AS forecast_revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(18,2))
      BETWEEN CAST(0.05 AS DECIMAL(18,2)) AND CAST(0.07 AS DECIMAL(18,2))
  AND l_quantity < 24
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional-ratio aggregate: per ship month of
    1996, the percentage of revenue from PROMO-type parts. Both sums stay
    exact DECIMAL end-to-end (total_revenue is emitted as DECIMAL); the
    share ratio divides the exact BIGINT unscaled sums, whose
    int64→double conversions and division are identical IEEE operations
    in both engines at any scale (a decimal→double cast would diverge
    1 ULP at ≥ ~10⁶-row magnitudes). part is not broadcast-hinted: it
    scales with the corpus (AQE may still pick broadcast while its
    measured size fits)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    disc_price = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.month("l_shipdate").cast("long").alias("ship_month"))
        .agg(
            (
                F.lit(100.0)
                * (
                    F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(zero))
                    * 10000
                ).cast("long").cast("double")
                / (F.sum(disc_price) * 10000).cast("long").cast("double")
            ).alias("promo_share"),
            F.sum(disc_price).alias("total_revenue"),
        )
    )


PROMO_SHARE_SQL = """
SELECT CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_month,
       100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                       * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                                       AS DECIMAL(18,4))
                             ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                             AS DECIMAL(18,4))) * 10000 AS BIGINT) AS DOUBLE) AS promo_share,
       SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY ship_month
"""


def returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item reporting: top 20 customers by
    revenue lost to returns in one quarter, with nation attributes.
    Join + group + TakeOrderedAndProject; the custkey tie-break makes the
    LIMIT boundary deterministic under the driver's order-insensitive
    compare."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    disc_price = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey", "c_name", F.col("n_name").alias("nation"),
            _dec("c_acctbal").cast("double").alias("acctbal"),
        )
        .agg(F.sum(disc_price).alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


RETURNED_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, n_name AS nation,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
       SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS lost_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, n_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — argmax against a global scalar: the supplier(s)
    whose quarterly revenue equals MAX(quarterly revenue). The max is a
    1-row aggregate broadcast into an equality filter — Catalyst's
    decorrelation of the classic `= (SELECT MAX(...))` view form. The
    equality happens on the exact DECIMAL sum (never on a double), so
    ties survive identically in both engines."""
    t = load_tables(spark, sf_dir, ("supplier", "lineitem"))
    disc_price = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    srev = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(disc_price).alias("total_rev_dec"))
    )
    best = srev.agg(F.max("total_rev_dec").alias("best_rev"))
    return (
        srev.join(F.broadcast(best), F.col("total_rev_dec") == F.col("best_rev"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").alias("total_revenue"),
        )
    )


TOP_SUPPLIER_SQL = """
WITH srev AS (
  SELECT l_suppkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                  AS DECIMAL(18,4))) AS total_rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev_dec AS total_revenue
FROM srev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM srev)
"""


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — HAVING-IN semi-join over an aggregate: customers
    whose single order gathers > 250 units across its lines. The inner
    groupBy-HAVING runs once and semi-joins back into orders (Catalyst's
    rewrite of `o_orderkey IN (SELECT ... HAVING ...)`); the outer
    re-aggregation keys on the order, so both shuffles hash the same key
    and AQE coalesces them."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    qty = F.col("l_quantity").cast("long")
    big = (
        t["lineitem"].groupBy("l_orderkey").agg(F.sum(qty).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            _dec("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .agg(F.sum(qty).alias("total_qty"))
    )


LARGE_VOLUME_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
"""


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated MIN with join-back: for each mid-size
    part, the supplier(s) whose observed line price equals the part's
    minimum observed line price (partsupp/supplycost don't exist in this
    schema; observed l_extendedprice is the deal metric). MIN-equality
    selection keeps ties — the decorrelated per-part aggregate joins back
    on (partkey, exact DECIMAL price), never on a double."""
    t = load_tables(spark, sf_dir, ("part", "supplier", "nation", "lineitem"))
    price = _dec("l_extendedprice")
    offers = (
        t["lineitem"].select("l_partkey", "l_suppkey", price.alias("deal_price")).distinct()
    )
    best = offers.groupBy(F.col("l_partkey").alias("best_partkey")).agg(
        F.min("deal_price").alias("best_price")
    )
    return (
        offers.join(
            best,
            (F.col("l_partkey") == F.col("best_partkey"))
            & (F.col("deal_price") == F.col("best_price")),
        )
        .join(
            t["part"].filter(F.col("p_size").between(10, 20)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            F.col("s_suppkey").alias("supp_key"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation"),
            _dec("s_acctbal").cast("double").alias("supp_acctbal"),
            F.col("best_price").cast("double").alias("best_price"),
        )
    )


MIN_COST_SQL = """
WITH offers AS (
  SELECT DISTINCT l_partkey, l_suppkey,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS deal_price
  FROM lineitem
), best AS (
  SELECT l_partkey AS best_partkey, MIN(deal_price) AS best_price
  FROM offers GROUP BY l_partkey
)
SELECT p_partkey, p_name, p_brand,
       s_suppkey AS supp_key, s_name AS supp_name, n_name AS nation,
       CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS supp_acctbal,
       CAST(best_price AS DOUBLE) AS best_price
FROM offers
JOIN best ON l_partkey = best_partkey AND deal_price = best_price
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_size BETWEEN 10 AND 20
"""


def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct-count with an exclusion anti-join: per
    (brand, type, size), how many distinct suppliers shipped the part,
    excluding deadbeat suppliers (negative balance — the schema's stand-in
    for Q16's complaint filter). NOT-IN is expressed as a left-anti join
    (null-safe, scale-safe); COUNT(DISTINCT) expands to the two-level
    Expand aggregate Catalyst plans for it."""
    t = load_tables(spark, sf_dir, ("part", "supplier", "lineitem"))
    deadbeats = t["supplier"].filter(_dec("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_suppkey")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(deadbeats), F.col("l_suppkey") == F.col("bad_suppkey"), "left_anti")
        .join(
            t["part"].filter(F.col("p_brand") != "Brand#13"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


PART_VARIETY_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13'
  AND NOT EXISTS (
    SELECT 1 FROM supplier
    WHERE s_suppkey = l_suppkey AND CAST(s_acctbal AS DECIMAL(18,2)) < 0
  )
GROUP BY p_brand, p_type, p_size
"""


def nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-profit rollup: per (supplier nation,
    order year), profit on widget parts, where cost is proxied as 60% of
    p_retailprice per unit (no ps_supplycost column exists). Every
    arithmetic step is an explicit DECIMAL cast with exact scales (2dp ×
    0.6 → 3dp fits (18,4); ×integer qty fits (18,6)), so no rounding
    occurs anywhere; the profit sum is emitted as DECIMAL — a (18,6)
    sum's double cast diverges 1 ULP between engines once the unscaled
    magnitude passes 2⁵³ (~9·10⁹ absolute), the exact failure the 100×
    replica reproduced on classic_pricing_summary's sum_charge."""
    t = load_tables(spark, sf_dir, ("part", "supplier", "lineitem", "orders", "nation"))
    disc_price = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    unit_cost = (_dec("p_retailprice") * F.lit(0.6).cast("decimal(18,2)")).cast(
        "decimal(18,4)"
    )
    line_cost = (unit_cost * F.col("l_quantity").cast("decimal(18,2)")).cast(
        "decimal(18,6)"
    )
    profit = disc_price.cast("decimal(18,6)") - line_cost
    return (
        t["lineitem"]
        .join(
            t["part"].filter(F.col("p_name").contains("widget")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).alias("profit"))
    )


NATION_PROFIT_SQL = """
SELECT n_name AS nation,
       CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       SUM(
         CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                   AS DECIMAL(18,4)) AS DECIMAL(18,6))
         - CAST(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.6 AS DECIMAL(18,2))
                     AS DECIMAL(18,4))
                * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,6))
       ) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT)
"""


registry.register("classic_forecast_revenue", forecast_revenue, FORECAST_REVENUE_SQL)
registry.register("classic_promo_revenue_share", promo_revenue_share, PROMO_SHARE_SQL)
registry.register("classic_returned_customers", returned_customers, RETURNED_CUSTOMERS_SQL)
registry.register("classic_top_revenue_supplier", top_revenue_supplier, TOP_SUPPLIER_SQL)
registry.register("classic_large_volume_customers", large_volume_customers, LARGE_VOLUME_SQL)
registry.register("classic_min_cost_supplier", min_cost_supplier, MIN_COST_SQL)
registry.register("classic_supplier_part_variety", supplier_part_variety, PART_VARIETY_SQL)
registry.register("classic_nation_profit", nation_profit, NATION_PROFIT_SQL)
registry.register("classic_order_reconciliation", order_reconciliation, RECONCILIATION_SQL)


def rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring — the classic warehouse segmentation pass:
    per customer, recency (days since last order, computed in tz-free
    epoch days), frequency (order count), and monetary (exact DECIMAL
    spend), each quintiled with exact ntile(5) semantics so that score
    5 = most recent / most frequent / highest spend, plus the
    concatenated RFM segment.

    Scale shape: one map-side-combinable aggregate over orders, then
    three :func:`operators.ranking.scalable_ntile` passes over the
    CUSTOMER-level table (range-partitioned global rank — never a
    single-partition window; see q12). Ordering carries full tie-breaks
    (metric, custkey), and monetary is ranked as DECIMAL in both
    engines, so every bucket is deterministic and the DuckDB NTILE
    replay is bit-exact."""
    from ..operators.ranking import scalable_ntile

    t = load_tables(spark, sf_dir, ("orders",))
    # NTZ-safe epoch-day arithmetic (the functions/eventtime discipline):
    # timestampdiff between NTZ values is pure field arithmetic, immune
    # to the session timezone, and equals DuckDB's epoch_us bit-exactly.
    day_expr = (
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', o_orderdate)"
        " div 86400000000"
    )
    base = (
        t["orders"]
        .select(
            "o_custkey",
            F.expr(day_expr).alias("day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("day").alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("price").alias("monetary_dec"),
        )
    )
    gmax = base.agg(F.max("last_day").alias("gmax"))
    base = base.crossJoin(F.broadcast(gmax)).select(
        "custkey",
        (F.col("gmax") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "monetary_dec",
    )
    r = scalable_ntile(
        base, [F.desc("recency_days"), F.asc("custkey")], 5, "r_score"
    )
    f = scalable_ntile(r, [F.asc("frequency"), F.asc("custkey")], 5, "f_score")
    m = scalable_ntile(f, [F.asc("monetary_dec"), F.asc("custkey")], 5, "m_score")
    return m.select(
        "custkey",
        "recency_days",
        "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "", F.col("r_score").cast("string"), F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


RFM_SQL = """
WITH base AS (
  SELECT o_custkey AS custkey,
         MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
  FROM orders GROUP BY o_custkey
),
g AS (SELECT MAX(last_day) AS gmax FROM base),
r AS (
  SELECT custkey,
         CAST(g.gmax - last_day AS BIGINT) AS recency_days,
         CAST(frequency AS BIGINT) AS frequency,
         monetary_dec
  FROM base CROSS JOIN g
),
s AS (
  SELECT custkey, recency_days, frequency, monetary_dec,
         CAST(NTILE(5) OVER (ORDER BY recency_days DESC, custkey) AS BIGINT) AS r_score,
         CAST(NTILE(5) OVER (ORDER BY frequency, custkey) AS BIGINT) AS f_score,
         CAST(NTILE(5) OVER (ORDER BY monetary_dec, custkey) AS BIGINT) AS m_score
  FROM r
)
SELECT custkey, recency_days, frequency,
       CAST(monetary_dec AS DOUBLE) AS monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR)
         AS segment
FROM s
"""

registry.register("orders_rfm_scores", rfm_scores, RFM_SQL)
