"""Star-schema construction over the driver testdata (FIXTURES.md §B mapping).

The reference warehouse is a retail star schema (starSchema.sql:5-46):
``customer_dim``, ``product_dim``, ``time_dim``, ``salefact``. The driver's
correctness harness runs on TPC-H-ish parquet tables, so this module maps
them onto the star deterministically:

- ``customer`` → customer_dim; demographic attributes the TPC-H shape lacks
  (gender / age-bucket lower bound / occupation / marital status, see
  hybrid_join.py:402 and starSchema.sql:5-13) are derived with injective
  modular rules so every reference query shape still exercises real
  grouping cardinalities.
- ``part ⋈ supplier`` → product_dim with store/supplier denormalized into
  the product row (starSchema.sql:15-23; report PDF p.3).
- ``lineitem ⋈ orders`` → the transactional stream; the ETL enrichment
  joins (J1 customer inner, J2 product) and the derived measure
  ``purchase_amount = round(quantity * price, 2)`` (hybrid_join.py:451-453)
  produce salefact.
- distinct order dates → time_dim with derived calendar attributes
  (hybrid_join.py:429-444) and the deterministic ``yyyymmdd`` date_id.

Every Spark expression here has a DuckDB twin in ``STAR_CTE_SQL`` below —
the oracle runs the *entire* pipeline (ETL + query), so a hash match
certifies the whole dataflow, not just the final aggregation.

Scale notes (100 TB design): dims are bounded (customers/products/suppliers)
→ explicitly broadcast; the fact build is one shuffle-join of lineitem ⋈
orders on the order key, which at scale should be co-partitioned/bucketed
on that key (both tables share it) — no other shuffle exists in the ETL.
Money is summed as DECIMAL(18,2): exact, overflow-safe to 10^16, and
order-independent under Spark's partial (map-side) aggregation — a float
sum would be nondeterministic across partition orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..functions.timedim import DUCKDB_TIME_ATTRS_SQL, time_attributes
from ..profile import persist_sized
from ..sources.testdata import load_tables

# Age-bucket lower bounds from the reference customer master
# (FIXTURES.md A1; loader parse at hybrid_join.py:402).
AGE_LOWER_BOUNDS = (0, 18, 26, 36, 46, 51, 55)

# "Current year" for year-filtered queries. The reference assumes 2020, the
# latest year in its records (Analysis_Queries.sql:33-34); our order dates
# span 1995-2001 and 2000 is the latest *complete* year.
CURRENT_YEAR = 2000
# Anchor for the "past 6 months" filter (Analysis_Queries.sql:58).
CURRENT_DATE = "2000-12-31"


def customer_dim(customer: DataFrame) -> DataFrame:
    """customer → customer_dim (starSchema.sql:5-13)."""
    key = F.col("c_custkey")
    age = F.lit(None).cast("long")
    for i, bound in enumerate(AGE_LOWER_BOUNDS[:-1]):
        age = F.when(key % 7 == i, bound) if i == 0 else age.when(key % 7 == i, bound)
    age = age.otherwise(AGE_LOWER_BOUNDS[-1]).cast("long")
    return customer.select(
        key.alias("customer_id"),
        F.when(key % 2 == 0, "F").otherwise("M").alias("gender"),
        age.alias("age"),
        (F.col("c_nationkey").cast("long") % 21).alias("occupation"),
        F.col("c_mktsegment").alias("city_category"),
        (key % 5).alias("stay_in_current_city_years"),
        (F.col("c_nationkey").cast("long") % 2).alias("marital_status"),
    )


def product_dim(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """part ⋈ supplier → product_dim with denormalized store/supplier
    (starSchema.sql:15-23). Supplier assignment is the deterministic rule
    ``p_partkey % 10`` (suppkeys 0..9 exist at every sf); the join is
    broadcast — supplier is a bounded dim."""
    key = F.col("p_partkey")
    store_id = (1 + key % 7).alias("store_id")
    enriched = part.withColumn("supplier_id", key % 10).join(
        F.broadcast(supplier.select(F.col("s_suppkey"), F.col("s_name"))),
        F.col("supplier_id") == F.col("s_suppkey"),
        "inner",
    )
    return enriched.select(
        key.alias("product_id"),
        F.col("p_brand").alias("product_category"),
        F.col("p_retailprice").alias("price"),
        store_id,
        F.concat(F.lit("Store#"), (1 + key % 7).cast("string")).alias("store_name"),
        F.col("supplier_id"),
        F.col("s_name").alias("supplier_name"),
    )


def transactions(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """lineitem ⋈ orders → the reference's transactional stream shape
    (FIXTURES.md A3: orderID, Customer_ID, Product_ID, date, quantity).

    This is the only big-big join in the ETL; it shuffles on the shared
    order key (at scale: bucket both tables on it and the shuffle
    disappears)."""
    return lineitem.join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        lineitem["l_orderkey"] == orders["o_orderkey"],
        "inner",
    ).select(
        F.col("l_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_linenumber").cast("long").alias("line_number"),
        F.col("o_orderdate").cast("date").alias("sale_date"),
        F.col("l_quantity").cast("long").alias("quantity"),
    )


def salefact(txns: DataFrame, products: DataFrame) -> DataFrame:
    """ETL enrichment: product leg (J2, hybrid_join.py:279-303) supplies the
    master price; ``purchase_amount = round(quantity*price, 2)`` as
    DECIMAL(18,2) (hybrid_join.py:451-453; decimal per starSchema.sql:42).
    The product dim is broadcast — the stream side never shuffles."""
    priced = txns.join(
        F.broadcast(products.select("product_id", "price")), "product_id", "inner"
    )
    attrs = time_attributes(F.col("sale_date"))
    return priced.select(
        "order_id",
        "customer_id",
        "product_id",
        "line_number",
        attrs["date_id"].alias("date_id"),
        "quantity",
        (F.col("quantity") * F.col("price")).cast("decimal(18,2)").alias("purchase_amount"),
    )


def time_dim(orders: DataFrame) -> DataFrame:
    """Distinct order dates → time_dim (starSchema.sql:25-33). Replaces the
    reference's per-row lookup-or-insert with surrogate id
    (hybrid_join.py:421-449) by a set-oriented distinct + deterministic key."""
    dates = orders.select(F.col("o_orderdate").cast("date").alias("full_date")).distinct()
    attrs = time_attributes(F.col("full_date"))
    return dates.select(*[attrs[name].alias(name) for name in
                          ("date_id", "full_date", "day_of_week", "month", "quarter", "season", "year")])


def build_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load testdata and build the four star tables as DataFrames."""
    t = load_tables(spark, sf_dir, ("customer", "supplier", "part", "orders", "lineitem"))
    cust = customer_dim(t["customer"])
    prod = product_dim(t["part"], t["supplier"])
    txns = transactions(t["lineitem"], t["orders"])
    # J1 customer leg is INNER (unmatched stream tuples are evicted,
    # hybrid_join.py:229-231); o_custkey is a foreign key into customer so
    # this is a semi-join-safe filter here. Implemented as a real join to
    # keep the eviction semantics observable.
    enriched = txns.join(F.broadcast(cust.select("customer_id")), "customer_id", "inner")
    fact = salefact(enriched, prod)
    return {
        "customer_dim": cust,
        "product_dim": prod,
        "time_dim": time_dim(t["orders"]),
        "salefact": fact,
    }


# Warehouse semantics: the ETL loads the star once; queries then serve from
# the loaded tables (reference: load path hybrid_join.py:356-477 runs once,
# Analysis_Queries.sql reads the stored schema many times). Re-deriving the
# ETL per query would bill every query for the whole load. ``star_tables``
# materializes the star once per (session, sf_dir) via persist() — the
# local-mode analog of the warehouse's stored Parquet tables; at cluster
# scale this is a one-time ``saveAsTable`` into bucketed Parquet instead.


def star_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Cached, persisted star tables for query serving, each still sized
    by the files it scans (``profile.persist_sized``), so the scan-size
    knees and q16's routing see through the persist."""

    def build() -> dict[str, DataFrame]:
        return {name: persist_sized(df) for name, df in build_star(spark, sf_dir).items()}

    return memo.cached(spark, "star", (sf_dir,), build)


# ---------------------------------------------------------------------------
# DuckDB twins — assembled into every oracle query as a WITH prefix.
# ---------------------------------------------------------------------------

_TIME_ATTRS = DUCKDB_TIME_ATTRS_SQL.format(d="full_date")

STAR_CTE_SQL = f"""
customer_dim AS (
  SELECT c_custkey AS customer_id,
         CASE WHEN c_custkey % 2 = 0 THEN 'F' ELSE 'M' END AS gender,
         CASE c_custkey % 7
           WHEN 0 THEN 0 WHEN 1 THEN 18 WHEN 2 THEN 26 WHEN 3 THEN 36
           WHEN 4 THEN 46 WHEN 5 THEN 51 ELSE 55 END AS age,
         c_nationkey % 21 AS occupation,
         c_mktsegment AS city_category,
         c_custkey % 5 AS stay_in_current_city_years,
         c_nationkey % 2 AS marital_status
  FROM customer
),
product_dim AS (
  SELECT p_partkey AS product_id,
         p_brand AS product_category,
         p_retailprice AS price,
         1 + p_partkey % 7 AS store_id,
         'Store#' || CAST(1 + p_partkey % 7 AS VARCHAR) AS store_name,
         p_partkey % 10 AS supplier_id,
         s_name AS supplier_name
  FROM part JOIN supplier ON s_suppkey = p_partkey % 10
),
time_dim AS (
  SELECT {_TIME_ATTRS}
  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS full_date FROM orders)
),
salefact AS (
  SELECT l_orderkey AS order_id,
         o_custkey AS customer_id,
         l_partkey AS product_id,
         CAST(l_linenumber AS BIGINT) AS line_number,
         CAST(year(CAST(o_orderdate AS DATE)) * 10000
              + month(CAST(o_orderdate AS DATE)) * 100
              + day(CAST(o_orderdate AS DATE)) AS BIGINT) AS date_id,
         CAST(l_quantity AS BIGINT) AS quantity,
         CAST(CAST(l_quantity AS BIGINT) * p.price AS DECIMAL(18,2)) AS purchase_amount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN (SELECT c_custkey FROM customer) cm ON o_custkey = cm.c_custkey
  JOIN product_dim p ON p.product_id = l_partkey
)
"""


def with_star(query_sql: str) -> str:
    """Wrap an analysis query in the star-schema CTE prefix; a query that
    opens with its own WITH clause is merged into the same CTE list."""
    body = query_sql.strip()
    if body.upper().startswith("WITH "):
        return f"WITH {STAR_CTE_SQL}, {body[5:]}"
    return f"WITH {STAR_CTE_SQL} {body}"
