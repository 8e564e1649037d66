"""Correctness checks, run outside the timed region.

Ingest: DuckDB reads the same generated CSVs and computes what the star
must hold (fact rows, the money total, distinct dimension keys) and how
many rows the customer join must evict; the loaded warehouse and the
``EvictionLedger`` totals are compared with it, and the last q03 answer
is compared with q03's oracle SQL run by DuckDB over the warehouse files.

OLAP: the last timed pass's collected rows are compared with the
program's own DuckDB oracles (``driver_api.oracle_sql``) through
``oracle_harness.compare``, without running the Spark queries again.
"""

from __future__ import annotations

import decimal
import os

import duckdb
from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.oracle_harness import compare

_TXN_COLUMNS = ("{'orderID': 'INTEGER', 'Customer_ID': 'INTEGER', 'Product_ID': 'VARCHAR', "
                "'date': 'VARCHAR', 'quantity': 'INTEGER'}")


def expected_ingest(txn_glob: str, masters: dict[str, str]) -> dict[str, object]:
    """What loading every file under ``txn_glob`` must produce."""
    con = duckdb.connect()
    csv = "header = true, auto_detect = false, delim = ','"
    con.execute(f"CREATE TEMP TABLE t AS SELECT * FROM read_csv('{txn_glob}', {csv}, "
                f"columns = {_TXN_COLUMNS})")
    con.execute(f"CREATE TEMP TABLE c AS SELECT DISTINCT Customer_ID FROM read_csv("
                f"'{masters['customer']}', header = true, all_varchar = true)")
    con.execute(f"CREATE TEMP TABLE p AS SELECT Product_ID, CAST(\"price$\" AS DECIMAL(10, 2)) AS price "
                f"FROM read_csv('{masters['product']}', header = true, all_varchar = true)")
    row = con.execute("""
        WITH k AS (SELECT t.*, (c.Customer_ID IS NOT NULL) AS kept
                   FROM t LEFT JOIN c ON CAST(c.Customer_ID AS INTEGER) = t.Customer_ID)
        SELECT count(*) FILTER (WHERE kept),
               count(*) FILTER (WHERE NOT kept AND Customer_ID IS NOT NULL),
               sum(round(quantity * price, 2)) FILTER (WHERE kept),
               count(DISTINCT Customer_ID) FILTER (WHERE kept),
               count(DISTINCT p.Product_ID) FILTER (WHERE kept),
               count(DISTINCT date) FILTER (WHERE kept),
               count(*)
        FROM k LEFT JOIN p USING (Product_ID)
    """).fetchone()
    keys = ("loaded", "evicted", "amount", "customer_dim", "product_dim", "time_dim", "input_rows")
    return dict(zip(keys, row))


def actual_ingest(star: dict) -> dict[str, object]:
    """The same figures read back from a loaded warehouse (``read_star``);
    a dimension key that appears twice counts as a wrong answer."""
    fact = star["salefact"].agg(F.count(F.lit(1)), F.sum("purchase_amount")).first()
    out: dict[str, object] = {"loaded": fact[0], "amount": fact[1]}
    for table, key in (("customer_dim", "customer_id"), ("product_dim", "product_id"),
                       ("time_dim", "date_id")):
        n, distinct = star[table].agg(F.count(F.lit(1)), F.countDistinct(key)).first()
        out[table] = n if n == distinct else -n
    return out


def ingest_problems(expected: dict, actual: dict) -> list[str]:
    problems = []
    for k, v in actual.items():
        want = expected[k]
        if isinstance(v, decimal.Decimal) or isinstance(want, decimal.Decimal):
            same = decimal.Decimal(str(v)) == decimal.Decimal(str(want))
        else:
            same = v == want
        if not same:
            problems.append(f"{k}: got {v}, want {want}")
    return problems


def warehouse_connection(warehouse: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("customer_dim", "product_dim", "time_dim"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{warehouse}/{t}/*.parquet')")
    con.execute("CREATE VIEW salefact AS SELECT * FROM read_parquet("
                f"'{warehouse}/salefact/**/*.parquet', hive_partitioning = true)")
    return con


def tpch_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over a ``gen.write_tpch`` layout, where a table is one
    parquet file or a directory of part files."""
    con = duckdb.connect()
    for t in ("customer", "supplier", "part", "orders", "lineitem"):
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class _Collected:
    """Rows already collected from a Spark query, in the shape ``compare``
    reads (``collect()`` and ``columns``), so the check runs no Spark job."""

    def __init__(self, rows: list, columns: list[str]) -> None:
        self._rows = rows
        self.columns = columns

    def collect(self) -> list:
        return self._rows


def answer_problems(name: str, rows: list, schema, con, sql: str) -> list[str]:  # noqa: ANN001
    """Compare already-collected Spark rows with an oracle query."""
    result = compare(name, _Collected(rows, schema.fieldNames()), con, sql)
    return [] if result.ok else [str(result)]
