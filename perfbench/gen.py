"""Seeded input generators for the benchmark.

Two input families, both a pure function of ``seed``:

- the reference-shaped ETL inputs: ``customer_master.csv`` (5,891 rows),
  ``product_master.csv`` (3,631 rows) and transaction CSVs. About 5 % of
  transactions name an unknown customer (evicted by the customer join),
  about 3 % an unknown product (kept by the product left join), orders
  carry 1-5 lines, and dates span 1999-07-01 .. 2000-12-31 so the year-2000
  and past-6-months filters of the analysis queries select rows;
- TPC-H-shaped parquet tables (customer, supplier, part, orders, lineitem)
  for ``plans.star.star_tables``, with the same date span.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

N_CUSTOMERS = 5_891
N_PRODUCTS = 3_631
UNKNOWN_CUSTOMER_FRAC = 0.05
UNKNOWN_PRODUCT_FRAC = 0.03
FIRST_DAY = dt.date(1999, 7, 1)
LAST_DAY = dt.date(2000, 12, 31)

AGE_BUCKETS = ("0-17", "18-25", "26-35", "36-45", "46-50", "51-55", "55+")
CATEGORIES = (
    "Appliances", "Automotive", "Baby", "Beauty", "Books", "Clothing",
    "Computers", "Electronics", "Furniture", "Garden", "Grocery", "Health",
    "Home", "Jewelry", "Kitchen", "Music", "Office", "Pets", "Sports", "Toys",
)
STORES = {1: "Electro Mart", 2: "Tech Haven", 3: "Gadget Hub", 4: "Home Depot",
          5: "Urban Outfit", 6: "Book Nook", 7: "Toy World", 51: "Pakistan"}
SUPPLIERS = {9: "Canon Inc.", 13: "Samsung Electronics", 16: "Sony Corp.",
             17: "LG Electronics", 18: "Apple Inc.", 39: "Nike Inc.", 51: "Unilever"}

TXN_HEADER = "orderID,Customer_ID,Product_ID,date,quantity\n"
_DAYS = (LAST_DAY - FIRST_DAY).days + 1
_DATE_STR = [
    f"{d.month}/{d.day}/{d.year}"
    for d in (FIRST_DAY + dt.timedelta(days=i) for i in range(_DAYS))
]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def master_ids(seed: int) -> tuple[np.ndarray, list[str]]:
    """Customer ids (int) and product ids (``P00`` + 6 digits) of the masters."""
    rng = _rng(seed, 1)
    cust = np.sort(rng.choice(np.arange(1_000_001, 1_006_041), N_CUSTOMERS, replace=False))
    prod = [f"P00{n:06d}" for n in np.sort(rng.choice(1_000_000, N_PRODUCTS, replace=False))]
    return cust, prod


def write_masters(out_dir: str, seed: int) -> dict[str, str]:
    """Write both master CSVs; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    cust, prod = master_ids(seed)
    rng = _rng(seed, 2)
    n = len(cust)
    gender = rng.choice(["F", "M"], n)
    age = rng.integers(0, len(AGE_BUCKETS), n)
    occ = rng.integers(0, 21, n)
    city = rng.choice(["A", "B", "C"], n)
    stay = rng.integers(0, 5, n)
    marital = rng.integers(0, 2, n)
    cust_path = os.path.join(out_dir, "customer_master.csv")
    with open(cust_path, "w", newline="") as f:
        f.write("Customer_ID,Gender,Age,Occupation,City_Category,"
                "Stay_In_Current_City_Years,Marital_Status\n")
        f.writelines(
            f"{c},{g},{AGE_BUCKETS[a]},{o},{ci},{s},{m}\n"
            for c, g, a, o, ci, s, m in zip(cust.tolist(), gender, age.tolist(), occ.tolist(),
                                           city, stay.tolist(), marital.tolist())
        )
    m = len(prod)
    cat = rng.integers(0, len(CATEGORIES), m)
    cents = rng.integers(500, 100_000, m)
    store_ids = list(STORES)
    sup_ids = list(SUPPLIERS)
    store = rng.integers(0, len(store_ids), m)
    sup = rng.integers(0, len(sup_ids), m)
    prod_path = os.path.join(out_dir, "product_master.csv")
    with open(prod_path, "w", newline="") as f:
        f.write("Product_ID,Product_Category,price$,storeID,storeName,supplierID,supplierName\n")
        for p, c, ct, st, su in zip(prod, cat.tolist(), cents.tolist(), store.tolist(), sup.tolist()):
            sid, uid = store_ids[st], sup_ids[su]
            f.write(f"{p},{CATEGORIES[c]},{ct // 100}.{ct % 100:02d},{sid},{STORES[sid]},"
                    f"{uid},{SUPPLIERS[uid]}\n")
    return {"customer": cust_path, "product": prod_path}


def transactions_csv(seed: int, stream: int, index: int, n_rows: int) -> str:
    """One transaction CSV file (header + ``n_rows`` lines). ``stream``
    separates the benchmark's input families; ``index`` numbers the file,
    and order ids are unique across files of one stream."""
    cust, prod = master_ids(seed)
    rng = _rng(seed, 3, stream, index)
    lines = rng.integers(1, 6, n_rows)  # 1-5 lines per order; trimmed below
    order_of_line = np.repeat(np.arange(n_rows), lines)[:n_rows]
    n_orders = int(order_of_line[-1]) + 1
    o_cust = rng.choice(cust, n_orders)
    unknown = rng.random(n_orders) < UNKNOWN_CUSTOMER_FRAC
    o_cust = np.where(unknown, 9_000_000 + rng.integers(0, 100_000, n_orders), o_cust)
    o_day = rng.integers(0, _DAYS, n_orders)
    p_idx = rng.integers(0, len(prod), n_rows)
    p_unknown = rng.random(n_rows) < UNKNOWN_PRODUCT_FRAC
    p_unknown_id = rng.integers(0, 1_000_000, n_rows)
    qty = rng.integers(1, 11, n_rows)
    first_order = 1 + index * 1_000_000
    oc, od = o_cust.tolist(), o_day.tolist()
    rows = [
        f"{first_order + o},{oc[o]},{f'P99{u:06d}' if pu else prod[p]},{_DATE_STR[od[o]]},{q}\n"
        for o, p, pu, u, q in zip(order_of_line.tolist(), p_idx.tolist(), p_unknown.tolist(),
                                  p_unknown_id.tolist(), qty.tolist())
    ]
    return TXN_HEADER + "".join(rows)


def _money(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _tpch_sizes(n_orders: int) -> tuple[int, int, int]:
    """Customers, parts and suppliers of a TPC-H-shaped set of ``n_orders``."""
    return max(n_orders // 10, 50), max(n_orders * 2 // 15, 50), 100


def _orders_lineitem(rng: np.random.Generator, first_key: int, n_orders: int,
                     base_orders: int):  # noqa: ANN202
    """Orders ``first_key`` .. ``first_key + n_orders - 1`` and their 1-5
    lines each, over the customers and parts of a ``base_orders`` set."""
    import pyarrow as pa

    n_cust, n_part, n_supp = _tpch_sizes(base_orders)
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    ok = np.arange(first_key, first_key + n_orders, dtype=np.int64)
    first = np.datetime64(FIRST_DAY.isoformat(), "us")
    o_date = first + rng.integers(0, _DAYS, n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": _money(rng, 1000, 400_000, n_orders),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": rng.choice(priorities, n_orders),
    })
    lines = rng.integers(1, 6, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(ok, lines)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    l_part = rng.integers(1, n_part + 1, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(o_date, lines) + rng.integers(1, 60, n_li).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": l_part % n_supp,
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 100_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    return orders, lineitem


def write_tpch(out_dir: str, seed: int, n_orders: int) -> str:
    """TPC-H-shaped parquet tables for ``star_tables``, sized by
    ``n_orders`` (sf0.01 is about 15,000). customer, supplier and part are
    one file each (``{out_dir}/{name}.parquet``); orders and lineitem are
    directories of part files (``{out_dir}/{name}.parquet/base.parquet``),
    so that new orders can land beside the base set (``tpch_delta``).
    Orders carry 1-5 lines and order dates span 1999-07-01 .. 2000-12-31."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 4)
    n_cust, n_part, n_supp = _tpch_sizes(n_orders)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck.tolist()],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": rng.choice(segments, n_cust),
    })
    sk = np.arange(0, n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk.tolist()],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999, 9999, n_supp),
    })
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    brand = rng.integers(1, 6, n_part) * 10 + rng.integers(1, 6, n_part)
    part = pa.table({
        "p_partkey": pk,
        "p_name": [f"part {k}" for k in pk.tolist()],
        "p_brand": [f"Brand#{b}" for b in brand.tolist()],
        "p_type": rng.choice(np.array(["ECONOMY ANODIZED STEEL", "LARGE BRUSHED BRASS",
                                       "PROMO PLATED COPPER", "STANDARD POLISHED TIN"]), n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900, 2000, n_part),
    })
    orders, lineitem = _orders_lineitem(rng, 1, n_orders, n_orders)
    for name, table in (("customer", customer), ("supplier", supplier), ("part", part)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    for name, table in (("orders", orders), ("lineitem", lineitem)):
        os.makedirs(os.path.join(out_dir, f"{name}.parquet"), exist_ok=True)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet", "base.parquet"))
    return out_dir


def tpch_delta(seed: int, index: int, n_orders: int, base_orders: int):  # noqa: ANN201
    """The ``index``-th batch of ``n_orders`` new orders (and their lines)
    for a ``write_tpch`` set of ``base_orders``, as two arrow tables; order
    keys follow the base set's and every earlier batch's."""
    first_key = base_orders + index * n_orders + 1
    return _orders_lineitem(_rng(seed, 5, index), first_key, n_orders, base_orders)
