"""Seeded bronze-layer generator for the medallion refresh.

Writes the six CRM/ERP source tables as bronze parquet directories
(``<warehouse>/bronze/<table>/``) typed by the program's own
``medallion.schemas.spark_schema``, at the reference dataset's size
(~18.5k customers, ~400 product versions, ~60k sales lines), and
injects every dirt class FIXTURES.md lists:

- null and duplicated ``cst_id`` (duplicates differ on create date);
- space-padded first/last names and blank marital/gender codes;
- trailing-space ``prd_line`` codes and null ``prd_cost``;
- several ``prd_start_dt`` versions per ``prd_key`` (LEAD end-dating),
  with bronze end dates that precede their start dates;
- invalid yyyymmdd order dates (0 and wrong length);
- ``sls_sales`` null, non-positive or != qty x price; ``sls_price``
  null or negative (a zero price is left out: silver recomputes such a
  row's sales as qty x 0, as the reference procedure does, which its
  own quality check then flags);
- ``NAS``-prefixed ERP customer ids, future birthdates and mixed
  gender spellings; dashed location ids and country code variants;
- a few sales whose customer id has no customer (orphans).

``generate`` returns the known answers the output check compares the
silver and gold layers against, plus the count of each injected dirt
class (each is at least 1).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from sql_data_warehouse_spark.medallion.schemas import BRONZE_TABLES, spark_schema

_ARROW = {T.IntegerType: pa.int32(), T.StringType: pa.string(), T.DateType: pa.date32()}

_CATS = {"AC": "Accessories", "BI": "Bikes", "CL": "Clothing", "CO": "Components"}
_SUBS = ["BR", "BC", "FR", "HL", "LI", "PE", "RB", "SE", "TI"]
_COUNTRIES = ["Australia", "Canada", "DE", "France", "Germany", "US", "USA",
              "United Kingdom", "United States", "", " "]


def _arrow_schema(table: str) -> pa.Schema:
    return pa.schema([(f.name, _ARROW[type(f.dataType)]) for f in spark_schema(table).fields])


def _ymd(d: dt.date) -> int:
    return d.year * 10000 + d.month * 100 + d.day


def _tables(rng: np.random.Generator, n_cust: int, n_keys: int,
            n_sales: int) -> tuple[dict[str, dict], dict[str, int]]:
    dirt: dict[str, int] = {}
    ri = lambda lo, hi: int(rng.integers(lo, hi))  # noqa: E731

    # erp_px_cat_g1v2: 4 categories x 9 subcategories
    cat_ids = [f"{c}_{s}" for c in _CATS for s in _SUBS]
    px = {
        "id": cat_ids,
        "cat": [_CATS[i[:2]] for i in cat_ids],
        "subcat": [f"{_CATS[i[:2]]} {i[3:]}" for i in cat_ids],
        "maintenance": [["Yes", "No"][ri(0, 2)] for _ in cat_ids],
    }

    # crm_prd_info: n_keys products, 1-3 successive versions each
    prd: dict[str, list] = {c: [] for c in
                            ("prd_id", "prd_key", "prd_nm", "prd_cost", "prd_line",
                             "prd_start_dt", "prd_end_dt")}
    product_numbers = []
    for k in range(n_keys):
        cat = cat_ids[ri(0, len(cat_ids))].replace("_", "-")
        number = f"{chr(65 + k % 26)}{chr(65 + (k // 26) % 26)}-R{k:03d}-{ri(38, 63)}"
        product_numbers.append(number)
        start = dt.date(2003, 1, 1) + dt.timedelta(days=ri(0, 3000))
        for _ in range(1 + int(rng.integers(0, 3) if k % 3 == 0 else 0)):
            prd["prd_id"].append(200 + len(prd["prd_id"]))
            prd["prd_key"].append(f"{cat}-{number}")
            prd["prd_nm"].append(f"Product {number}")
            prd["prd_cost"].append(ri(1, 2000))
            prd["prd_line"].append(["M ", "R ", "S ", "T ", None][ri(0, 5)])
            prd["prd_start_dt"].append(start)
            prd["prd_end_dt"].append(start - dt.timedelta(days=ri(1, 400)))
            start += dt.timedelta(days=ri(200, 800))
    for i in rng.choice(len(prd["prd_cost"]), 3, replace=False):
        prd["prd_cost"][i] = None
    dirt["prd_null_cost"] = 3
    dirt["prd_trailing_space_line"] = sum(1 for v in prd["prd_line"] if v and v != v.strip())
    dirt["prd_versioned_keys"] = len(prd["prd_key"]) - len(set(prd["prd_key"]))
    dirt["prd_end_before_start"] = len(prd["prd_key"])

    # crm_cust_info + the two ERP customer tables
    cust: dict[str, list] = {c: [] for c in
                             ("cst_id", "cst_key", "cst_firstname", "cst_lastname",
                              "cst_marital_status", "cst_gndr", "cst_create_date")}
    az: dict[str, list] = {"cid": [], "bdate": [], "gen": []}
    loc: dict[str, list] = {"cid": [], "cntry": []}
    ids = []
    for i in range(n_cust):
        cid = 11000 + i
        ids.append(cid)
        key = f"AW{cid:08d}"
        pad = ri(0, 10)
        cust["cst_id"].append(cid)
        cust["cst_key"].append(key)
        cust["cst_firstname"].append((" " if pad == 0 else "") + f"First{i % 997}")
        cust["cst_lastname"].append(f"Last{i % 1499}" + (" " if pad == 1 else ""))
        cust["cst_marital_status"].append(["M", "S", "", None][ri(0, 4)])
        cust["cst_gndr"].append(["M", "F", "", None][ri(0, 4)])
        cust["cst_create_date"].append(dt.date(2025, 1, 1) + dt.timedelta(days=ri(0, 300)))
        az["cid"].append(("NAS" if ri(0, 20) else "") + key)
        az["bdate"].append(dt.date(1925, 1, 1) + dt.timedelta(days=ri(0, 29000)))
        az["gen"].append(["Male", "Female", "M ", "F ", "", None][ri(0, 6)])
        loc["cid"].append(f"AW-{cid:08d}")
        loc["cntry"].append(_COUNTRIES[ri(0, len(_COUNTRIES))] if ri(0, 30) else None)
    for i in rng.choice(n_cust, 16, replace=False):
        az["bdate"][i] = dt.date(2030, 1, 1) + dt.timedelta(days=ri(0, 3000))
    dirt["az_future_bdate"] = 16
    dirt["az_nas_prefix"] = sum(1 for c in az["cid"] if c.startswith("NAS"))
    dirt["az_padded_gender"] = sum(1 for g in az["gen"] if g and g != g.strip())
    dirt["loc_dashed_cid"] = n_cust
    dirt["cst_padded_names"] = sum(
        1 for a, b in zip(cust["cst_firstname"], cust["cst_lastname"])
        if a != a.strip() or b != b.strip())
    dirt["cst_blank_codes"] = sum(1 for v in cust["cst_marital_status"] if v == "")
    # duplicated ids: an older copy of an existing row with other codes
    for i in rng.choice(n_cust, 6, replace=False):
        cust["cst_id"].append(cust["cst_id"][i])
        cust["cst_key"].append(cust["cst_key"][i])
        cust["cst_firstname"].append(cust["cst_firstname"][i])
        cust["cst_lastname"].append(cust["cst_lastname"][i])
        cust["cst_marital_status"].append("S")
        cust["cst_gndr"].append("")
        cust["cst_create_date"].append(cust["cst_create_date"][i] - dt.timedelta(days=ri(1, 90)))
    dirt["cst_dup_id"] = 6
    for j in range(4):  # rows without an id
        for c in cust:
            cust[c].append(None if c == "cst_id" else cust[c][j])
    dirt["cst_null_id"] = 4

    # crm_sales_details
    sales: dict[str, list] = {c: [] for c in
                              ("sls_ord_num", "sls_prd_key", "sls_cust_id", "sls_order_dt",
                               "sls_ship_dt", "sls_due_dt", "sls_sales", "sls_quantity",
                               "sls_price")}
    order_no = 43697
    while len(sales["sls_ord_num"]) < n_sales:
        order_no += 1
        cust_id = ids[ri(0, n_cust)]
        day = dt.date(2010, 12, 29) + dt.timedelta(days=ri(0, 1500))
        for _ in range(ri(1, 5)):
            qty = ri(1, 4)
            price = ri(2, 3600)
            sales["sls_ord_num"].append(f"SO{order_no}")
            sales["sls_prd_key"].append(product_numbers[ri(0, n_keys)])
            sales["sls_cust_id"].append(cust_id)
            sales["sls_order_dt"].append(_ymd(day))
            sales["sls_ship_dt"].append(_ymd(day + dt.timedelta(days=7)))
            sales["sls_due_dt"].append(_ymd(day + dt.timedelta(days=12)))
            sales["sls_sales"].append(qty * price)
            sales["sls_quantity"].append(qty)
            sales["sls_price"].append(price)
    n = len(sales["sls_ord_num"])
    picks = iter(rng.choice(n, 19 + 13 + 22 + 7 + 12 + 5, replace=False))
    for _ in range(19):
        i = next(picks)
        sales["sls_order_dt"][i] = [0, sales["sls_order_dt"][i] // 10][ri(0, 2)]
    dirt["sales_invalid_order_dt"] = 19
    for _ in range(13):
        sales["sls_sales"][next(picks)] = [None, 0, -5][ri(0, 3)]
    dirt["sales_null_or_nonpositive"] = 13
    for _ in range(22):
        i = next(picks)
        sales["sls_sales"][i] += ri(1, 50)
    dirt["sales_ne_qty_price"] = 22
    for _ in range(7):
        sales["sls_price"][next(picks)] = None
    dirt["price_null"] = 7
    for _ in range(12):
        i = next(picks)
        sales["sls_price"][i] = -sales["sls_price"][i]
    dirt["price_negative"] = 12
    for _ in range(5):
        sales["sls_cust_id"][next(picks)] = 9_000_000 + ri(0, 1000)
    dirt["sales_orphan_customer"] = 5

    tables = {"crm_cust_info": cust, "crm_prd_info": prd, "crm_sales_details": sales,
              "erp_cust_az12": az, "erp_loc_a101": loc, "erp_px_cat_g1v2": px}
    return tables, dirt


def generate(warehouse_dir: str, seed: int, n_cust: int = 18_480, n_keys: int = 300,
             n_sales: int = 60_400) -> dict:
    """Write ``<warehouse_dir>/bronze/<table>/`` and return the known answers."""
    rng = np.random.default_rng(seed)
    tables, dirt = _tables(rng, n_cust, n_keys, n_sales)
    missing = [k for k, v in dirt.items() if v < 1]
    if missing:
        raise RuntimeError(f"bronze generator injected no {missing}")
    bronze_bytes = 0
    for table in BRONZE_TABLES:
        out = os.path.join(warehouse_dir, "bronze", table)
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, "part-00000.parquet")
        pq.write_table(pa.table(tables[table], schema=_arrow_schema(table)), path)
        bronze_bytes += os.path.getsize(path)
    cust_ids = {c for c in tables["crm_cust_info"]["cst_id"] if c is not None}
    n_prd_keys = len(set(tables["crm_prd_info"]["prd_key"]))
    return {
        "bronze_rows": {t: len(next(iter(tables[t].values()))) for t in BRONZE_TABLES},
        "bronze_bytes": bronze_bytes,
        "silver_rows": {
            "crm_cust_info": len(cust_ids),
            "crm_prd_info": len(tables["crm_prd_info"]["prd_id"]),
            "crm_sales_details": len(tables["crm_sales_details"]["sls_ord_num"]),
            "erp_cust_az12": len(tables["erp_cust_az12"]["cid"]),
            "erp_loc_a101": len(tables["erp_loc_a101"]["cid"]),
            "erp_px_cat_g1v2": len(tables["erp_px_cat_g1v2"]["id"]),
        },
        "gold_rows": {
            "dim_customers": len(cust_ids),
            "dim_products": n_prd_keys,
            "fact_sales": len(tables["crm_sales_details"]["sls_ord_num"]),
        },
        "dirt": dirt,
    }
