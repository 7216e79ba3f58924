"""Output checks, run once per run on the warm-up pass's outputs.

- A registry query's collected result is compared with its registered
  DuckDB oracle over the same generated tables, after the
  order-insensitive normalisation of ``tests/oracle_harness.py``
  (sorted columns, sorted rows, int/float kind parity).
- The medallion refresh is compared three ways: silver and gold row
  counts against the bronze generator's known answers, zero rule
  violations left in silver, and every silver/gold table against a
  DuckDB replay of the program's own SQL twins over the same bronze
  parquet (multiset equality, evaluated in DuckDB).
- The TxnTable lifecycle's final snapshot is compared with a DuckDB
  replay of the seeded merge and delete over ``orders``.

Each check returns ``None`` when it passes, else a one-line reason.
"""

from __future__ import annotations

import os
from typing import Any

import duckdb
import pandas as pd

from tests.oracle_harness import normalize, run_oracle

from . import workloads


def same_rows(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    a_cols, a_rows = normalize(actual)
    e_cols, e_rows = normalize(expected)
    if a_cols != e_cols:
        return f"columns {a_cols} != {e_cols}"
    if len(a_rows) != len(e_rows):
        return f"{len(a_rows)} rows != {len(e_rows)}"
    for i, (ar, er) in enumerate(zip(a_rows, e_rows)):
        kinds = any(isinstance(x, float) != isinstance(y, float)
                    for x, y in zip(ar, er) if x is not None and y is not None)
        if ar != er or kinds:
            return f"sorted row {i} differs: {ar!r} != {er!r}"
    return None


def check_query(name: str, result: pd.DataFrame, sf_dir: str) -> str | None:
    from sql_data_warehouse_spark.analytics import all_queries

    oracle = all_queries()[name].oracle
    if oracle is None:
        return None if len(result) > 0 else "no rows and no oracle"
    return same_rows(result, run_oracle(oracle, sf_dir))


def _replay_sql(sql: str, bronze_dir: str) -> str:
    """The program's CSV-reading SQL twin, pointed at bronze parquet."""
    from sql_data_warehouse_spark.medallion.schemas import BRONZE_TABLES, duckdb_read_csv

    for t in BRONZE_TABLES:
        sql = sql.replace(duckdb_read_csv(t), f"read_parquet('{bronze_dir}/{t}/*.parquet')")
    return sql


# Rules silver must satisfy (the reference's quality_check_silver.sql
# family); each query counts violating rows.
SILVER_RULES = {
    "cst_null_or_dup_id": "SELECT count(*) FROM (SELECT cst_id FROM crm_cust_info "
                          "GROUP BY cst_id HAVING count(*) > 1 OR cst_id IS NULL)",
    "cst_untrimmed_names": "SELECT count(*) FROM crm_cust_info WHERE cst_firstname != "
                           "trim(cst_firstname) OR cst_lastname != trim(cst_lastname)",
    "cst_codes_undecoded": "SELECT count(*) FROM crm_cust_info WHERE cst_marital_status NOT IN "
                           "('Married','Single','N/A') OR cst_gndr NOT IN ('Male','Female','N/A')",
    "prd_cost_null_or_negative": "SELECT count(*) FROM crm_prd_info WHERE prd_cost IS NULL "
                                 "OR prd_cost < 0",
    "prd_line_undecoded": "SELECT count(*) FROM crm_prd_info WHERE prd_line NOT IN "
                          "('Mountain','Road','Other Sales','Touring','N/A')",
    "prd_end_before_start": "SELECT count(*) FROM crm_prd_info WHERE prd_end_dt < prd_start_dt",
    "sales_dates_out_of_order": "SELECT count(*) FROM crm_sales_details WHERE "
                                "sls_order_dt > sls_ship_dt OR sls_order_dt > sls_due_dt",
    "sales_inconsistent": "SELECT count(*) FROM crm_sales_details WHERE sls_sales IS NULL OR "
                          "sls_sales <= 0 OR sls_price IS NULL OR sls_price <= 0 OR "
                          "sls_sales != sls_quantity * sls_price",
    "az_nas_prefix_or_future_bdate": "SELECT count(*) FROM erp_cust_az12 WHERE cid LIKE 'NAS%' "
                                     "OR bdate > DATE '2026-01-01'",
    "az_gender_undecoded": "SELECT count(*) FROM erp_cust_az12 WHERE gen NOT IN "
                           "('Male','Female','N/A')",
    "loc_dashed_cid_or_blank_country": "SELECT count(*) FROM erp_loc_a101 WHERE cid LIKE '%-%' "
                                       "OR cntry IS NULL OR trim(cntry) = ''",
}


def same_relation(con: duckdb.DuckDBPyConnection, actual: str, expected: str) -> str | None:
    """Multiset equality of two relations, evaluated inside DuckDB."""
    a_cols = sorted(c[0] for c in con.sql(f"DESCRIBE {actual}").fetchall())
    e_cols = sorted(c[0] for c in con.sql(f"DESCRIBE {expected}").fetchall())
    if a_cols != e_cols:
        return f"columns {a_cols} != {e_cols}"
    cols = ", ".join(f'"{c}"' for c in a_cols)
    missing, extra = (con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {x} EXCEPT ALL "
                              f"SELECT {cols} FROM {y})").fetchone()[0]
                      for x, y in ((expected, actual), (actual, expected)))
    return f"{missing} expected rows missing, {extra} unexpected rows" if missing or extra else None


def check_medallion(warehouse: str, known: dict, silver_counts: dict,
                    gold_counts: dict) -> dict[str, str | None]:
    from sql_data_warehouse_spark.medallion.gold import gold_sql
    from sql_data_warehouse_spark.medallion.silver import SILVER_SQL

    bronze = os.path.join(warehouse, "bronze")
    out: dict[str, str | None] = {}
    con = duckdb.connect()
    try:
        for t, sql in SILVER_SQL.items():
            con.sql(f"CREATE VIEW {t} AS SELECT * EXCLUDE (dwh_create_date) "
                    f"FROM read_parquet('{warehouse}/silver/{t}/*.parquet')")
            con.sql(f"CREATE VIEW replay_{t} AS {_replay_sql(sql, bronze)}")
            if silver_counts.get(t) != known["silver_rows"][t]:
                out[f"silver.{t}"] = (f"load_silver returned {silver_counts.get(t)} rows, "
                                      f"known {known['silver_rows'][t]}")
            else:
                out[f"silver.{t}"] = same_relation(con, t, f"replay_{t}")
        violations = {k: con.sql(q).fetchone()[0] for k, q in SILVER_RULES.items()}
        bad = {k: v for k, v in violations.items() if v}
        out["silver.rules"] = f"violations {bad}" if bad else None
        for v, n in known["gold_rows"].items():
            con.sql(f"CREATE VIEW gold_{v} AS SELECT * FROM "
                    f"read_parquet('{warehouse}/gold/{v}/*.parquet')")
            con.sql(f"CREATE VIEW replay_gold_{v} AS {_replay_sql(gold_sql(v), bronze)}")
            if gold_counts.get(v) != n:
                out[f"gold.{v}"] = f"load_gold returned {gold_counts.get(v)} rows, known {n}"
            else:
                out[f"gold.{v}"] = same_relation(con, f"gold_{v}", f"replay_gold_{v}")
    finally:
        con.close()
    return out


def txn_replay_sql(sf_dir: str, seed: int, n_orders: int) -> str:
    return f"""
        WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
                   FROM read_parquet('{sf_dir}/orders.parquet')),
        u AS (SELECT o_orderkey, o_orderstatus,
                     o_totalprice * CAST(1.10 AS DOUBLE) AS o_totalprice,
                     'RE-PRICED' AS o_orderpriority
              FROM o WHERE {workloads.merge_predicate(seed, n_orders)}),
        m AS (SELECT * FROM u
              UNION ALL SELECT * FROM o WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u))
        SELECT * FROM m WHERE NOT ({workloads.delete_predicate(seed, n_orders)})
    """


def check_txn(result: pd.DataFrame, sf_dir: str, seed: int, n_orders: int) -> str | None:
    con = duckdb.connect()
    try:
        return same_rows(result, con.sql(txn_replay_sql(sf_dir, seed, n_orders)).df())
    finally:
        con.close()


def run_checks(workload: str, outputs: dict[str, Any], ctx: Any, known: dict | None) -> dict:
    """Checks for every op the warm-up pass captured."""
    results: dict[str, str | None] = {}
    for name, out in outputs.items():
        if isinstance(out, BaseException):
            results[name] = f"raised {type(out).__name__}: {str(out)[:200]}"
        elif name in workloads.INGEST_NAMES:
            continue
        else:
            try:
                results[name] = check_query(name, out, ctx.sf_dir)
            except Exception as e:  # noqa: BLE001 - a broken oracle run is a failed check
                results[name] = f"check raised {type(e).__name__}: {str(e)[:200]}"
    if workload == "ingest_write" and known is not None:
        if not any(isinstance(outputs.get(n), BaseException) for n in ("load_silver", "load_gold")):
            results.update(check_medallion(ctx.warehouse, known, outputs["load_silver"],
                                           outputs["load_gold"]))
        if not isinstance(outputs.get("txn_read"), BaseException):
            results["txn_read"] = check_txn(outputs["txn_read"], ctx.sf_dir, ctx.seed,
                                            ctx.n_orders)
    return results
