"""Operational ETL entry points — the reference's stored-procedure
layer (scripts/bronze/load_bronze.sql:22-143 ``EXEC bronze.load_bronze``
and scripts/silver/proc_load_silver.sql:23-244 ``EXEC silver.load_silver``)
as plain Python functions with the same shape: full-refresh per-table
loads, per-step wall-clock timing, one try/except per batch.

Differences that are the point of the Spark rewrite:

- ``TRUNCATE + BULK INSERT / INSERT...SELECT`` becomes an atomic
  ``mode("overwrite")`` parquet write (no partially-loaded states).
- Loads are parallel across partitions instead of single-threaded
  bulk inserts; per-table duration logs replace PRINT.
- Bookkeeping reads parquet footers, not data: per-table row counts
  are the written files' footer ``num_rows``, and every read-back
  (the ``wh_*`` views, gold's silver reads) passes the schema Spark
  stored in those footers, so a load's Spark jobs are its transforms
  and writes (``sources/footers.py``; Spark counts and infers only
  where footers cannot answer). Pool threads inherit the caller's
  job group.
- Gold stays *virtual* by default (views over silver — identical to
  the reference's CREATE VIEW) and can be materialized with
  ``materialize_gold=True`` for scale (equivalent results: loads are
  full-refresh batch).

Layout written under ``warehouse_dir``::

    bronze/<table>/   silver/<table>/   gold/<view>/   (parquet dirs)

plus session-catalog views ``wh_silver_*`` / ``wh_gold_*`` so ad-hoc
``spark.sql`` works against the warehouse like the reference's
``silver.*`` / ``gold.*`` names.
"""

from __future__ import annotations

import logging
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.footers import read_parquet, row_count
from .gold import gold_dim_customers, gold_dim_products, gold_fact_sales
from .schemas import BRONZE_TABLES, spark_schema
from .silver import _TRANSFORMS, bronze_df

log = logging.getLogger("sql_data_warehouse_spark.load")

GOLD_VIEWS = ("dim_customers", "dim_products", "fact_sales")


def _timed(step: str, fn):
    start = time.monotonic()
    out = fn()
    log.info("%s: %.2fs", step, time.monotonic() - start)
    return out


def _timed_stage(stage: str, fn):
    """Stage-level wall clock around a thread-pooled table batch:
    per-table ``_timed`` durations OVERLAP under the pool (ADVICE r9),
    so they no longer sum to stage time — this is the number that
    does."""
    start = time.monotonic()
    out = fn()
    log.info("%s stage wall: %.2fs", stage, time.monotonic() - start)
    return out


def _pool_map(spark: SparkSession, fn, items) -> list:
    """``fn`` over ``items`` on a thread pool, results in order. Each
    task is wrapped with ``inheritable_thread_target`` here, in the
    calling thread, so its Spark jobs carry the caller's job group,
    description and tags; wrapping per task gives every task its own
    copy of the caller's local properties, which the concurrent SQL
    executions in the pool then set independently."""
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), item)
                   for item in items]
        return [f.result() for f in futures]


def _written_rows(spark: SparkSession, path: str) -> int:
    """Rows in a parquet dir this load just wrote, from its footers
    (Spark counts them when the footers cannot answer)."""
    n = row_count(path)
    return spark.read.parquet(path).count() if n is None else n


def load_bronze(spark: SparkSession, warehouse_dir: str) -> dict[str, int]:
    """Typed CSV → bronze parquet, one overwrite per table (S1-S3).
    Returns per-table row counts (the reference PRINTs durations; we
    log durations and return counts for assertions).

    Tables are independent full-refresh loads, so they are submitted
    from a thread pool and Spark schedules them concurrently — the
    next table's tasks back-fill executors freed by the previous
    table's tail instead of idling behind a serial driver loop."""

    def run(table: str) -> int:
        path = f"{warehouse_dir}/bronze/{table}"

        def write() -> int:
            bronze_df(spark, table).write.mode("overwrite").parquet(path)
            return _written_rows(spark, path)

        return _timed(f"bronze.{table}", write)

    results = _timed_stage("bronze", lambda: _pool_map(spark, run, BRONZE_TABLES))
    return dict(zip(BRONZE_TABLES, results))


def load_silver(spark: SparkSession, warehouse_dir: str) -> dict[str, int]:
    """bronze parquet → cleansing transform → silver parquet, with the
    reference's ``dwh_create_date`` audit column (S4, ddl_silver.sql
    DEFAULT GETDATE()). Bronze is read under its declared schema and
    the ``wh_silver_*`` view under the schema Spark stored in the
    written footers, so no read runs a schema-inference job."""
    def run(table: str) -> int:
        transform = _TRANSFORMS[table]
        src = f"{warehouse_dir}/bronze/{table}"
        dst = f"{warehouse_dir}/silver/{table}"

        def write() -> int:
            bronze = spark.read.schema(spark_schema(table)).parquet(src)
            out = transform(bronze).withColumn(
                "dwh_create_date", F.current_timestamp()
            )
            out.write.mode("overwrite").parquet(dst)
            read_parquet(spark, dst).createOrReplaceTempView(f"wh_silver_{table}")
            return _written_rows(spark, dst)

        return _timed(f"silver.{table}", write)

    # Independent per-table transforms: thread-pool submission, same
    # back-fill rationale as load_bronze.
    tables = list(_TRANSFORMS)
    results = _timed_stage("silver", lambda: _pool_map(spark, run, tables))
    return dict(zip(tables, results))


def _silver_reader(warehouse_dir: str):
    def read(spark: SparkSession, table: str) -> DataFrame:
        # Drop the audit column so gold sees the reference silver shape.
        return read_parquet(spark, f"{warehouse_dir}/silver/{table}").drop(
            "dwh_create_date"
        )

    return read


def load_gold(spark: SparkSession, warehouse_dir: str,
              materialize: bool = False) -> dict[str, int]:
    """Silver → gold star views (S5). Virtual by default (catalog
    views, Catalyst inlines them into consumers exactly like SQL
    Server view expansion); ``materialize=True`` writes parquet and
    points the views at it instead, reading it back under its footer
    schema and counting it from its footers."""
    silver = _silver_reader(warehouse_dir)
    builders = {
        "dim_customers": gold_dim_customers,
        "dim_products": gold_dim_products,
        "fact_sales": gold_fact_sales,
    }
    def run(view: str) -> int:
        build = builders[view]

        def work() -> int:
            df = build(spark, silver)
            if not materialize:
                df.createOrReplaceTempView(f"wh_gold_{view}")
                return df.count()
            path = f"{warehouse_dir}/gold/{view}"
            df.write.mode("overwrite").parquet(path)
            read_parquet(spark, path).createOrReplaceTempView(f"wh_gold_{view}")
            return _written_rows(spark, path)

        return _timed(f"gold.{view}", work)

    views = list(builders)
    results = _timed_stage("gold", lambda: _pool_map(spark, run, views))
    return dict(zip(views, results))


def load_all(spark: SparkSession, warehouse_dir: str,
             materialize_gold: bool = False) -> dict[str, dict[str, int]]:
    """The full ``EXEC``-chain analog: bronze → silver → gold with
    batch-level timing and a single error boundary (reference
    TRY/CATCH at load_bronze.sql:133-141)."""
    start = time.monotonic()
    try:
        out = {
            "bronze": load_bronze(spark, warehouse_dir),
            "silver": load_silver(spark, warehouse_dir),
            "gold": load_gold(spark, warehouse_dir, materialize_gold),
        }
    except Exception:
        log.exception("warehouse load failed")
        raise
    log.info("load_all: %.2fs", time.monotonic() - start)
    return out
