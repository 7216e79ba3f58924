"""Medallion loads over a tiny bronze written in the test: counts and
view schemas from parquet footers equal what Spark computes, no read
infers a schema, no count runs, and every job carries the caller's job
group. Needs no reference CSVs."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, DataFrameReader

from sql_data_warehouse_spark.medallion.load import load_gold, load_silver
from sql_data_warehouse_spark.medallion.schemas import spark_schema

D = dt.date

# A few rows per source carrying the FIXTURES.md dirt classes: NULL and
# duplicated cst_id, space-padded names, blank codes, trailing-space
# prd_line, successive prd_start_dt, NULL cost, invalid yyyymmdd ints,
# sales != qty*price and NULL/negative prices, NAS-prefixed and dashed
# cids, future birthdates, raw country codes, an orphan sales customer.
BRONZE = {
    "crm_cust_info": [
        (11000, "AW00011000", " Jon", "Yang ", "M", "M", D(2025, 10, 6)),
        (11001, "AW00011001", "Eugene", "Huang", "S", "", D(2025, 10, 6)),
        (11001, "AW00011001", "Eugene ", "Huang", "S", "M", D(2025, 10, 7)),
        (None, "AW00011002", "Ruben", "Torres", "M", "M", D(2025, 10, 6)),
        (11003, "AW00011003", "Christy", " Zhu", None, "F", D(2025, 10, 6)),
    ],
    "crm_prd_info": [
        (210, "CO-RF-FR-R92B-58", "HL Road Frame - Black- 58", None, "R ",
         D(2003, 7, 1), None),
        (212, "BI-RB-BK-R93R-62", "Road-150 Red- 62", 2171, "R",
         D(2011, 7, 1), D(2011, 12, 28)),
        (213, "BI-RB-BK-R93R-62", "Road-150 Red- 62", 2200, "R ",
         D(2012, 1, 1), None),
        (214, "AC-BR-RA-H123", "Hitch Rack - 4-Bike", 45, None,
         D(2013, 7, 1), None),
        (215, "AC-BR-RA-H124", "Hitch Rack - 2-Bike", 30, "S",
         D(2013, 7, 1), None),
    ],
    "crm_sales_details": [
        ("SO43697", "BK-R93R-62", 11000, 20101229, 20110105, 20110110, 3578, 1, 3578),
        ("SO43697", "FR-R92B-58", 11000, 20101229, 20110105, 20110110, None, 2, 100),
        ("SO43698", "BK-R93R-62", 11001, 0, 20110105, 20110110, 50, 1, -50),
        ("SO43699", "RA-H123", 11003, 2011010, 20110108, 20110113, 90, 3, None),
        ("SO43700", "RA-H123", 99999, 20110110, 20110117, 20110122, 100, 2, 45),
    ],
    "erp_cust_az12": [
        ("NASAW00011000", D(1971, 10, 6), "Male"),
        ("AW00011001", D(1976, 5, 10), "M "),
        ("NASAW00011003", D(2050, 1, 1), ""),
        ("NASAW00011002", D(1918, 2, 2), None),
    ],
    "erp_loc_a101": [
        ("AW-00011000", "Australia"),
        ("AW-00011001", "DE"),
        ("AW-00011002", "US"),
        ("AW-00011003", " "),
        ("AW-00011004", None),
    ],
    "erp_px_cat_g1v2": [
        ("CO_RF", "Components", "Road Frames", "No"),
        ("BI_RB", "Bikes", "Road Bikes", "Yes"),
        ("AC_BR", "Accessories", "Bike Racks", "Yes"),
    ],
}


def test_load_counts_and_views_from_footers(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    for table, rows in BRONZE.items():
        spark.createDataFrame(rows, spark_schema(table)).write.parquet(
            f"{wh}/bronze/{table}")

    # Every parquet read in the load must be given its schema, and no
    # DataFrame may be counted; every job must carry the job group.
    inferring_reads, counts = [], []
    set_schema, read_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._given_schema = True
        return set_schema(self, s)

    def parquet(self, *paths, **kw):
        if not getattr(self, "_given_schema", False):
            inferring_reads.append(paths)
        return read_parquet(self, *paths, **kw)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    untagged_before = set(tracker.getJobIdsForGroup(None))
    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "schema", schema)
        m.setattr(DataFrameReader, "parquet", parquet)
        m.setattr(DataFrame, "count", lambda self: counts.append(self) or 0)
        sc.setJobGroup("medallion-load-test", "medallion load")
        try:
            silver = load_silver(spark, wh)
            gold = load_gold(spark, wh, materialize=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    assert not inferring_reads, inferring_reads
    assert not counts
    assert tracker.getJobIdsForGroup("medallion-load-test")
    assert not set(tracker.getJobIdsForGroup(None)) - untagged_before

    for layer, got in (("silver", silver), ("gold", gold)):
        for name, n in got.items():
            path = f"{wh}/{layer}/{name}"
            inferred = spark.read.parquet(path)
            assert n == inferred.count(), (layer, name)
            view = spark.table(f"wh_{layer}_{name}")
            assert view.schema == inferred.schema, (layer, name)
    # known answers: the NULL id is dropped and the duplicate deduped;
    # only the open product versions reach the dimension
    assert silver["crm_cust_info"] == 3
    assert silver["crm_sales_details"] == 5
    assert gold == {"dim_customers": 3, "dim_products": 4, "fact_sales": 5}
