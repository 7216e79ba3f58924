"""Parquet footer reads for post-write bookkeeping.

A parquet footer already holds what the warehouse's bookkeeping would
otherwise ask Spark to recompute right after a write: the file's exact row
count (``num_rows`` is exact by the format spec), per-row-group
min/max and null counts, and — in files Spark wrote — the Spark schema
itself, under ``org.apache.spark.sql.parquet.row.metadata`` (the key
Spark's own schema inference reads). Reading those on the driver with
pyarrow costs one small local file read per part file and no Spark
job, where ``spark.read.parquet(dir)`` alone runs a schema-inference
job and ``.count()`` or a per-file aggregation runs one or two more.

Every helper answers only when the footers answer exactly and returns
``None`` otherwise (a non-local path, a directory with subdirectories,
an unreadable footer, files with differing Spark schemas, a stat
column that is not a signed integer, a row group without stats);
callers then take the Spark path they took before, so a fallback
always gives the result the Spark path gives.
"""

from __future__ import annotations

import json
import os
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def part_files(directory: str) -> list[str] | None:
    """The data files Spark reads from a flat parquet directory, sorted
    by name: every regular file not starting with ``_`` or ``.``
    (Spark's hidden-file rule skips ``_SUCCESS`` and ``.crc`` files).
    None for anything but a local directory without subdirectories
    (partitioned layouts carry columns in directory names)."""
    if not os.path.isdir(directory):
        return None
    files = []
    for entry in sorted(os.scandir(directory), key=lambda e: e.name):
        if entry.name.startswith(("_", ".")):
            continue
        if not entry.is_file():
            return None
        files.append(entry.path)
    return files


def _files_of(path: str) -> list[str] | None:
    return [path] if os.path.isfile(path) else part_files(path)


def _metadata(path: str) -> pq.FileMetaData | None:
    if not os.path.isfile(path):
        return None
    try:
        return pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None


def row_count(directory: str) -> int | None:
    """Total rows of a flat parquet directory, from its footers."""
    files = part_files(directory)
    if files is None:
        return None
    total = 0
    for f in files:
        md = _metadata(f)
        if md is None:
            return None
        total += md.num_rows
    return total


def spark_schema(files: list[str]) -> StructType | None:
    """The Spark schema every file's footer carries, when all carry the
    same one; None when a file has none or two files differ (a
    schema-evolved snapshot), so the caller keeps Spark's inference."""
    raw = set()
    for f in files:
        md = _metadata(f)
        if md is None or SPARK_SCHEMA_KEY not in (md.metadata or {}):
            return None
        raw.add(md.metadata[SPARK_SCHEMA_KEY])
    if len(raw) != 1:
        return None
    return StructType.fromJson(json.loads(raw.pop()))


def read_parquet(spark: SparkSession, *paths: str,
                 merge_schema: bool = False) -> DataFrame:
    """``spark.read.parquet(*paths)`` under the schema stored in the
    footers, so Spark skips its schema-inference job. ``paths`` are
    files or flat directories. When the footers do not all carry one
    Spark schema, Spark infers it as before (merging every file's
    schema when ``merge_schema`` is set)."""
    listed = [_files_of(p) for p in paths]
    schema = None
    if all(listed):
        schema = spark_schema([f for fs in listed for f in fs])
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
    return reader.parquet(*paths)


def file_stats(path: str, cols: tuple[str, ...]
               ) -> tuple[int, dict[str, dict[str, Any]]] | None:
    """(rows, {col: {"min", "max"}}) of one file from its row-group
    statistics, the values ``F.min``/``F.max`` over the file return:
    NULLs are ignored and an all-NULL column gives None/None. Only for
    signed integer columns, whose parquet stats are exact; None for any
    other type (strings may be truncated, timestamps need Spark's
    rebasing) or when a non-empty row group lacks min/max stats that
    its null count does not explain."""
    md = _metadata(path)
    if md is None:
        return None
    arrow = md.schema.to_arrow_schema()
    leaf = {md.schema.column(j).path: j for j in range(md.num_columns)}
    stats: dict[str, dict[str, Any]] = {}
    for c in cols:
        i = arrow.get_field_index(c)
        if i < 0 or c not in leaf or not pa.types.is_signed_integer(arrow.field(i).type):
            return None
        lo = hi = None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = rg.column(leaf[c]).statistics
            if st is not None and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            elif st is None or not st.has_null_count or st.null_count != rg.num_rows:
                return None
        stats[c] = {"min": lo, "max": hi}
    return md.num_rows, stats
