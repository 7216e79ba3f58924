"""Transactional (ACID-ish) parquet tables via a manifest log.

The reference's load pattern is ``TRUNCATE TABLE`` + ``BULK INSERT``
inside a stored procedure (scripts/bronze/load_bronze.sql:35-43) —
SQL Server gives it atomicity for free.  Plain parquet directories
don't: a reader that lists the directory mid-overwrite sees half a
table.  This module supplies the missing commit protocol, the same
shape Delta Lake / Iceberg use, reduced to what the warehouse needs:

- **Snapshot isolation.**  Data files are immutable and written to
  uniquely-named subdirectories; a version's file *list* lives in a
  JSON manifest (``_txn/v00000017.json``).  Readers resolve the
  latest manifest once and read exactly those files — a concurrent
  writer can never make a reader see a partial table.
- **Atomic commit.**  A manifest is staged to a temp name and
  published with ``os.link`` (atomic, fails-if-exists on POSIX), so
  two writers racing to the same version conflict cleanly instead of
  silently overwriting — optimistic concurrency, retry on collision.
- **Time travel.**  Old manifests and their files are retained until
  ``vacuum``; ``read(version=N)`` reproduces any historical snapshot.
- **File-level stats → pruned MERGE.**  Each commit records per-file
  row counts and min/max for chosen stat columns, read from the new
  files' parquet footers for signed-integer columns (driver-side, no
  Spark job — the footer stats Delta gets from the writer) and from
  one Spark aggregation over the *new* files only, grouped by
  ``input_file_name``, for any other type.  ``merge`` uses the key-column
  stats to split the snapshot into touched / untouched files and
  rewrites only the touched ones; untouched files are carried into
  the new manifest by reference.  At 100 TB with a 0.1 % update batch
  that is the difference between rewriting ~everything and rewriting
  the handful of files whose key range the batch intersects.

Scale notes: listing is O(versions) manifest reads, never a recursive
object-store listing; commits are O(1) metadata; the only data I/O is
the new files themselves plus (for merge) the touched subset.  Reads
pass Spark the schema the listed files' footers share, so a snapshot
read plans without a schema-inference job (files with differing
footers, after a schema-evolving merge, are still merged by Spark).  All
row-level work stays in Spark DataFrame ops — the manifest layer is
driver-side metadata measured in kilobytes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import footers

_MANIFEST_DIR = "_txn"
_DATA_DIR = "data"


@dataclass(frozen=True)
class FileEntry:
    path: str  # relative to table root
    rows: int
    stats: dict[str, dict[str, Any]]  # col -> {"min": .., "max": ..}


class CommitConflict(RuntimeError):
    """Another writer published this version first — re-read and retry."""


class TxnTable:
    """A versioned parquet table rooted at ``path``."""

    def __init__(self, path: str):
        self.root = os.path.abspath(path)
        os.makedirs(os.path.join(self.root, _MANIFEST_DIR), exist_ok=True)

    # ----------------------------------------------------------- manifests

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, _MANIFEST_DIR, f"v{version:08d}.json")

    def versions(self) -> list[int]:
        d = os.path.join(self.root, _MANIFEST_DIR)
        out = []
        for name in os.listdir(d):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _load_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _files(self, version: int) -> list[FileEntry]:
        m = self._load_manifest(version)
        return [FileEntry(f["path"], f["rows"], f.get("stats", {}))
                for f in m["files"]]

    def history(self) -> list[dict]:
        """Commit log, oldest first (version, op, ts, file/row counts)."""
        out = []
        for v in self.versions():
            m = self._load_manifest(v)
            out.append({
                "version": v, "op": m["op"], "ts": m["ts"],
                "num_files": len(m["files"]),
                "num_rows": sum(f["rows"] for f in m["files"]),
            })
        return out

    # ------------------------------------------------------------- commit

    def _commit(self, op: str, files: list[FileEntry],
                expected_base: int | None) -> int:
        """Publish a new manifest atomically.

        ``expected_base`` is the version this commit was computed
        against (None for the first).  If someone else published in
        between, raise CommitConflict instead of clobbering history.
        """
        latest = self.latest_version()
        if latest != expected_base:
            raise CommitConflict(
                f"base moved: expected v{expected_base}, found v{latest}")
        version = (latest or 0) + 1
        manifest = {
            "version": version,
            "op": op,
            "ts": time.time(),
            "files": [
                {"path": f.path, "rows": f.rows, "stats": f.stats}
                for f in files
            ],
        }
        tmp = os.path.join(self.root, _MANIFEST_DIR,
                           f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # os.link is atomic and refuses to overwrite: the loser of
            # a race gets FileExistsError, not a corrupted log.
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            raise CommitConflict(f"v{version} was published concurrently")
        finally:
            os.unlink(tmp)
        return version

    # ------------------------------------------------------------- writes

    def _write_files(self, df: DataFrame,
                     stat_cols: tuple[str, ...] = ()) -> list[FileEntry]:
        """Write df as immutable parquet files; return entries+stats.

        Row counts and min/max of signed-integer ``stat_cols`` come
        from the new files' parquet footers: driver-side metadata
        reads, no Spark job (the footer row count is exact by the
        format spec, and so are integer min/max stats). Any other stat
        column (string stats may be truncated; dates and timestamps go
        through Spark's rebasing), or a footer without stats, takes one
        Spark aggregation over the just-written files grouped by
        ``input_file_name()`` instead, which scans only the new data
        and collects kilobytes to the driver. Both give the same
        entries.
        """
        commit_dir = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        abs_dir = os.path.join(self.root, commit_dir)
        df.write.mode("errorifexists").parquet(abs_dir)
        per_file = _footer_file_stats(abs_dir, stat_cols)
        if per_file is None:
            per_file = _spark_file_stats(df.sparkSession, abs_dir, stat_cols)
        return _manifest_entries(commit_dir, abs_dir, per_file)

    def overwrite(self, df: DataFrame,
                  stat_cols: tuple[str, ...] = ()) -> int:
        """Atomic truncate-and-reload (reference S2). Old snapshots
        stay readable via time travel until vacuum()."""
        base = self.latest_version()
        files = self._write_files(df, stat_cols)
        return self._commit("overwrite", files, base)

    def append(self, df: DataFrame,
               stat_cols: tuple[str, ...] = ()) -> int:
        base = self.latest_version()
        existing = self._files(base) if base is not None else []
        files = self._write_files(df, stat_cols)
        return self._commit("append", existing + files, base)

    # -------------------------------------------------------------- reads

    def _read_files(self, spark: SparkSession, files: list[FileEntry],
                    merge_schema: bool = False) -> DataFrame:
        """Read data files under the schema their footers share; when
        they differ, Spark infers it (merged across files if asked)."""
        return footers.read_parquet(
            spark, *[os.path.join(self.root, f.path) for f in files],
            merge_schema=merge_schema)

    def read(self, spark: SparkSession, version: int | None = None,
             prune: tuple[str, Any, Any] | None = None) -> DataFrame:
        """Snapshot read. ``prune=(col, lo, hi)`` skips files whose
        recorded [min,max] for col cannot intersect [lo,hi] — the
        manifest-level partition pruning a 100 TB scan depends on."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        files = self._files(v)
        if prune is not None:
            col, lo, hi = prune
            files = [f for f in files if _may_intersect(f, col, lo, hi)]
        if not files:
            # preserve schema from an unpruned read of file 0
            all_files = self._files(v)
            return self._read_files(spark, all_files[:1]).limit(0)
        # mergeSchema: snapshots may mix files written before/after a
        # schema-evolving merge (cost: one footer read per listed
        # file — bounded by the manifest, no directory listing)
        return self._read_files(spark, files, merge_schema=True)

    def version_asof(self, ts: float) -> int:
        """Resolve ``AS OF TIMESTAMP`` semantics: the newest version
        whose commit time is <= ts (commit times are the manifest's
        ``ts`` field, recorded at publish). Raises if ts precedes the
        first commit — same contract as Delta/Iceberg timestamp
        travel. O(versions) manifest-header reads, no data I/O."""
        best = None
        for v in self.versions():
            if self._load_manifest(v)["ts"] <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no snapshot at or before ts={ts} in {self.root}")
        return best

    # -------------------------------------------------------------- merge

    def merge(self, updates: DataFrame, key: str,
              stat_cols: tuple[str, ...] = ()) -> int:
        """MERGE INTO (upsert, latest-wins on ``key``) as a table op.

        File-pruned rewrite: files whose [min,max] key range cannot
        contain any update key are carried over untouched; only the
        touched files are read, merged (union + row_number window on
        the key — one shuffle), and rewritten.  Updates whose key
        lands in no existing file are inserts and go to the new files
        too.
        """
        spark = updates.sparkSession
        base = self.latest_version()
        if base is None:
            files = self._write_files(updates, stat_cols or (key,))
            return self._commit("merge", files, None)
        scols = tuple(stat_cols) or (key,)
        if key not in scols:
            scols = (key,) + tuple(scols)

        snapshot = self._files(base)
        bounds = updates.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi")).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        touched, untouched = [], []
        for f in snapshot:
            if _may_intersect(f, key, lo, hi):
                touched.append(f)
            else:
                untouched.append(f)

        if touched:
            tdf = self._read_files(spark, touched)
            from pyspark.sql import Window
            # allowMissingColumns = schema evolution: an update batch
            # may add columns (old rows read back NULL) or omit ones
            # it doesn't touch
            merged = (
                updates.withColumn("_src", F.lit(1))
                .unionByName(tdf.withColumn("_src", F.lit(0)),
                             allowMissingColumns=True)
                .withColumn("_rn", F.row_number().over(
                    Window.partitionBy(key).orderBy(F.desc("_src"))))
                .filter(F.col("_rn") == 1)
                .drop("_src", "_rn")
            )
        else:
            merged = updates
        new_files = self._write_files(merged, scols)
        return self._commit("merge", untouched + new_files, base)

    def delete(self, keys: DataFrame, key: str) -> int:
        """DELETE WHERE key IN (...) as a table op — the GDPR /
        right-to-be-forgotten verb. Same file-pruned rewrite shape as
        :meth:`merge`: files whose [min,max] key range cannot contain
        a deleted key carry over untouched; touched files are read,
        anti-joined against the (broadcast) key set, and rewritten
        without the deleted rows. Files left empty by the rewrite are
        simply dropped from the manifest. ``read_changes`` over the
        interval surfaces exactly the deleted rows as
        ``_change_type='delete'``."""
        spark = keys.sparkSession
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        kdf = keys.select(F.col(keys.columns[0]).alias(key)).distinct()
        bounds = kdf.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi")).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        snapshot = self._files(base)
        # recover the snapshot's stat columns so rewritten files keep
        # pruning power
        scols = tuple(
            sorted({c for f in snapshot for c in f.stats})
        ) or (key,)
        touched, untouched = [], []
        for f in snapshot:
            if lo is not None and _may_intersect(f, key, lo, hi):
                touched.append(f)
            else:
                untouched.append(f)
        new_files: list[FileEntry] = []
        if touched:
            tdf = self._read_files(spark, touched)
            kept = tdf.join(F.broadcast(kdf), key, "left_anti")
            new_files = self._write_files(kept, scols)
            new_files = [f for f in new_files if f.rows > 0]
        return self._commit("delete", untouched + new_files, base)

    def merge_additive(self, partials: DataFrame, key_cols: list[str],
                       sum_cols: list[str],
                       prune_col: str | None = None) -> int:
        """Additive MERGE for incremental materialized aggregates
        (continuous-aggregate refresh): ``partials`` holds pre-
        aggregated rows for the new data batch; matching keys in the
        snapshot are combined by SUM, new keys are inserted.

        File-pruned like ``merge``: only snapshot files whose
        ``prune_col`` (default: first key col) min/max range
        intersects the batch are read and rewritten — for a
        time-keyed rollup, a late-arriving batch touches exactly the
        few files covering its time range, while the long history is
        carried over by reference. This is the TimescaleDB
        continuous-aggregate refresh loop expressed as one Spark
        aggregation + an O(1) metadata commit.
        """
        spark = partials.sparkSession
        pcol = prune_col or key_cols[0]
        scols = (pcol,)
        base = self.latest_version()
        if base is None:
            return self._commit(
                "merge_additive", self._write_files(partials, scols), None)

        bounds = partials.agg(
            F.min(pcol).alias("lo"), F.max(pcol).alias("hi")).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        touched, untouched = [], []
        for f in self._files(base):
            (touched if _may_intersect(f, pcol, lo, hi)
             else untouched).append(f)

        if touched:
            tdf = self._read_files(spark, touched)
            combined = (
                tdf.unionByName(partials)
                .groupBy(*key_cols)
                .agg(*[F.sum(c).alias(c) for c in sum_cols])
            )
        else:
            combined = partials
        new_files = self._write_files(combined, scols)
        return self._commit("merge_additive", untouched + new_files, base)

    # -------------------------------------------------------- change feed

    def read_changes(self, spark: SparkSession, from_version: int,
                     to_version: int | None = None) -> DataFrame:
        """Change data feed between two snapshots, derived from the
        MANIFEST DIFF: data files are immutable, so every row-level
        change between versions lives in a file added or removed by
        the interval's commits — untouched files are never scanned,
        i.e. CDF cost is proportional to rewritten bytes, not table
        size. Row-level changes are the multiset difference of the
        added vs removed files' rows (``exceptAll`` both ways), so a
        compaction that only moves rows between files produces an
        EMPTY feed. Updates surface as delete(preimage) +
        insert(postimage) — the consumer-side convention of
        log-structured table formats.
        """
        v_to = self.latest_version() if to_version is None else to_version
        f_from = {f.path for f in self._files(from_version)}
        f_to = {f.path for f in self._files(v_to)}

        def _read(paths: list[str], schema_of: DataFrame | None):
            if paths:
                return footers.read_parquet(
                    spark, *[os.path.join(self.root, p) for p in paths],
                    merge_schema=True)
            assert schema_of is not None
            return schema_of.limit(0)

        added_paths = sorted(f_to - f_from)
        removed_paths = sorted(f_from - f_to)
        added = _read(added_paths, None) if added_paths else None
        removed = _read(removed_paths, added)
        if added is None:
            added = removed.limit(0)
        inserts = added.exceptAll(removed).withColumn(
            "_change_type", F.lit("insert"))
        deletes = removed.exceptAll(added).withColumn(
            "_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    # ------------------------------------------------------------ compact

    def compact(self, spark: SparkSession, target_rows: int,
                stat_cols: tuple[str, ...] = ()) -> int:
        """OPTIMIZE (bin-packing compaction): rewrite the snapshot's
        small files (< ``target_rows`` rows) into ~``target_rows``-row
        files; files already at target are carried by reference and
        never read. The commit is pure reorganization — ``read()``
        before and after returns the identical multiset of rows, and
        ``read_changes`` across a compact commit is EMPTY (the CDF
        diffs row multisets, not files).

        When ``stat_cols`` is given, the rewrite is range-partitioned
        on the first stat column so compacted files keep disjoint
        min/max ranges — compaction *restores* manifest-prune power
        that a long append tail of overlapping small files destroyed.
        At 100 TB this is the nightly OPTIMIZE that keeps a streaming
        ingest's small-file count bounded: cost ∝ small-file bytes,
        untouched data is metadata-only.
        """
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        files = self._files(base)
        small = [f for f in files if f.rows < target_rows]
        keep = [f for f in files if f.rows >= target_rows]
        if len(small) <= 1:
            return base  # nothing to bin-pack
        df = self._read_files(spark, small, merge_schema=True)
        n_out = max(1, -(-sum(f.rows for f in small) // target_rows))
        packed = (df.repartitionByRange(n_out, stat_cols[0])
                  if stat_cols else df.repartition(n_out))
        new = self._write_files(packed, stat_cols)
        return self._commit("compact", keep + new, base)

    # ------------------------------------------------------------- vacuum

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop manifests older than the newest ``keep_last`` and any
        data directory no surviving manifest references."""
        vs = self.versions()
        keep, drop = vs[-keep_last:], vs[:-keep_last]
        live_dirs = set()
        for v in keep:
            for f in self._files(v):
                live_dirs.add(os.path.dirname(f.path))
        removed = []
        for v in drop:
            for f in self._files(v):
                d = os.path.dirname(f.path)
                if d not in live_dirs:
                    abs_d = os.path.join(self.root, d)
                    if os.path.isdir(abs_d):
                        shutil.rmtree(abs_d)
                        removed.append(d)
            os.unlink(self._manifest_path(v))
        return removed


def _footer_file_stats(abs_dir: str, stat_cols: tuple[str, ...]
                       ) -> list[tuple[str, int, dict]] | None:
    """(file name, rows, stats) per written file, from the footers;
    None when any footer cannot give them exactly."""
    files = footers.part_files(abs_dir)
    if files is None:
        return None
    out = []
    for path in files:
        got = footers.file_stats(path, stat_cols)
        if got is None:
            return None
        out.append((os.path.basename(path), *got))
    return out


def _spark_file_stats(spark: SparkSession, abs_dir: str,
                      stat_cols: tuple[str, ...]
                      ) -> list[tuple[str, int, dict]]:
    """(file name, rows, stats) per non-empty written file, from one
    Spark aggregation grouped by ``input_file_name()``."""
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"_min_{c}"))
        aggs.append(F.max(c).alias(f"_max_{c}"))
    per_file = (
        footers.read_parquet(spark, abs_dir)
        .groupBy(F.input_file_name().alias("_file"))
        .agg(*aggs).collect()
    )
    return [
        (os.path.basename(r["_file"].split("://")[-1]), r["_rows"],
         {c: {"min": _json_safe(r[f"_min_{c}"]),
              "max": _json_safe(r[f"_max_{c}"])}
          for c in stat_cols})
        for r in per_file
    ]


def _manifest_entries(commit_dir: str, abs_dir: str,
                      per_file: list[tuple[str, int, dict]]
                      ) -> list[FileEntry]:
    """Manifest entries for a commit's non-empty files. A zero-row
    commit keeps its (empty) part files, without stats, so the
    snapshot still carries the schema."""
    entries = [FileEntry(os.path.join(commit_dir, name), rows, stats)
               for name, rows, stats in per_file if rows]
    if not entries:
        entries = [FileEntry(os.path.join(commit_dir, name), 0, {})
                   for name in sorted(os.listdir(abs_dir))
                   if name.endswith(".parquet")]
    return entries


def _json_safe(v: Any) -> Any:
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _may_intersect(f: FileEntry, col: str, lo: Any, hi: Any) -> bool:
    s = f.stats.get(col)
    if s is None or s["min"] is None or s["max"] is None:
        return True  # no stats -> must assume it matches
    # stats were stored through _json_safe (timestamps -> ISO strings,
    # which sort chronologically); normalize the probe bounds the same
    # way so datetime probes compare against string stats
    lo, hi = _json_safe(lo), _json_safe(hi)
    return not (s["max"] < lo or s["min"] > hi)
