"""Transactional table layer: atomicity, time travel, pruned merge."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_data_warehouse_spark.sources import footers
from sql_data_warehouse_spark.sources import txn as txn_mod
from sql_data_warehouse_spark.sources.txn import (
    CommitConflict, TxnTable,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="txn_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_overwrite_roundtrip_and_versions(spark, root):
    tbl = TxnTable(root)
    df1 = spark.createDataFrame([Row(k=i, v=f"a{i}") for i in range(10)])
    df2 = spark.createDataFrame([Row(k=i, v=f"b{i}") for i in range(5)])
    assert tbl.overwrite(df1) == 1
    assert tbl.overwrite(df2) == 2
    assert _rows(tbl.read(spark)) == _rows(df2)
    # time travel reproduces the superseded snapshot exactly
    assert _rows(tbl.read(spark, version=1)) == _rows(df1)
    hist = tbl.history()
    assert [h["version"] for h in hist] == [1, 2]
    assert [h["num_rows"] for h in hist] == [10, 5]


def test_append(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(spark.createDataFrame([Row(k=1)]))
    tbl.append(spark.createDataFrame([Row(k=2)]))
    assert _rows(tbl.read(spark)) == [(1,), (2,)]
    assert _rows(tbl.read(spark, version=1)) == [(1,)]


def test_merge_upsert_latest_wins(spark, root):
    tbl = TxnTable(root)
    base = spark.createDataFrame(
        [Row(k=i, v="old", n=i * 10) for i in range(20)])
    tbl.overwrite(base.repartitionByRange(4, "k"), stat_cols=("k",))
    updates = spark.createDataFrame(
        [Row(k=3, v="new", n=999), Row(k=25, v="ins", n=111)])
    tbl.merge(updates, key="k")
    got = {r["k"]: (r["v"], r["n"]) for r in tbl.read(spark).collect()}
    assert got[3] == ("new", 999)       # matched -> updated
    assert got[25] == ("ins", 111)      # unmatched -> inserted
    assert got[7] == ("old", 70)        # untouched row survives
    assert len(got) == 21


def test_merge_prunes_untouched_files(spark, root):
    tbl = TxnTable(root)
    base = spark.createDataFrame([Row(k=i, v=i) for i in range(1000)])
    tbl.overwrite(base.repartitionByRange(8, "k"), stat_cols=("k",))
    before = {f.path for f in tbl._files(1)}
    # narrow update batch: keys 10..20 live in one range file
    tbl.merge(spark.createDataFrame(
        [Row(k=i, v=-1) for i in range(10, 21)]), key="k")
    after = {f.path for f in tbl._files(2)}
    carried = before & after
    # most range files are untouched and carried over by reference
    assert len(carried) >= 5, (before, after)
    assert before - after, "touched file should have been replaced"
    # and the data is still right
    got = {r["k"]: r["v"] for r in tbl.read(spark).collect()}
    assert got[15] == -1 and got[500] == 500 and len(got) == 1000


def test_read_prune_matches_filter(spark, root):
    tbl = TxnTable(root)
    base = spark.createDataFrame([Row(k=i, v=i % 7) for i in range(1000)])
    tbl.overwrite(base.repartitionByRange(8, "k"), stat_cols=("k",))
    pruned = tbl.read(spark, prune=("k", 100, 150)).filter(
        (F.col("k") >= 100) & (F.col("k") <= 150))
    full = tbl.read(spark).filter((F.col("k") >= 100) & (F.col("k") <= 150))
    assert _rows(pruned) == _rows(full)
    # pruning actually skipped files: the pruned scan reads fewer rows
    n_pruned_input = tbl.read(spark, prune=("k", 100, 150)).count()
    assert n_pruned_input < 1000


def test_commit_conflict_detected(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(spark.createDataFrame([Row(k=1)]))
    files = tbl._files(1)
    # writer A computed against v1; writer B publishes v2 first
    tbl._commit("append", files, expected_base=1)
    with pytest.raises(CommitConflict):
        tbl._commit("append", files, expected_base=1)


def test_vacuum_drops_old_keeps_latest(spark, root):
    tbl = TxnTable(root)
    df1 = spark.createDataFrame([Row(k=1)])
    df2 = spark.createDataFrame([Row(k=2)])
    tbl.overwrite(df1)
    tbl.overwrite(df2)
    removed = tbl.vacuum(keep_last=1)
    assert removed, "v1's data dir should be gone"
    assert tbl.versions() == [2]
    assert _rows(tbl.read(spark)) == [(2,)]
    with pytest.raises(FileNotFoundError):
        tbl._load_manifest(1)


def test_zero_row_commit_keeps_schema(spark, root):
    tbl = TxnTable(root)
    df = spark.createDataFrame([Row(k=1, v="x")]).filter("k > 99")
    tbl.overwrite(df)
    out = tbl.read(spark)
    assert out.count() == 0
    assert out.columns == ["k", "v"]


def test_merge_additive_combines_and_prunes(spark, root):
    tbl = TxnTable(root)
    # v1: range-laid-out (k, n) partials; v2: a batch touching only
    # k in [0, 9] plus one brand-new key
    base = spark.createDataFrame(
        [Row(k=i, n=10) for i in range(100)])
    tbl.merge_additive(base.repartitionByRange(4, "k"),
                       key_cols=["k"], sum_cols=["n"])
    batch = spark.createDataFrame(
        [Row(k=i, n=5) for i in range(10)] + [Row(k=200, n=7)])
    tbl.merge_additive(batch, key_cols=["k"], sum_cols=["n"])
    got = {r["k"]: r["n"] for r in tbl.read(spark).collect()}
    assert got[3] == 15        # 10 + 5 combined by SUM
    assert got[50] == 10       # untouched key unchanged
    assert got[200] == 7       # new key inserted
    assert len(got) == 101


def test_merge_additive_timestamp_prune_col(spark):
    import datetime as dt
    import tempfile as tf
    root2 = tf.mkdtemp(prefix="txn_ts_")
    try:
        tbl = TxnTable(root2)
        t0 = dt.datetime(2024, 1, 1)
        rows = [Row(w=t0 + dt.timedelta(hours=h), n=1) for h in range(48)]
        df = spark.createDataFrame(rows)
        tbl.merge_additive(df.repartitionByRange(4, "w"),
                           key_cols=["w"], sum_cols=["n"], prune_col="w")
        before = {f.path for f in tbl._files(1)}
        late = spark.createDataFrame(
            [Row(w=t0 + dt.timedelta(hours=2), n=3)])
        tbl.merge_additive(late, key_cols=["w"], sum_cols=["n"],
                           prune_col="w")
        after = {f.path for f in tbl._files(2)}
        # late batch touches only the file covering hours ~0-11
        assert len(before & after) >= 2, (before, after)
        got = {r["w"]: r["n"] for r in tbl.read(spark).collect()}
        assert got[t0 + dt.timedelta(hours=2)] == 4
        assert got[t0 + dt.timedelta(hours=30)] == 1
        assert len(got) == 48
    finally:
        import shutil as sh
        sh.rmtree(root2, ignore_errors=True)


def test_merge_schema_evolution(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(
        spark.createDataFrame([Row(k=i, v=f"x{i}") for i in range(10)])
        .repartitionByRange(2, "k"),
        stat_cols=("k",))
    # update batch carries a NEW column; untouched files keep the old
    # schema and read back NULL for it
    tbl.merge(
        spark.createDataFrame([Row(k=1, v="new", w=42)]), key="k")
    out = tbl.read(spark)
    assert set(out.columns) == {"k", "v", "w"}
    got = {r["k"]: (r["v"], r["w"]) for r in out.collect()}
    assert got[1] == ("new", 42)
    assert got[9] == ("x9", None)


def test_python_datasource_reads_snapshot(spark, root):
    from sql_data_warehouse_spark.sources.pyds import (
        register_txn_datasource,
    )

    tbl = TxnTable(root)
    tbl.overwrite(
        spark.createDataFrame(
            [Row(k=i, v=f"a{i}") for i in range(100)]
        ).repartitionByRange(4, "k"),
        stat_cols=("k",))
    tbl.overwrite(
        spark.createDataFrame(
            [Row(k=i, v=f"b{i}") for i in range(50)]
        ).repartitionByRange(4, "k"),
        stat_cols=("k",))

    register_txn_datasource(spark)
    latest = spark.read.format("txn").option("path", root).load()
    assert latest.count() == 50
    assert {r["v"] for r in latest.filter("k = 7").collect()} == {"b7"}

    v1 = (spark.read.format("txn").option("path", root)
          .option("version", "1").load())
    assert v1.count() == 100

    pruned = (spark.read.format("txn").option("path", root)
              .option("prune", "k:0:9").load())
    # pruning happens at partition planning: fewer files scanned
    assert pruned.count() < 50
    assert pruned.filter("k <= 9").count() == 10


def test_python_datasource_schema_evolution(spark, root):
    from sql_data_warehouse_spark.sources.pyds import (
        register_txn_datasource,
    )

    tbl = TxnTable(root)
    tbl.overwrite(
        spark.createDataFrame([Row(k=i, v=f"x{i}") for i in range(10)])
        .repartitionByRange(2, "k"), stat_cols=("k",))
    tbl.merge(spark.createDataFrame([Row(k=1, v="new", w=42)]), key="k")
    register_txn_datasource(spark)
    df = spark.read.format("txn").option("path", root).load()
    assert set(df.columns) == {"k", "v", "w"}
    got = {r["k"]: r["w"] for r in df.collect()}
    # files written pre-evolution read back NULL for the new column
    assert got[1] == 42 and got[9] is None and len(got) == 10


def test_change_feed_append_is_insert_only(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(
        spark.createDataFrame([Row(k=i, v=i * 10) for i in range(10)])
        .repartitionByRange(2, "k"), stat_cols=("k",))
    tbl.append(spark.createDataFrame([Row(k=100, v=1000)]))
    feed = tbl.read_changes(spark, from_version=1)
    rows = feed.collect()
    assert [(r["k"], r["_change_type"]) for r in rows] == [(100, "insert")]


def test_change_feed_merge_emits_pre_and_post_images(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(
        spark.createDataFrame([Row(k=i, v=i * 10) for i in range(10)])
        .repartitionByRange(2, "k"), stat_cols=("k",))
    tbl.merge(spark.createDataFrame([Row(k=3, v=999)]), key="k")
    feed = tbl.read_changes(spark, from_version=1)
    got = {(r["k"], r["v"], r["_change_type"]) for r in feed.collect()}
    # only the updated key surfaces — carried-over rows cancel out
    assert got == {(3, 30, "delete"), (3, 999, "insert")}


def test_change_feed_pure_rewrite_is_empty(spark, root):
    tbl = TxnTable(root)
    df = spark.createDataFrame([Row(k=i, v=i * 10) for i in range(10)])
    tbl.overwrite(df.repartitionByRange(2, "k"), stat_cols=("k",))
    # rewrite the same rows into a different file layout (compaction)
    tbl.overwrite(df.repartitionByRange(3, "k"), stat_cols=("k",))
    assert tbl.read_changes(spark, from_version=1).count() == 0


def test_delete_removes_keys_and_prunes_files(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(
        spark.createDataFrame([Row(k=i, v=i * 10) for i in range(40)])
        .repartitionByRange(4, "k"), stat_cols=("k",))
    n_before = len(tbl._files(tbl.latest_version()))
    tbl.delete(spark.createDataFrame([Row(k=3)]), key="k")
    got = {r["k"] for r in tbl.read(spark).collect()}
    assert got == set(range(40)) - {3}
    # only the one file containing k=3 was rewritten; the rest are
    # carried over by reference
    hist = tbl.history()[-1]
    assert hist["op"] == "delete"
    after = {f.path for f in tbl._files(tbl.latest_version())}
    before = {f.path for f in tbl._files(tbl.latest_version() - 1)}
    assert len(before & after) == n_before - 1
    # change feed over the delete surfaces exactly the deleted row
    feed = tbl.read_changes(spark, from_version=tbl.latest_version() - 1)
    assert {(r["k"], r["_change_type"]) for r in feed.collect()} == {
        (3, "delete")
    }


def test_delete_can_empty_every_row_of_a_file(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(
        spark.createDataFrame([Row(k=i, v=i) for i in range(10)])
        .repartitionByRange(2, "k"), stat_cols=("k",))
    tbl.delete(
        spark.createDataFrame([Row(k=i) for i in range(5)]), key="k")
    kept = sorted(r["k"] for r in tbl.read(spark).collect())
    assert kept == [5, 6, 7, 8, 9]


def test_compact_binpacks_and_preserves_data(spark, root):
    tbl = TxnTable(root)
    base = spark.createDataFrame([Row(k=i, v=i * 3) for i in range(1200)])
    # 4 appends x 3 round-robin files each -> 12 small overlapping files
    for chunk in range(4):
        tbl.append(base.filter(F.col("k") % 4 == chunk).repartition(3),
                   stat_cols=("k",))
    before = tbl._files(tbl.latest_version())
    assert len(before) == 12
    pre_rows = _rows(tbl.read(spark))
    pre_version = tbl.latest_version()

    v = tbl.compact(spark, target_rows=600, stat_cols=("k",))
    after = tbl._files(v)
    # 1200 rows / 600 target -> 2 files
    assert len(after) == 2
    assert _rows(tbl.read(spark)) == pre_rows
    # range partitioning -> disjoint key ranges (prune power restored)
    ranges = sorted((f.stats["k"]["min"], f.stats["k"]["max"]) for f in after)
    assert ranges[0][1] < ranges[1][0]
    # pure reorganization -> empty change feed across the compact commit
    assert tbl.read_changes(spark, pre_version, v).count() == 0
    # old snapshot still time-travels
    assert len(_rows(tbl.read(spark, version=pre_version))) == 1200


def test_compact_noop_when_already_packed(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(spark.createDataFrame([Row(k=i) for i in range(100)])
                  .coalesce(1), stat_cols=("k",))
    v1 = tbl.latest_version()
    assert tbl.compact(spark, target_rows=10) == v1  # all files >= target


def test_version_asof_timestamp_travel(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(spark.createDataFrame([Row(k=1)]))
    t1 = tbl._load_manifest(1)["ts"]
    tbl.append(spark.createDataFrame([Row(k=2)]))
    t2 = tbl._load_manifest(2)["ts"]
    assert tbl.version_asof(t1) == 1
    assert tbl.version_asof((t1 + t2) / 2) == 1
    assert tbl.version_asof(t2 + 1) == 2
    assert _rows(tbl.read(spark, version=tbl.version_asof(t1))) == [(1,)]
    with pytest.raises(ValueError):
        tbl.version_asof(t1 - 10)


def test_concurrent_writers_retry_to_serializable(spark, root):
    """Multi-writer stress (VERDICT r2 #7): four writers commit
    interleaved additive merges against one table, each retrying on
    CommitConflict. A barrier aligns every round so several writers
    compute against the SAME base version — at least one must lose
    the os.link race or the expected_base check and retry. The final
    state must equal the serial application (additive merges commute)
    and the manifest log must be gap-free: optimistic concurrency
    yields a serializable history, never a lost update."""
    import threading

    tbl = TxnTable(root)
    tbl.merge_additive(
        spark.createDataFrame([Row(k=i, n=0) for i in range(10)]),
        key_cols=["k"], sum_cols=["n"],
    )
    n_writers, n_rounds = 4, 3
    barrier = threading.Barrier(n_writers)
    retries: list[int] = []
    errors: list[BaseException] = []

    def writer(wid: int) -> None:
        try:
            for _ in range(n_rounds):
                df = spark.createDataFrame(
                    [Row(k=i, n=1) for i in range(10)])
                barrier.wait(timeout=120)
                while True:
                    try:
                        tbl.merge_additive(df, key_cols=["k"],
                                           sum_cols=["n"])
                        break
                    except CommitConflict:
                        retries.append(wid)
        except BaseException as exc:  # surface thread failures
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert retries, "contended rounds must force at least one retry"
    # Serializability: no lost update — every one of the 12 batches
    # landed exactly once.
    got = {r["k"]: r["n"] for r in tbl.read(spark).collect()}
    assert got == {i: n_writers * n_rounds for i in range(10)}
    # Gap-free, linear history: one version per successful commit.
    n_commits = 1 + n_writers * n_rounds
    assert tbl.versions() == list(range(1, n_commits + 1))
    assert all(h["op"] == "merge_additive" for h in tbl.history())


# ------------------------------------------- footer-built bookkeeping

def _assemble(commit_dir, frames):
    """One commit directory holding the part files of several
    separately written frames (each written as a single file)."""
    os.makedirs(commit_dir)
    for i, df in enumerate(frames):
        tmp = f"{commit_dir}_w{i}"
        df.coalesce(1).write.parquet(tmp)
        for name in os.listdir(tmp):
            if name.endswith(".parquet"):
                os.rename(os.path.join(tmp, name),
                          os.path.join(commit_dir, f"w{i}-{name}"))
        shutil.rmtree(tmp)


def _entries_both_ways(spark, root, commit, cols):
    abs_dir = os.path.join(root, commit)
    footer = txn_mod._footer_file_stats(abs_dir, cols)
    assert footer is not None, "integer stats must come from the footers"
    via_spark = txn_mod._spark_file_stats(spark, abs_dir, cols)

    def entries(per_file):
        return sorted(txn_mod._manifest_entries(commit, abs_dir, per_file),
                      key=lambda e: e.path)

    return entries(footer), entries(via_spark)


@pytest.mark.parametrize("ktype", ["int", "bigint"])
def test_footer_entries_equal_spark_aggregation(spark, root, ktype):
    schema = f"k {ktype}, v string"
    rows = spark.createDataFrame(
        [(i if i % 4 else None, f"v{i}") for i in range(1, 30)], schema)
    frames = [
        rows,
        spark.createDataFrame([(None, "a"), (None, "b")], schema),  # all-NULL keys
        spark.createDataFrame([], schema),                          # 0-row part file
        spark.createDataFrame([(-(2 ** 31), "lo"), (2 ** 31 - 1, "hi")], schema),
    ]
    _assemble(os.path.join(root, "mixed"), frames)
    footer, via_spark = _entries_both_ways(spark, root, "mixed", ("k",))
    assert footer == via_spark
    assert len(footer) == 3  # the 0-row file is not listed
    assert {"min": None, "max": None} in [e.stats["k"] for e in footer]

    # all-empty commit: every (empty) part file is kept, without stats
    _assemble(os.path.join(root, "empty"),
              [spark.createDataFrame([], schema)] * 2)
    footer, via_spark = _entries_both_ways(spark, root, "empty", ("k",))
    assert footer == via_spark
    assert len(footer) == 2 and all(e.rows == 0 and e.stats == {}
                                    for e in footer)


def test_footer_stats_span_row_groups(spark, root):
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = list(range(50, 60)) + [None] * 10 + list(range(-5, 5)) + [7, None]
    path = os.path.join(root, "groups.parquet")
    pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}), path,
                   row_group_size=10)
    assert pq.ParquetFile(path).metadata.num_row_groups == 4
    r = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n"), F.min("k").alias("lo"),
        F.max("k").alias("hi")).collect()[0]
    assert footers.file_stats(path, ("k",)) == (
        r["n"], {"k": {"min": r["lo"], "max": r["hi"]}})
    # a footer without stats cannot answer: the Spark path takes over
    bare = os.path.join(root, "bare.parquet")
    pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}), bare,
                   write_statistics=False)
    assert footers.file_stats(bare, ("k",)) is None
    assert footers.file_stats(bare, ()) == (len(keys), {})


def test_string_and_timestamp_stats_take_spark_path(spark, root):
    import datetime as dt

    df = spark.createDataFrame(
        [Row(k=i, s=f"s{i:03d}", ts=dt.datetime(2024, 1, 1, i % 24))
         for i in range(50)]).repartition(3)
    tbl = TxnTable(root)
    tbl.overwrite(df, stat_cols=("k", "s", "ts"))
    abs_dir = os.path.join(root, os.path.dirname(tbl._files(1)[0].path))
    for col in ("s", "ts"):
        assert txn_mod._footer_file_stats(abs_dir, (col,)) is None
    # the manifest holds what the Spark aggregation returns
    got = {(f.rows, f.stats["s"]["min"], f.stats["ts"]["max"])
           for f in tbl._files(1)}
    per_file = txn_mod._spark_file_stats(spark, abs_dir, ("s", "ts"))
    want = {(rows, st["s"]["min"], st["ts"]["max"])
            for _, rows, st in per_file}
    assert got == want
    assert all(isinstance(ts, str) for _, _, ts in got)  # ISO strings


def test_footer_schema_reads_match_inference(spark, root):
    import datetime as dt

    df = spark.createDataFrame(
        [Row(k=i, v=f"v{i}", ts=dt.datetime(2024, 1, 1, i % 24),
             d=dt.date(2024, 2, 1 + i % 28), x=i / 3, arr=[i, i + 1])
         for i in range(40)]).repartition(4)
    tbl = TxnTable(root)
    tbl.overwrite(df, stat_cols=("k",))
    files = [os.path.join(root, f.path) for f in tbl._files(1)]
    assert len(files) > 1 and footers.spark_schema(files) is not None
    inferred = spark.read.option("mergeSchema", "true").parquet(*files)
    for got in (tbl.read(spark), footers.read_parquet(spark, *files),
                footers.read_parquet(spark, os.path.dirname(files[0]))):
        assert got.schema == inferred.schema
        assert _rows(got) == _rows(inferred)
    pruned = tbl.read(spark, prune=("k", 1000, 2000))
    assert pruned.schema == inferred.schema and pruned.count() == 0


def test_schema_evolved_snapshot_still_merges_schemas(spark, root):
    tbl = TxnTable(root)
    tbl.overwrite(
        spark.createDataFrame([Row(k=i, v=f"x{i}") for i in range(10)])
        .repartitionByRange(2, "k"), stat_cols=("k",))
    tbl.merge(spark.createDataFrame([Row(k=1, v="new", w=42)]), key="k")
    files = [os.path.join(root, f.path) for f in tbl._files(2)]
    assert footers.spark_schema(files) is None  # footers differ
    inferred = spark.read.option("mergeSchema", "true").parquet(*files)
    got = tbl.read(spark)
    assert got.schema == inferred.schema
    assert set(got.columns) == {"k", "v", "w"}
    assert _rows(got.select("k", "v")) == _rows(inferred.select("k", "v"))


def _jobs_in_group(spark, fn):
    sc = spark.sparkContext
    group = f"txn-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_int_key_overwrite_runs_no_job_after_the_write(spark, root):
    df = spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(100)])
    write_jobs = _jobs_in_group(
        spark, lambda: df.write.parquet(os.path.join(root, "plain")))
    overwrite_jobs = _jobs_in_group(
        spark, lambda: TxnTable(os.path.join(root, "t")).overwrite(
            df, stat_cols=("k",)))
    assert write_jobs >= 1
    assert overwrite_jobs == write_jobs
