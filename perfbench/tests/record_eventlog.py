#!/usr/bin/env python3
"""Re-record the small Spark event log the parser tests read.

    python3 perfbench/tests/record_eventlog.py

Runs four operations in a ``local[2]`` session with the event log on
and writes ``perfbench/tests/data/eventlog_small.jsonl`` plus the
operations' wall spans (``eventlog_small_spans.json``):

- ``tagged_query``: a shuffle aggregation under ``setJobGroup``;
- ``pool_query``: two writes submitted from a thread pool, whose jobs
  carry no job group (the medallion loader's pattern);
- ``python_op``: a ``mapInPandas`` stage (Python-worker SQL metrics);
- ``stream_op``: one ``availableNow`` micro-batch over a parquet
  directory (a ``QueryProgressEvent``).

Events the parser ignores are dropped and local paths are scrubbed so
the recording is small and host-neutral.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

def _slim(plan: dict) -> dict:
    return {"nodeName": plan["nodeName"], "metrics": plan.get("metrics", []),
            "children": [_slim(c) for c in plan.get("children", [])]}


KEEP = ("JobStart", "JobEnd", "StageCompleted", "TaskEnd", "SQLExecutionStart",
        "SQLAdaptiveExecutionUpdate", "DriverAccumUpdates", "QueryProgressEvent")


def record(out_dir: str) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="perfbench-eventlog-")
    ev_dir = os.path.join(work, "events")
    os.makedirs(ev_dir)
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-eventlog")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", ev_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    spans = []

    def op(name: str, fn, tag: bool = True) -> None:
        if tag:
            sc.setJobGroup(name, name)
        t0 = time.time() * 1e3
        fn()
        spans.append((name, t0, time.time() * 1e3))
        sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(0.3)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def pooled() -> None:
        dfs = [spark.range(0, 20_000, 1, 4).groupBy((F.col("id") % k).alias("k")).count()
               for k in (5, 7)]
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(noop, dfs))

    def ident(batches):
        yield from batches

    src = os.path.join(work, "stream_src")
    spark.range(0, 1000, 1, 2).withColumn("v", F.col("id") % 10).write.parquet(src)

    def stream() -> None:
        q = (spark.readStream.schema("id long, v long").parquet(src)
             .groupBy("v").count().writeStream.outputMode("complete")
             .format("memory").queryName("perfbench_stream")
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    op("tagged_query", lambda: noop(
        spark.range(0, 50_000, 1, 4).groupBy((F.col("id") % 13).alias("k")).count()))
    op("pool_query", pooled, tag=False)
    op("python_op", lambda: noop(spark.range(0, 5_000, 1, 2).mapInPandas(ident, "id long")))
    op("stream_op", stream)
    spark.stop()

    (log,) = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
    root = os.path.dirname(os.path.dirname(HERE))
    scrub = re.compile("(" + re.escape(work) + "|" + re.escape(root) + r")[^\s\"',\]\)]*")
    os.makedirs(out_dir, exist_ok=True)
    with open(log) as f, open(os.path.join(out_dir, "eventlog_small.jsonl"), "w") as out:
        for line in f:
            e = json.loads(line)
            if not e["Event"].endswith(KEEP):
                continue
            for k in ("physicalPlanDescription", "details", "Stage Infos", "modifiedConfigs",
                      "Task Executor Metrics"):
                e.pop(k, None)
            if "Task Info" in e:
                e["Task Info"]["Accumulables"] = [
                    {"ID": a["ID"], "Update": a["Update"]} for a in e["Task Info"]["Accumulables"]]
            if "sparkPlanInfo" in e:
                e["sparkPlanInfo"] = _slim(e["sparkPlanInfo"])
            if "Properties" in e:
                e["Properties"] = {k: v for k, v in e["Properties"].items()
                                   if k == "spark.jobGroup.id"}
            info = e.get("Stage Info")
            if info:
                e["Stage Info"] = {k: info[k] for k in
                                   ("Stage ID", "Submission Time", "Completion Time") if k in info}
            out.write(scrub.sub("<work>", json.dumps(e)) + "\n")
    with open(os.path.join(out_dir, "eventlog_small_spans.json"), "w") as f:
        json.dump(spans, f)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    record(os.path.join(HERE, "data"))
