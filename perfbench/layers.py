"""Per-layer metrics of a traced run, named by the program's modules.

Per-op values are means over every operation instance of the traced
passes; per-pass values are means over those passes of the pass's
total. A metric a workload's operations never exercise reads 0 (for
example ``medallion.*`` on ``olap_interactive``, or the Python-worker
metrics of a pass with no Arrow operator).
"""

from __future__ import annotations

import json
import os
import statistics
from typing import Any

from perfbench import eventlog, harness
from perfbench.workloads import ARTIFACTS

TXN_VERBS = ("overwrite", "merge", "delete", "compact", "read")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(runner: Any, untraced: list[list[dict]], traced: list[list[dict]],
              log_path: str, rss: harness.RssSampler) -> tuple[dict, list[dict]]:
    ops = [r for p in traced for r in p]
    spans = [(r["op"], r["t0"] * 1e3, r["t1"] * 1e3) for r in ops]
    stats = eventlog.attribute(eventlog.read_events(log_path), spans)
    n_pass = len(traced)
    info = runner.info
    m: dict[str, tuple[float, str]] = {}

    setup = info["setup"]
    m["session.start_s"] = (_median(setup["start_s"]), "s")
    m["session.first_start_s"] = (setup["start_s"][0], "s")
    m["session.py_worker_warmup_s"] = (_median(setup["py_warmup_s"]), "s")
    for name in ARTIFACTS:
        m[f"artifacts.{name}.build_s"] = (info["artifacts"].get(name, 0.0), "s")
    m["artifacts.build_s"] = (sum(info["artifacts"].values(), 0.0), "s")

    def sub(kind: str) -> list[float]:
        return [b - a for r in ops for name, a, b in r["sub"] if name == kind]
    m["analytics.builder_s"] = (_mean(sub("builder")), "s")
    m["analytics.action_s"] = (_mean(sub("action")), "s")

    def per_op(attr: str) -> float:
        return _mean([getattr(s, attr) for s in stats])

    def per_pass(attr: str) -> float:
        return sum(getattr(s, attr) for s in stats) / n_pass

    m["spark.jobs_per_op"] = (per_op("jobs"), "count")
    m["spark.stages_per_op"] = (per_op("stages"), "count")
    m["spark.tasks_per_op"] = (per_op("tasks"), "count")
    m["spark.driver_gap_s"] = (_mean([r["wall"] - s.job_busy_s for r, s in zip(ops, stats)]), "s")
    for attr in ("task_s", "task_cpu_s", "gc_s"):
        m[f"spark.{attr}"] = (per_pass(attr), "s")
    wall = sum(p[-1]["t1"] - p[0]["t0"] for p in traced)
    m["spark.core_busy_frac"] = (sum(s.task_s for s in stats) / (wall * harness.cores()), "frac")
    for attr in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{attr}"] = (per_pass(attr), "MB")
    m["spark.peak_exec_mem_mb"] = (max((s.peak_exec_mem_mb for s in stats), default=0.0), "MB")
    jobs = sum(s.jobs for s in stats)
    m["spark.tagged_job_frac"] = (sum(s.tagged_jobs for s in stats) / jobs if jobs else 0.0, "frac")

    m["plan.exchanges_per_op"] = (per_op("exchanges"), "count")
    m["plan.broadcasts_per_op"] = (per_op("broadcasts"), "count")
    m["plan.smj_per_op"] = (per_op("smj"), "count")

    m["operators.python_run_s"] = (per_pass("python_run_s"), "s")
    m["operators.python_start_s"] = (per_pass("python_start_s"), "s")
    m["operators.python_sent_mb"] = (per_pass("python_sent_mb"), "MB")
    m["operators.python_returned_mb"] = (per_pass("python_returned_mb"), "MB")

    m["sources.scan_mb"] = (per_op("scan_mb"), "MB")
    m["sources.scan_files"] = (per_op("scan_files"), "count")
    m["sources.write_mb"] = (per_pass("write_mb"), "MB")
    m["sources.write_files"] = (per_pass("write_files"), "count")
    bronze_mb = (runner.known or {}).get("bronze_bytes", 0) / 1e6
    m["sources.write_amp"] = (per_pass("write_mb") / bronze_mb if bronze_mb else 0.0, "ratio")

    def op_median(name: str) -> float:
        return _median([r["wall"] for r in ops if r["op"] == name])
    for verb in TXN_VERBS:
        m[f"sources.txn.{verb}_s"] = (op_median(f"txn_{verb}"), "s")
    silver_s, gold_s = op_median("load_silver"), op_median("load_gold")
    m["medallion.silver_s"] = (silver_s, "s")
    m["medallion.gold_s"] = (gold_s, "s")
    rows = sum((runner.known or {}).get("bronze_rows", {}).values())
    m["medallion.rows_per_s"] = (rows / (silver_s + gold_s) if silver_s + gold_s else 0.0, "1/s")

    progress = [p for s in stats for p in s.progress]
    st = eventlog.streaming_summary(progress)
    m["streaming.batches"] = (st.get("batches", 0.0) / n_pass, "count")
    for k in ("trigger_ms_p50", "planning_ms", "add_batch_ms", "commit_ms"):
        m[f"streaming.{k}"] = (st.get(k, 0.0), "ms")
    m["streaming.input_rows_per_s"] = (st.get("input_rows_per_s", 0.0), "1/s")

    m["process.peak_rss_mb"] = (rss.peak_total / 1e6, "MB")
    m["process.jvm_rss_mb"] = (rss.peak_jvm / 1e6, "MB")
    m["process.python_rss_mb"] = (rss.peak_python / 1e6, "MB")

    untraced_s = _median([p[-1]["t1"] - p[0]["t0"] for p in untraced])
    traced_s = _median([p[-1]["t1"] - p[0]["t0"] for p in traced])
    m["trace.pass_s_untraced"] = (untraced_s, "s")
    m["trace.pass_s_traced"] = (traced_s, "s")
    m["trace.overhead_s"] = (traced_s - untraced_s, "s")
    return m, _spans(runner.wl.name, traced, stats)


def _spans(workload: str, passes: list[list[dict]], stats: list) -> list[dict]:
    """workload > pass > op > builder/action > Spark job > stage."""
    out: list[dict] = []

    def add(name: str, kind: str, start: float, end: float, parent: int | None) -> int:
        out.append({"id": len(out), "name": name, "kind": kind, "start": start, "end": end,
                    "parent": parent})
        return len(out) - 1

    root = add(workload, "workload", passes[0][0]["t0"], passes[-1][-1]["t1"], None)
    it = iter(stats)
    for i, p in enumerate(passes):
        pid = add(f"pass{i}", "pass", p[0]["t0"], p[-1]["t1"], root)
        for r in p:
            s = next(it)
            oid = add(r["op"], "op", r["t0"], r["t1"], pid)
            subs = [(add(n, n, a, b, oid), a, b) for n, a, b in r["sub"]]
            job_ids = {}
            for jid, a, b in s.job_spans:
                parent = next((sid for sid, sa, sb in subs if sa <= a / 1e3 <= sb), oid)
                job_ids[jid] = add(f"job{jid}", "job", a / 1e3, b / 1e3, parent)
            for sid, jid, a, b in s.stage_spans:
                add(f"stage{sid}", "stage", a / 1e3, b / 1e3, job_ids.get(jid, oid))
    return out


def write_spans(out_dir: str, stem: str, spans: list[dict]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{stem}-spans.json")
    with open(path, "w") as f:
        json.dump(spans, f)
    return path
