"""Stdlib parser for Spark's uncompressed JSON event log.

Turns the log of a traced run into per-operation facts: the jobs,
stages and tasks an operation ran, their task time, CPU, GC, shuffle,
spill and peak execution memory, the driver-side gap (operation wall
minus the union of its job intervals), the shape of each SQL plan
(exchanges, broadcasts, sort-merge joins), the SQL metrics of the
Python/Arrow operators, scan and write volumes, and streaming
micro-batch progress.

Attribution: the benchmark tags each operation with
``setJobGroup(op_name)``, but jobs submitted from threads the program
starts itself (the medallion loader's thread pool, a streaming query's
execution thread) do not inherit the group. Operations run one after
another from one client, so a job or SQL execution belongs to the
operation whose wall interval contains its start time; the job group,
when present, must agree with it and is counted as ``tagged``.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_PY_NODE = ("Python", "Pandas", "Arrow")
_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_returned_mb",
}


@dataclass
class OpStats:
    """Everything the log says about one operation instance."""

    jobs: int = 0
    tagged_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0
    scan_mb: float = 0.0
    scan_files: int = 0
    write_mb: float = 0.0
    write_files: int = 0
    exchanges: int = 0
    broadcasts: int = 0
    smj: int = 0
    python_run_s: float = 0.0
    python_start_s: float = 0.0
    python_sent_mb: float = 0.0
    python_returned_mb: float = 0.0
    job_busy_s: float = 0.0  # union of the op's job intervals
    job_spans: list = field(default_factory=list)  # (job_id, start_ms, end_ms)
    stage_spans: list = field(default_factory=list)  # (stage_id, job_id, start_ms, end_ms)
    progress: list = field(default_factory=list)


def read_events(path: str) -> list[dict]:
    """All events of one log file; a torn last line is skipped."""
    out = []
    with open(path) as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                continue
    return out


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def _metric_value(metric_type: str, raw: float) -> float:
    """SQL metric in seconds (timings) or MB (sizes)."""
    if metric_type == "nsTiming":
        return raw / 1e9
    if metric_type == "timing":
        return raw / 1e3
    if metric_type == "size":
        return raw / 1e6
    return raw


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total / 1e3


def _iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


class Attribution:
    """Maps a wall-clock instant (epoch ms) to the op span containing it."""

    def __init__(self, spans: list[tuple[str, float, float]]):
        self.spans = sorted(spans, key=lambda s: s[1])
        self.starts = [s[1] for s in self.spans]

    def find(self, t_ms: float) -> int | None:
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms <= self.spans[i][2]:
            return i
        return None


def attribute(events: list[dict], spans: list[tuple[str, float, float]]) -> list[OpStats]:
    """Per-op facts, one ``OpStats`` per span ``(op_name, t0_ms, t1_ms)``."""
    at = Attribution(spans)
    stats = [OpStats() for _ in at.spans]
    stage_op: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    job_op: dict[int, int] = {}
    job_start: dict[int, float] = {}
    exec_op: dict[int, int] = {}
    final_plan: dict[int, dict] = {}
    accum_meta: dict[int, tuple[str, str, str]] = {}

    def learn_plan(exec_id: int, plan: dict) -> None:
        final_plan[exec_id] = plan
        for node in _walk(plan):
            for m in node.get("metrics", []):
                accum_meta[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])

    def add_accum(op: int | None, accum_id: int, raw: float) -> None:
        meta = accum_meta.get(accum_id)
        if op is None or meta is None:
            return
        node, name, mtype = meta
        s = stats[op]
        if any(k in node for k in _PY_NODE) and name in _PY_METRICS:
            attr = _PY_METRICS[name]
            setattr(s, attr, getattr(s, attr) + _metric_value(mtype, raw))
        elif node.startswith("Scan") and name == "number of files read":
            s.scan_files += int(raw)
        elif name == "number of written files":
            s.write_files += int(raw)

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            op = at.find(e["Submission Time"])
            if op is None:
                continue
            jid = e["Job ID"]
            job_op[jid] = op
            job_start[jid] = e["Submission Time"]
            s = stats[op]
            s.jobs += 1
            if (e.get("Properties") or {}).get("spark.jobGroup.id") == at.spans[op][0]:
                s.tagged_jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_op.setdefault(sid, op)
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_op:
                stats[job_op[jid]].job_spans.append((jid, job_start[jid], e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            op = stage_op.get(info["Stage ID"])
            if op is not None and "Submission Time" in info:
                stats[op].stages += 1
                stats[op].stage_spans.append((info["Stage ID"], stage_job[info["Stage ID"]],
                                              info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e["Stage ID"])
            if op is None:
                continue
            s = stats[op]
            m = e.get("Task Metrics") or {}
            s.tasks += 1
            s.task_s += m.get("Executor Run Time", 0) / 1e3
            s.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
            s.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            s.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
            s.peak_exec_mem_mb = max(s.peak_exec_mem_mb, m.get("Peak Execution Memory", 0) / 1e6)
            s.scan_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
            s.write_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                try:
                    add_accum(op, acc["ID"], float(acc["Update"]))
                except (KeyError, TypeError, ValueError):
                    continue
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            eid = int(e["executionId"])
            op = at.find(float(e["time"]))
            if op is not None:
                exec_op[eid] = op
            learn_plan(eid, e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            learn_plan(int(e["executionId"]), e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            op = exec_op.get(int(e["executionId"]))
            for accum_id, value in e.get("accumUpdates", []):
                add_accum(op, accum_id, float(value))
        elif kind == _PROGRESS:
            p = e["progress"]
            op = at.find(_iso_ms(p["timestamp"]))
            if op is not None:
                stats[op].progress.append(p)

    for eid, op in exec_op.items():
        for node in _walk(final_plan.get(eid, {})):
            name = node.get("nodeName", "")
            s = stats[op]
            s.exchanges += name == "Exchange"
            s.broadcasts += name == "BroadcastExchange"
            s.smj += name == "SortMergeJoin"
    for s in stats:
        s.job_busy_s = _union_s([(a, b) for _, a, b in s.job_spans])
    return stats


def streaming_summary(progress: list[dict]) -> dict[str, float]:
    """Micro-batch phase timings from ``QueryProgressEvent``s."""
    if not progress:
        return {}
    dur = [p.get("durationMs") or {} for p in progress]

    med = statistics.median
    rows = sum(src.get("numInputRows", 0) for p in progress for src in p.get("sources", []))
    trigger_ms = sum(d.get("triggerExecution", 0) for d in dur)
    return {
        "batches": float(len(progress)),
        "trigger_ms_p50": med([d.get("triggerExecution", 0) for d in dur]),
        "planning_ms": med([d.get("queryPlanning", 0) for d in dur]),
        "add_batch_ms": med([d.get("addBatch", 0) for d in dur]),
        "commit_ms": med([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]),
        "input_rows_per_s": rows / (trigger_ms / 1e3) if trigger_ms else 0.0,
    }
