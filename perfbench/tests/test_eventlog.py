"""Event-log parser tests on a small recorded log (see record_eventlog.py)."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    events = eventlog.read_events(os.path.join(DATA, "eventlog_small.jsonl"))
    with open(os.path.join(DATA, "eventlog_small_spans.json")) as f:
        spans = [tuple(s) for s in json.load(f)]
    stats = eventlog.attribute(events, spans)
    return dict(zip((s[0] for s in spans), zip(spans, stats)))


def test_job_group_attribution(recorded):
    _, tagged = recorded["tagged_query"]
    assert tagged.jobs >= 1
    assert tagged.tagged_jobs == tagged.jobs
    assert tagged.stages >= 2 and tagged.tasks >= 4  # a map and a reduce stage
    assert tagged.shuffle_write_mb > 0 and tagged.shuffle_read_mb > 0
    assert tagged.exchanges >= 1


def test_untagged_pool_jobs_attributed_by_time(recorded):
    _, pool = recorded["pool_query"]
    assert pool.jobs >= 2
    assert pool.tagged_jobs == 0


def test_driver_gap_is_wall_minus_job_union(recorded):
    for (name, t0, t1), s in recorded.values():
        wall = (t1 - t0) / 1e3
        assert 0 < s.job_busy_s <= wall + 1e-3, name
        spans = [(a, b) for _, a, b in s.job_spans]
        assert s.job_busy_s <= sum(b - a for a, b in spans) / 1e3 + 1e-9


def test_python_worker_metrics(recorded):
    _, py = recorded["python_op"]
    assert py.python_sent_mb > 0
    assert py.python_returned_mb > 0
    assert py.python_run_s > 0
    _, tagged = recorded["tagged_query"]
    assert tagged.python_sent_mb == 0


def test_streaming_progress(recorded):
    _, stream = recorded["stream_op"]
    assert len(stream.progress) >= 1
    summary = eventlog.streaming_summary(stream.progress)
    assert summary["batches"] >= 1
    assert summary["trigger_ms_p50"] > 0
    assert summary["input_rows_per_s"] > 0
    assert eventlog.streaming_summary([]) == {}


def test_union_and_attribution_edges():
    assert eventlog._union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    at = eventlog.Attribution([("b", 200.0, 300.0), ("a", 0.0, 100.0)])
    assert at.find(50) == 0 and at.find(250) == 1
    assert at.find(150) is None and at.find(400) is None
