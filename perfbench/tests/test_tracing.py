"""Event-log parsing and span attribution, against a small recorded log
(see record_eventlog.py for how it was made)."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import tracing

DATA = Path(__file__).resolve().parent / "data"


def _load():
    spans = json.loads((DATA / "spans.json").read_text())
    return spans, tracing.read_event_log(str(DATA / "eventlog.jsonl"))


def test_parser_counts_jobs_stages_tasks():
    _, jobs = _load()
    assert jobs, "recorded log has jobs"
    assert [j["id"] for j in jobs] == sorted(j["id"] for j in jobs)
    for j in jobs:
        assert j["jobs"] == 1
        assert j["tasks"] >= 1 and j["stages"] >= 1
        assert j["run_s"] >= 0 and j["cpu_s"] > 0
    assert sum(j["shuffle_write_bytes"] for j in jobs) > 0


def test_groups_recorded():
    _, jobs = _load()
    groups = {j["group"] for j in jobs}
    assert "pb-0" in groups
    assert None in groups
    assert "probe-thread" in groups


def test_every_job_lands_in_a_span():
    spans, jobs = _load()
    per_span = tracing.attribute(spans, jobs)
    assert None not in per_span
    assert sum(v["jobs"] for v in per_span.values()) == len(jobs)
    # grouped jobs by group; the ungrouped job and the thread's own-group
    # jobs by submission time, to the span open when they were submitted
    assert per_span["pb-0"]["jobs"] == sum(1 for j in jobs if j["group"] == "pb-0")
    assert per_span["pb-1"]["jobs"] >= 1
    assert per_span["pb-2"]["jobs"] == sum(1 for j in jobs if j["group"] == "probe-thread")


def test_job_outside_every_span_is_kept_apart():
    spans, jobs = _load()
    late = dict(jobs[-1], id=10_000, group=None, submit=spans[-1]["end"] + 60)
    per_span = tracing.attribute(spans, jobs + [late])
    assert per_span[None]["jobs"] == 1


def test_self_time_subtracts_children():
    spans = [
        {"id": "a", "name": "outer", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "name": "inner", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "name": "inner", "parent": "a", "start": 5.0, "end": 6.0},
        {"id": "d", "name": "leaf", "parent": "b", "start": 2.0, "end": 3.0},
    ]
    selfs = tracing.self_times(spans)
    assert selfs == {"a": 6.0, "b": 2.0, "c": 1.0, "d": 1.0}


def test_innermost_open_span_wins():
    spans = [
        {"id": "a", "name": "outer", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "name": "inner", "parent": "a", "start": 1.0, "end": 4.0},
    ]
    job = dict.fromkeys(tracing.COUNTERS, 0)
    job.update(id=1, group="elsewhere", submit=2.0, jobs=1)
    assert tracing.attribute(spans, [job])["b"]["jobs"] == 1


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(enabled=False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == [] and t.overhead_s == 0.0
