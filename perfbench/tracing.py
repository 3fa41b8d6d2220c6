"""Spans around calls into the program's layers, and Spark counters per
span from the event log.

A :class:`Tracer` keeps spans in memory. Each span sets the Spark job
group to its own id while it is open and restores the parent's on
exit, so every job the call launches carries the span id. Jobs whose
group is not a span id (a thread that set its own group, or no group
at all) are attributed to the innermost span open at their submission
time, so no job is dropped.

:func:`wrap` replaces a module attribute with a span-opening wrapper:
the traced run records spans around the program's public functions
without changing the program.

:func:`read_event_log` parses a Spark event log written with
``spark.eventLog.compress=false`` (a plain JSON-lines file, or Spark 4's
``eventlog_v2_*`` directory of such files) into per-job counters, and
:func:`attribute` sums them per span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

JOB_GROUP = "spark.jobGroup.id"
#: span ids are ``pb-0``, ``pb-1``, ... in opening order
SPAN_PREFIX = "pb"
COUNTERS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "input_bytes", "input_rows", "shuffle_write_bytes", "spill_bytes",
    "output_bytes",
)


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    touches no Spark state."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._sc = None
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(JOB_GROUP, group)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = f"{SPAN_PREFIX}-{len(self.spans)}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t1


def wrap(tracer: Tracer, module, attr: str, span_name: str) -> None:
    """Replace ``module.attr`` (looked up at call time by its callers)
    with a wrapper that runs it in span ``span_name``."""
    fn = getattr(module, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    setattr(module, attr, traced)


def _log_files(path: str) -> list[str]:
    """The JSON-lines files of one event log (file or v2 directory),
    or of every log under a directory of logs."""
    if os.path.isfile(path):
        return [path]
    files = sorted(
        glob.glob(os.path.join(path, "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if files:
        return files
    out: list[str] = []
    for child in sorted(os.listdir(path)):
        if not child.startswith("."):
            out.extend(_log_files(os.path.join(path, child)))
    return out


_WANTED = (
    b'"Event":"SparkListenerJobStart"',
    b'"Event":"SparkListenerTaskEnd"',
    b'"Event":"SparkListenerStageCompleted"',
)


def read_event_log(path: str) -> list[dict]:
    """Per-job counters from an uncompressed Spark event log.

    Each job: ``id``, ``group`` (job group or None), ``submit`` (epoch
    seconds) and the :data:`COUNTERS`. A stage counts toward the first
    job that lists it, which is the job that ran it (later jobs that
    reuse its shuffle output list it as skipped)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for f in _log_files(path):
        with open(f, "rb") as fh:
            for line in fh:
                if not any(w in line[:60] for w in _WANTED):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job = {"id": jid, "group": (ev.get("Properties") or {}).get(JOB_GROUP),
                           "submit": ev["Submission Time"] / 1000.0}
                    job.update({c: 0 for c in COUNTERS})
                    job["jobs"] = 1
                    jobs[jid] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None and "Submission Time" in ev["Stage Info"]:
                        jobs[jid]["stages"] += 1
                else:
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["run_s"] += m["Executor Run Time"] / 1000.0
                    j["cpu_s"] += m["Executor CPU Time"] / 1e9
                    j["gc_s"] += m["JVM GC Time"] / 1000.0
                    j["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    j["input_rows"] += m["Input Metrics"]["Records Read"]
                    j["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    j["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    j["output_bytes"] += m["Output Metrics"]["Bytes Written"]
    return [jobs[k] for k in sorted(jobs)]


def attribute(spans: list[dict], jobs: list[dict]) -> dict[str | None, dict]:
    """Sum job counters per span id (self counters: a job counts only
    toward the span it ran in, never toward that span's ancestors).

    A job whose group is a span id belongs to that span. Any other job
    belongs to the innermost span whose interval contains its
    submission time, or to ``None`` when no span was open."""
    by_id = {s["id"]: s for s in spans}
    depth: dict[str, int] = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    out: dict[str | None, dict] = {}
    for job in jobs:
        sid = job["group"] if job["group"] in by_id else None
        if sid is None:
            open_ = [s for s in spans if s["start"] <= job["submit"] <= s.get("end", float("inf"))]
            if open_:
                sid = max(open_, key=lambda s: (depth[s["id"]], s["start"]))["id"]
        acc = out.setdefault(sid, {c: 0 for c in COUNTERS})
        for c in COUNTERS:
            acc[c] += job[c]
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of it that child spans cover
    (children of one span run one after another in this benchmark, so
    their union is their sum)."""
    child_total: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] = child_total.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child_total.get(s["id"], 0.0) for s in spans}
