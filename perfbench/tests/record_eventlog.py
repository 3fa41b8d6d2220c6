"""Record the small event log the tracing tests parse.

    python3 -m perfbench.tests.record_eventlog

Runs three tiny jobs on a local session: one inside span ``pb-0``, one
inside span ``pb-1`` after that span's own group was cleared, and one
from a thread that sets a job group of its own while ``pb-2`` is open.
Writes ``data/eventlog.jsonl`` (the events the parser reads, trimmed to
the fields it uses) and ``data/spans.json``.
"""

from __future__ import annotations

import json
import shutil
import tempfile
import threading
from pathlib import Path

from perfbench import tracing

DATA = Path(__file__).resolve().parent / "data"


def _trim(ev: dict) -> dict | None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get(tracing.JOB_GROUP)
        return {"Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"], "Properties": {tracing.JOB_GROUP: group}}
    if kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        return {"Event": kind, "Stage Info": {k: info[k] for k in (
            "Stage ID", "Number of Tasks", "Submission Time", "Completion Time") if k in info}}
    if kind == "SparkListenerTaskEnd":
        m = ev["Task Metrics"]
        return {"Event": kind, "Stage ID": ev["Stage ID"], "Task Metrics": {
            "Executor Run Time": m["Executor Run Time"],
            "Executor CPU Time": m["Executor CPU Time"],
            "JVM GC Time": m["JVM GC Time"],
            "Memory Bytes Spilled": m["Memory Bytes Spilled"],
            "Disk Bytes Spilled": m["Disk Bytes Spilled"],
            "Input Metrics": m["Input Metrics"],
            "Output Metrics": m["Output Metrics"],
            "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                      m["Shuffle Write Metrics"]["Shuffle Bytes Written"]},
        }}
    return None


def main() -> None:
    from pyspark.sql import SparkSession

    logs = tempfile.mkdtemp()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", Path(logs).as_uri())
        .getOrCreate()
    )
    tracer = tracing.Tracer(enabled=True)
    tracer.attach(spark.sparkContext)
    with tracer.span("grouped"):
        spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    with tracer.span("ungrouped"):
        spark.sparkContext.setLocalProperty(tracing.JOB_GROUP, None)
        spark.range(100).count()
    with tracer.span("threaded"):
        def probe():
            spark.sparkContext.setJobGroup("probe-thread", "own group")
            spark.range(10).count()

        t = threading.Thread(target=probe)
        t.start()
        t.join(60)
    spark.stop()
    DATA.mkdir(exist_ok=True)
    with open(DATA / "eventlog.jsonl", "w") as out:
        for f in tracing._log_files(logs):
            with open(f) as fh:
                for line in fh:
                    ev = _trim(json.loads(line))
                    if ev is not None:
                        out.write(json.dumps(ev, separators=(",", ":")) + "\n")
    (DATA / "spans.json").write_text(json.dumps(tracer.spans, indent=1))
    shutil.rmtree(logs)


if __name__ == "__main__":
    main()
