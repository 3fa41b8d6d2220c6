"""etl_daily: the paper's pipeline, ``etl.run_etl``, run as its user
schedules it: a ten-year backfill into an empty warehouse, then daily
reloads, each at the previous ``now`` + 1 day.

The run is one fresh process, as a scheduled job is. Its set-up is the
session start; the backfill that follows runs on the cold JVM (JIT,
codegen) and pays for it, as a scheduled job's first run does, and the
reloads after it run warm. The seed picks the first day, late in the
data's last year.
"""

from __future__ import annotations

import datetime as dt
import random
import statistics
import time
from pathlib import Path

from perfbench import common, tracing

#: the first day: the 5th to 15th of July, August or September 2001, in
#: the data's last year (datagen.SHIP_LAST is 2001-11-04). Late enough
#: that every backfill covers nearly the same history, and no run of
#: reloads crosses a month boundary, so every reload window replaces
#: one partition of 5 to 30 days.
START_MONTHS = (7, 8, 9)
START_DAYS = range(5, 16)
#: three, so the median reload stands when one of them runs slow (the
#: median of two is their mean)
MIN_RELOADS = 3
MAX_RUNS = 16
STAGES = ("accounts_stage", "budgets_stage", "transactions_stage")
INCREMENTAL = ("read_watermark", "overwrite_window_partitions", "write_watermark")
#: the per-layer metrics this workload measures (run.py rejects a traced
#: run that leaves one out)
LAYERS = (
    "session.start_s",
    *(f"etl.{kind}.{st}_s" for kind in ("backfill", "reload") for st in STAGES),
    *(f"etl.reload.{st}.jobs" for st in STAGES),
    *(f"incremental.{name}_s" for name in INCREMENTAL),
    "etl.reload.input_mb", "etl.reload.input_per_window_byte",
    *(f"incremental.partitions_{kind}" for kind in ("replaced", "kept", "cleared")),
    "sinks.files_written", "sinks.output_mb",
    "trace.overhead_s", "trace.op_typical_s",
)
SINK_COLUMNS = (
    "txn_id", "order_id", "amount", "txn_date", "category_id", "merchant_id",
    "quantity", "returnflag", "linestatus", "account_id", "order_date", "order_status",
)


def now_sequence(seed: int, n: int = MAX_RUNS) -> list[dt.datetime]:
    """The ``now`` of each ``run_etl``: a seed-picked day at 06:00, then
    one day later per reload."""
    rng = random.Random(seed)
    first = dt.date(2001, rng.choice(START_MONTHS), rng.choice(START_DAYS))
    start = dt.datetime.combine(first, dt.time(6, 0))
    return [start + dt.timedelta(days=i) for i in range(n)]


def _months(a: dt.date, b: dt.date) -> list[str]:
    out, y, m = [], a.year, a.month
    while (y, m) <= (b.year, b.month):
        out.append(f"{y:04d}-{m:02d}")
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def check_window(manifest: dict, watermark: dt.datetime | None, now: dt.datetime) -> str | None:
    """None when a run touched only the partitions of its reload window."""
    parts = manifest["partitions"]
    if watermark is None:
        if parts["kept"] or parts["cleared"]:
            return f"backfill kept {parts['kept']} cleared {parts['cleared']}"
        return None
    if manifest["window_start"] != watermark.date().isoformat():
        return f"window starts {manifest['window_start']}, watermark {watermark.date()}"
    window = set(_months(watermark.date().replace(day=1), now.date()))
    first = min(window)
    outside = [p for p in parts["replaced"] + parts["cleared"] if p not in window]
    if outside:
        return f"rewrote partitions outside the window: {outside}"
    early = [p for p in parts["kept"] if p >= first]
    if early:
        return f"kept window partitions {early}"
    return None


def _sink_hash_sql(source: str, upto: dt.date) -> str:
    cols = " || '|' || ".join(
        f"coalesce(CAST({'round(amount, 6)' if c == 'amount' else c} AS VARCHAR), '')"
        for c in SINK_COLUMNS
    )
    return (
        f"SELECT count(*) AS n, sum(hash({cols})) AS h FROM ({source}) s "
        f"WHERE txn_date <= DATE '{upto.isoformat()}'"
    )


def check_sink(inputs: str, out: Path, last_now: dt.datetime) -> str | None:
    """None when the transactions sink equals DuckDB's transactions view
    up to the last ``now`` (row count and order-insensitive value hash)
    and the watermark equals the last ``now``."""
    from perfbench import check
    from dieter___etl___monarchmoney_spark.sources.star_model import (
        TRANSACTIONS_WITH_ACCOUNT_SQL,
    )

    con = check.connect(inputs)
    try:
        want = con.execute(_sink_hash_sql(TRANSACTIONS_WITH_ACCOUNT_SQL, last_now.date())).fetchone()
        sink = f"SELECT * FROM read_parquet('{out}/transactions/*/*.parquet', hive_partitioning = true)"
        got = con.execute(_sink_hash_sql(sink, last_now.date())).fetchone()
        wm = con.execute(
            f"SELECT value FROM read_parquet('{out}/control/*.parquet') WHERE key = 'last_run_utc'"
        ).fetchall()
    finally:
        con.close()
    if got != want:
        return f"sink (rows, hash) {got} != DuckDB {want}"
    if wm != [(last_now.isoformat(),)]:
        return f"watermark {wm} != {last_now.isoformat()}"
    return None


# -- the workload ------------------------------------------------------------


def _files_since(root: Path, t0: float) -> int:
    return sum(1 for f in root.rglob("part-*") if f.stat().st_mtime >= t0)


def run(seed: int, seconds: float, traced: bool, work: Path) -> dict:
    from perfbench import datagen
    from dieter___etl___monarchmoney_spark import etl, session

    inputs = work / "inputs"
    datagen.generate(str(inputs), datagen.DATA_SEED)
    out = work / "warehouse"
    nows = now_sequence(seed)
    tracer = tracing.Tracer(enabled=traced)
    if traced:
        tracing.wrap(tracer, session, "get_spark", "session.get_spark")
        for name in STAGES:
            tracing.wrap(tracer, etl, name, f"etl.{name}")
        for name in INCREMENTAL:
            tracing.wrap(tracer, etl, name, f"incremental.{name}")

    t_setup = time.perf_counter()
    spark, _ = common.start_spark()
    tracer.attach(spark.sparkContext)
    setup_s = time.perf_counter() - t_setup
    runs: list[dict] = []
    errors: list[str] = []
    t_reloads = None
    for i, now in enumerate(nows):
        if i > MIN_RELOADS and time.perf_counter() - t_reloads >= seconds:
            break
        if i == 1:
            t_reloads = time.perf_counter()
        rec = {"now": now, "failed": False}
        runs.append(rec)
        wall0 = time.time()
        with tracer.span("etl.run_etl") as sp:
            t0 = time.perf_counter()
            try:
                rec["manifest"] = etl.run_etl(spark, str(inputs), str(out), now=now)
            except Exception as e:  # a failing run is counted, not fatal
                errors.append(f"etl run {i} (now={now.isoformat()}): {type(e).__name__}: {str(e)[:300]}")
                rec["failed"] = True
                continue
            rec["run_s"] = time.perf_counter() - t0
        if traced:
            rec["span"] = sp["id"]
            rec["files_written"] = _files_since(out, wall0)
        bad = check_window(rec["manifest"], nows[i - 1] if i else None, now)
        if bad:
            errors.append(f"etl run {i} (now={now.isoformat()}): {bad}")
            rec["failed"] = True
    rss = common.peak_rss_mb()
    live = common.jvm_live_mb(spark)
    common.stop_spark(spark)

    last_now = runs[-1]["now"]
    bad = check_sink(str(inputs), out, last_now)
    if bad:
        errors.append(f"final sink after now={last_now.isoformat()}: {bad}")
        runs[-1]["failed"] = True

    reloads = [r["run_s"] for r in runs[1:] if "run_s" in r]
    backfill = runs[0].get("run_s", float("nan"))
    p50 = statistics.median(reloads) if reloads else float("nan")
    result = {
        "attempted": len(runs),
        "failed": sum(r["failed"] for r in runs),
        "errors": errors,
        "e2e": {"setup_s": setup_s, "op_typical_s": p50, "heavy_s": backfill, "jvm_live_mb": live},
        "detail": {
            "peak_rss_mb": rss,
            "etl_backfill_s": backfill,
            "etl_reload_p50_s": p50,
            "etl_reloads": len(reloads),
            "etl_sink_mb": common.tree_bytes(out) / 1e6 if out.exists() else 0.0,
            "nows": [r["now"].isoformat() for r in runs],
        },
    }
    if traced:
        result["layers"] = _layers(tracer, work / "eventlogs", [r for r in runs if "span" in r])
        result["spans"] = tracer.spans
    return result


def _layers(tracer: tracing.Tracer, logs: Path, runs: list[dict]) -> dict:
    """Stage and loader self times for the backfill and the mean
    reload, Spark jobs per reload stage, reload scan and write volumes,
    and the reloads' manifest partition counts. A metric whose spans or
    jobs were never recorded is left out, so the run reports it unmeasured."""
    spans = tracer.spans
    jobs = tracing.read_event_log(str(logs))
    counters = tracing.attribute(spans, jobs)
    selfs = tracing.self_times(spans)
    zero = dict.fromkeys(tracing.COUNTERS, 0)

    def under(root: str) -> list[dict]:
        kids = [s for s in spans if s["parent"] == root]
        return kids + [d for k in kids for d in under(k["id"])]

    def count(ss: list[dict], key: str) -> float:
        return sum(counters.get(s["id"], zero)[key] for s in ss)

    per_run = []
    for r in runs:
        named: dict[str, list[dict]] = {}
        for s in under(r["span"]):
            named.setdefault(s["name"], []).append(s)
        per_run.append((r, [r["span"]] + [s["id"] for s in under(r["span"])], named))
    (_, _, back), reloads = per_run[0], per_run[1:]
    out: dict[str, float] = {}

    def put(name: str, vals: list) -> None:
        """The mean of the recorded values, if any was recorded."""
        vals = [v for v in vals if v is not None]
        if vals:
            out[name] = sum(vals) / len(vals)

    def self_s(named: dict, span_name: str) -> float | None:
        ss = named.get(span_name)
        return sum(selfs[s["id"]] for s in ss) if ss else None

    def jobs_in(named: dict, span_name: str) -> float | None:
        ss = named.get(span_name)
        return count(ss + [d for s in ss for d in under(s["id"])], "jobs") if ss and jobs else None

    put("session.start_s", [selfs[s["id"]] for s in spans if s["name"] == "session.get_spark"])
    for st in STAGES:
        put(f"etl.backfill.{st}_s", [self_s(back, f"etl.{st}")])
        put(f"etl.reload.{st}_s", [self_s(named, f"etl.{st}") for _, _, named in reloads])
        put(f"etl.reload.{st}.jobs", [jobs_in(named, f"etl.{st}") for _, _, named in reloads])
    for name in INCREMENTAL:
        put(f"incremental.{name}_s", [self_s(named, f"incremental.{name}") for _, _, named in reloads])
    if jobs:
        scanned = [sum(counters.get(i, zero)["input_bytes"] for i in ids) for _, ids, _ in reloads]
        written = [sum(counters.get(i, zero)["output_bytes"] for i in ids) for _, ids, _ in reloads]
        window = [count(named.get("incremental.overwrite_window_partitions", []), "output_bytes")
                  for _, _, named in reloads]
        put("etl.reload.input_mb", [b / 1e6 for b in scanned])
        put("etl.reload.input_per_window_byte", [a / b for a, b in zip(scanned, window) if b])
        put("sinks.output_mb", [b / 1e6 for b in written])
    for kind in ("replaced", "kept", "cleared"):
        put(f"incremental.partitions_{kind}", [len(r["manifest"]["partitions"][kind]) for r, _, _ in reloads])
    put("sinks.files_written", [r["files_written"] for r, _, _ in reloads])
    out["trace.overhead_s"] = tracer.overhead_s / len(runs)
    out["trace.op_typical_s"] = statistics.median([r["run_s"] for r, _, _ in reloads])
    return out
