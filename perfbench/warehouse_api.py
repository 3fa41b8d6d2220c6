"""warehouse_api: ``api.FinanceWarehouse``, the reference's client
surface, driven by one closed-loop client over a warehouse built in
set-up from the generated tables.

Each round runs a fixed mix in seed order: nine reads (paged, filtered
and searched ``get_transactions``, four ``get_transaction_details``
point lookups, ``get_cashflow_summary``, ``get_budgets``) and four
writes (``create_transaction``, ``update_transaction``,
``set_transaction_tags``, ``delete_transaction``, each a whole-table
staged rewrite). A read is timed until its rows are collected.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import time
from pathlib import Path

from perfbench import common, stats, tracing

#: four point lookups per round: with them the cheap reads (paged,
#: searched, point lookups, ~0.15-0.2 s) are two thirds of all reads, so
#: the median read (api_read_p50_s) lies inside that group rather than
#: on its edge with the filtered reads (~0.25 s), where it moved
#: 0.17-0.27 s between runs
READS = (
    "get_transactions_paged", "get_transactions_filtered", "get_transactions_searched",
    *("get_transaction_details",) * 4,
    "get_cashflow_summary", "get_budgets",
)
WRITES = ("create_transaction", "update_transaction", "set_transaction_tags", "delete_transaction")
MIN_ROUNDS = 3
#: the per-layer metrics this workload measures (run.py rejects a traced
#: run that leaves one out)
LAYERS = (
    "session.start_s",
    "api.get_transactions_s", "api.get_transaction_details_s",
    "api.get_cashflow_summary_s", "api.get_budgets_s", *(f"api.{w}_s" for w in WRITES),
    "api.read.rows_scanned_per_row_returned",
    "api.write.bytes_written_per_row_changed",
    "sinks.staged_overwrite_s", "sinks.files_written", "sinks.output_mb",
    "trace.overhead_s", "trace.op_typical_s",
)
TAGS = ("tag-joint", "tag-big", "tag-review", "tag-travel")
SEARCH_WORDS = ("bolt", "gear", "ring", "widget", "anvil")
#: transaction dates of the generated data (datagen.SHIP_FIRST/LAST)
FIRST_MONTH = dt.date(1995, 2, 1)
MONTHS = 80


def _month(rng: random.Random, span: int = 1) -> tuple[str, str]:
    m = rng.randrange(MONTHS - span)
    y, mo = divmod(FIRST_MONTH.month - 1 + m, 12)
    start = dt.date(FIRST_MONTH.year + y, mo + 1, 1)
    y2, mo2 = divmod(start.month - 1 + span, 12)
    end = dt.date(start.year + y2, mo2 + 1, 1) - dt.timedelta(days=1)
    return start.isoformat(), end.isoformat()


def op_sequence(seed: int, rounds: int, ids: list[str], accounts: list[int]) -> list[tuple[str, dict]]:
    """The closed-loop client's calls: ``rounds`` rounds of the fixed
    mix, each shuffled, with seed-chosen arguments. Deletes and
    updates draw from disjoint id pools, so every acknowledged update
    can still be read back at the end."""
    rng = random.Random(seed)
    pool = list(ids)
    rng.shuffle(pool)
    ops: list[tuple[str, dict]] = []
    for r in range(rounds):
        mix = list(READS + WRITES)
        rng.shuffle(mix)
        for kind in mix:
            if kind == "get_transactions_paged":
                args = {"offset": rng.randrange(0, len(ids) // 2), "limit": 100}
            elif kind == "get_transactions_filtered":
                s, e = _month(rng, 3)
                args = {"start_date": s, "end_date": e,
                        "account_ids": rng.sample(accounts, 20), "limit": 100}
            elif kind == "get_transactions_searched":
                args = {"search": rng.choice(SEARCH_WORDS), "limit": 100}
            elif kind == "get_transaction_details":
                args = {"transaction_id": rng.choice(ids)}
            elif kind == "get_cashflow_summary":
                s, e = _month(rng)
                args = {"start_date": s, "end_date": e}
            elif kind == "get_budgets":
                s, e = _month(rng, 3)
                args = {"start_date": s, "end_date": e}
            elif kind == "create_transaction":
                s, _ = _month(rng)
                args = {"date": s, "account_id": rng.choice(accounts),
                        "amount": round(rng.uniform(-500, 500), 2),
                        "merchant_name": f"bench merchant {r}",
                        "category_id": rng.randrange(200), "notes": f"created s{seed} r{r}"}
            elif kind == "update_transaction":
                args = {"transaction_id": pool.pop(), "notes": f"updated s{seed} r{r}"}
            elif kind == "set_transaction_tags":
                args = {"transaction_id": pool.pop(), "tag_ids": rng.sample(TAGS, 2)}
            else:
                args = {"transaction_id": pool.pop(0)}
            ops.append((kind, args))
    return ops


def build_warehouse(spark, inputs: str, root: str):
    """The warehouse a client starts from, built with the program's own
    star model and written through ``FinanceWarehouse.save``."""
    from pyspark.sql import functions as F

    from dieter___etl___monarchmoney_spark.api import FinanceWarehouse
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table
    from dieter___etl___monarchmoney_spark.sources.star_model import transactions_with_account

    wh = FinanceWarehouse(spark, root)
    part = load_table(spark, "part", inputs)
    txns = (
        transactions_with_account(spark, inputs)
        .join(part.select(F.col("p_partkey").alias("category_id"), "p_name", "p_type"), "category_id")
        .select(
            F.col("txn_id").alias("id"),
            F.col("txn_date").alias("date"),
            "amount",
            "account_id",
            "category_id",
            F.concat(F.lit("Merchant#"), F.col("merchant_id").cast("string")).alias("merchant_name"),
            F.col("p_name").alias("plaidName"),
            F.when(F.col("returnflag") == "R", F.lit("returned")).alias("notes"),
            F.when(F.col("quantity") > 45, F.array(F.lit(TAGS[0]))).otherwise(
                F.array().cast("array<string>")).alias("tag_ids"),
            F.lit(None).cast("string").alias("parent_id"),
            (F.col("quantity") < 3).alias("isRecurring"),
            F.lit(False).alias("hideFromReports"),
        )
    )
    wh.save("transactions", txns)
    wh.save("tags", spark.createDataFrame(
        [(t, t[4:], "blue", 0) for t in TAGS], ["id", "name", "color", "transactionCount"]))
    monthly = (
        txns.groupBy("category_id", F.trunc("date", "month").alias("Month"))
        .agg(F.sum("amount").alias("ActualAmount"))
        .join(part.select(F.col("p_partkey").alias("category_id"),
                          F.col("p_name").alias("CategoryName"),
                          F.col("p_type").alias("CategoryGroupName")), "category_id")
        .select("category_id", "CategoryName", "CategoryGroupName",
                F.lit("expense").alias("GroupType"), "Month",
                F.lit(1000.0).alias("PlannedAmount"), "ActualAmount",
                F.lit(0.0).alias("RolloverAmount"))
    )
    wh.save("budgets", monthly)
    return wh


def _call(wh, kind: str, args: dict):
    """One client call; reads return their collected rows."""
    if kind.startswith("get_transactions_"):
        return wh.get_transactions(**args).collect()
    if kind in WRITES:
        return getattr(wh, kind)(**args)
    return getattr(wh, kind)(**args).collect()


def _method(kind: str) -> str:
    return "get_transactions" if kind.startswith("get_transactions_") else kind


def run(seed: int, seconds: float, traced: bool, work: Path) -> dict:
    from perfbench import datagen
    from dieter___etl___monarchmoney_spark import session
    from dieter___etl___monarchmoney_spark.sources import sinks

    inputs = work / "inputs"
    datagen.generate(str(inputs), datagen.DATA_SEED)
    root, pristine = work / "warehouse", work / "pristine"
    tracer = tracing.Tracer(enabled=traced)
    if traced:
        tracing.wrap(tracer, session, "get_spark", "session.get_spark")
        tracing.wrap(tracer, sinks, "staged_overwrite", "sinks.staged_overwrite")

    t_setup = time.perf_counter()
    spark, start_s = common.start_spark()
    tracer.attach(spark.sparkContext)
    t_build = time.perf_counter()
    wh = build_warehouse(spark, str(inputs), str(root))
    txns = wh.table("transactions")
    ids = sorted(r[0] for r in txns.select("id").collect())
    accounts = sorted(r[0] for r in txns.select("account_id").distinct().collect())
    shutil.copytree(root, pristine)
    t_warm = time.perf_counter()
    build_s = t_warm - t_build
    for kind, args in op_sequence(seed + 1_000_003, 1, ids, accounts):
        _call(wh, kind, args)
    warm_s = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - t_setup - _restore(root, pristine)

    # timed rounds from the pristine state until --seconds is used
    n_initial = len(ids)
    ops = op_sequence(seed, 64, ids, accounts)
    per_round = len(READS) + len(WRITES)
    lat: dict[str, list[float]] = {"read": [], "write": []}
    by_kind: dict[str, list[float]] = {}
    done: list[tuple[str, dict, object]] = []
    errors: list[str] = []
    failed = 0
    calls: list[dict] = []
    t_meas = time.perf_counter()
    for i, (kind, args) in enumerate(ops):
        if i >= MIN_ROUNDS * per_round and i % per_round == 0 \
                and time.perf_counter() - t_meas >= seconds:
            break
        wall0 = time.time()
        with tracer.span(f"api.{_method(kind)}", kind=kind) as sp:
            t0 = time.perf_counter()
            try:
                out = _call(wh, kind, args)
            except Exception as e:  # a failing call is counted, not fatal
                errors.append(f"{kind}{args}: {type(e).__name__}: {str(e)[:200]}")
                failed += 1
                continue
            elapsed = time.perf_counter() - t0
        lat["write" if kind in WRITES else "read"].append(elapsed)
        by_kind.setdefault(kind, []).append(elapsed)
        done.append((kind, args, out))
        if traced:
            calls.append({"span": sp["id"], "kind": kind,
                          "rows": len(out) if isinstance(out, list) else 0,
                          "files": _files_since(root, wall0) if kind in WRITES else 0})
    attempted = len(done) + failed

    bad = _check(wh, done, n_initial)
    errors.extend(bad)
    failed += len(bad)
    rss = common.peak_rss_mb()
    live = common.jvm_live_mb(spark)
    common.stop_spark(spark)

    reads, writes = lat["read"], lat["write"]
    detail = {
        "peak_rss_mb": rss,
        "api_read_p50_s": stats.median(reads),
        "api_write_p50_s": stats.median(writes),
        "api_read_typical_s": stats.typical({k: v for k, v in by_kind.items() if k not in WRITES}),
        "api_write_typical_s": stats.typical({k: v for k, v in by_kind.items() if k in WRITES}),
        "per_kind_s": {k: stats.median(v) for k, v in by_kind.items()},
        "reads": len(reads),
        "writes": len(writes),
        "setup_session_s": start_s,
        "setup_build_s": build_s,
        "setup_warmup_s": warm_s,
    }
    if stats.reportable(len(reads), 90):
        detail["api_read_p90_s"] = stats.percentile(reads, 90)
    result = {
        "attempted": attempted,
        "failed": min(failed, attempted),
        "errors": errors,
        "e2e": {
            "setup_s": setup_s,
            "op_typical_s": detail["api_read_typical_s"],
            "heavy_s": detail["api_write_typical_s"],
            "jvm_live_mb": live,
        },
        "detail": detail,
    }
    if traced:
        result["layers"] = _layers(tracer, work / "eventlogs", calls, detail)
        result["spans"] = tracer.spans
    return result


def _restore(root: Path, pristine: Path) -> float:
    """Put the warehouse back to its set-up state; returns the seconds
    spent, which no metric counts."""
    t0 = time.perf_counter()
    shutil.rmtree(root)
    shutil.copytree(pristine, root)
    return time.perf_counter() - t0


def _files_since(root: Path, t0: float) -> int:
    return sum(1 for f in root.rglob("part-*") if f.stat().st_mtime >= t0)


def _check(wh, done: list, n_initial: int) -> list[str]:
    """Every acknowledged create, update, tag set and delete is visible
    in the final table, whose row count is initial + creates - deletes."""
    rows = {r["id"]: r for r in wh.table("transactions").select(
        "id", "amount", "notes", "tag_ids").collect()}
    errors = []
    creates = deletes = 0
    for kind, args, out in done:
        if kind == "create_transaction":
            creates += 1
            r = rows.get(out)
            if r is None or r["amount"] != round(args["amount"], 2):
                errors.append(f"create_transaction {out}: not read back ({r})")
        elif kind == "update_transaction":
            r = rows.get(args["transaction_id"])
            if r is None or r["notes"] != args["notes"]:
                errors.append(f"update_transaction {args['transaction_id']}: not read back ({r})")
        elif kind == "set_transaction_tags":
            r = rows.get(args["transaction_id"])
            if r is None or list(r["tag_ids"]) != list(args["tag_ids"]):
                errors.append(f"set_transaction_tags {args['transaction_id']}: not read back ({r})")
        elif kind == "delete_transaction":
            deletes += int(bool(out))
            if not out or args["transaction_id"] in rows:
                errors.append(f"delete_transaction {args['transaction_id']}: returned {out}, still present")
    want = n_initial + creates - deletes
    if len(rows) != want:
        errors.append(f"row count {len(rows)} != {n_initial} + {creates} - {deletes}")
    return errors


def _layers(tracer: tracing.Tracer, logs: Path, calls: list[dict], detail: dict) -> dict:
    """Self time per API method, read and write volumes per call and
    the staged rewrite's self time per write. A metric whose spans or
    jobs were never recorded is left out, so the run reports it unmeasured."""
    spans = tracer.spans
    jobs = tracing.read_event_log(str(logs))
    counters = tracing.attribute(spans, jobs)
    selfs = tracing.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    zero = dict.fromkeys(tracing.COUNTERS, 0)

    def subtree(sid: str, key: str) -> float:
        out = counters.get(sid, zero)[key]
        for s in spans:
            if s["parent"] == sid:
                out += subtree(s["id"], key)
        return out

    out: dict[str, float] = {}
    per_method: dict[str, list[float]] = {}
    for c in calls:
        per_method.setdefault(by_id[c["span"]]["name"], []).append(selfs[c["span"]])
    for name, vals in per_method.items():
        out[f"{name}_s"] = sum(vals) / len(vals)
    reads = [c for c in calls if c["kind"] not in WRITES]
    writes = [c for c in calls if c["kind"] in WRITES]
    if jobs and reads:
        scanned = sum(subtree(c["span"], "input_rows") for c in reads)
        returned = sum(c["rows"] for c in reads)
        out["api.read.rows_scanned_per_row_returned"] = scanned / max(returned, 1)
    if writes:
        if jobs:
            written = sum(subtree(c["span"], "output_bytes") for c in writes)
            out["api.write.bytes_written_per_row_changed"] = written / len(writes)
            out["sinks.output_mb"] = written / len(writes) / 1e6
        write_ids = {c["span"] for c in writes}
        overwrite = [selfs[s["id"]] for s in spans
                     if s["name"] == "sinks.staged_overwrite" and s["parent"] in write_ids]
        if overwrite:
            out["sinks.staged_overwrite_s"] = sum(overwrite) / len(writes)
        out["sinks.files_written"] = sum(c["files"] for c in writes) / len(writes)
    start = [selfs[s["id"]] for s in spans if s["name"] == "session.get_spark"]
    if start:
        out["session.start_s"] = start[0]
    out["trace.overhead_s"] = tracer.overhead_s / max(len(calls), 1)
    out["trace.op_typical_s"] = detail["api_read_typical_s"]
    return out
