"""query_mix: a fixed, named set of registered queries, each timed until
fully materialised through a ``noop`` sink, in one warm session.

The set (:data:`QUERY_SET`) is a sample of modules' cheapest queries
(the per-job and planning-bound bulk), the queries whose ``count()``
under-measures (full materialisation matters) and a sample of the heavy
tail. The seed sets only the order of each pass. Set-up runs one
untimed pass that collects every result and checks it against the
registry's DuckDB oracle; the timed passes then run on a warm session.
"""

from __future__ import annotations

import random
import statistics
import time
from pathlib import Path

from perfbench import check, common, stats, tracing

#: count() prunes projected work in these; a full result does not
COUNT_PRUNED = (
    "bootstrap_mean_ci",
    "feature_hashing_vectors",
    "holt_linear_forecast",
    "order_lines_hof_profile",
    "text_language_id",
)
#: heavy tail: similarity/dedup and streaming. The budget pipeline is
#: timed in etl_daily's budgets stage; ann_recall_audit (about a third
#: of this workload's query time on its own) is left out to fit the run
#: budget, and its probe threads' job attribution is covered by
#: tests/test_tracing.py on a recorded log of such a thread.
HEAVY = (
    "fuzzy_entity_resolution",
    "streaming_event_dedup",
)
#: the overhead-bound bulk: the ten cheapest of one-query-per-module
#: picks (each under 0.35 s cold at scale 1 on a 4-core box; the run
#: budget leaves no room for more modules)
MODULE_SAMPLE = (
    "forecast_revenue_change", "parameterized_sql_filter", "part_metrics_unpivot",
    "promo_revenue_share", "row_number_pagination", "sampled_revenue_estimate",
    "soft_delete_toggle", "text_token_stats", "train_val_test_split",
    "transactions_tag_filtered_page",
)
QUERY_SET = tuple(sorted(set(MODULE_SAMPLE + COUNT_PRUNED + HEAVY)))
#: the fewest timed passes in a run; each query's latency is its median over them,
#: and the set's total is the median pass total
MIN_PASSES = 2
#: the per-layer metrics this workload measures (run.py rejects a traced
#: run that leaves one out)
LAYERS = (
    "session.start_s", "registry.load_s",
    "queries.build_s", "queries.build_jobs", "queries.action_s",
    "queries.jobs", "queries.stages", "queries.tasks",
    "queries.executor_run_s", "queries.executor_cpu_s", "queries.executor_gc_s",
    "queries.shuffle_write_mb", "queries.input_mb", "queries.spill_mb",
    "trace.overhead_s", "trace.op_typical_s",
)


def order(seed: int, pass_no: int = 0) -> list[str]:
    """The query order of one pass; each pass of a run has its own, so
    no query always follows the same neighbour."""
    names = list(QUERY_SET)
    random.Random(seed * 1_000 + pass_no).shuffle(names)
    return names


def run(seed: int, seconds: float, traced: bool, work: Path) -> dict:
    from perfbench import datagen

    inputs = work / "inputs"
    datagen.generate(str(inputs), datagen.DATA_SEED)
    oracles = check.Oracles(check.connect(str(inputs)))
    tracer = tracing.Tracer(enabled=traced)

    t_setup = time.perf_counter()
    from dieter___etl___monarchmoney_spark import registry, session

    if traced:
        tracing.wrap(tracer, session, "get_spark", "session.get_spark")
        tracing.wrap(tracer, registry, "load", "registry.load")
    spark, _ = common.start_spark()
    tracer.attach(spark.sparkContext)
    t0 = time.perf_counter()
    queries, oracle_sql = registry.load()
    load_s = time.perf_counter() - t0
    missing = [n for n in QUERY_SET if n not in queries]
    errors = [f"query {n}: not registered" for n in missing]
    failed = set(missing)
    names = [n for n in order(seed) if n in queries]

    # warm-up pass, untimed: each result is collected and checked against
    # its oracle (the DuckDB time is not set-up time)
    t_warm = time.perf_counter()
    check_s = 0.0
    for name in names:
        try:
            got = queries[name](spark, str(inputs)).toPandas()
        except Exception as e:  # a failing query is counted, not fatal
            errors.append(f"query {name}: {type(e).__name__}: {str(e)[:200]}")
            failed.add(name)
            continue
        t0 = time.perf_counter()
        bad = _check(got, oracle_sql.get(name), oracles)
        check_s += time.perf_counter() - t0
        if bad:
            errors.append(f"query {name}: {bad}")
            failed.add(name)
    setup_s = time.perf_counter() - t_setup - check_s

    # timed passes in seed order, at least MIN_PASSES and more while
    # --seconds lasts: each query built and fully materialised through
    # the noop sink
    times: dict[str, list[float]] = {}
    totals: list[float] = []
    t_meas = time.perf_counter()
    while len(totals) < MIN_PASSES or time.perf_counter() - t_meas < seconds:
        timed = [n for n in order(seed, len(totals) + 1) if n in names and n not in failed]
        if not timed:
            break
        total = 0.0
        for name in timed:
            with tracer.span("query", query=name):
                t0 = time.perf_counter()
                try:
                    with tracer.span("queries.build"):
                        df = queries[name](spark, str(inputs))
                    with tracer.span("queries.action"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # a failing query is counted, not fatal
                    errors.append(f"query {name}: {type(e).__name__}: {str(e)[:200]}")
                    failed.add(name)
                    continue
                elapsed = time.perf_counter() - t0
            times.setdefault(name, []).append(elapsed)
            total += elapsed
        totals.append(total)
    passes = len(totals)
    rss = common.peak_rss_mb()
    live = common.jvm_live_mb(spark)
    common.stop_spark(spark)
    oracles.con.close()

    # a query that failed in any pass is out of every latency
    per_query = {n: statistics.median(v) for n, v in times.items() if n not in failed}
    lat = sorted(per_query.values())
    nan = float("nan")
    detail = {
        "peak_rss_mb": rss,
        "query_p50_s": stats.median(lat) if lat else nan,
        "query_typical_s": stats.typical({n: times[n] for n in per_query}) if lat else nan,
        "query_total_s": stats.median(totals) if totals else nan,
        "queries": len(lat),
        "passes": passes,
        "registry_load_s": load_s,
        "setup_warmup_s": setup_s - (t_warm - t_setup),
        "oracle_check_s": check_s,
        "per_query_s": per_query,
    }
    if stats.reportable(len(lat), 90):
        detail["query_p90_s"] = stats.percentile(lat, 90)
    result = {
        "attempted": len(QUERY_SET),
        "failed": len(failed),
        "errors": errors,
        "e2e": {
            "setup_s": setup_s,
            # not the median query: the middle of the set is sparse, and a
            # one-rank shift there moves the median by up to a quarter
            "op_typical_s": detail["query_typical_s"],
            "heavy_s": detail["query_total_s"],
            "jvm_live_mb": live,
        },
        "detail": detail,
    }
    if traced:
        result["layers"] = _layers(tracer, work / "eventlogs", passes, len(lat), detail)
        result["spans"] = tracer.spans
    return result


def _check(got, sql: str | None, oracles: check.Oracles) -> str | None:
    if sql is None:
        return None if len(got.columns) > 0 else "empty schema"
    return check.compare(got, oracles.result(sql))


def _layers(tracer: tracing.Tracer, logs: Path, passes: int, n: int, detail: dict) -> dict:
    """Per-query means over the timed passes of build/action self time
    and of the Spark counters of each. A metric whose spans or jobs were
    never recorded is left out, so the run reports it unmeasured."""
    spans = tracer.spans
    jobs = tracing.read_event_log(str(logs))
    counters = tracing.attribute(spans, jobs)
    selfs = tracing.self_times(spans)
    zero = dict.fromkeys(tracing.COUNTERS, 0)
    runs = passes * n
    out: dict[str, float] = {}
    for name, span_name in (("session.start_s", "session.get_spark"),
                            ("registry.load_s", "registry.load")):
        first = [selfs[s["id"]] for s in spans if s["name"] == span_name]
        if first:
            out[name] = first[0]
    build = [s for s in spans if s["name"] == "queries.build"]
    action = [s for s in spans if s["name"] == "queries.action"]
    if build and action and runs:
        out["queries.build_s"] = sum(selfs[s["id"]] for s in build) / runs
        out["queries.action_s"] = sum(selfs[s["id"]] for s in action) / runs
    if jobs and runs:
        def per_run(ss: list[dict], key: str) -> float:
            return sum(counters.get(s["id"], zero)[key] for s in ss) / runs

        out["queries.build_jobs"] = per_run(build, "jobs")
        for key in ("jobs", "stages", "tasks"):
            out[f"queries.{key}"] = per_run(action, key)
        for key in ("run", "cpu", "gc"):
            out[f"queries.executor_{key}_s"] = per_run(action, f"{key}_s")
        for key in ("shuffle_write", "input", "spill"):
            out[f"queries.{key}_mb"] = per_run(action, f"{key}_bytes") / 1e6
    out["trace.overhead_s"] = tracer.overhead_s / max(runs, 1)
    out["trace.op_typical_s"] = detail["query_typical_s"]
    return out
