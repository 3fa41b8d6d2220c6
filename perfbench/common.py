"""What every workload shares: the pinned box, the Spark session, the
per-run work directory and peak-memory readings."""

from __future__ import annotations

import hashlib
import os
import platform
import shlex
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "dieter___etl___monarchmoney_spark"

#: the maximum JVM heap of every Spark process the benchmark starts;
#: small enough for a 15 GB box running one JVM at a time
DRIVER_HEAP = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def require_program() -> None:
    """Exit with an error when the checkout holds no program to run."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        sys.exit(f"error: {ROOT / PACKAGE} not found; run from a full checkout")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def work_dir(workload: str, seed: int) -> Path:
    """A fresh directory for this run's inputs, warehouses and Spark
    scratch space, inside the checkout."""
    d = ROOT / ".bench_work" / f"{workload}-s{seed}-{os.getpid()}"
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)
    return d


def spark_env(work: Path, trace_dir: Path | None) -> dict[str, str]:
    """Environment that pins a Spark process started under it: cores,
    heap, shuffle partitions, scratch dirs and (traced runs only) an
    uncompressed event log."""
    n = str(cpus())
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    confs = {
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        # the heap grows from the JVM's default initial size up to
        # DRIVER_HEAP, so resident memory follows what the program uses;
        # no JVM files outside the run dir
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if trace_dir is not None:
        trace_dir.mkdir(parents=True, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": trace_dir.resolve().as_uri(),
        })
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    (work / "spark-local").mkdir(exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": n,
        "SPARK_SHUFFLE_PARTITIONS": n,
        "SPARK_DRIVER_MEMORY": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    }


def start_spark():
    """The program's own session factory on local[cpus]; returns the
    session and its start time in seconds."""
    from dieter___etl___monarchmoney_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{cpus()}]", shuffle_partitions=cpus()
    )
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            kids = Path(f"/proc/{p}/task/{p}/children").read_text().split()
        except OSError:
            kids = []
        for k in map(int, kids):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus every live descendant
    (the JVM and its Python workers), in MB."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me, *_descendants(me)]) / 1024.0


def jvm_live_mb(spark) -> float:
    """Memory the JVM still holds at the end of a workload, in MB: its
    heap in use after a full collection (what the program retains:
    cached data, plans, memos) plus its non-heap use (metaspace, code
    cache). Unlike resident memory it does not follow how far the
    collector let the heap grow."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def probe_s() -> float:
    """Calibration probe: the best of three runs of a fixed CPU and
    memory task (hashing and sorting), so a slow or busy box shows."""
    import numpy as np

    data = np.random.default_rng(0).random(1_000_000)
    blob = data.tobytes()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.sha256(blob * 4).hexdigest()
        np.sort(data)
        best = min(best, time.perf_counter() - t0)
    return best


def box() -> dict:
    """The pinned box, recorded in every result."""
    import duckdb
    import pyspark

    rec = {
        "cpus": cpus(),
        "master": f"local[{cpus()}]",
        "driver_heap": DRIVER_HEAP,
        "shuffle_partitions": cpus(),
        "spark_local_dirs": ".bench_work/<run>/spark-local",
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "mem_total_mb": _mem_total_mb(),
        "probe_s": probe_s(),
    }
    return rec


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
