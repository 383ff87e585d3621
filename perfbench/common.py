"""Helpers shared by the workloads: the Spark session of a run, sample
statistics, warehouse file accounting and the traced per-layer figures."""

from __future__ import annotations

import gc
import hashlib
import json
import os
import statistics
import subprocess
import time
from pathlib import Path

import checks
import gen
from trace import PKG

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROTOCOL_VERSION = 2


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Session:
    """The Spark session of one run, with the peak RSS of its JVM
    and of this process; ``close`` stops the JVM and waits for it."""

    def __init__(self):
        from politician_etl_project_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """Peak RSS so far of the JVM plus this process.  Read it when the
        measured operations end, before the output checks run: the checks
        (DuckDB) are the benchmark's cost, not the engine's."""
        return (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0

    def heap_live_mb(self) -> float:
        """JVM heap in use after full collections: what the engine keeps
        between operations.  The fixed heap size caps the JVM's RSS, not
        this figure.  Python's cycle collector runs first, so the JVM
        objects behind dropped DataFrames are released; then full
        collections repeat, with a pause for Spark's ContextCleaner to drop
        the shuffle and broadcast blocks of collected plans, until the
        figure stops falling."""
        jvm = self.spark.sparkContext._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        gc.collect()
        last = float("inf")
        for _ in range(8):
            jvm.java.lang.System.gc()
            used = bean.getHeapMemoryUsage().getUsed() / 2**20
            if used > last - 1.0:
                return used
            last = used
            time.sleep(0.5)
        return last

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# Day 1 of every run comes from this seed, so a checkout loads it once
BASE_SEED = 0


def base_warehouse(session, g: gen.Generated, tracer) -> tuple[Path, float]:
    """The day-1 warehouse of ``g``'s inputs.  The first run in a checkout
    builds it with ``etl.run_all``; later runs reuse it.  Returns the
    warehouse directory and the build time, 0 when reused; a build is
    checked with ``check_warehouse(root, g.expect_day1)`` after the
    measured operations."""
    from politician_etl_project_spark import etl

    key = hashlib.sha256(json.dumps([gen.INPUT_VERSION, gen.SCALE, BASE_SEED,
                                     gen.tree_digest(str(ROOT / PKG), ".py")]).encode()).hexdigest()[:16]
    root = ROOT / ".perfbench" / f"base-warehouse-{key}"
    if root.is_dir():
        return root, 0.0
    tmp = root.with_name(f"{root.name}.tmp-{os.getpid()}")
    t0 = time.perf_counter()
    with tracer.span("bench", "load.base", op="base"):
        etl.run_all(etl.Warehouse(session.spark, str(tmp)), **g.day1.run_all_kwargs())
    build_s = time.perf_counter() - t0
    os.replace(tmp, root)
    return root, build_s


def check_warehouse(root: str, expect: dict, facts: dict | None = None) -> list[str]:
    """Mismatches of the warehouse at ``root`` against the generator's
    expected row counts and key hashes, and the day-2 ``facts`` if given."""
    con = checks.connect(str(root))
    bad = checks.check_warehouse(con, expect)
    if facts is not None:
        bad += checks.check_day2_values(con, facts)
    con.close()
    return bad


def table_rows(root: str) -> dict:
    con = checks.connect(str(root))
    out = {f"etl.{name}.rows": n for name, n in checks.table_rows(con).items()}
    con.close()
    return out


def storage_metrics(root: str, before: dict | None = None, delta_bytes: int = 0) -> dict:
    """Warehouse size after the last load; with ``before`` (a file map
    taken after day 1) also the day-2 figures."""
    files = parquet_files(root)
    mb = sum(files.values()) / 2**20
    out = {"storage.files": len(files)}
    if before is None:
        out["storage.day1_mb"] = mb
        return out
    written = sum(size for path, size in files.items() if path not in before)
    out.update({
        "storage.day1_mb": sum(before.values()) / 2**20,
        "storage.day2_mb": mb,
        "storage.day2_written_mb": written / 2**20,
        "storage.write_amp": written / delta_bytes,
    })
    return out


def parquet_files(root: str) -> dict:
    """(path, inode) -> size of every Parquet file under ``root``."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[(os.path.join(d, f), st.st_ino)] = st.st_size
    return out


STAGES = {"politicians": "load_politicians", "fec_links": "link_fec_ids", "bills": "load_bills",
          "cosponsors": "load_cosponsors", "votes": "load_votes", "donations": "load_donations",
          "committees": "load_committees"}


def traced_layers(tracer, counter, day1_op: str | None = None, day2_op: str | None = None) -> dict:
    out = {}
    for day, op in (("day1", day1_op), ("day2", day2_op)):
        for stage, fn in STAGES.items():
            out[f"etl.{day}.{stage}_s"] = sum(s.dur for s in tracer.spans
                                             if op and s.op == op and s.layer == "etl" and s.name == f"etl.{fn}")
    jobs, stages, tasks = counter.means()
    out.update({"engine.jobs_per_op": jobs, "engine.stages_per_op": stages, "engine.tasks_per_op": tasks})
    for layer, (secs, n) in tracer.self_times().items():
        out[f"self.{layer}_s"] = secs
    out["trace.spans"] = len(tracer.spans)
    return out


def fill_absent(metrics: dict) -> dict:
    """Per-layer metrics of layers a workload never calls read 0."""
    for m in load_spec()["per_layer"]:
        metrics.setdefault(m["name"], 0.0)
    return metrics
