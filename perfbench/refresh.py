"""The ``refresh`` workload: the nightly ETL.

Set-up starts Spark and restores the day-1 warehouse, the initial load of
seeded raw files that ``etl.run_all`` built on the checkout's first run.
The measured operation is the nightly day-2 ``run_all`` that applies a
delta drawn from the run's seed (new and amended filings, new roll calls,
new and amended bills, party flips, committee-title changes).  No engine
warm-up precedes it: a nightly job starts in a fresh process, and its cold
cost is part of the load.  The traced run loads day 1 afresh, traced, and
runs day 2 three times: untraced, traced, untraced.
"""

from __future__ import annotations

import shutil
import time

import gen
from common import (base_warehouse, check_warehouse, fill_absent, parquet_files, storage_metrics, table_rows,
                    traced_layers)
from trace import EngineCounter, NoCounter, Tracer, instrument


def load(wh, inputs: gen.RefreshInputs, day: str, tracer: Tracer, counter) -> float:
    from politician_etl_project_spark import etl

    t0 = time.perf_counter()
    with counter.op(day), tracer.span("bench", f"load.{day}", op=day):
        etl.run_all(wh, **inputs.run_all_kwargs())
    return time.perf_counter() - t0


def run(session, work, g: gen.Generated, seed: int, seconds: float, traced: bool) -> dict:
    from politician_etl_project_spark import etl

    spark = session.spark
    tracer = Tracer(traced)
    counter = EngineCounter(spark.sparkContext) if traced else NoCounter()
    undo = instrument(tracer) if traced else None
    base, build_s = base_warehouse(session, g, tracer)
    root = str(work / "warehouse")
    t = {"session.start_s": session.start_s, "etl.warehouse_build_s": build_s}
    metrics, bad = {}, []
    if build_s:
        bad += check_warehouse(base, g.expect_day1)
    if traced:
        # a fresh day-1 load, traced, gives the day-1 per-layer figures
        t["etl.warehouse_build_s"] = load(etl.Warehouse(spark, root), g.day1, "day1", tracer, counter)
        bad += check_warehouse(root, g.expect_day1)
    else:
        t0 = time.perf_counter()
        shutil.copytree(base, root)
        t["refresh.restore_s"] = time.perf_counter() - t0
    before = parquet_files(root)
    attempted = 2
    if traced:
        def replay(n: int) -> float:
            replay_root = f"{root}-replay{n}"
            shutil.copytree(base, replay_root)
            secs = load(etl.Warehouse(spark, replay_root), g.day2, f"replay{n}", Tracer(False), NoCounter())
            bad.extend(check_warehouse(replay_root, g.expect_day2, g.facts))
            return secs

        # day 2 untraced, traced, then untraced again, each on the day-1
        # state: the traced load against the mean of the untraced ones on
        # either side of it is the tracing overhead, with the JVM's warming
        # from load to load cancelled to first order
        undo()
        plain = [replay(1)]
        undo = instrument(tracer)
        day2 = load(etl.Warehouse(spark, root), g.day2, "day2", tracer, counter)
        undo()
        plain.append(replay(2))
        attempted += 2
        metrics.update(traced_layers(tracer, counter, day1_op="day1", day2_op="day2"))
        metrics["trace.overhead_pct"] = 100.0 * (day2 / (sum(plain) / 2) - 1)
    else:
        day2 = load(etl.Warehouse(spark, root), g.day2, "day2", tracer, counter)
        metrics["peak_rss_mb"] = session.peak_rss_mb()
        metrics["heap_live_mb"] = session.heap_live_mb()
    bad += check_warehouse(root, g.expect_day2, g.facts)
    metrics.update(storage_metrics(root, before, g.day2.input_bytes))
    metrics.update(table_rows(root))
    metrics.update(t)
    metrics.update({
        "setup_s": sum(t.values()),
        # the nightly delta is the one operation a run measures
        "op_latency_ms": day2 * 1000,
        "ops_per_s": 1.0 / day2,
    })
    return {"metrics": fill_absent(metrics), "tracer": tracer, "attempted": attempted, "failed": len(bad),
            "notes": [f"check failed: {b}" for b in bad]}
