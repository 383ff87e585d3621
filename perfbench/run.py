"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Runs one workload against the package in this checkout and prints, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs
the traced variant and reports the per-layer metrics.  ``--baseline
PATH`` also compares the end-to-end metrics with a labelled baseline and
refuses when that baseline was taken at another core count.

The run adopts every process it starts, directly or not (Spark's Python
worker daemon and its workers outlive the JVM that starts them), and does
not exit before each has ended.  All temporary files (generated inputs, the warehouse, Spark's local and
temporary directories) live under ``.perfbench/`` in the checkout and are
removed at exit.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import ctypes
import json
import multiprocessing
import multiprocessing.resource_tracker
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

import gen
from common import BASE_SEED, PROTOCOL_VERSION, ROOT, Session, cpu_count, load_spec


def compare_to_baseline(result: dict, baseline_path: str, workload: str) -> dict:
    """Ratios of this run's end-to-end metrics to a labelled baseline's
    medians.  Refuses a baseline taken at another core count or protocol,
    or on other inputs."""
    with open(baseline_path) as fh:
        base = json.load(fh)
    label = base["label"]
    here = {"cpus": cpu_count(), "protocol_version": PROTOCOL_VERSION, "input_version": gen.INPUT_VERSION,
            "scale": gen.SCALE, "base_seed": BASE_SEED}
    for key, value in here.items():
        if label.get(key) != value:
            raise SystemExit(f"refusing to compare: baseline {key} is {label.get(key)!r}, this run's is {value!r}")
    medians = base["workloads"][workload]
    return {k: v["value"] / medians[k] for k, v in result["metrics"].items() if medians.get(k)}


def generate_inputs(work: Path, seed: int) -> gen.Generated:
    """Write this run's raw inputs (day 1 from ``BASE_SEED``, the day-2
    delta from ``seed``) in a child process, so the generator's memory
    stays out of the run's peak RSS."""
    ctx = multiprocessing.get_context("spawn")
    with concurrent.futures.ProcessPoolExecutor(1, mp_context=ctx) as pool:
        return pool.submit(gen.generate, str(work / "inputs"), seed, gen.SCALE, BASE_SEED).result()


def _setup_env(work: Path) -> None:
    """Point Spark's temporary space inside the checkout before the JVM starts."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={work / 'tmp'} pyspark-shell"
    )


PR_SET_CHILD_SUBREAPER = 36
# how long a run waits for its descendants to exit before it signals them
GRACE_S = 15.0


def adopt_orphans() -> None:
    """Make this process the parent of every orphaned descendant, so
    ``stop_descendants`` can find and wait for all of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    """Live (not zombie) descendants of this process."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append((int(entry), fields[0]))
    out, todo = [], [os.getpid()]
    while todo:
        for pid, state in children.get(todo.pop(), []):
            todo.append(pid)
            if state != "Z":
                out.append(pid)
    return out


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants() -> None:
    """Wait for every process this run started to end: ``GRACE_S`` for
    them to exit by themselves, then SIGTERM, then SIGKILL."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    multiprocessing.resource_tracker._resource_tracker._stop()
    start = time.perf_counter()
    sent = None
    while True:
        reap()
        alive = descendants()
        if not alive:
            return
        waited = time.perf_counter() - start
        sig = signal.SIGKILL if waited > GRACE_S + 5 else signal.SIGTERM if waited > GRACE_S else None
        if sig is not None and sig != sent:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int]) -> float:
    """Share of this host's CPU time the hypervisor gave to others since
    ``before``: the noise the run was measured under."""
    d = [b - a for a, b in zip(before, cpu_ticks())]
    return 100.0 * d[7] / max(1, sum(d))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--baseline", help="labelled baseline JSON to compare against")
    args = ap.parse_args(argv)
    adopt_orphans()
    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return measure(args)
    finally:
        stop_descendants()


def measure(args) -> int:
    started = time.perf_counter()
    stat0 = cpu_ticks()

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; expected one of {names}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import politician_etl_project_spark  # noqa: F401  (fail fast without the package)

    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    _setup_env(work)
    session = None
    try:
        import serve
        import refresh

        module = {"serve": serve, "refresh": refresh}[args.workload]
        g = generate_inputs(work, args.seed)
        session = Session()
        out = module.run(session, work, g, args.seed, args.seconds, bool(args.trace))
        if args.trace:
            out["tracer"].dump(str(ROOT / ".perfbench" / f"trace-{args.workload}-seed{args.seed}.json"))
        kind = "per_layer" if args.trace else "end_to_end"
        metrics = {m["name"]: {"value": float(out["metrics"][m["name"]]), "unit": m["unit"]}
                   for m in spec[kind]}
        result = {
            "correct": out["failed"] == 0,
            "attempted": int(out["attempted"]),
            "failed": int(out["failed"]),
            "metrics": metrics,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)
    if args.baseline and not args.trace:
        print(json.dumps({"ratio_to_baseline": compare_to_baseline(result, args.baseline, args.workload)}))
    for line in out.get("notes", []):
        print(line)
    # run conditions, for reading the figures; not metrics
    print(json.dumps({"wall_s": round(time.perf_counter() - started, 1), "steal_pct": round(steal_pct(stat0), 1),
                      "timings": {k: round(v, 3) for k, v in out["metrics"].items()
                                  if isinstance(v, float) and v and k.endswith(("_s", "_ms"))}}),
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
