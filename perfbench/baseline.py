"""Take a labelled baseline: run every workload on several seeds and
record each end-to-end metric's median and spread.

    python3 perfbench/baseline.py --out perfbench/baseline.json

The spread of a metric is the distance between the first and third
quartiles of its values (``statistics.quantiles(values, n=4)``) as a share
of their median.  The label records what a later comparison must match:
commit, CPU count, protocol and input versions, scales and run length.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

import gen
from common import BASE_SEED, HERE, PROTOCOL_VERSION, ROOT, cpu_count, load_spec

# every workload runs on seeds FIRST_SEED .. FIRST_SEED + RUNS - 1
FIRST_SEED = 1
RUNS = 10


def commit() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default=str(HERE / "baseline.json"))
    args = ap.parse_args()
    spec = load_spec()
    out = {
        "label": {
            "commit": commit(), "cpus": cpu_count(), "protocol_version": PROTOCOL_VERSION,
            "input_version": gen.INPUT_VERSION,
            "scale": gen.SCALE, "base_seed": BASE_SEED,
            "run_seconds": spec["run_seconds"], "runs": RUNS,
            "seeds": [FIRST_SEED, FIRST_SEED + RUNS - 1],
            "taken": time.strftime("%Y-%m-%d", time.gmtime()),
        },
        "workloads": {},
        "spreads": {},
    }
    for w in spec["workloads"]:
        values: dict[str, list[float]] = {}
        for seed in range(FIRST_SEED, FIRST_SEED + RUNS):
            result = run_once(w["name"], seed, spec["run_seconds"])
            if not result["correct"]:
                raise SystemExit(f"{w['name']} seed {seed}: output checks failed")
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(w["name"], seed, {k: round(v[-1], 3) for k, v in values.items()}, flush=True)
        out["workloads"][w["name"]] = {k: statistics.median(v) for k, v in values.items()}
        out["spreads"][w["name"]] = {}
        for k, v in values.items():
            q = statistics.quantiles(v, n=4)
            out["spreads"][w["name"]][k] = (q[2] - q[0]) / statistics.median(v)
        print(w["name"], "spreads", {k: round(v, 3) for k, v in out["spreads"][w["name"]].items()}, flush=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=2)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
