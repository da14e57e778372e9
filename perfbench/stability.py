"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/stability.py --runs 10 --first-seed 101 \
        --out perfbench/stability.json

Runs ``perfbench/run.py`` (tracing off) once per seed on every workload
of BENCHMARK.json, one run at a time, and writes each metric's values,
median, quartiles and spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, which is what a metric's ``bound`` is compared with. Also
records the host: ``nproc``, memory, ``SPARK_GRAFT_CPUS`` and the
driver heap and heap-sizing options the runner sets.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import DRIVER_MEM, JVM_HEAP_OPTS  # noqa: E402


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "cpu": platform.processor() or platform.machine(),
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get(
            "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
        ),
        "driver_heap": DRIVER_MEM,
        "driver_heap_opts": JVM_HEAP_OPTS,
    }


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {
        "values": values,
        "median": median,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / median if median else None,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workload", action="append", help="default: all")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"host": host(), "run_seconds": bench["run_seconds"], "workloads": {}}
    for name in names:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + [
                    "--workload", name, "--seed", str(seed),
                    "--seconds", str(bench["run_seconds"]), "--trace", "0",
                ],
                cwd=ROOT, capture_output=True, text=True,
            )
            result = json.loads(out.stdout.strip().splitlines()[-1])
            result["seed"], result["wall_s"] = seed, time.time() - t0
            runs.append(result)
            print(name, seed, round(result["wall_s"], 1), json.dumps(result["metrics"]),
                  file=sys.stderr, flush=True)
        metrics = {
            m: summarize([r["metrics"][m]["value"] for r in runs]) for m in bounds
        }
        for m, s in metrics.items():
            s["bound"] = bounds[m]
        report["workloads"][name] = {
            "seeds": [r["seed"] for r in runs],
            "all_correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "wall_s": summarize([r["wall_s"] for r in runs]),
            "metrics": metrics,
        }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
