"""Record a baseline of the benchmark: medians, quartiles and spreads.

    python3 perfbench/baseline.py

Run from the repository root. Runs ``perfbench/run.py`` once per
workload and seed, untraced on ``SEEDS``, then traced on
``TRACED_SEEDS``, one run at a time, and writes ``BASELINE.json``. For every metric it records the median and quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles over the median. The tracing overhead of a
workload is its traced ``trace.wall_s`` median minus its untraced
``wall_s`` median. Results are stamped with the git ``HEAD`` they
measured, when the checkout is a git repository.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = list(range(1, 11))
TRACED_SEEDS = [1, 2]
OUT = os.path.join(HERE, "BASELINE.json")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["run_s"] = time.perf_counter() - t0
    return result


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None, "values": values}


def head_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, check=True)
    except (OSError, subprocess.CalledProcessError):
        return None
    return out.stdout.strip() or None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    report = {
        "head_sha": head_sha(),
        "cores": os.cpu_count(),
        "run_seconds": bench["run_seconds"],
        "seeds": SEEDS,
        "traced_seeds": TRACED_SEEDS,
        "workloads": {},
    }
    for w in (w["name"] for w in bench["workloads"]):
        runs = {trace: [run_once(w, s, bench["run_seconds"], trace) for s in seeds]
                for trace, seeds in ((0, report["seeds"]), (1, report["traced_seeds"]))}
        entry = {"failed": sum(r["failed"] for rs in runs.values() for r in rs),
                 "attempted": sum(r["attempted"] for rs in runs.values() for r in rs),
                 "run_s": summary([r["run_s"] for rs in runs.values() for r in rs])}
        for key, trace in (("end_to_end", 0), ("per_layer", 1)):
            entry[key] = {m["name"]: summary([r["metrics"][m["name"]]["value"] for r in runs[trace]])
                          for m in bench[key]}
        entry["tracing_overhead_s"] = (entry["per_layer"]["trace.wall_s"]["median"]
                                       - entry["end_to_end"]["wall_s"]["median"])
        report["workloads"][w] = entry
        print(f"{w}: wall_s {entry['end_to_end']['wall_s']['median']:.3f} "
              f"spread {entry['end_to_end']['wall_s']['spread']:.3f} failed {entry['failed']}", file=sys.stderr)
    with open(OUT, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
