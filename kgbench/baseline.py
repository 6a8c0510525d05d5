"""Record a baseline: two independent sets of runs of every workload, one
seed per run, plus one traced run per workload.

    python3 kgbench/baseline.py --out kgbench/BASELINE.json

Run from the repository root. Every run measures BENCHMARK.json's
``run_seconds``. Each set of RUNS runs uses its own seeds and interleaves
the workloads. For every end-to-end metric the summary gives each set's
median, quartiles and spread (quartile distance / median), and how much
worse the second median reads than the first, as a share of it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END  # noqa: E402

RUNS = 10  # runs per workload in each set


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = time.perf_counter() - t0
    result["seed"] = seed
    print(f"{workload} seed {seed} trace {trace}: {result['wall_s']:.1f}s wall, "
          f"correct={result['correct']} failed={result['failed']}/{result['attempted']}",
          file=sys.stderr, flush=True)
    return result


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in END_TO_END:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {"median": statistics.median(values), "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / statistics.median(values)}
    return out


def worse_share(name: str, first: float, second: float) -> float:
    """How much worse ``second`` reads than ``first``, as a share of it."""
    better = END_TO_END[name][1]
    delta = second - first if better == "lower" else first - second
    return delta / first


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]

    sets = []
    for k in range(2):
        seeds = range(1 + k * RUNS, 1 + (k + 1) * RUNS)
        runs = {w: [] for w in workloads}
        for seed in seeds:
            for w in workloads:
                runs[w].append(run_once(w, seed, seconds, 0))
        sets.append(runs)
    traced = {w: run_once(w, 1000, seconds, 1) for w in workloads}

    report = {"run_seconds": seconds, "runs_per_set": RUNS, "workloads": {}}
    for w in workloads:
        s1, s2 = summarize(sets[0][w]), summarize(sets[1][w])
        report["workloads"][w] = {
            "set1": s1,
            "set2": s2,
            "second_median_worse_by": {n: worse_share(n, s1[n]["median"], s2[n]["median"])
                                       for n in END_TO_END},
            "failed": sum(r["failed"] for s in sets for r in s[w]),
            "attempted": sum(r["attempted"] for s in sets for r in s[w]),
            "wall_s_median": statistics.median(r["wall_s"] for s in sets for r in s[w]),
            "traced": {k: v["value"] for k, v in traced[w]["metrics"].items()},
            "traced_correct": traced[w]["correct"],
            "raw": [[{k: v["value"] for k, v in r["metrics"].items()} for r in s[w]]
                    for s in sets],
        }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
