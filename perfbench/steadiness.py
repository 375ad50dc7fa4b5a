"""Run the benchmark on several seeds and report each metric's spread.

Usage (from the repository root)::

    python3 perfbench/steadiness.py --workload cjk_lake --seeds 1-10 \\
        --seconds 10 --out perfbench/evidence/steadiness_cjk_lake.json

For every metric it records the median, the quartiles from
``statistics.quantiles(values, n=4)`` and the spread (Q3 - Q1) / median,
next to the bound BENCHMARK.json gives it, and each run's per-pass wall
and CPU times (its warm-up curve), which ``run.py`` leaves in
``.perfbench_cache/curves/``.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float], bound: float | None) -> dict:
    med = statistics.median(values)
    if len(values) < 2:
        return {"median": med, "values": values}
    q1, _, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else 0.0
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": spread,
        "bound": bound,
        "spread_over_bound": spread / bound if bound else None,
        "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    secs = a.seconds if a.seconds is not None else bench["run_seconds"]
    runs = []
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
               a.workload, "--seed", str(seed), "--seconds", str(secs),
               "--trace", str(a.trace)]
        t = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        elapsed = time.perf_counter() - t
        result = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, ".perfbench_cache", "curves",
                               f"{a.workload}-s{seed}.json")) as f:
            curve = json.load(f)
        runs.append({"seed": seed, "elapsed_s": elapsed, "exit": p.returncode,
                     "result": result, "curve": curve})
        print(f"seed {seed}: {elapsed:.1f}s correct={result['correct']}", file=sys.stderr)
    names = sorted({k for r in runs for k in r["result"]["metrics"]})
    report = {
        "workload": a.workload,
        "seconds": secs,
        "trace": a.trace,
        "runs": len(runs),
        "all_correct": all(r["result"]["correct"] for r in runs),
        "elapsed_s": summarize([r["elapsed_s"] for r in runs], None),
        "metrics": {
            n: summarize([r["result"]["metrics"][n]["value"] for r in runs], bounds.get(n))
            for n in names
        },
        "detail": runs,
    }
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    for n, s in report["metrics"].items():
        print(f"{n:28s} median {s['median']:.4g} spread {s.get('spread', 0):.3f}"
              f" bound {s.get('bound')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
