#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric across
runs: median, quartiles, and the quartile spread as a share of the median.

    python3 perfbench/baseline.py --workloads search ingest --seeds 1-10 --seconds 5 [--trace 1]

Run from the repository root. Prints one line per (workload, metric), then
one JSON object with every run's metrics.
"""

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    runs = {}
    for w in args.workloads:
        for seed in args.seeds:
            p = subprocess.run([sys.executable, run_py, "--workload", w, "--seed", str(seed),
                                "--seconds", str(args.seconds), "--trace", str(args.trace)],
                               capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{p.stderr[-2000:]}")
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                print(f"{w} seed {seed}: {result['failed']} of {result['attempted']} failed",
                      file=sys.stderr)
            runs.setdefault(w, []).append({"seed": seed, **result})
    for w, rs in runs.items():
        for name in rs[0]["metrics"]:
            vs = [r["metrics"][name]["value"] for r in rs]
            unit = rs[0]["metrics"][name]["unit"]
            q1, med, q3 = stats.quartiles(vs) if len(vs) > 1 else (vs[0],) * 3
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{w:8s} {name:34s} median {med:12.6g} {unit:8s} "
                  f"q1 {q1:12.6g} q3 {q3:12.6g} spread {spread:7.3f}  n={len(vs)}")
    print(json.dumps(runs))


if __name__ == "__main__":
    main()
