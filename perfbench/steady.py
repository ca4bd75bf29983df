#!/usr/bin/env python3
"""Measure the benchmark's run-to-run spread over several seeds.

    python3 perfbench/steady.py [--workloads ingest mutate] [--seeds 10] [--first-seed 1]

Runs every listed workload (default: all of BENCHMARK.json's) once per seed
with BENCHMARK.json's `run_seconds`, untraced, and prints for each end-to-end
metric its median and its spread: the distance between the first and third
quartiles as a share of the median. A spread must stay below a third of the
metric's bound. Exit status 1 when one does not, or when a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    ok = True
    for w in a.workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], capture_output=True, text=True, cwd=ROOT)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            if out.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: run failed\n{out.stdout[-1500:]}{out.stderr[-1500:]}")
                ok = False
                continue
            res = json.loads(last)
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={res['metrics'][k]['value']:.4g}" for k in values), flush=True)
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            good = spread < m["bound"] / 3
            ok = ok and good
            print(f"  {w:8s} {m['name']:26s} median {med:12.4f} {m['unit']:6s} "
                  f"spread {spread:6.3f}  bound/3 {m['bound'] / 3:.3f}  "
                  f"{'ok' if good else 'TOO WIDE'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
