#!/usr/bin/env python3
"""Check which traced counters repeat exactly for one seed.

    python3 perfbench/exact_counts.py --workload ingest --seed 1 --seconds 20

Makes two traced runs of the workload with the same seed and compares their
per-op count counters (Spark jobs/stages/tasks, storage ops and bytes,
merge and compaction results, log entries, ...) op by op, over the ops both
runs completed. A counter that differs anywhere is inexact: it is listed,
and must not be used to claim an improvement. Exit status 0 when every
counter is exact, 1 otherwise.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"traced run failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    path = next(l.split(": ", 1)[1] for l in out.stdout.splitlines()
                if l.startswith("ledger: "))
    with open(path) as fh:
        return json.load(fh)["ops"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    a = ap.parse_args()
    runs = [traced_run(a.workload, a.seed, a.seconds) for _ in range(2)]
    common = [(x, y) for x, y in zip(*runs) if x["kind"] == y["kind"]]
    names = sorted({k for x, y in common for k in list(x["counts"]) + list(y["counts"])})
    inexact = {}
    for k in names:
        diffs = [(x["index"], x["kind"], x["counts"].get(k), y["counts"].get(k))
                 for x, y in common if x["counts"].get(k) != y["counts"].get(k)]
        if diffs:
            inexact[k] = diffs
    print(f"{a.workload} seed {a.seed}: {len(common)} ops compared, "
          f"{len(names) - len(inexact)} exact counters, {len(inexact)} inexact")
    for k in names:
        if k in inexact:
            i, kind, v1, v2 = inexact[k][0]
            print(f"  INEXACT {k}: {len(inexact[k])} ops differ, first op {i} ({kind}): {v1} vs {v2}")
        else:
            print(f"  exact   {k}")
    sys.exit(1 if inexact else 0)


if __name__ == "__main__":
    main()
