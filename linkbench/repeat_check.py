#!/usr/bin/env python3
"""Checks that the host-independent per-layer counters repeat exactly.

    python3 linkbench/repeat_check.py --workload crawl_pipeline --seed 1

Runs the traced benchmark twice with the same seed and compares, for every
span, its shuffle bytes, shuffle records, stages and tasks, plus the
TableIO commit count and parquet bytes per row. Wall times differ from run
to run; these counters depend only on the program and its input, so a
difference means the program's work is not deterministic. (io.snapshot_mb
is left out: the manifests it counts record superstep timings.) Exits 0
when every counter matches, 1 otherwise.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTERS = (".shuffle_write_mb", ".shuffle_records", ".stages", ".tasks")
EXTRA = ("io.commits", "io.bytes_per_row")


def traced_run(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"run of {workload} seed {seed} was not correct")
    return {k: v["value"] for k, v in res["metrics"].items()
            if k.endswith(COUNTERS) or k in EXTRA}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    first = traced_run(args.workload, args.seed)
    second = traced_run(args.workload, args.seed)
    differ = sorted(k for k in first if first[k] != second[k])
    for k in sorted(k for k in first if first[k] or second[k]):
        mark = "DIFFERS" if k in differ else "same"
        print(f"{k:50s} {first[k]:>16.6f} {second[k]:>16.6f}  {mark}")
    print(f"{len(first) - len(differ)}/{len(first)} counters repeat exactly")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
