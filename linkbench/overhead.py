#!/usr/bin/env python3
"""Tracing overhead of the link-graph benchmark.

Run from the repository root:

    python3 linkbench/overhead.py --workload chains-small --seed 7 --seconds 20

Runs the workload on one seed with tracing off, then on, and prints each
end-to-end metric of both runs with the traced - untraced difference.
"""
import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def end_to_end(args, trace):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    meta = json.loads(out[-2])["linkbench_run"]
    return meta["end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    args = ap.parse_args()
    off, on = end_to_end(args, 0), end_to_end(args, 1)
    print(json.dumps({k: {"untraced": off[k], "traced": on[k], "traced_minus_untraced": on[k] - off[k]}
                      for k in off if off[k] is not None and on.get(k) is not None}, indent=1))


if __name__ == "__main__":
    main()
