"""Paired runs of two checkouts with the same benchmark code.

    python3 perfbench/paired.py --parent ../parent --change . --workload analytics

Runs this directory's ``run.py`` in each checkout (``--parent`` and
``--change`` are checkout roots), alternating which side goes first, one
seed per pair (ten pairs, seeds 1000-1009).  Every result is validated
before the next run starts; a run that fails or prints no valid result
line stops the comparison with a non-zero exit.  Prints, for every
end-to-end metric, each side's median and quartiles and the fraction of
pairs the change wins (ties count for neither side).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
KEYS = {"correct", "attempted", "failed", "metrics"}
PAIRS = 10
FIRST_SEED = 1000


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        out = None
    if proc.returncode != 0 or not isinstance(out, dict) or set(out) != KEYS \
            or not out["correct"] or out["failed"] or out["attempted"] < 1:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"paired: invalid result from {checkout} seed {seed} "
                         f"(exit {proc.returncode})")
    return out["metrics"]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    results = {"parent": [], "change": []}
    for i in range(PAIRS):
        seed = FIRST_SEED + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            results[side].append(run_once(sides[side], args.workload, seed,
                                          spec["run_seconds"]))
            print(f"pair {i + 1}/{PAIRS} {side} done", file=sys.stderr, flush=True)
    print(f"{'metric':<22} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}  win")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r[name]["value"] for r in results["parent"]]
        c = [r[name]["value"] for r in results["change"]]
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        fmt = lambda v: "/".join(f"{x:.4g}" for x in quartiles(v))  # noqa: E731
        print(f"{name:<22} {fmt(p):>30} {fmt(c):>30}  {wins / len(p):.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
