"""Steadiness check: two fresh-process sets of runs of the same code.

    python3 perfbench/steady.py --workload dashboard --runs 5

Each run is a fresh ``perfbench/run.py`` process with its own seed (set
A uses seeds 1..N, set B seeds N+1..2N), at ``BENCHMARK.json``'s
``run_seconds``.  For every end-to-end metric it prints each set's
median and quartiles, the spread of all runs (interquartile distance
over the median) and whether it is within the metric's ``bound``, and
the distance between the two sets' medians as a share of set A's,
either way.  A metric is ``ok`` when both are within the bound; the
exit code is 0 only when every run is correct and every metric but
``setup_s`` (whose spread the bound does not cover) is ``ok``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} exited {out.returncode}:\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.perf_counter() - t0
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def gap(first: float, second: float) -> float:
    """Distance between two medians as a share of ``first``, either way."""
    return abs(second - first) / first if first else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--json", help="write all run results here")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    sets = []
    for s in range(2):
        runs = []
        for i in range(args.runs):
            seed = 1 + s * args.runs + i
            r = one_run(args.workload, seed, seconds)
            runs.append(r)
            print(f"set {'AB'[s]} seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} wall={r['wall_s']:.1f}s",
                  file=sys.stderr, flush=True)
        sets.append(runs)
    correct = all(r["correct"] for runs in sets for r in runs)
    walls = [r["wall_s"] for runs in sets for r in runs]
    print(f"{args.workload}: {args.runs} runs per set, all correct: {correct}, "
          f"median wall {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    steady = True
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        a = [r["metrics"][name]["value"] for r in sets[0]]
        b = [r["metrics"][name]["value"] for r in sets[1]]
        line = f"  {name:16s}"
        for label, xs in (("A", a), ("B", b)):
            q1, q2, q3 = quartiles(xs) if len(xs) > 1 else (xs[0],) * 3
            line += f" {label}: {q2:10.4g} [{q1:.4g}, {q3:.4g}]"
        sp = spread(a + b)
        d = gap(statistics.median(a), statistics.median(b))
        agree = d <= bound and (sp <= bound or name == "setup_s")
        steady = steady and agree
        line += (f" spread {sp:6.3f} (bound {bound}"
                 f"{', < bound/3' if sp < bound / 3 else ''})"
                 f" |B-A| {d:.3f} {'ok' if agree else 'NOT STEADY'}")
        print(line)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(sets, f)
    return 0 if correct and steady else 1


if __name__ == "__main__":
    sys.exit(main())
