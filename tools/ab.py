#!/usr/bin/env python3
"""A/B the benchmark: alternating parent/change pairs of one workload.

    python3 tools/ab.py --parent <parent-checkout> --workload <name> \\
        --seeds 601,602 [--pairs 10] [--change .] [--warmup 1] [--json out.json]

`--parent` is a checkout of the parent commit (for example a `git clone`
of this repository at that commit); `--change` is the tree under test
(default: the current directory). Both run the benchmark command that
BENCHMARK.json declares, from their own root, for `run_seconds` seconds;
each builds into its own `.bench_build/`. Pair i runs seed
seeds[i % len(seeds)] on both sides, and the side that runs first
alternates from pair to pair. `--warmup` untimed runs per side come first:
the first run of a build compiles the jar and writes the class-data-sharing
archive, which later runs map. `--json` keeps every run's result.

For every end-to-end metric of BENCHMARK.json the table gives each side's
median and quartiles, the change/parent ratio of medians, and the change's
wins (pairs in which it is better; ties count for neither). Verdict:
  better      wins >= 9/10 of pairs and the medians differ, in the
              metric's better direction, by more than the parent's IQR;
  worse       the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's own IQR exceeds the bound, so "within bound"
              cannot be told apart from noise;
  same        otherwise (within bound).
Nothing under perfbench/ is read or written except through run.py.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def value(result, name):
    return result["metrics"][name]["value"]


def run(root, cmd, workload, seed, seconds):
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds)],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.exit(f"ab.py: run in {root} (seed {seed}) failed with code {p.returncode}")
    return json.loads(lines[-1])


def verdict(m, parent, change, wins, pairs):
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    sign = 1 if m["better"] == "lower" else -1
    gain = sign * (pmed - cmed)
    if wins >= 0.9 * pairs and gain > pq3 - pq1:
        return "better"
    if -gain > m["bound"] * abs(pmed):
        return "worse"
    if pq3 - pq1 > m["bound"] * abs(pmed):
        return "unresolved"
    return "same"


def pairs(a, sides, cmd, seconds):
    """Warm-up runs, then `a.pairs` alternating parent/change pairs."""
    seeds = [int(s) for s in a.seeds.split(",")]
    for i in range(a.warmup):
        for side, root in sides.items():
            print(f"warm-up {side}", file=sys.stderr)
            run(root, cmd, a.workload, seeds[i % len(seeds)], seconds)
    runs = []
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(sides[side], cmd, a.workload, seed, seconds)
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in pair[side]["metrics"].items()),
                file=sys.stderr)
        runs.append(pair)
    return runs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", default=".")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--json", help="write every run's result here")
    a = ap.parse_args()

    spec = json.loads((pathlib.Path(a.change) / "BENCHMARK.json").read_text())
    metrics = spec["end_to_end"]
    seconds = spec["run_seconds"]
    cmd = spec["command"]
    sides = {"parent": a.parent, "change": a.change}
    runs = pairs(a, sides, cmd, seconds)
    if a.json:
        pathlib.Path(a.json).write_text(json.dumps(runs, indent=1))

    n = len(runs)
    print(f"workload {a.workload}, {n} pairs, seeds {a.seeds}, run_seconds {seconds}")
    for side in sides:
        bad = sum(1 for r in runs if not r[side].get("correct", False))
        failed = sum(r[side]["failed"] for r in runs)
        attempted = sum(r[side]["attempted"] for r in runs)
        print(f"{side}: {bad} runs not correct, failed {failed}/{attempted}")
    print()
    print("| metric | parent median [q1, q3] | change median [q1, q3] | change/parent | wins | verdict |")
    print("|---|---|---|---|---|---|")
    for m in metrics:
        name = m["name"]
        p = [value(r["parent"], name) for r in runs]
        c = [value(r["change"], name) for r in runs]
        sign = 1 if m["better"] == "lower" else -1
        wins = sum(1 for x, y in zip(p, c) if sign * (x - y) > 0)
        pq, cq = quartiles(p), quartiles(c)
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        print(f"| {name} ({m['unit']}) | {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}] "
              f"| {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] | {ratio:.3f} | {wins}/{n} "
              f"| {verdict(m, p, c, wins, n)} |")


if __name__ == "__main__":
    main()
