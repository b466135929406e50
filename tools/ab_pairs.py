"""Interleaved A/B pairs of the benchmark: a parent checkout against a change.

Usage (from any directory):

    python3 tools/ab_pairs.py --parent ../graft-parent --change . \
        --workload index_lifecycle --seed 1 --pairs 10 [--out runs.json]

For each pair it runs `python3 perfbench/run.py --workload W --seed S
--seconds T --trace 0` once in each checkout, one run at a time, alternating
which side runs first (pair 0: parent first, pair 1: change first, ...). T is
`run_seconds` from the change's BENCHMARK.json unless --seconds is given. A
run the harness kills at its time limit (exit code 3) is run once more and the
kill is reported.

Then, per workload and end-to-end metric named in BENCHMARK.json, it prints
both sides' medians and interquartile ranges, the pairs the change won (ties
count for neither), `failed/attempted` operations per side, and a verdict:

- `gain`       the change won at least 9/10 of the pairs and the medians differ
               by more than the parent's IQR, in the metric's better direction;
- `worse`      the change's median is worse than the parent's by more than the
               metric's bound;
- `unresolved` the parent's own IQR exceeds the bound (relative to its median),
               so the pairs cannot show the bound holds;
- `within`     none of the above.

Quartiles are Python's `statistics.quantiles(values, n=4)`. The script reads
BENCHMARK.json and calls perfbench/run.py; it changes nothing under either.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

KILLED = 3  # perfbench/run.py's exit code for a run past its time limit


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return proc.returncode, result


def run_side(checkout, workload, seed, seconds, label):
    rc, result = run_once(checkout, workload, seed, seconds)
    killed = rc == KILLED
    if killed:
        sys.stderr.write(f"  {label}: killed at the time limit, re-running\n")
        rc, result = run_once(checkout, workload, seed, seconds)
    metrics = {k: v["value"] for k, v in (result or {}).get("metrics", {}).items()}
    run = {"side": label, "rc": rc, "killed_once": killed, "metrics": metrics,
           "correct": (result or {}).get("correct"),
           "attempted": (result or {}).get("attempted", 0),
           "failed": (result or {}).get("failed", 0)}
    shown = " ".join(f"{k}={v:.4g}" for k, v in sorted(metrics.items()))
    sys.stderr.write(f"  {label}: rc={rc} correct={run['correct']} "
                     f"failed={run['failed']}/{run['attempted']} {shown}\n")
    return run


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def verdict(parent, change, better, bound):
    """The verdict for one metric over pairs of (parent, change) values."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    p_iqr = q3 - q1
    if wins * 10 >= 9 * len(parent) and sign * (cm - pm) > p_iqr:
        word = "gain"
    elif -sign * (cm - pm) > bound * abs(pm):
        word = "worse"
    elif p_iqr > bound * abs(pm):
        word = "unresolved"
    else:
        word = "within"
    return wins, pm, p_iqr, cm, word


def report(workload, runs, spec):
    pairs = [(a, b) for a, b in runs
             if a["metrics"] and b["metrics"]]
    print(f"\n## {workload}: {len(pairs)} complete pairs of {len(runs)}")
    for side in ("parent", "change"):
        rs = [r for pair in runs for r in pair if r["side"] == side]
        failed = sum(r["failed"] for r in rs)
        attempted = sum(r["attempted"] for r in rs)
        wrong = sum(1 for r in rs if r["correct"] is not True)
        killed = sum(1 for r in rs if r["killed_once"])
        print(f"{side}: failed/attempted {failed}/{attempted}, "
              f"runs not correct {wrong}/{len(rs)}, killed and re-run {killed}")
    if not pairs:
        return
    print("| metric | parent median (IQR) | change median (IQR) | change | "
          "wins | verdict |")
    print("|---|---|---|---|---|---|")
    for m in spec["end_to_end"]:
        name = m["name"]
        p = [a["metrics"][name] for a, b in pairs if name in a["metrics"]]
        c = [b["metrics"][name] for a, b in pairs if name in a["metrics"]]
        if not p:
            continue
        wins, pm, p_iqr, cm, word = verdict(p, c, m["better"], m["bound"])
        c1, c3 = quartiles(c)
        rel = (cm - pm) / pm * 100 if pm else float("nan")
        print(f"| {name} ({m['unit']}) | {pm:.4g} ({p_iqr:.3g}) | "
              f"{cm:.4g} ({c3 - c1:.3g}) | {rel:+.1f}% | "
              f"{wins}/{len(p)} | {word} |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", action="append",
                    help="workload (repeatable; default: every one declared)")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--out", help="write every run's result to this JSON file")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}

    all_runs = {}
    for w in workloads:
        runs = []
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            sys.stderr.write(f"{w} seed {args.seed} pair {i + 1}/{args.pairs} "
                             f"({order[0]} first)\n")
            done = {s: run_side(sides[s], w, args.seed, seconds, s) for s in order}
            runs.append((done["parent"], done["change"]))
        all_runs[w] = runs
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"seed": args.seed, "seconds": seconds,
                           "runs": all_runs}, f, indent=1)
    for w in workloads:
        report(w, all_runs[w], spec)


if __name__ == "__main__":
    main()
