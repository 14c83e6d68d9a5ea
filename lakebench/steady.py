#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed,
and print for every end-to-end metric the median, the quartiles and the
spread (IQR ÷ median) next to the metric's bound from BENCHMARK.json.

    python3 lakebench/steady.py --workload interactive --runs 10 [--seed0 1] [--sets 2]

Quartiles are Python's statistics.quantiles(values, n=4).  A metric whose
spread exceeds its bound is flagged OVER; one above a third of its bound
is flagged WIDE.  With --sets 2 the runs of two sets (seeds seed0.. and
seed0+runs..) are interleaved, so that a slow drift of the host's speed
falls on both alike, and each metric's second median is compared with
the first: WORSE if it is worse by more than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def verdict(rel, bound):
    if rel > bound:
        return "OVER"
    if rel > bound / 3:
        return "WIDE"
    return "ok"


def table(workload, runs, metrics):
    lines = [f"workload {workload}: {len(runs)} runs, seeds "
             f"{', '.join(str(r['seed']) for r in runs)}",
             f"{'metric':<14} {'median':>12} {'q1':>12} {'q3':>12} "
             f"{'iqr/med':>8} {'bound':>6}  verdict"]
    for m in metrics:
        med, q1, q3, rel = spread([r["metrics"][m["name"]]["value"] for r in runs])
        lines.append(f"{m['name']:<14} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} "
                     f"{rel:>8.4f} {m['bound']:>6.3f}  {verdict(rel, m['bound'])}")
    ok = sum(r["correct"] for r in runs)
    load = [r["loadavg"] for r in runs]
    lines.append(f"correct runs {ok}/{len(runs)}; wall per run "
                 f"{statistics.median(r['wall_s'] for r in runs):.1f} s (median); "
                 f"1-min loadavg at start {min(load):.2f}..{max(load):.2f}")
    return "\n".join(lines)


def compare(first, second, metrics):
    """Second median against the first, in the metric's worse direction."""
    lines = [f"{'metric':<14} {'median 1':>12} {'median 2':>12} {'worse by':>9} "
             f"{'bound':>6}  verdict"]
    for m in metrics:
        a = statistics.median(r["metrics"][m["name"]]["value"] for r in first)
        b = statistics.median(r["metrics"][m["name"]]["value"] for r in second)
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        lines.append(f"{m['name']:<14} {a:>12.5g} {b:>12.5g} {worse:>9.4f} "
                     f"{m['bound']:>6.3f}  {'WORSE' if worse > m['bound'] else 'ok'}")
    return "\n".join(lines)


def run_once(bench, workload, seed):
    load = os.getloadavg()[0]
    t0 = time.time()
    out = subprocess.run(bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res.update(seed=seed, wall_s=time.time() - t0, loadavg=load)
    print(f"seed {seed}: " + ", ".join(
        f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
        file=sys.stderr, flush=True)
    return res


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    sets = [[] for _ in range(args.sets)]
    for i in range(args.runs):
        for k, runs in enumerate(sets):
            runs.append(run_once(bench, args.workload, args.seed0 + k * args.runs + i))
    print("\n\n".join(table(args.workload, runs, bench["end_to_end"]) for runs in sets))
    if args.sets == 2:
        print("\nsecond set against the first\n" + compare(*sets, bench["end_to_end"]))


if __name__ == "__main__":
    main(sys.argv[1:])
