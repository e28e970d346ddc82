#!/usr/bin/env python3
"""A/B runs of the repo's benchmark: perfbench/run.py in two checkouts.

    python3 tools/perfbench_ab.py --a <checkout> --b <checkout> \\
        --workload wc_text --seeds 5-9 [--seconds 15] [--trace 0] [--out ab.json]

For each seed it runs `perfbench/run.py --workload W --seed S` once in each
checkout, alternating the order in ABBA fashion (seed 1: A then B, seed 2:
B then A, ...), so a drift of the host's speed during the runs lands on
both sides alike. Each checkout builds and runs its own sources; this script
only calls perfbench and reads what a run writes.

It prints, per metric of the run's last JSON line: each side's median and
interquartile range (q1-q3), the change of the medians, whether that change
exceeds A's IQR, and in how many of the seed pairs B beat A (the direction
comes from BENCHMARK.json: "better": "lower" or "higher"). Then, per run,
the load stamp perfbench records in results.json: loadavg at start and
end, and the fixed calibration loop's time at start and end. With --out it
also writes every run's metrics and stamps as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    """'5-9' or '1,3,5' -> list of ints."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def quartiles(xs):
    """(q1, median, q3) by linear interpolation (statistics 'inclusive')."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns its record (metrics, failures, load stamp)."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"perfbench printed nothing in {checkout} (exit {p.returncode})")
    last = json.loads(lines[-1])
    results = os.path.join(checkout, ".bench_build", "runs", f"{workload}-trace{trace}",
                           "results.json")
    with open(results) as f:
        load = json.load(f)["load"]
    return {"seed": seed, "exit": p.returncode, "correct": last["correct"],
            "attempted": last["attempted"], "failed": last["failed"],
            "metrics": {k: v["value"] for k, v in last["metrics"].items()},
            "units": {k: v["unit"] for k, v in last["metrics"].items()},
            "load": load}


def directions(checkout):
    """metric name -> 'lower' or 'higher', from the checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["better"] for m in b["end_to_end"] + b["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="checkout A (the baseline)")
    ap.add_argument("--b", required=True, help="checkout B (the change)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 5-9 or 1,2,3")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's record here as JSON")
    a = ap.parse_args()
    sides = {"A": os.path.abspath(a.a), "B": os.path.abspath(a.b)}
    better = directions(sides["B"])

    runs = {"A": [], "B": []}
    for i, seed in enumerate(seeds(a.seeds)):
        for side in ("A", "B") if i % 2 == 0 else ("B", "A"):
            r = run(sides[side], a.workload, seed, a.seconds, a.trace)
            runs[side].append(r)
            ld = r["load"]
            print(f"[ab] {side} seed {seed}: correct={r['correct']} failed={r['failed']} "
                  f"loadavg {ld['loadavg_start']:.2f}->{ld['loadavg_end']:.2f} "
                  f"calib {ld['calibration_ms_start']:.0f}->{ld['calibration_ms_end']:.0f} ms",
                  file=sys.stderr, flush=True)

    n = len(runs["A"])
    print(f"{a.workload}, {n} pairs (ABBA), A={sides['A']}, B={sides['B']}")
    print(f"{'metric':30} {'unit':6} {'A median':>12} {'A q1-q3':>23} {'B median':>12} "
          f"{'B q1-q3':>23} {'change':>8} {'>A IQR':>6} {'B wins':>7}")
    for name, unit in runs["B"][0]["units"].items():
        xa = [r["metrics"][name] for r in runs["A"]]
        xb = [r["metrics"][name] for r in runs["B"]]
        qa, qb = quartiles(xa), quartiles(xb)
        lower = better.get(name, "lower") == "lower"
        wins = sum(1 for va, vb in zip(xa, xb) if (vb < va if lower else vb > va))
        change = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
        beyond = abs(qb[1] - qa[1]) > qa[2] - qa[0]
        print(f"{name:30} {unit:6} {qa[1]:12.4f} {qa[0]:11.4f}-{qa[2]:<11.4f} {qb[1]:12.4f} "
              f"{qb[0]:11.4f}-{qb[2]:<11.4f} {change:+7.1f}% {'yes' if beyond else 'no':>6} "
              f"{wins:>3}/{n}")
    print("runs (side seed: correct failed | loadavg start->end | calibration ms start->end):")
    for side in ("A", "B"):
        for r in runs[side]:
            ld = r["load"]
            print(f"  {side} {r['seed']:>3}: {r['correct']!s:5} {r['failed']} | "
                  f"{ld['loadavg_start']:.2f}->{ld['loadavg_end']:.2f} | "
                  f"{ld['calibration_ms_start']:.0f}->{ld['calibration_ms_end']:.0f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                       "checkouts": sides, "runs": runs}, f, indent=1)
    bad = [r for side in runs.values() for r in side if r["exit"] != 0 or r["failed"]]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
