#!/usr/bin/env python3
"""Steadiness of the benchmark: run each workload as two sets of runs and
report, per end-to-end metric, each set's median and quartiles, its spread
(interquartile distance as a share of the median) and whether the two sets
agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--workloads dashboard,adhoc]

Set one uses seeds 1..N, set two seeds 101..100+N. Every run must be
correct. The sets agree on a metric when both spreads are within its bound,
the two medians differ by no more than the bound (as a share of set one's,
in either direction), and the share of failed operations is the same.
setup_s is judged on its medians only: it is one set-up per run, and its
spread across runs is the host's, not the program's. Writes the runs and
the verdict to perfbench/out/steady.json; exits 1 if any workload disagrees.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    started = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - started
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1]), wall


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    report = {"runs": {}, "verdict": {}}
    ok_all = True
    for w in names:
        sets = []
        for base in (0, 100):
            runs = []
            for i in range(1, args.runs + 1):
                r, wall = one_run(bench, w, base + i)
                print(f"{w} seed {base + i}: correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} "
                      f"wall={wall:.0f}s", flush=True)
                runs.append(r)
            sets.append(runs)
        report["runs"][w] = sets
        ok = all(r["correct"] for s in sets for r in s)
        shares = [sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for s in sets]
        ok = ok and len(set(shares)) == 1
        print(f"\n{w}: failed share " + " / ".join(f"{x:.4f}" for x in shares))
        print(f"{'metric':22} {'set':>3} {'q1':>10} {'median':>10} {'q3':>10} "
              f"{'spread':>7} {'bound':>6}  verdict")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = [spread([r["metrics"][name]["value"] for r in s]) for s in sets]
            shift_ok = abs(stats[1][1] - stats[0][1]) <= bound * stats[0][1]
            spread_ok = name == "setup_s" or all(st[3] <= bound for st in stats)
            verdict = "ok" if shift_ok and spread_ok else "DISAGREE"
            ok = ok and verdict == "ok"
            for i, (q1, med, q3, sp) in enumerate(stats):
                print(f"{name:22} {i + 1:>3} {q1:10.4f} {med:10.4f} {q3:10.4f} "
                      f"{sp:7.3f} {bound:6.2f}  {verdict if i == len(stats) - 1 else ''}")
        report["verdict"][w] = ok
        ok_all = ok_all and ok
        print(f"{w}: {'steady' if ok else 'NOT steady'}")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steady.json"), "w") as f:
        json.dump(report, f)
    sys.exit(0 if ok_all else 1)


if __name__ == "__main__":
    main()
