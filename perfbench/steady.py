#!/usr/bin/env python3
"""Run every workload as two sets of runs and say whether they agree.

    python3 perfbench/steady.py
    python3 perfbench/steady.py --smoke

Run from the root of a checkout. Set A uses seeds 1..10 and set B seeds
101..110. For each (workload, end-to-end metric) it prints the median and
quartiles of each set, the larger of the two sets' spreads (interquartile
range over the median) and the drift (B's median against A's, as a share
of A's; positive is worse). A BENCHMARK.json metric agrees when its spread
and the size of its drift, either way, are within its bound. The
workload-specific metrics (pass_s, read_p50_s, ...) are printed with their
sample counts; they have no bound.

--smoke runs each workload once for one second and fails unless every
output was correct and no op failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = 10


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"steady: {workload} seed {seed} failed (exit {p.returncode})")
    return json.loads(lines[-2]), json.loads(lines[-1]), time.time() - t0


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}

    if a.smoke:
        bad = 0
        for w in workloads:
            rec, res, _ = run_once(w, 1, 1)
            ok = res["correct"] and res["failed"] == 0
            bad += not ok
            print(f"{w:12s} {'OK' if ok else 'FAIL'} attempted={res['attempted']} "
                  f"failed={res['failed']} notes={rec['notes']}")
        sys.exit(1 if bad else 0)

    seeds = {"A": range(1, RUNS + 1), "B": range(101, 101 + RUNS)}
    records = {(w, s): [] for w in workloads for s in seeds}
    for s, ss in seeds.items():
        for seed in ss:
            for w in workloads:
                rec, res, wall = run_once(w, seed, spec["run_seconds"])
                if not res["correct"] or res["failed"]:
                    print(f"# {w} seed {seed}: correct={res['correct']} failed={res['failed']} "
                          f"{rec['notes']}")
                records[(w, s)].append(rec)
                print(f"# {s} {w} seed {seed} wall={wall:.1f}s: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    all_agree = True
    print(f"{'workload':12s} {'metric':16s} {'unit':6s} {'n/run':>6s} "
          f"{'A med [q1, q3]':>30s} {'B med [q1, q3]':>30s} {'spread':>7s} {'drift':>7s} agree")
    for w in workloads:
        names = list(records[(w, "A")][0]["e2e"])
        for m in names:
            row, spreads, meds = [], [], []
            for s in seeds:
                xs = [r["e2e"][m]["value"] for r in records[(w, s)] if m in r["e2e"]]
                q1, med, q3 = quartiles(xs)
                meds.append(med)
                spreads.append((q3 - q1) / med if med else 0.0)
                row.append(f"{med:10.4g} [{q1:8.4g}, {q3:8.4g}]")
            n = statistics.median(r["e2e"][m]["n"] for r in records[(w, "A")] if m in r["e2e"])
            unit = records[(w, "A")][0]["e2e"][m]["unit"]
            sign = -1 if m in bounds and bounds[m]["better"] == "higher" else 1
            drift = sign * (meds[1] - meds[0]) / meds[0] if meds[0] else 0.0
            verdict = ""
            if m in bounds:
                b = bounds[m]["bound"]
                ok = abs(drift) <= b and max(spreads) <= b
                all_agree &= ok
                verdict = f"{'yes' if ok else 'NO'} (bound {b})"
            print(f"{w:12s} {m:16s} {unit:6s} {n:6.0f} {row[0]:>30s} {row[1]:>30s} "
                  f"{max(spreads):7.3f} {drift:7.3f} {verdict}")
    print("sets agree within bounds" if all_agree else "sets DO NOT agree within bounds")
    sys.exit(0 if all_agree else 1)


if __name__ == "__main__":
    main()
