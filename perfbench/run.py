#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

    python3 perfbench/run.py --workload olap_curation|graph_serve \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles graft's sources
and the benchmark's (perfbench/build.py) into perfbench/.build; later
runs reuse that build while the sources are unchanged. The last line of
stdout is one JSON object: correct, attempted, failed, and the metrics
BENCHMARK.json names (end_to_end with --trace 0, per_layer with --trace 1).
The line before it is the JVM's full record, with sample counts.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ("olap_curation", "graph_serve")
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def query_data(root):
    """The query workloads' tables: gen_data's fixed scale and seed, so the
    pinned results hold; the run's seed orders the queries instead."""
    out = os.path.join(build.build_dir(root), f"data_{gen_data.SCALE}_{gen_data.SEED}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out)
        open(done, "w").close()
    return out


def run_jvm(root, classpath, args, work):
    cmd = build.java_command(classpath, work) + ["perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"the JVM exited with code {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in the current directory")
    with open(spec_path) as f:
        spec = json.load(f)

    classpath = build.ensure_built(root)
    data = query_data(root)
    work = os.path.join(build.build_dir(root), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = run_jvm(root, classpath, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work,
            "--pins", os.path.join(HERE, "pins.txt")], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    records = [json.loads(l) for l in out.splitlines() if l.startswith('{"perfbench"')]
    if not records:
        fail("the JVM printed no result")
    rec = records[-1]
    source = rec["layers"] if a.trace else rec["e2e"]
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        if m["name"] not in source or source[m["name"]]["value"] is None:
            fail(f"metric {m['name']} missing from the {a.workload} run")
        metrics[m["name"]] = {"value": source[m["name"]]["value"], "unit": m["unit"]}
    print(json.dumps(rec, separators=(",", ":")))
    print(json.dumps({"correct": rec["wrong"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
