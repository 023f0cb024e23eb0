#!/usr/bin/env python3
"""A/A reconciliation of this harness with the graft.Bench protocol.

    python3 perfbench/aa.py [--seeds 1,2,3]

Runs graft.Bench (every op, cold + warm, warm = min of the two, ops in
name order, one local[4] session) over the benchmark's input data, then
`run.py --trace 0` once per seed and workload, and prints, per workload,
the sum of Bench's `queries_warm` over the workload's ops next to the
median `warm_pass_s`, and their ratio. Both sides run with the same JVM
flags on the same box, one after the other.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1,2,3")
    a = ap.parse_args()
    os.makedirs(os.path.join(run.CACHE, "logs"), exist_ok=True)
    classpath = run.build()
    workloads = run.load_json(os.path.join(HERE, "workloads.json"))
    seconds = str(run.load_json(os.path.join(ROOT, "BENCHMARK.json"))["run_seconds"])
    detail = {}
    for data in sorted({w["data"] for w in workloads.values()}):
        log = f"aa-bench-{data}.log"
        code = run.java(classpath, "graft.Bench", [], log, timeout=3600,
                        env={"SPARK_GRAFT_SF_DIR": os.path.join(HERE, "data", data),
                             "SPARK_GRAFT_CPUS": "4"})
        if code != 0:
            run.fail(f"graft.Bench exited {code}, see .perfbench/logs/{log}")
        with open(os.path.join(run.CACHE, "logs", log)) as f:
            line = next(l for l in f if l.startswith("[bench-detail] "))
        detail[data] = json.loads(line[len("[bench-detail] "):])
        print(f"graft.Bench on {data}: total_warm {detail[data]['total_warm']:.3f} s "
              f"over {len(detail[data]['queries_warm'])} ops, "
              f"failed {detail[data]['failed']}")
    print("| workload | Bench warm sum (s) | warm_pass_s median (s) | runs | ratio Bench / harness |")
    print("|---|---|---|---|---|")
    for name, w in workloads.items():
        bench = sum(detail[w["data"]]["queries_warm"][op] for op in w["ops"])
        warm = []
        for seed in a.seeds.split(","):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", seed, "--seconds", seconds, "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            warm.append(json.loads(p.stdout.strip().splitlines()[-1])
                        ["metrics"]["warm_pass_s"]["value"])
        med = statistics.median(warm)
        print(f"| `{name}` | {bench:.3f} | {med:.3f} | {len(warm)} | {bench / med:.3f} |")


if __name__ == "__main__":
    main()
