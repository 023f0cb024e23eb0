#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload NAME [--seeds 1,2,...] [--seconds S]
        [--out FILE] [--against FILE]

Runs `run.py --trace 0` once per seed and prints, per metric, the median
and (Q3 - Q1) / median over the runs, with the quartiles from
statistics.quantiles(values, n=4), next to the metric's bound in
BENCHMARK.json. Also prints each run's wall time. --out appends one JSON
line per workload with all values. --against reads an earlier set of the
same workload from such a file (its last line for the workload) and adds
each metric's change of median, (this - earlier) / earlier, which must
not exceed the bound where the metric got worse.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--against", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or str(spec["run_seconds"])
    values, walls = {}, []
    for seed in a.seeds.split(","):
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", seed, "--seconds", seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        if p.returncode != 0 or not res["correct"]:
            sys.exit(f"seed {seed}: exit {p.returncode}, correct={res['correct']}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s  " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())), flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    earlier = {}
    if a.against:
        with open(a.against) as f:
            for line in f:
                rec = json.loads(line)
                if rec["workload"] == a.workload:
                    earlier = rec["values"]
    for k, xs in sorted(values.items()):
        spread = benchlib.quartile_spread(xs) if len(xs) >= 2 else float("nan")
        med = benchlib.median(xs)
        change = ""
        if k in earlier:
            before = benchlib.median(earlier[k])
            change = f"  earlier median {before:.4f}  change {(med - before) / before:+.4f}"
        print(f"{k:14s} median {med:10.4f}  spread {spread:.4f}  "
              f"bound {bounds.get(k)}  bound/3 {bounds.get(k, 0) / 3:.4f}{change}")
    print(f"run wall: median {benchlib.median(walls):.1f} s, max {max(walls):.1f} s")
    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seeds": a.seeds,
                                "values": values, "walls": walls}) + "\n")


if __name__ == "__main__":
    main()
