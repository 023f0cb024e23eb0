#!/usr/bin/env python3
"""Per-op Spark job and stage counts: the benchmark's noise-free
regression channel.

    python3 perfbench/check_counts.py [--seeds 1,2] [--record]

Runs `run.py --trace 1` once per workload and seed (shuffle width 4, the
harness's local[4] session) and collects, per op, the job and completed
stage counts of every traced pass. Without --record it exits 1 when any
op's count rises above the range committed in expected/counts.json. With
--record it widens the committed ranges to take in the observed counts
(ops no longer in a workload are dropped; a range never narrows, since a
count seen once may come again). Counts are not all exact: ops whose
count varied are listed under `not_exact`, and the check allows their
whole observed range.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

COUNTS = os.path.join(HERE, "expected", "counts.json")


def observe(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True)
    summary = next((json.loads(line[len("[perfbench] "):])
                    for line in p.stdout.splitlines()
                    if line.startswith("[perfbench] {")), None)
    if p.returncode != 0 or summary is None:
        sys.exit(f"{workload} seed {seed}: run.py exited {p.returncode}\n{p.stderr[-2000:]}")
    with open(os.path.join(ROOT, summary["trace_file"])) as f:
        return json.load(f)["op_counts"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)

    observed = {}
    for w in workloads:
        for seed in a.seeds.split(","):
            for op, c in observe(w, int(seed), a.seconds).items():
                o = observed.setdefault(op, {"jobs": [], "stages": []})
                o["jobs"] += c["jobs"]
                o["stages"] += c["stages"]

    if a.record:
        with open(COUNTS) as f:
            before = json.load(f)
        ops, samples = {}, {}
        for op, c in sorted(observed.items()):
            ref = before["ops"].get(op, {})
            ops[op] = {k: [min(v + ref.get(k, v)[:1]), max(v + ref.get(k, v)[1:])]
                       for k, v in c.items()}
            samples[op] = len(c["jobs"]) + before.get("samples", {}).get(op, 0)
        out = {"shuffle_partitions": 4,
               "samples": samples,
               "not_exact": sorted(op for op, c in ops.items()
                                   if any(lo != hi for lo, hi in c.values())),
               "ops": ops}
        with open(COUNTS, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"recorded {len(ops)} ops; not exact: {out['not_exact']}")
        return

    with open(COUNTS) as f:
        committed = json.load(f)
    risen = benchlib.counts_above(observed, committed["ops"])
    for op, kind, got, ref in risen:
        print(f"ROSE {op}: {kind} {got} > committed max {ref}")
    print(f"{len(observed)} ops checked; not exact (ranges allowed): "
          f"{committed['not_exact']}")
    sys.exit(1 if risen else 0)


if __name__ == "__main__":
    main()
