#!/usr/bin/env python3
"""Self-test of the output check: a corrupted expected digest must fail
the run.

    python3 perfbench/selftest_digest.py [--workload audit]

Copies expected/digests.json into .perfbench/, alters the hash of one op
of the workload, runs run.py against the copy and passes only if that run
exits non-zero, reports correct=false, and names the altered op. Then
runs against the committed digests and passes only if that run is
correct.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, expected):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0", "--expected", expected],
        cwd=ROOT, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stderr


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="audit")
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        w = json.load(f)[a.workload]
    committed = os.path.join(HERE, "expected", "digests.json")
    with open(committed) as f:
        digests = json.load(f)
    victim = w["ops"][0]
    d = digests[w["data"]][victim]
    d["hash"] = str(int(d["hash"]) + 1)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    corrupt = os.path.join(ROOT, ".perfbench", "digests-corrupt.json")
    with open(corrupt, "w") as f:
        json.dump(digests, f)

    code, res, err = run(a.workload, corrupt)
    ok_bad = (code != 0 and res.get("correct") is False and res.get("failed", 0) >= 1
              and f"{victim}: digest" in err)
    print(f"corrupted digest for {victim}: exit {code}, correct={res.get('correct')}, "
          f"failed={res.get('failed')} -> {'PASS' if ok_bad else 'FAIL'}")
    code, res, _ = run(a.workload, committed)
    ok_good = code == 0 and res.get("correct") is True and res.get("failed") == 0
    print(f"committed digests: exit {code}, correct={res.get('correct')} -> "
          f"{'PASS' if ok_good else 'FAIL'}")
    sys.exit(0 if ok_bad and ok_good else 1)


if __name__ == "__main__":
    main()
