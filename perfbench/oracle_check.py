#!/usr/bin/env python3
"""Cross-check of the committed expected digests against the DuckDB
oracle.

    python3 perfbench/oracle_check.py [--write]

For every op of every workload: graft.Verify writes the op's output as
parquet over the benchmark's input data, tools/check.py compares that
output with the op's DuckDB oracle, and perfbench.DigestDir digests the
same parquet. Passes when check.py passes every op and every digest
equals the committed one, so the committed digests stand for
oracle-checked outputs. Prints a report; exits 1 on any difference.

--write is the only way the committed digests are made: once check.py
has passed every op, it writes their digests to expected/digests.json
instead of comparing with it.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()
    os.makedirs(os.path.join(run.CACHE, "logs"), exist_ok=True)
    classpath = run.build()
    workloads = run.load_json(os.path.join(HERE, "workloads.json"))
    digests_file = os.path.join(HERE, "expected", "digests.json")
    expected = run.load_json(digests_file)
    ok = True
    for data in sorted({w["data"] for w in workloads.values()}):
        ops = sorted({op for w in workloads.values() if w["data"] == data for op in w["ops"]})
        data_dir = os.path.join(HERE, "data", data)
        out = os.path.join(run.CACHE, "verify", data)
        code = run.java(classpath, "graft.Verify", [data_dir, out] + ops,
                        f"verify-{data}.log", timeout=1800)
        if code != 0:
            run.fail(f"graft.Verify exited {code}")
        check = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check.py"), data_dir, out] + ops,
            cwd=ROOT, capture_output=True, text=True)
        print(f"== {data}: tools/check.py (exit {check.returncode})")
        print(check.stdout.strip()[-3000:])
        passed = {line.split()[1] for line in check.stdout.splitlines()
                  if line.startswith("PASS ")}
        checked = check.returncode == 0 and passed >= set(ops)
        ok &= checked
        dig = subprocess.run(
            ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.JVM_OPENS]
            + ["-cp", classpath, "perfbench.DigestDir", out] + ops,
            cwd=ROOT, capture_output=True, text=True)
        got = dict(line.split("\t", 1) for line in dig.stdout.splitlines() if "\t" in line)
        print(f"== {data}: digests of the oracle-checked outputs")
        if a.write and checked and all(op in got for op in ops):
            expected[data] = {op: json.loads(got[op]) for op in ops}
        label = "written" if a.write else "same as committed"
        for op in ops:
            same = json.loads(got.get(op, "null")) == expected.get(data, {}).get(op)
            ok &= same
            print(f"{op:28s} {label if same else 'DIFFERS'}: {got.get(op)}")
    if a.write and ok:
        with open(digests_file, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    print("PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
