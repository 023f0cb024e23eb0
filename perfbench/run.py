#!/usr/bin/env python3
"""Audit-analytics benchmark for graft.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness
from source (perfbench/build.sbt, cached by a hash of the sources under
.perfbench/), checks the committed input data against its checksums, and
runs one closed-loop client: the workload's ops back to back in one
local[4] session, each forced through the `noop` sink. The seed only
permutes the op order within each pass.

--trace 0 prints the end-to-end metrics; --trace 1 runs a traced session
and prints the per-layer metrics, writing its spans and self times to
.perfbench/traces/. Every run takes each op's output digest once, outside
the timed region, and compares it with perfbench/expected/digests.json;
any op that throws or mismatches makes the run incorrect and the exit
code 1. The last stdout line is the result JSON.

--expected FILE compares the digests against FILE instead (the digest
self-test uses it). The committed digests are written only by
oracle_check.py --write, from outputs the DuckDB oracle has checked.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
HEAP = "2g"
BUILD_TIMEOUT = 840
JVM_TIMEOUT = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    stamp_path = os.path.join(CACHE, "build.json")
    digest = sources_digest()
    if os.path.exists(stamp_path):
        stamp = load_json(stamp_path)
        if stamp["sources"] == digest:
            return stamp["classpath"]
    # sbt's scratch files and server socket stay inside the checkout, and
    # no JVM it starts writes /tmp/hsperfdata_*
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tmp = os.path.join(CACHE, "tmp-sbt")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(CACHE, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT)
    lines = open(log).read().strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed, see {log}")
    classpath = lines[-1].strip()
    with open(stamp_path, "w") as f:
        json.dump({"sources": digest, "classpath": classpath}, f)
    return classpath


def check_data(data_dir, sums_file):
    """Every input file must match its committed sha256."""
    for line in open(sums_file):
        want, name = line.split()
        path = os.path.join(data_dir, name)
        if not os.path.exists(path):
            fail(f"missing input {path}")
        with open(path, "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                fail(f"checksum mismatch: {path}")


def java(classpath, main, args, log_name, timeout=None, env=None):
    """Run a JVM main with the engine's JVM flags in a fresh scratch dir
    under .perfbench/, its output going to a log; returns the exit code.
    The engine's SPARK_* settings come only from `env`."""
    timeout = timeout or JVM_TIMEOUT
    tmp = os.path.join(CACHE, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict({k: v for k, v in os.environ.items() if not k.startswith("SPARK_")},
               **(env or {}))
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, main] + args)
    with open(os.path.join(CACHE, "logs", log_name), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=tmp, env=env, stdout=log,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{main} timed out after {timeout} s, see .perfbench/logs/{log_name}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return p.returncode


def jvm(classpath, args, log_name):
    """Run the harness in a fresh JVM and return its result object."""
    out = os.path.join(CACHE, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    code = java(classpath, "perfbench.Harness",
                args + ["--out", out, "--launched", repr(time.time())], log_name)
    if code != 0 or not os.path.exists(out):
        fail(f"harness exited {code}, see .perfbench/logs/{log_name}")
    res = load_json(out)
    os.remove(out)
    return res


def check_digests(res, expected, data_name):
    """Ops that ran but whose digest differs from the expected one (ops
    that threw are counted as throws)."""
    want = expected.get(data_name, {})
    return sorted(op for op, got in res["digests"].items()
                  if "error" not in got and want.get(op) != got)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=os.path.join(HERE, "expected", "digests.json"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources next to perfbench/ (run from a full checkout)")
    workloads = load_json(os.path.join(HERE, "workloads.json"))
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; choose from {sorted(workloads)}")
    w = workloads[a.workload]
    os.makedirs(os.path.join(CACHE, "logs"), exist_ok=True)
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)

    classpath = build()
    data_dir = os.path.join(HERE, "data", w["data"])
    check_data(data_dir, os.path.join(HERE, "data", w["data"] + ".sha256"))

    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    res = jvm(classpath, ["--data", data_dir, "--seed", str(a.seed),
                          "--ops", ",".join(w["ops"]), "--seconds", str(a.seconds),
                          "--trace", str(a.trace)], f"{tag}.log")

    expected = load_json(a.expected)
    threw = sorted({o["op"] for o in res["ops"] if o["error"]})
    mismatched = check_digests(res, expected, w["data"])
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if o["error"]) + len(mismatched)
    for o in res["ops"]:
        if o["error"]:
            print(f"[perfbench] {o['op']} threw: {o['error'][:300]}", file=sys.stderr)
    for op in mismatched:
        print(f"[perfbench] {op}: digest {res['digests'].get(op)} != expected "
              f"{expected.get(w['data'], {}).get(op)}", file=sys.stderr)

    summary = {"workload": a.workload, "seed": a.seed, "attempted": attempted,
               "failed_ratio": failed / attempted, "threw": threw,
               "digest_mismatch": mismatched}
    if a.trace == 0:
        values, info = benchlib.end_to_end(res)
        summary.update(info)
    else:
        values = benchlib.per_layer(res)
        counts = benchlib.op_counts(res)
        committed = load_json(os.path.join(HERE, "expected", "counts.json"))
        summary["counts_above_committed"] = benchlib.counts_above(
            counts, committed["ops"])
        trace_file = os.path.join(CACHE, "traces", tag + ".json")
        with open(trace_file, "w") as f:
            json.dump({"metrics": values, "op_counts": counts,
                       "spans": benchlib.spans(res), "result": res}, f)
        summary["trace_file"] = os.path.relpath(trace_file, ROOT)
    print("[perfbench] " + json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": benchlib.unit(k)}
                    for k, v in sorted(values.items())}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
