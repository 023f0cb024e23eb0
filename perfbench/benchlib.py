"""Pure metric math for the audit benchmark: percentiles, span self time,
and the reduction of one harness result into end-to-end and per-layer
metrics. No I/O here, so every function is unit-tested
(test_benchlib.py)."""
import math
import statistics
from statistics import median

SCHEMA_CALL_SITES = ("Tables.scala", "FeedSources.scala")
CORES = 4
MB = 1024.0 * 1024.0


def unit(name):
    """Unit of a metric, from its name."""
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.core_util", "trace.overhead"):
        return "ratio"
    return "count"


def quartile_spread(xs):
    """(Q3 - Q1) / median, with the quartiles as statistics.quantiles
    gives them (the 'exclusive' method)."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n, min_beyond=10):
    """The highest whole percentile that still has at least `min_beyond`
    of `n` samples strictly above its nearest-rank position; None when
    n is too small for any."""
    best = None
    for p in range(1, 100):
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= min_beyond:
            best = p
    return best


def covered(interval, children):
    """Length of `interval` covered by the union of `children`, each
    clipped to the interval. Intervals are (start, end) pairs."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in children
                     if min(hi, b) > max(lo, a))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval, children):
    """A span's duration minus the part of it its child spans cover."""
    return (interval[1] - interval[0]) - covered(interval, children)


def is_schema_job(job):
    return job["phase"] == "build" and any(
        site in name for name in job["stage_names"] for site in SCHEMA_CALL_SITES)


def end_to_end(res):
    """End-to-end metrics of one untraced run, from the harness result.
    Only the timed passes count; extra passes (run while --seconds had not
    elapsed) do not."""
    passes = res["passes"]
    cold = [p for p in passes if p["kind"] == "cold"]
    timed = [p for p in passes if p["kind"] == "timed"]
    by_op = {}
    for o in res["ops"]:
        if o["kind"] == "timed":
            by_op.setdefault(o["op"], []).append((o["end_ms"] - o["start_ms"]) / 1e3)
    op_walls = [x for xs in by_op.values() for x in xs]
    tail = tail_percentile(len(op_walls))
    tail = tail if tail and tail > 50 else None
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": (cold[0]["end_ms"] - cold[0]["start_ms"]) / 1e3,
        "warm_pass_s": median([(p["end_ms"] - p["start_ms"]) / 1e3 for p in timed]),
        # each op's median over the timed passes, then the median over ops
        "op_p50_s": median([median(xs) for xs in by_op.values()]),
        "peak_rss_mb": res["peak_rss_mb"],
    }, {"op_samples": len(op_walls), "timed_passes": len(timed),
        "extra_passes": sum(1 for p in passes if p["kind"] == "extra"),
        # a tail needs ten samples beyond it and must lie above the median;
        # None while a run has too few samples for that
        "op_tail_s": tail and {"percentile": tail, "value": percentile(op_walls, tail)}}


def per_layer(res):
    """Per-layer metrics of one traced run, each summed over a traced pass
    and averaged over the traced passes (peak memory is a maximum)."""
    ops = [o for o in res["ops"] if o["kind"] == "traced"]
    passes = sorted({o["pass"] for o in ops})
    n = float(len(passes))
    by_span = {}
    for j in res["jobs"]:
        by_span.setdefault(j["span"], []).append(j)
    stages = stages_by_job(res)

    m = {k: 0.0 for k in (
        "tables.schema_jobs", "tables.schema_s", "build.s", "build.self_s",
        "build.jobs", "build.loop_jobs", "plan.s", "plan.analysis_s",
        "plan.optimization_s", "plan.planning_s", "plan.exchanges",
        "plan.windows", "plan.broadcasts", "exec.s", "exec.self_s",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
        "exec.task_cpu_s", "exec.gc_s", "exec.fetch_wait_s",
        "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
        "op.self_s")}
    peak_mem = 0.0
    stream_wall = 0.0
    for o in ops:
        jobs = [j for j in by_span.get(o["span"], []) if j["end_ms"] >= 0]
        ph = phase_spans(o)
        m["op.self_s"] += self_time((o["start_ms"], o["end_ms"]), ph.values()) / 1e3
        build_jobs = [j for j in jobs if j["phase"] == "build"]
        exec_jobs = [j for j in jobs if j["phase"] == "exec"]
        schema = [j for j in build_jobs if is_schema_job(j)]
        m["tables.schema_jobs"] += len(schema)
        m["tables.schema_s"] += sum(j["end_ms"] - j["submit_ms"] for j in schema) / 1e3
        m["build.s"] += o["build_s"]
        m["build.self_s"] += self_time(
            ph["build"], [(j["submit_ms"], j["end_ms"]) for j in build_jobs]) / 1e3
        m["build.jobs"] += len(build_jobs)
        m["build.loop_jobs"] += len(build_jobs) - len(schema)
        m["plan.s"] += o["plan_s"]
        tracker = o["phases"]
        m["plan.analysis_s"] += tracker.get("analysis", 0.0)
        m["plan.optimization_s"] += tracker.get("optimization", 0.0)
        m["plan.planning_s"] += tracker.get("planning", 0.0)
        for k in ("exchanges", "windows", "broadcasts"):
            m["plan." + k] += o["shape"].get(k, 0)
        m["exec.s"] += o["exec_s"]
        m["exec.self_s"] += self_time(
            ph["exec"], [(j["submit_ms"], j["end_ms"]) for j in exec_jobs]) / 1e3
        m["exec.jobs"] += len(exec_jobs)
        for j in exec_jobs:
            for s in stages.get(j["id"], []):
                m["exec.stages"] += 1
                m["exec.tasks"] += s["tasks"]
                m["exec.task_run_s"] += s["run_ms"] / 1e3
                m["exec.task_cpu_s"] += s["cpu_ns"] / 1e9
                m["exec.gc_s"] += s["gc_ms"] / 1e3
                m["exec.fetch_wait_s"] += s["fetch_wait_ms"] / 1e3
                m["exec.shuffle_read_mb"] += s["shuffle_read_b"] / MB
                m["exec.shuffle_write_mb"] += s["shuffle_write_b"] / MB
                m["exec.spill_mb"] += s["spill_b"] / MB
                peak_mem = max(peak_mem, s["peak_mem_b"] / MB)
        if any(o["start_ms"] <= q <= o["end_ms"] for q in res["stream_queries"]):
            stream_wall += (o["end_ms"] - o["start_ms"]) / 1e3
    m = {k: v / n for k, v in m.items()}
    m["exec.peak_exec_mem_mb"] = peak_mem
    m["exec.core_util"] = m["exec.task_run_s"] / (m["exec.s"] * CORES)
    m["exec.sched_gap_s"] = m["exec.s"] - m["exec.task_run_s"] / CORES

    in_traced = [b for b in res["stream_batches"]
                 if any(o["start_ms"] <= b["ts_ms"] <= o["end_ms"] for o in ops)]
    queries = [q for q in res["stream_queries"]
               if any(o["start_ms"] <= q <= o["end_ms"] for o in ops)]
    rows = sum(b["input_rows"] for b in in_traced)
    m.update({
        "stream.queries": len(queries) / n,
        "stream.batches": len(in_traced) / n,
        "stream.input_rows": rows / n,
        "stream.trigger_s": sum(b["trigger_ms"] for b in in_traced) / 1e3 / n,
        "stream.add_batch_s": sum(b["add_batch_ms"] for b in in_traced) / 1e3 / n,
        "stream.query_planning_s": sum(b["query_planning_ms"] for b in in_traced) / 1e3 / n,
        "stream.wal_commit_s": sum(b["wal_commit_ms"] for b in in_traced) / 1e3 / n,
        "stream.state_rows": sum(b["state_rows"] for b in in_traced) / n,
        "stream.state_commit_s": sum(b["state_commit_ms"] for b in in_traced) / 1e3 / n,
        "stream.state_mem_mb": max([b["state_mem_b"] for b in in_traced] or [0]) / MB,
        "stream.rows_per_s": rows / stream_wall if stream_wall else 0.0,
    })
    m["trace.overhead"] = trace_overhead(res["passes"])
    m["session.build_s"] = res["session_build_s"]
    return m


def trace_overhead(passes):
    """Median over traced passes of the pass's wall time divided by the mean
    of the untraced passes on either side of it. Pass times still fall
    during a run; comparing each traced pass with its neighbours cancels
    that trend."""
    wall = {p["pass"]: (p["end_ms"] - p["start_ms"]) / 1e3 for p in passes}
    kind = {p["pass"]: p["kind"] for p in passes}
    ratios = [wall[p] / ((wall[p - 1] + wall[p + 1]) / 2)
              for p in sorted(wall) if kind[p] == "traced"
              and kind.get(p - 1) == "untraced" and kind.get(p + 1) == "untraced"]
    return median(ratios)


def stages_by_job(res):
    """Completed stage attempts grouped by the job that ran them. A stage
    listed by several jobs runs once, in the first of them; the later
    jobs skip it."""
    first_job = {}
    for j in sorted(res["jobs"], key=lambda j: j["id"]):
        for sid in j["stages"]:
            first_job.setdefault(sid, j["id"])
    out = {}
    for s in res["stages"]:
        if s["end_ms"] >= 0 and s["id"] in first_job:
            out.setdefault(first_job[s["id"]], []).append(s)
    return out


def phase_spans(o):
    """The build, plan and exec spans of an op, laid end to end from its
    start (the harness times them back to back)."""
    b1 = o["start_ms"] + o["build_s"] * 1e3
    p1 = b1 + o["plan_s"] * 1e3
    return {"build": (o["start_ms"], b1), "plan": (b1, p1),
            "exec": (p1, p1 + o["exec_s"] * 1e3)}


def spans(res):
    """Every span of the traced passes (op, phase, job, stage) with its
    parent and self time in ms. Spans of one op share the op's id."""
    out = []
    stages = stages_by_job(res)
    jobs = {}
    for j in res["jobs"]:
        if j["end_ms"] >= 0:
            jobs.setdefault(j["span"], []).append(j)

    def add(sid, parent, name, iv, children):
        out.append({"id": sid, "parent": parent, "name": name, "start_ms": iv[0],
                    "end_ms": iv[1], "self_ms": self_time(iv, children)})

    for o in res["ops"]:
        if o["kind"] != "traced":
            continue
        ph = phase_spans(o)
        add(o["span"], None, "op:" + o["op"], (o["start_ms"], o["end_ms"]), ph.values())
        for name, iv in ph.items():
            js = [j for j in jobs.get(o["span"], []) if j["phase"] == name]
            add(o["span"], "op", name, iv, [(j["submit_ms"], j["end_ms"]) for j in js])
            for j in js:
                st = stages.get(j["id"], [])
                add(o["span"], name, f"job:{j['id']}", (j["submit_ms"], j["end_ms"]),
                    [(s["submit_ms"], s["end_ms"]) for s in st])
                for s in st:
                    add(o["span"], f"job:{j['id']}", f"stage:{s['id']}.{s['attempt']}",
                        (s["submit_ms"], s["end_ms"]), [])
    return out


def op_counts(res):
    """Jobs and completed stages per op, one entry per traced pass."""
    stages = stages_by_job(res)
    counts = {}
    for o in res["ops"]:
        if o["kind"] != "traced":
            continue
        jobs = [j for j in res["jobs"] if j["span"] == o["span"]]
        c = counts.setdefault(o["op"], {"jobs": [], "stages": []})
        c["jobs"].append(len(jobs))
        c["stages"].append(sum(len(stages.get(j["id"], [])) for j in jobs))
    return counts


def counts_above(observed, committed):
    """Ops whose job or stage count exceeds the committed maximum, as
    (op, kind, observed max, committed max)."""
    out = []
    for op, c in sorted(observed.items()):
        ref = committed.get(op)
        for kind in ("jobs", "stages"):
            if ref is None or max(c[kind]) > ref[kind][1]:
                out.append((op, kind, max(c[kind]), ref[kind][1] if ref else None))
    return out
