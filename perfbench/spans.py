"""Span arithmetic for the traced run: self time, scheduler wait,
critical path, job attribution by job group, and the per-layer metrics
built from them.

Span times are epoch milliseconds (floats); Spark job times are epoch
milliseconds from the listener. Flow spans: flow.run > api.load,
plans.plan, plans.execute > api.node > pybridge.call. Query spans:
query > query.build, query.plan, query.exec.
"""
import statistics

MB = 1e6


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """Nearest-rank percentile, p in (0, 100]."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[max(0, -(-len(xs) * p // 100) - 1)]


def covered(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part its children cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def self_times(spans):
    """Total self time in seconds per span name."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + \
            self_time(s, kids.get(s["id"], [])) / 1000.0
    return out


def sched_waits(nodes, deps, exec_start):
    """Per node: start minus ready time, where ready is when the last
    dependency finished (the executor's start for a root node)."""
    out = {}
    for n, (s, _) in nodes.items():
        ends = [nodes[d][1] for d in deps.get(n, ()) if d in nodes]
        out[n] = max(0.0, s - max(ends, default=exec_start))
    return out


def critical_path(busy, deps):
    """Longest dependency chain of node busy times."""
    memo = {}

    def longest(n):
        if n not in memo:
            memo[n] = busy[n] + max(
                (longest(d) for d in deps.get(n, ()) if d in busy),
                default=0.0)
        return memo[n]
    return max((longest(n) for n in busy), default=0.0)


def stage_owner(jobs):
    """Completed stage id -> the first job that lists it (a shared
    shuffle stage runs once, in the earliest job that needs it)."""
    owner = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for s in j["stages"]:
            owner.setdefault(s, j["id"])
    return owner


def jobs_of(jobs, group, lo, hi):
    """Jobs of `group` that started inside [lo, hi]."""
    return [j for j in jobs if j["group"] == group and lo <= j["start"] <= hi]


def job_time(jobs, lo, hi):
    return covered([(j["start"], j["end"]) for j in jobs], lo, hi)


class Engine:
    """Listener records indexed for window queries."""

    def __init__(self, spark):
        self.jobs = spark.get("jobs", [])
        self.stages = spark.get("stages", [])
        owner = stage_owner(self.jobs)
        self.by_job = {}
        for s in self.stages:
            if s["id"] in owner:
                self.by_job.setdefault(owner[s["id"]], []).append(s)

    def window(self, lo, hi):
        return [j for j in self.jobs if lo <= j["start"] <= hi]

    def written(self, jobs):
        return sum(s["written"] for j in jobs
                   for s in self.by_job.get(j["id"], ()))

    def totals(self, jobs, wall_s, threads):
        st = [s for j in jobs for s in self.by_job.get(j["id"], ())]
        busy = sum(s["run_ms"] for s in st) / 1000.0
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(st),
            "spark.tasks": sum(s["tasks"] for s in st),
            "spark.task_busy_s": busy,
            "spark.gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
            "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in st) / MB,
            "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in st) / MB,
            "spark.spill_mb": sum(s["spill"] for s in st) / MB,
            "spark.cpu_util": busy / (threads * wall_s) if wall_s > 0 else 0.0,
        }


UNITS = {
    "plans.plan_s": "s", "plans.sched_wait_p50_s": "s",
    "plans.sched_wait_p90_s": "s", "plans.pool_busy_frac": "frac",
    "plans.critical_path_s": "s", "api.node_p50_s": "s",
    "api.node_p90_s": "s", "api.node_driver_s": "s",
    "api.jobs_per_node": "count", "api.write_mb": "MB",
    "api.rerun_node_p50_s": "s", "pybridge.call_p50_s": "s",
    "pybridge.copy_mb": "MB", "pybridge.child_s": "s",
    "query.build_s": "s", "query.plan_s": "s", "query.exec_s": "s",
    "standing.build_s": "s", "standing.models_built": "count",
    "standing.resolve_s": "s", "storage.retained_blocks": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_busy_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.cpu_util": "frac",
    "process.cpu_s": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "frac",
}


def _flow_trace(sp, deps, eng, threads):
    """Metrics of one traced flow run (one trace id)."""
    by = {}
    for s in sp:
        by.setdefault(s["name"], []).append(s)
    run = by["flow.run"][0]
    exe = by["plans.execute"][0]
    nodes = {s["attrs"]["node"]: (s["start"], s["end"])
             for s in by.get("api.node", [])}
    busy = {n: (e - s) / 1000.0 for n, (s, e) in nodes.items()}
    waits = sched_waits(nodes, deps, exe["start"])
    calls = by.get("pybridge.call", [])
    node_jobs = {n: jobs_of(eng.jobs, n, s, e) for n, (s, e) in nodes.items()}
    driver = [busy[n] - job_time(node_jobs[n], *nodes[n]) / 1000.0
              for n in nodes]
    copy_jobs, child = [], []
    for c in calls:
        js = jobs_of(eng.jobs, c["attrs"]["node"], c["start"], c["end"])
        copy_jobs += js
        child.append((c["end"] - c["start"] - job_time(js, c["start"],
                                                        c["end"])) / 1000.0)
    all_node_jobs = [j for js in node_jobs.values() for j in js]
    exe_s = (exe["end"] - exe["start"]) / 1000.0
    m = {
        "plans.plan_s": (by["plans.plan"][0]["end"]
                         - by["plans.plan"][0]["start"]) / 1000.0,
        "plans.pool_busy_frac": sum(busy.values()) / (threads * exe_s),
        "plans.critical_path_s": critical_path(busy, deps),
        "api.jobs_per_node": len(all_node_jobs) / max(1, len(nodes)),
        "api.write_mb": (eng.written(all_node_jobs)
                         - eng.written(copy_jobs)) / MB,
        "pybridge.copy_mb": eng.written(copy_jobs) / MB,
    }
    run_jobs = eng.window(run["start"], run["end"])
    m.update(eng.totals(run_jobs, (run["end"] - run["start"]) / 1000.0,
                        threads))
    samples = {"wait": [w / 1000.0 for w in waits.values()],
               "busy": list(busy.values()), "driver": driver,
               "call": [(c["end"] - c["start"]) / 1000.0 for c in calls],
               "child": child}
    return m, samples


def _query_pass(sp, eng, threads):
    by = {}
    for s in sp:
        by.setdefault(s["name"], []).append(s)
    qs = by.get("query", [])
    lo, hi = min(s["start"] for s in qs), max(s["end"] for s in qs)
    m = {k: sum(s["end"] - s["start"] for s in by.get(k, [])) / 1000.0
         for k in ("query.build", "query.plan", "query.exec")}
    m = {k + "_s": v for k, v in m.items()}
    m.update(eng.totals(eng.window(lo, hi), (hi - lo) / 1000.0, threads))
    return m


def per_layer(res, threads):
    """Every per-layer metric for a traced run. Layers the workload does
    not exercise report 0."""
    eng = Engine(res["spark"])
    traces = {}
    for s in res["spans"]:
        traces.setdefault(s["trace"], []).append(s)
    vals = {k: [] for k in UNITS}
    out = {k: 0.0 for k in UNITS}

    def put(m):
        for k, v in m.items():
            vals[k].append(v)

    reps = res["reps"]
    if res["kind"] == "flow":
        deps = res["deps"]
        pooled = {}
        for t, sp in sorted(traces.items()):
            m, smp = _flow_trace(sp, deps, eng, threads)
            phase = t.rsplit(".", 1)[1]
            if phase == "run":
                put(m)
            for k, v in smp.items():
                pooled.setdefault((phase, k), []).extend(v)
        run = lambda k: pooled.get(("run", k), [])  # noqa: E731
        out.update({k: median(v) for k, v in vals.items() if v})
        out.update({
            "plans.sched_wait_p50_s": pct(run("wait"), 50),
            "plans.sched_wait_p90_s": pct(run("wait"), 90),
            "api.node_p50_s": pct(run("busy"), 50),
            "api.node_p90_s": pct(run("busy"), 90),
            "api.node_driver_s": pct(run("driver"), 50),
            "api.rerun_node_p50_s": pct(pooled.get(("rerun", "busy"), []),
                                        50),
            "pybridge.call_p50_s": pct(run("call") + pooled.get(
                ("rerun", "call"), []), 50),
            "pybridge.child_s": pct(run("child") + pooled.get(
                ("rerun", "child"), []), 50),
        })
        key = "run_s"
    else:
        for t, sp in sorted(traces.items()):
            put(_query_pass(sp, eng, threads))
        out.update({k: median(v) for k, v in vals.items() if v})
        out["storage.retained_blocks"] = median(
            [sum(s["retained_blocks"] for s in r["steps"])
             for r in reps if r["traced"]])
        out["standing.build_s"] = sum(res["standing_built"].values())
        out["standing.models_built"] = len(res["standing_built"])
        out["standing.resolve_s"] = sum(res["standing_resolved"].values())
        key = "pass_s"
    cpu = key.replace("_s", "_cpu_s")
    out["process.cpu_s"] = median([r[cpu] for r in reps if not r["traced"]])
    traced = median([r[key] for r in reps if r["traced"]])
    plain = median([r[key] for r in reps if not r["traced"]])
    out["trace.overhead_s"] = traced - plain
    out["trace.overhead_frac"] = (traced - plain) / plain if plain else 0.0
    return {k: {"value": v, "unit": UNITS[k]} for k, v in out.items()}
