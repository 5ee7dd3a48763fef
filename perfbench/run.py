#!/usr/bin/env python3
"""The repository benchmark: timed `fal flow run`s and warm query passes
over the program in this checkout, with output checks and a traced
per-layer breakdown.

    python3 perfbench/run.py --workload flow_python --seed 1 --seconds 5 --trace 0

It builds the program from source with sbt on first use (the classpath
is cached under perfbench/target), makes the workload's inputs from the
seed, runs one JVM on local[nproc], checks every output, and prints one
JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Work files live under perfbench/.work and are removed at the
end; a traced run keeps its spans in perfbench/.work/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as spanlib  # noqa: E402

# Table data: the fixed, read-only generated corpus (TESTDATA.md).
DATA = os.environ.get("GRAFT_BENCH_DATA", "/root/testdata/sf0.01")
PREP_REPS = 3
JVM_TIMEOUT_S = 165
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Single-plan, oracle-checked queries that are steady once warm; tx_*
# and sim_knn_graph read standing models, so their cold builds land in
# setup_s and their resolve in the warm-up.
QUERY_SCAN = [
    "c6_join_left", "c11_rollup", "c12_window_analytics", "e10_paths",
    "tx_tfidf", "tx_bm25", "sim_knn_graph"]

WORKLOADS = {"flow_python": "flow", "query_scan": "query"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- build ------------------------------------------------------------

def source_stamp():
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns))
                         .encode())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile with sbt when the sources changed; return the classpath."""
    cache = os.path.join(HERE, "target", "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            old, cp = f.read().split("\n", 1)
        if old == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~"))
    log("perfbench: building with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], cwd=HERE, env=env,
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cache, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


# ---- host -------------------------------------------------------------

def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


# ---- the JVM run ------------------------------------------------------

def run_jvm(cp, work, spec):
    spec_path = os.path.join(work, "spec.properties")
    with open(spec_path, "w") as f:
        for k, v in sorted(spec.items()):
            f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))
    result = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # fixed heap and young generation: the driver's peak RSS then tracks
    # what the program retains, not the collector's sizing decisions
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn384m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + ["--add-opens=%s=ALL-UNNAMED" % m for m in JAVA_OPENS]
           + ["-cp", cp, "graft.perfbench.Main", spec_path, result])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=out,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise SystemExit("perfbench: JVM run failed (%s)" % code)
    with open(result) as f:
        return json.load(f)


# ---- output checks ----------------------------------------------------

def check_flow(res, ms, batches, ops):
    """Every node ends success/tested in every run; every model's rows
    and checksum match DuckDB after the full run and after the rerun."""
    runs = [p["status"] for p in res["prep"]]
    for r in res["reps"]:
        runs += [r["run_status"], r["rerun_status"]]
    for st in runs:
        for name, s in st.items():
            ops.attempt("node %s: %s" % (name, s), s in ("success", "tested"))
    want = gen.expected(ms, DATA, batches)
    for i, key in enumerate(("state1", "state2")):
        got = res["check"][key]
        for m in ms:
            ops.attempt("%s %s" % (key, m.name),
                        tuple(got.get(m.name, ())) == want[i][m.name])


def check_query(res, work, ops):
    """Each query's written result matches its DuckDB oracle by row count
    and content hash; every timed count matches the oracle's rows."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(DATA, t + ".parquet")
        cols = {r[0]: r[1] for r in
                con.execute("DESCRIBE SELECT * FROM '%s'" % p).fetchall()}
        sel = "*"
        if t == "events" and cols.get("ts") == "BIGINT":
            sel = "* REPLACE (make_timestamp(ts // 1000) AS ts)"
        con.execute("CREATE VIEW %s AS SELECT %s FROM '%s'" % (t, sel, p))
    errors = res["errors"]
    names = [s["q"] for s in res["reps"][0]["steps"]]
    runs = ["prep%d:%s" % (k, q) for k in range(len(res["prep"]))
            for q in names] + \
        ["out:" + q for q in names] + \
        ["pass%d:%s" % (i, q) for i in range(len(res["reps"])) for q in names]
    for r in runs:
        ops.attempt("run %s: %s" % (r, errors.get(r)), r not in errors)
    rows = {}
    for q, sql in res["oracle"].items():
        want = con.execute(sql).fetchdf()
        rows[q] = len(want)
        out = os.path.join(work, "out", q)
        got = pd.read_parquet(out) if os.path.exists(out) else None
        ok = got is not None and len(got) == len(want) and \
            content_hash(got) == content_hash(want)
        ops.attempt("output %s" % q, ok)
    for r in res["reps"]:
        for s in r["steps"]:
            ops.attempt("count %s" % s["q"],
                        s["count"] is not None and s["count"] == rows[s["q"]])
    con.close()


def _cell(x):
    import datetime
    import decimal
    import numpy as np
    import pandas as pd
    if x is None:
        return None
    if isinstance(x, (list, tuple, np.ndarray)):
        return tuple(_cell(y) for y in x)
    if isinstance(x, dict):
        return tuple(sorted((k, _cell(v)) for k, v in x.items()))
    if isinstance(x, (bool, np.bool_)):
        return bool(x)
    if isinstance(x, (int, np.integer)):
        return int(x)
    if isinstance(x, (float, np.floating)):
        x = float(x)
        if math.isnan(x):
            return None
        return int(x) if x.is_integer() else x
    if isinstance(x, decimal.Decimal):
        if x == x.to_integral_value():
            return int(x)
        return float(x) if decimal.Decimal(float(x)) == x else str(x)
    if x is pd.NaT:
        return None
    if isinstance(x, (datetime.date, pd.Timestamp)):
        return pd.Timestamp(x).isoformat()
    return x


def content_hash(df):
    """Hash of the rows in order, columns by name, with engine-specific
    value types (int widths, decimal vs float, date vs timestamp)
    normalised the way the repo's oracle compare treats them as equal."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r)
            for r in df[cols].astype(object).itertuples(index=False)]
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


class Ops:
    def __init__(self):
        self.attempted = 0
        self.failed = []

    def attempt(self, what, ok):
        self.attempted += 1
        if not ok:
            self.failed.append(what)


# ---- metrics ----------------------------------------------------------

def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def end_to_end(res, t_start, ops):
    reps = [r for r in res["reps"] if not r["traced"]]
    boot = (res["boot_done_ms"] / 1000.0) - t_start
    prep = median([p["s"] for p in res["prep"]])
    if res["kind"] == "flow":
        runs = [r["run_s"] for r in reps]
        steps = [median(runs), median([r["rerun_s"] for r in reps])]
        op = median(runs)
        storage = median([r["storage_bytes"] for r in reps])
        warm = 0.0
    else:
        op = median([r["pass_s"] for r in reps])
        per_q = {}
        for r in reps:
            for s in r["steps"]:
                per_q.setdefault(s["q"], []).append(s["s"])
        steps = [median(v) for v in per_q.values()]
        storage = res["storage_bytes"]
        warm = res["warm_s"]
    m = {
        "setup_s": (boot + prep + warm, "s"),
        "op_s": (op, "s"),
        "step_geomean_s": (geomean(steps), "s"),
        "storage_mb": (storage / 1e6, "MB"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "ops_ok_frac": (1.0 - len(ops.failed) / max(1, ops.attempted),
                        "frac"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources next to perfbench/")
    if not os.path.isdir(DATA):
        raise SystemExit("perfbench: table data not found at %s" % DATA)
    cp = classpath()

    t_start = time.time()
    load0, cpu0 = loadavg(), cpu_times()
    kind = WORKLOADS[a.workload]
    work = os.path.join(HERE, ".work", "%s-%d-%d"
                        % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rng = random.Random(a.seed)
    spec = {"workload": kind, "seconds": a.seconds, "trace": a.trace,
            "threads": nproc(), "work": work, "prep": PREP_REPS,
            "control_dir": DATA}
    try:
        if kind == "flow":
            ms = gen.generate(a.seed)
            project = os.path.join(work, "project")
            gen.write_project(ms, project, DATA)
            batches = [a.seed % 4, (a.seed + 1) % 4]
            spec.update(project=project,
                        batches=",".join(map(str, batches)))
        else:
            names = QUERY_SCAN[:]
            rng.shuffle(names)
            corpora = []
            for k in range(PREP_REPS):
                c = os.path.join(work, "corpus_%d" % k)
                os.symlink(DATA, c)
                corpora.append(c)
            spec.update(queries=",".join(names), corpora=",".join(corpora))
        res = run_jvm(cp, work, spec)
        t_jvm = time.time()
        log("perfbench: boot %.2fs, set-up rounds %s, timed %s" % (
            res["boot_done_ms"] / 1000.0 - t_start,
            [round(p["s"], 2) for p in res["prep"]],
            [tuple(round(r[k], 2) for k in ("run_s", "rerun_s", "pass_s",
                                            "run_cpu_s", "pass_cpu_s")
                   if k in r) for r in res["reps"]]))
        ops = Ops()
        if kind == "flow":
            check_flow(res, ms, batches, ops)
        else:
            check_query(res, work, ops)
        log("perfbench: JVM %.1fs, checks %.1fs"
            % (t_jvm - t_start, time.time() - t_jvm))
        control = median(res["c1_scan_s"])
        cpu1 = cpu_times()
        steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        flags = contention(a.workload, control, load0, loadavg(), steal)
        for f in ops.failed[:20]:
            log("perfbench: FAILED", f)
        if a.trace:
            metrics = spanlib.per_layer(res, spec["threads"])
            metrics["control.c1_scan_s"] = {"value": control, "unit": "s"}
            metrics["host.loadavg"] = {"value": load0, "unit": "load"}
            metrics["host.steal_frac"] = {"value": steal, "unit": "frac"}
            keep_trace(a, res, metrics)
        else:
            metrics = end_to_end(res, t_start, ops)
        if flags:
            log("perfbench: CONTENDED host:", "; ".join(flags))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log("perfbench: %s seed %d took %.1fs" % (a.workload, a.seed,
                                              time.time() - T_PROCESS))
    print(json.dumps({"correct": not ops.failed, "attempted": ops.attempted,
                      "failed": len(ops.failed), "metrics": metrics}))


def contention(workload, control, load, load_end, steal):
    """Flag a run that started on a host loaded past 1.5x its cores (a
    back-to-back run's own tail stays below that), that lost over 5% of
    its CPU time to the hypervisor (steal), or whose c1_scan control is
    out of line with this checkout's earlier runs."""
    flags = []
    if load > 1.5 * nproc():
        flags.append("loadavg %.2f > 1.5 x nproc %d" % (load, nproc()))
    if steal > 0.05:
        flags.append("cpu steal %.1f%%" % (100 * steal))
    hist_path = os.path.join(HERE, ".work", "control.jsonl")
    hist = []
    if os.path.exists(hist_path):
        with open(hist_path) as f:
            hist = [json.loads(l)["c1_scan_s"] for l in f if l.strip()]
    if len(hist) >= 3 and control > 1.5 * median(hist):
        flags.append("c1_scan %.3fs > 1.5x median %.3fs"
                     % (control, median(hist)))
    with open(hist_path, "a") as f:
        f.write(json.dumps({"workload": workload, "nproc": nproc(),
                            "c1_scan_s": control, "loadavg_start": load,
                            "loadavg_end": load_end, "steal_frac": steal,
                            "flags": flags}) + "\n")
    return flags


def keep_trace(a, res, metrics):
    d = os.path.join(HERE, ".work", "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "%s-%d.json" % (a.workload, a.seed)), "w") as f:
        json.dump({"spans": res["spans"], "spark": res["spark"],
                   "self_time_s": spanlib.self_times(res["spans"]),
                   "metrics": metrics}, f)


if __name__ == "__main__":
    main()
