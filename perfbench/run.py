#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark with sbt and caches the runtime classpath under perfbench/.cache;
later runs reuse it while the sources are unchanged. Each run starts one
JVM (perfbench.Main), which writes its timings and outputs under
perfbench/work/<workload>; this script checks those outputs with DuckDB
and prints `{"correct", "attempted", "failed", "metrics"}` last. With
`--trace 1` it prints the per-layer metrics and writes every per-layer
number to perfbench/out/trace-<workload>-seed<n>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("stream_valued", "query_suite")
# Spark local[n] per workload, capped at nproc. A drain's critical path is
# the Spark driver's per-batch work: with 2 task threads it ran 7-17% faster than
# with 4 and held its pace when the host stole CPU time.
TASK_THREADS = {"stream_valued": 2, "query_suite": 4}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# the JDK 17 module openings Spark needs outside spark-submit (as in the
# engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# printed per-layer metrics: the stage-level split every workload has
STAGE_METRICS = {
    "stages": "count", "tasks": "count", "task_max_ms": "ms",
    "task_median_ms": "ms", "executor_run_ms": "ms", "gc_ms": "ms",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Runtime classpath of the benchmark, building it when the sources
    changed since the cached build."""
    cache = os.path.join(HERE, ".cache", "classpath.json")
    digest = source_hash()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["hash"] == digest and all(os.path.exists(p) for p in
                                       c["classpath"].split(os.pathsep)[:2]):
            return c["classpath"]
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "export perfbench/Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in p.stdout.splitlines()
             if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"hash": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def run_jvm(cp, args, work, timeout):
    """Runs perfbench.Main; returns (exit code, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL)
        timer = threading.Timer(timeout, proc.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
        proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def check(workload, work, res, tables_dir):
    import checks
    con = checks.connect()
    pq = checks.parquet_files
    errs = []
    if workload == "stream_valued":
        errs += checks.check_sink(con, res["sink"], pq(f"{work}/truth/valued"))
        if res["lost_kp_upgrades"] != 0:
            errs.append(f"lost_kp_upgrades = {res['lost_kp_upgrades']}")
        if res["trace"]:
            # a traced run also writes the training frame over the sink
            errs += checks.check_training(
                con, pq(res["trace"]["layers"]["features"]["path"]),
                pq(f"{work}/truth/labels"))
    else:
        for q, sql in sorted(res["oracle_sql"].items()):
            errs += [f"{q}: {e}" for e in checks.check_query(
                con, tables_dir, sql, pq(f"{work}/out/{q}"))]
    con.close()
    return errs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a playeractionspark checkout "
             "(build.sbt and src/main/scala/graft not found)")

    cp = classpath()
    t0 = time.time()  # set-up starts here: build time stays out of it
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = min(TASK_THREADS[a.workload], os.cpu_count() or 1)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(cores),
            "--t0-ms", str(int(t0 * 1000))]
    tables_dir = os.path.join(work, "tables")
    if a.workload == "query_suite":
        import tables
        tables.write_tables(tables_dir, a.seed)
        args += ["--tables", tables_dir]

    t_jvm = time.time()
    rc, rss_mb = run_jvm(cp, args, work, RUN_TIMEOUT_S - (t_jvm - t0))
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"workload {a.workload} failed (exit {rc})", 1)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    t_check = time.time()
    errs = check(a.workload, work, res, tables_dir)
    print(f"perfbench: {a.workload} seed {a.seed}: inputs "
          f"{t_jvm - t0:.1f} s, jvm {t_check - t_jvm:.1f} s, checks "
          f"{time.time() - t_check:.1f} s", file=sys.stderr)
    for e in errs:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)

    if a.trace:
        trace = {"workload": a.workload, "seed": a.seed,
                 "traced_end_to_end": dict(res["e2e"], setup_s=res["setup_s"],
                                           peak_rss_mb=rss_mb),
                 **res["trace"]}
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{a.workload}-seed{a.seed}.json"),
                  "w") as f:
            json.dump(trace, f, indent=1, sort_keys=True)
        st = res["trace"]["stages"]
        metrics = {k: {"value": st[k], "unit": u}
                   for k, u in STAGE_METRICS.items()}
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "rows_per_s": {"value": res["e2e"]["rows_per_s"], "unit": "rows/s"},
            "latency_s": {"value": res["e2e"]["latency_s"], "unit": "s"},
            "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        }
    # `correct` speaks of the outputs of the operations that did not fail;
    # a failed operation counts in `failed` and writes no checked output
    print(json.dumps({"correct": not errs, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
