#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

  python3 perfbench/run.py --workload dashboard-read|ingest-ticks \\
      --seed N [--seconds S] [--trace 0|1]

Run from the repository root. The first run builds the engine and the
benchmark program (sbt, offline) into the checkout; later runs reuse the
build while the sources are unchanged. Each run then generates its
inputs from the seed (gen.py), runs one JVM (graft.perfbench.Main)
that sets up, warms up and measures for S seconds, checks every
measured output against the engine's DuckDB oracles (check.py), and
prints the metrics (metrics.py): the end-to-end ones with --trace 0,
the per-layer ones with --trace 1. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}. Everything the run
writes stays under <root>/.bench_build.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SETUPS = 3
HEAP = "2g"
# Spark slots: at most two, whatever the machine has. On a shared 4-vCPU
# host a stage of four tasks waits for its slowest vCPU; two slots leave
# the scheduler thread, GC and the other tenants room, and were as fast or faster
# on both workloads (see README, "Steadiness record").
MAX_SLOTS = 2
# C1 only: the default tiered JIT was still speeding reads up 3x after
# 50 s, so a 20 s window measured JIT progress, which a busy host slows.
# C1 reaches its steady speed within the set-ups. The heap is touched at
# start so the resident set does not depend on which regions GC used.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+AlwaysPreTouch"]
RUN_LIMIT_S = 170
# Inputs of the build: a change to any of them rebuilds.
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


_children = []


def _stop_children(signum, _frame):
    """Stops the build or the JVM with this process, so no run outlives it."""
    for c in _children:
        if c.poll() is None:
            c.kill()
            c.wait()
    sys.exit(128 + signum)


def _wait(cmd, budget_s, **kw):
    """Runs `cmd` to completion; returns its exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    _children.append(proc)
    try:
        return proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None
    finally:
        _children.remove(proc)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: steal is time the hypervisor
    gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark program if the sources changed; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dperfbench.cp=" + cp_file, "compile", "writeClasspath"]
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = _wait(cmd, 850, cwd=HERE, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        log(open(os.path.join(BUILD, "build.log")).read()[-4000:])
        fail("build failed (sbt exit %s)" % rc, 3)
    log("perfbench: built in %.1f s" % (time.time() - t))
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read()


def run_jvm(cp, workload, data, work, out, seconds, trace, cpus, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += JVM_FLAGS
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--data", data, "--work", work, "--out", out,
            "--seconds", str(seconds), "--setups", str(SETUPS), "--trace", str(trace),
            "--cpus", str(cpus)]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        rc = _wait(cmd, budget_s, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
    if rc is None:
        fail("the run did not finish within %.0f s" % budget_s, 4)
    if rc != 0 or not os.path.exists(out):
        log(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail("the benchmark JVM failed (exit %d)" % rc, 5)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to the benchmark (expected build.sbt and "
             "src/main/scala/graft in %s)" % ROOT)
    cp = build()
    t_start = time.time()  # the run's time limit counts from here

    os.makedirs(BUILD, exist_ok=True)
    for d in os.listdir(BUILD):
        if d.startswith("run-"):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    run_dir = os.path.join(BUILD, "run-%d" % os.getpid())
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(data)
    os.makedirs(work)
    nproc = len(os.sched_getaffinity(0))
    cpus = min(MAX_SLOTS, nproc)
    load_start = os.getloadavg()
    steal_start = cpu_ticks()
    try:
        gen.generate(args.seed, args.workload, data, SETUPS)
        budget = RUN_LIMIT_S - (time.time() - t_start)
        doc = run_jvm(cp, args.workload, data, work, os.path.join(run_dir, "run.json"),
                      args.seconds, args.trace, cpus, budget)
        setup_dir = os.path.join(data, "setup0")
        wrong = (check.dashboard if args.workload == "dashboard-read" else check.ingest)(
            doc, setup_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = metrics.timed_ops(doc)
    errored = [o["id"] for o in timed if o["error"]]
    failed = sorted(set(errored) | set(wrong))
    e2e = metrics.end_to_end(doc)
    steal_end = cpu_ticks()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "spark_slots": cpus,
        "loadavg_start": load_start[0], "loadavg_end": os.getloadavg()[0],
        "steal_share": round((steal_end[0] - steal_start[0])
                             / max(1, steal_end[1] - steal_start[1]), 4),
        "control_ms_start": doc["control_ms"][0], "control_ms_end": doc["control_ms"][1],
        "ops": {k: len(metrics.timed_ops(doc, k)) for k in sorted({o["kind"] for o in timed})},
        "error_rate": len(failed) / len(timed), "wrong_outputs": len(wrong),
        "errors": sorted({o["error"] for o in timed if o["error"]})[:3],
        "setup_s_each": [round((o["end"] - o["start"]) / 1e3, 3)
                         for o in doc["ops"] if o["phase"] == "setup"],
        "warmup_s": round(sum(o["end"] - o["start"] for o in doc["ops"]
                              if o["phase"] == "warmup") / 1e3, 3),
        "measured_s": round((timed[-1]["end"] - timed[0]["start"]) / 1e3, 3),
        "wall_s": round(time.time() - t_start, 1),
    }
    prim = [o["end"] - o["start"] for o in metrics.timed_ops(doc, metrics.PRIMARY[args.workload])]
    record["op_p95_ms"] = metrics.percentile(prim, 95)
    if len(prim) <= 20:
        record["op_ms"] = [round(x) for x in prim]
    gold = [o["end"] - o["start"] for o in metrics.timed_ops(doc, "gold_read")]
    if gold:
        record["gold_read_p50_ms"] = metrics.percentile(gold, 50)
    print("run: " + json.dumps(record, sort_keys=True))
    print("end-to-end: " + ", ".join("%s=%.4g %s" % (k, m["value"], m["unit"])
                                     for k, m in e2e.items()))
    result_metrics = metrics.per_layer(doc) if args.trace else e2e
    print(json.dumps({"correct": not failed, "attempted": len(timed), "failed": len(failed),
                      "metrics": result_metrics}))


if __name__ == "__main__":
    main()
