#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload run, end-to-end or traced.

Usage (from the repository root):

    python3 perfbench/run.py --workload text_curation --seed 1 --seconds 10 --trace 0

Steps:
  1. build graft and the harness from source (sbt, cached on a source hash);
  2. generate the seeded inputs and their DuckDB references (cached per
     seed, not counted in any metric; the time is logged on stderr);
  3. run the workload in one JVM at local[<cores>], one client, one job at
     a time, checking every job's output against the reference;
  4. print the run record (environment, job walls) and, as the last line,
     {"correct", "attempted", "failed", "metrics"}.

Exit status is 0 only when every job matched its reference.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["text_curation", "graph_iterate", "events_rw", "image_lsh"]
JVM_TIMEOUT_S = 170
HEAP = "2g"
# The JIT stops at C1. A run is about a minute, and under C2 a job was still
# getting faster after 60 s of jobs; C2's compiler threads also burn about a
# core beside the job, so the figures followed how much CPU the host left
# them (two busy neighbour processes: job_p50_s +46% under C2, +0% under C1
# on text_curation). Under C1 the job walls level off after a job or two.
JIT = "-XX:TieredStopAtLevel=1"

# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """Run a child process, killing it (and waiting) on timeout."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "gen.py"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def build():
    """Compile graft + harness; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft sources (src/main/scala) not found")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if not (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        t0 = time.time()
        env = dict(os.environ, COURSIER_MODE="offline")
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "compile"],
                         800, cwd=HERE, env=env, stdout=sys.stderr,
                         stderr=sys.stderr)
        if rc != 0:
            sys.exit(f"perfbench: build failed (sbt exit {rc})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"build {time.time() - t0:.1f} s")
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def java_cmd(cp, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", JIT,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", cp, "perfbench.Main"] + main_args)


def oracle_sql(cp):
    path = os.path.join(BUILD, "oracle.json")
    if not os.path.exists(path):
        rc = run_bounded(java_cmd(cp, ["--export-oracle", path + ".tmp"]), 120,
                         stdout=sys.stderr, stderr=sys.stderr)
        if rc != 0:
            sys.exit("perfbench: oracle SQL export failed")
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def inputs(workload, seed, cp):
    """Generated inputs + references for (workload, seed), cached."""
    sys.path.insert(0, HERE)
    import gen  # noqa: E402  (sibling module, imported after the path fix)
    d = os.path.join(BUILD, "data", f"{workload}-seed{seed}-v{gen.GEN_VERSION}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = gen.generate(workload, seed, tmp, oracle_sql(cp))
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        log(f"generated {workload} seed {seed} in {meta['gen_s']} s "
            f"(rows {meta['rows']}, {meta['input_bytes']} bytes)")
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    data = inputs(args.workload, args.seed, cp)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    record = os.path.join(run_dir, "record.json")
    local_dir = os.path.join(BUILD, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    # pin shuffle/spill storage so both sides of an A/B use the same disk
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=local_dir)
    cmd = java_cmd(cp, [
        "--workload", args.workload, "--data", data, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--result", result, "--record", record,
        "--warehouse", os.path.join(run_dir, "warehouse"),
        "--spans", os.path.join(run_dir, "spans.jsonl")])
    try:
        rc = run_bounded(cmd, JVM_TIMEOUT_S, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, cwd=run_dir)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: workload run timed out")
    if not os.path.exists(result):
        sys.exit(f"perfbench: workload run produced no result (exit {rc})")
    with open(record) as f:
        print(json.dumps({"record": json.load(f)}, sort_keys=True))
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(os.path.join(run_dir, "warehouse"), ignore_errors=True)
    print(json.dumps(res), flush=True)
    sys.exit(0 if rc == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
