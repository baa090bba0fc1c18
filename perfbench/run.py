#!/usr/bin/env python3
"""The repository benchmark: drives the graft engine through its public
module functions in one seeded workload and prints every metric.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/bench.jar, reusing the jar while no source changes, then runs
one JVM with a Spark local[n] session (n = min(TASK_THREADS, cores)). Workloads:

  mr_batch        TeraSort/TeraValidate, WordCount, Grep, a skewed join and
                  sketch aggregates over generated inputs, then corpus
                  dedup: clean, MinHash-LSH, components, keep-best, band
                  index and incremental dedup
  table_commits   one writer on a snapshot table, a read after each commit

--trace 0 measures the end-to-end metrics; --trace 1 is a separate run with
spans, Spark listener events and a counting filesystem, and reports the
per-layer metrics (its trace file is kept under .bench_build/traces/).
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only
when every correctness check passed.
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
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("mr_batch", "table_commits")
RUN_LIMIT_S = 170          # a run must end within this, build excluded
BUILD_LIMIT_S = 900
HEAP = "1536m"
# Spark task threads. On a 4-vCPU virtual machine shared with other
# tenants, four task threads ran mr_batch no faster than two while the
# others were busy: the extra threads measured the scheduler, not the
# program.
TASK_THREADS = 2
# Class-data sharing: the first untraced run after a build archives the
# classes its JVM loaded, and later untraced runs map that archive. It
# shortens JVM and Spark start-up, on the parent and on a change alike.
# (The traced run puts a directory on the class path, which an archive
# cannot cover, and runs without it.)
CDS_ARCHIVE = "bench.jsa"
ADD_OPENS = (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
# the traced run's filesystem: every Hadoop Configuration loads core-site.xml
TRACED_CORE_SITE = """<?xml version="1.0"?>
<configuration>
  <property><name>fs.file.impl</name><value>perfbench.CountingLocalFileSystem</value></property>
  <property><name>fs.AbstractFileSystem.file.impl</name><value>perfbench.CountingLocalFs</value></property>
</configuration>
"""


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java found (set JAVA_HOME)")
    return found


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars):
    """Compile engine + benchmark sources into one jar; reuse it while the
    sources and the Spark jars are unchanged. A rebuild drops the
    class-data archive made from the previous jar."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    bench = os.path.join(root, ".bench_build")
    jar = os.path.join(bench, "bench.jar")
    stamp_file = jar + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    os.makedirs(bench, exist_ok=True)
    for f in (stamp_file, jar, os.path.join(bench, CDS_ARCHIVE)):
        if os.path.exists(f):
            os.remove(f)
    tmp = jar + ".tmp.jar"
    cp = os.path.join(jars, "*")
    jtmp = os.path.join(bench, "compile-tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = [java_bin(), "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + jtmp,
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("compile timed out")
    shutil.rmtree(jtmp, ignore_errors=True)
    if r.returncode != 0:
        fail("compile failed")
    os.rename(tmp, jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


def run_jvm(cmd, log, env, limit):
    """Run the measuring JVM in its own process group; kill the group on
    timeout and wait for it to end."""
    with open(log, "wb") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft not found")
    jars = spark_jars()
    jar = build(root, jars)
    started = time.time()

    bench = os.path.join(root, ".bench_build")
    work = os.path.join(bench, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        cp = [jar]
        if args.trace:
            conf = os.path.join(work, "conf")
            os.makedirs(conf)
            with open(os.path.join(conf, "core-site.xml"), "w") as fh:
                fh.write(TRACED_CORE_SITE)
            cp.insert(0, conf)
        cp.append(os.path.join(jars, "*"))
        result_file = os.path.join(work, "result.json")
        trace_file = os.path.join(work, "trace.json")
        cmd = [java_bin()]
        for p in ADD_OPENS:
            cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
        if not args.trace:
            archive = os.path.join(bench, CDS_ARCHIVE)
            cmd.append(("-XX:SharedArchiveFile=" if os.path.exists(archive)
                        else "-XX:ArchiveClassesAtExit=") + archive)
        cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + tmp,
                "-Dspark.local.dir=" + tmp,
                "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                "-cp", os.pathsep.join(cp), "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", repr(args.seconds), "--trace", str(args.trace),
                "--cores", str(min(TASK_THREADS, os.cpu_count() or 1)),
                "--work", work, "--out", result_file, "--trace-out", trace_file]
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        log = os.path.join(work, "jvm.log")
        code = run_jvm(cmd, log, env, max(10, RUN_LIMIT_S - (time.time() - started)))
        if code != 0 or not os.path.exists(result_file):
            with open(log, "rb") as fh:
                tail = fh.read()[-6000:].decode("utf-8", "replace")
            print(tail, file=sys.stderr)
            fail("the measuring JVM %s" % ("timed out" if code is None else "exited %d" % code))
        with open(result_file) as fh:
            r = json.load(fh)
        trace = None
        if args.trace:
            with open(trace_file) as fh:
                trace = json.load(fh)
            keep = os.path.join(bench, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(trace_file, os.path.join(keep, "%s-%d.json" % (args.workload, args.seed)))
        return report(args, r, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, r, trace):
    failed_checks = [c for c in r["checks"] if not c[1]]
    correct = r["error"] is None and not failed_checks and r["failed"] == 0
    print("workload %s  seed %d  passes %d  cores %d" % (
        r["workload"], args.seed, len(r["pass_wall_s"]), r["cores"]))
    for name, _, detail in failed_checks:
        print("CHECK FAILED %s: %s" % (name, detail))
    if r["error"]:
        print("ERROR %s" % r["error"])
    print("checks passed: %d of %d" % (len(r["checks"]) - len(failed_checks), len(r["checks"])))
    out = {}
    if correct:
        if args.trace:
            out = metrics.per_layer(r, trace)
        else:
            out = metrics.end_to_end(r)
            for kind, xs in (("commit", r["commit_ms"]), ("read", r["read_ms"])):
                hp = metrics.highest_resolved(len(xs))
                print("%s latency: %d samples; %d beyond p90; highest percentile with "
                      "%d beyond: %s" % (kind, len(xs), metrics.beyond(len(xs), 90),
                                         metrics.MIN_BEYOND, "p%g" % hp if hp else "none"))
        for name, (value, unit) in out.items():
            print("%-36s %14.4f %s" % (name, value, unit))
        if not args.trace:
            rate = r["failed"] / r["attempted"]
            print("%-36s %14.4f %s" % ("error_rate", rate, "ratio"))
    print(json.dumps({
        "correct": correct,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
