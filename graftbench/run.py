#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Compiles the engine and the benchmark from the checkout's sources with the
Scala compiler among Spark's jars the first time, and again whenever a
source changes; then runs the benchmark JVM and relays its output. The
last line of stdout is the result JSON: {"correct", "attempted", "failed", "metrics"}. Everything
the run writes stays inside the checkout (graftbench/target for the
build, a per-run directory under graftbench/work for data, and the
traced run's span log under graftbench/traces).

The result's metrics are checked against BENCHMARK.json at the root of
the checkout: an untraced run must report every end-to-end metric, each
non-zero; a traced run reports every per-layer metric, 0 where the
workload does not exercise the layer.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("serve_interactive", "serve_batch", "index_ingest")
# The sources the benchmark compiles: the engine's main sources, the
# test-only reference oracle, and this package.
SCALA_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(ROOT, "src", "test", "scala", "graft", "oracle"),
              os.path.join(HERE, "src", "main", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
# Local cores the benchmark JVM sees (Spark's local[N], its shuffle
# partitions, and the JVM's GC and JIT threads). On a shared 4-core host,
# two leave room for the driver thread, which does most of a small
# query's work, and for the JVM's own threads; with four, run-to-run
# latency spread was about twice as wide.
CORES = 2
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 needs these outside spark-submit (the same list
# the engine's build.sbt passes to forked runs).
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.access(exe, os.X_OK):
        die("java not found: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars():
    """Spark's jars directory: from SPARK_HOME, else from spark-submit on
    PATH, else the one the engine's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if home:
        jars = os.path.join(home, "jars")
    elif submit:
        jars = os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars")
    else:
        jars = None
        sbt = os.path.join(ROOT, "build.sbt")
        if os.path.exists(sbt):
            with open(sbt) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
            jars = m and m.group(1)
    if not jars or not os.path.isdir(jars):
        die("Spark's jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def scala_sources():
    files = []
    for d in SCALA_DIRS:
        if not os.path.isdir(d):
            die("missing engine source " + os.path.relpath(d, ROOT) +
                " (run from a full checkout)")
        files += sorted(os.path.join(r, f) for r, _, fs in os.walk(d)
                        for f in fs if f.endswith(".scala"))
    return files


def source_hash(files, jars):
    # The checkout's path and the jars directory are part of the key: the
    # stamp records absolute classpath entries.
    h = hashlib.sha256((ROOT + "\0" + jars).encode())
    for p in files + sorted(os.path.join(r, f) for r, _, fs in
                            os.walk(RESOURCES) for f in fs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with the Scala compiler that ships among Spark's jars,
    unless the stamp matches the sources; returns the runtime classpath.
    Nothing is resolved: the compiler, the Scala library and Spark all
    come from Spark's jars directory."""
    jars = spark_jars()
    files = scala_sources()
    digest = source_hash(files, jars)
    classpath = os.pathsep.join([CLASSES, RESOURCES, os.path.join(jars, "*")])
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if json.load(f).get("sources") == digest:
                return classpath
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Scala compiler among Spark's jars in " + jars)
    os.makedirs(TARGET, exist_ok=True)
    out = CLASSES + ".tmp"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(TARGET, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-d", out, "-usejavacp", "-deprecation", "-feature"]
                          + files) + "\n")
    log = os.path.join(TARGET, "build.log")
    cmd = [java(), "-Xmx1536m", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + TARGET,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "@" + args]
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=HERE, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("the Scala build %s; see %s" % (
            "timed out" if code is None else "failed", log))
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(out, CLASSES)
    tmp = STAMP + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"sources": digest}, f)
    os.replace(tmp, STAMP)
    return classpath


def run_jvm(classpath, args, extra):
    spans = os.path.join(HERE, "traces", "%s-seed%d.jsonl" % (args.workload, args.seed))
    work = os.path.join(HERE, "work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark binds to the loopback interface, whatever the host's name
    # resolves to.
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    cmd = ([java(), "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-XX:ActiveProcessorCount=%d" % CORES] +
           [a for o in ADD_OPENS for a in ("--add-opens", o)] +
           ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false",
            "-Dspark.driver.host=localhost",
            "-Dspark.driver.bindAddress=127.0.0.1",
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--spans", spans] + extra)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("benchmark run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def conform(result, trace):
    """Check the result's metrics against BENCHMARK.json and keep exactly
    the ones it lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {}
    for m in bench["per_layer" if trace else "end_to_end"]:
        got = result["metrics"].get(m["name"])
        if got is None:
            if not trace:
                die("end-to-end metric %s missing" % m["name"])
            got = {"value": 0, "unit": m["unit"]}
        if got["unit"] != m["unit"]:
            die("metric %s has unit %s, BENCHMARK.json says %s"
                % (m["name"], got["unit"], m["unit"]))
        if not trace and not got["value"] > 0:
            die("end-to-end metric %s is %s" % (m["name"], got["value"]))
        metrics[m["name"]] = got
    result["metrics"] = metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, help="corpus size (default 1000)")
    args = ap.parse_args()
    t0 = time.time()
    classpath = build()
    print("graftbench: build ready in %.1f s" % (time.time() - t0), file=sys.stderr)
    extra = ["--docs", str(args.docs)] if args.docs else []
    code, out = run_jvm(classpath, args, extra)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stdout.write(out)
        die("benchmark JVM exited with code %d" % code)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stdout.write(out)
        die("the benchmark's last line is not a result document")
    conform(result, args.trace == 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
