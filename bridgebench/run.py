#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the harness from source,
then runs one workload in a fresh JVM.

Run from the root of a checkout:

    python3 bridgebench/run.py --workload bridge_fanout --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes the run's
spans under `.bench_build/traces/`. `--record-golden` rewrites the
batch_mix result digests (do this only on a commit whose outputs are
known good).

Everything the run writes stays under `.bench_build/` in the checkout.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("bridge_fanout", "bridge_durable", "batch_mix")
BENCH_DIR = "bridgebench"
PROGRAM_SOURCES = "src/main/scala"
PROGRAM_RESOURCES = "src/main/resources"
# the in-JVM MQTT broker the repo's own tests use
BROKER_SOURCE = "src/test/scala/graft/MqttTestBroker.scala"
BUILD_DIR = os.path.join(".bench_build", BENCH_DIR)
# a run's own cap is below this; this one also covers a JVM that hangs
# on the way out
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[bridgebench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    prog = sorted(glob.glob(os.path.join(PROGRAM_SOURCES, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    if not prog or not os.path.isfile(BROKER_SOURCE):
        fail(f"no program sources under {PROGRAM_SOURCES} (or no {BROKER_SOURCE}): "
             "run from the root of a full checkout")
    if not bench:
        fail(f"no harness sources under {BENCH_DIR}/src")
    return prog + [BROKER_SOURCE] + bench


def spark_jar_dir():
    """The jar directory the repo's own build compiles against
    (build.sbt's `unmanagedBase`)."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_jar_dir(), "*.jar")))
    if not jars:
        fail(f"no jars in {spark_jar_dir()}")
    return jars


def build():
    """Compiles program + harness with scalac unless the classes on disk
    were built from exactly these sources and jars."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", ":".join(jars), "@" + argfile]
    print(f"[bridgebench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed", 6)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-golden", action="store_true")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classes = build()
    root = os.getcwd()
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(root, BUILD_DIR, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    jvm = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(root, BENCH_DIR, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jvm += ["-cp", f"{classes}:{PROGRAM_RESOURCES}:{spark_jar_dir()}/*", "bridgebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", root, "--out", out]
    if a.record_golden:
        jvm.append("--record-golden")
    # the JVM's stdout goes to stderr: our last stdout line is the result
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(jvm, stdout=sys.stderr, stderr=sys.stderr, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{a.workload}: run did not finish within {RUN_TIMEOUT_S}s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not os.path.isfile(out):
        fail(f"{a.workload}: run failed with exit code {code}", code or 1)
    with open(out) as f:
        line = f.read().strip()
    os.remove(out)
    print(line)


if __name__ == "__main__":
    main()
