#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the landings DAG and
the curate stage.

    python3 perfbench/run.py --workload {dag_bulk,curate} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The script

1. compiles the program (src/main/scala) and the harness
   (perfbench/src) with the Scala compiler shipped in Spark's jars,
   once per source state, into perfbench/.build;
2. generates the workload's inputs from the seed (gen.py), after a
   determinism self-test of the generator;
3. runs the harness in one JVM: two warm-up units, then timed units
   for S seconds (at least two), each unit's output checked against the
   planted answers;
4. prints the result as the last line of standard output.

Set-up time (setup_s) runs from the start of input generation to the
first timed unit. With --trace 1 the harness alternates traced and
untraced units and reports per-layer metrics instead. A JSON report with
every unit's wall time and, when traced, every span is written to
perfbench/out/.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
DEADLINE_S = 170          # the whole run, build excluded
HEAP = "3g"

sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    found = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    if not found:
        fail("program sources not found under src/main/scala; run from a full checkout")
    return found + sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))


def build(jars):
    """Compile once per source state; returns the class directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        h.update(os.path.relpath(f, ROOT).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    classes = os.path.join(BUILD, h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    t = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + files,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.rename(tmp, classes)
    print("perfbench: compiled %d files in %.1f s" % (len(files), time.time() - t),
          file=sys.stderr)
    return classes


def jvm_flags():
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    flags = []
    for p in opens:
        flags += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return flags + ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
                    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)

    work = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    report = os.path.join(OUT, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace))
    proc = None
    try:
        t0 = time.time()
        gen.self_test(os.path.join(work, "selftest"))
        inputs = os.path.join(work, "inputs")
        gen.generate(a.workload, a.seed, inputs)
        cores = len(os.sched_getaffinity(0))
        cmd = [java()] + jvm_flags() + [
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--inputs", inputs, "--work", work,
            "--report", report, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--t0-ms", str(int(t0 * 1000)), "--cores", str(cores)]
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                                text=True, cwd=work)
        try:
            out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            fail("harness exceeded %d s" % DEADLINE_S)
        if proc.returncode != 0:
            fail("harness exited with %d" % proc.returncode)
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if not lines:
            fail("harness printed no result")
        result = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
        got = {n: m["unit"] for n, m in result["metrics"].items()}
        if got != {m["name"]: m["unit"] for m in declared}:
            fail("reported metrics differ from those BENCHMARK.json declares")
        print("perfbench: report in %s" % os.path.relpath(report, ROOT), file=sys.stderr)
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
