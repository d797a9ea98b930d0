#!/usr/bin/env python3
"""Benchmark of the graft funding-monitoring program.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dag_tick --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --selftest

The first run compiles the program (src/main/scala) together with the
benchmark (perfbench/src) with the Scala compiler that ships in the Spark
jar directory, into a jar under $CARGO_TARGET_DIR (default .bench_build),
and records a class-data archive from a short training run. Later runs
reuse both while no source changes. The last stdout line of a run
is its JSON result.
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
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join("src", "main", "scala")
WORKLOADS = ["dag_tick", "live_funding", "snapshot_mixed"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit (the same list the program's own build passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the program builds against: $SPARK_HOME/jars,
    else the `unmanagedBase` the program's build.sbt names, else the jars
    bundled with pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    except OSError:
        pass
    try:
        import pyspark  # noqa: F401  (only to find its bundled jars)
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and \
                glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jar directory with spark-sql and scala-compiler found "
         "(set SPARK_HOME)")


def sources():
    prog = os.path.join(ROOT, PROGRAM_SRC)
    if not os.path.isdir(os.path.join(prog, "graft")):
        fail(f"program sources not found under {PROGRAM_SRC} "
             "(run from the root of a checkout)")
    out = []
    for base in (prog, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(jar, jars):
    """Explicit and sorted, so the class-data archive matches every run."""
    return os.pathsep.join([jar] + sorted(glob.glob(os.path.join(jars, "*.jar"))))


def build(build_dir, jars, srcs):
    """Compile program + benchmark into one jar, once per source state,
    then record a class-data archive of a short training run so that
    later JVMs start without re-parsing those classes."""
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()[:16]
    jar = os.path.join(build_dir, f"perfbench-{stamp}.jar")
    if os.path.exists(jar):
        return jar
    for old in glob.glob(os.path.join(build_dir, "perfbench-*")):
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.remove(old)
    classes = os.path.join(build_dir, f"perfbench-{stamp}.classes")
    os.makedirs(classes)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail("compilation failed", 3)
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    path = os.path.join(d, f)
                    z.write(path, os.path.relpath(path, classes))
    finally:
        shutil.rmtree(classes, ignore_errors=True)
    os.rename(jar + ".tmp", jar)
    tmp = os.path.join(build_dir, "work", f"train-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    archive = jar[:-len(".jar")] + ".jsa"
    print("perfbench: recording the class-data archive", file=sys.stderr)
    try:
        code, _ = run_java(
            java_cmd(jar, jars, "perfbench.Train", tmp, ["--work", tmp],
                     [f"-XX:ArchiveClassesAtExit={archive}.tmp"]),
            RUN_TIMEOUT_S, stdout=subprocess.DEVNULL)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code == 0 and os.path.exists(archive + ".tmp"):
        os.rename(archive + ".tmp", archive)
    elif os.path.exists(archive + ".tmp"):
        os.remove(archive + ".tmp")
    return jar


def java_cmd(jar, jars, main, tmp, argv, extra=()):
    archive = jar[:-len(".jar")] + ".jsa"
    share = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    return (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             "-Xlog:disable", "-Xlog:all=warning:stderr"] + share + list(extra) +
            [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             f"-Djava.io.tmpdir={tmp}",
             "-cp", classpath(jar, jars), main] + list(argv))


def run_java(cmd, timeout, stdout=None):
    """Run a JVM, passing its output through (or to `stdout`); kill it on
    timeout. Returns (exit code, captured stdout when piped)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=stdout, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {timeout} s", 4)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_one(workload, a, build_dir, jar, jars, capture=False):
    work = os.path.join(build_dir, "work", f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argv = ["--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work,
            "--spans", os.path.join(build_dir, "spans"),
            "--program-src", os.path.join(ROOT, PROGRAM_SRC)]
    try:
        return run_java(java_cmd(jar, jars, "perfbench.Main", tmp, argv),
                        RUN_TIMEOUT_S, subprocess.PIPE if capture else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")
    srcs = sources()
    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jar = build(build_dir, jars, srcs)

    if a.selftest:
        work = os.path.join(build_dir, "work", f"selftest-{os.getpid()}")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        argv = ["--work", work, "--program-src", os.path.join(ROOT, PROGRAM_SRC),
                "--benchmark-json", os.path.join(ROOT, "BENCHMARK.json")]
        try:
            code, _ = run_java(java_cmd(jar, jars, "perfbench.SelfTest", tmp,
                                        argv), 600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)

    if a.workload != "all":
        sys.exit(run_one(a.workload, a, build_dir, jar, jars)[0])

    # Every workload in turn; each prints its own report and result line,
    # then one combined line closes the output.
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    codes = []
    for w in WORKLOADS:
        code, out = run_one(w, a, build_dir, jar, jars, capture=True)
        codes.append(code)
        lines = out.splitlines()
        for line in lines:
            print(line, flush=True)
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        combined["correct"] &= bool(res["correct"])
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{w}.{k}"] = v
    print(json.dumps(combined))
    sys.exit(0 if all(c == 0 for c in codes) else 1)


if __name__ == "__main__":
    main()
