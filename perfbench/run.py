#!/usr/bin/env python3
"""Run one perfbench workload against graft and print its metrics.

    python3 perfbench/run.py --workload commit_churn --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a source checkout. The first run compiles graft's
main sources and the benchmark with the Scala compiler that ships among the
Spark jars (no sbt, no network) into .bench_build/ and primes a class-data
archive there (see build()); later runs reuse both while the sources are
unchanged. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, computed from the run's span trace by summarize.py.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import zipfile
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import summarize  # noqa: E402

BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 400
JAVA_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars graft builds against: build.sbt's unmanagedBase, or
    $SPARK_HOME/jars."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    base = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(base, "*.jar")))
    if not jars:
        fail(f"no Spark jars under {base}")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out, srcs):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(classpath), "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail(f"compiling {len(srcs)} sources into {out} failed")


def stamp_of(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(p.encode())
        if not p.endswith(".jar"):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def compiled(out, stamp, compile_into):
    """Run compile_into(tmp_dir) unless `out` holds a build with `stamp`."""
    try:
        with open(os.path.join(out, ".stamp")) as f:
            if f.read() == stamp:
                return
    except OSError:
        pass
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    compile_into(tmp)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    os.rename(tmp, out)


def jar_of(classes, jar):
    """Zip a class tree into a jar: class-data sharing maps classes from jars
    only."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for root, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(root, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def build():
    """Compile graft (src/main) and then the benchmark, each only when its
    inputs changed, into one jar each, and then archive the classes a run
    loads (class-data sharing) so that every measured run starts the same
    way. Returns the runtime classpath."""
    main_src, bench_src = "src/main/scala", os.path.join(HERE, "src")
    if not os.path.isdir(main_src):
        fail("run from the root of a graft checkout (src/main/scala not found)")
    jars = spark_jars()
    graft, bench = sources(main_src), sources(bench_src)
    if not graft or not bench:
        fail("no Scala sources to build")
    resources = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                       if os.path.isfile(p))
    graft_out = os.path.join(BUILD, "classes", "graft")
    bench_out = os.path.join(BUILD, "classes", "bench")
    graft_jar = os.path.join(graft_out, "graft.jar")
    bench_jar = os.path.join(bench_out, "perfbench.jar")

    def graft_into(tmp):
        classes = os.path.join(tmp, "classes")
        scalac(jars, jars, classes, graft)
        for p in resources:
            dst = os.path.join(classes, os.path.relpath(p, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        jar_of(classes, os.path.join(tmp, "graft.jar"))

    def bench_into(tmp):
        classes = os.path.join(tmp, "classes")
        scalac(jars, [graft_jar] + jars, classes, bench)
        jar_of(classes, os.path.join(tmp, "perfbench.jar"))

    # this script is in the stamp too: a change in how it builds rebuilds
    graft_stamp = stamp_of(graft + resources + jars + [os.path.relpath(__file__)])
    compiled(graft_out, graft_stamp, graft_into)
    compiled(bench_out, stamp_of(bench, graft_stamp), bench_into)
    cp = [graft_jar, bench_jar] + jars
    # the archive records the jars' paths, so it is dumped after the build
    # directory got its final name; a failed dump leaves no archive
    if not os.path.exists(archive_of(cp)):
        fresh = archive_of(cp) + ".tmp"
        work = os.path.join(BUILD, "work", "prime")
        rc = java(cp, "perfbench.Main", ["--prime", work], BUILD_TIMEOUT_S,
                  [f"-XX:ArchiveClassesAtExit={fresh}",
                   "-Xlog:all=warning,cds*=off:stderr"], quiet=True)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0 or not os.path.exists(fresh):
            fail(f"priming the class-data archive failed (exit {rc})")
        os.replace(fresh, archive_of(cp))
    return cp


def archive_of(cp):
    return os.path.abspath(os.path.join(os.path.dirname(cp[1]), "classes.jsa"))


def java(cp, main, args, timeout, cds=None, quiet=False):
    """Run a main on the build's classpath, mapping the build's class-data
    archive unless `cds` gives other sharing options."""
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    log4j = "file:" + os.path.join(HERE, "log4j2.properties")
    if cds is None:
        cds = [f"-XX:SharedArchiveFile={archive_of(cp)}"]
    cmd = (["java"] + JAVA_OPTS + cds + [f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={log4j}", "-cp",
           os.pathsep.join(os.path.abspath(p) for p in cp), main] + args)
    # local mode needs no host name lookup; without a resolver it can stall
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"{main} did not finish within {timeout} s")
    if not quiet:
        sys.stdout.write(out)
        sys.stdout.flush()
    return p.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the harness's failure accounting and exit")
    a = ap.parse_args()
    cp = build()
    if a.selftest:
        sys.exit(java(cp, "perfbench.SelfTest", [], RUN_TIMEOUT_S))
    if not a.workload:
        fail("--workload is required")
    out = os.path.join(BUILD, "out", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    rc = java(cp, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", os.path.join(BUILD, "work"), "--out", out], RUN_TIMEOUT_S)
    if rc != 0:
        fail(f"workload {a.workload} exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    if a.trace:
        result["metrics"] = summarize.summarize(os.path.join(out, "trace.jsonl"))
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
