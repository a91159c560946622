#!/usr/bin/env python3
"""Run one benchmark workload against the program built from source.

Usage, from the repository root:
    python3 perfbench/run.py --workload <event_ingest|index_serve>
        [--seed <n>] --seconds <n> --trace <0|1> [--cores <n>] [--rate <msgs/s>]
    python3 perfbench/run.py --self-test

The first call compiles src/main/scala and perfbench/src with scalac into
.bench_build/classes and makes one short run of each workload to write a
class-data-sharing archive for it (three to four minutes in all); later calls
reuse that build while the sources and this file are unchanged. A failed
compilation or class-archive run stops the build with an error. Each run is
one fresh JVM whose scratch files live in .bench_build/run-<pid> and are
removed when it ends. The last
line of standard output is the run's JSON result; the exit code is nonzero
when a check fails or the run cannot start.
"""
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(CLASSES, "perfbench.jar")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
RUN_TIMEOUT_S = 170
WORKLOADS = ["event_ingest", "index_serve"]
# index_serve's JVM stops at the C1 compiler. Its calls run Spark's planner
# and scheduler, which C2 keeps compiling, on more than a core, for the
# whole of a one-minute JVM, so under C2 a call's speed follows how much
# CPU the host leaves the compiler (README.md, "JVM").
JIT_FLAGS = {"index_serve": ["-XX:TieredStopAtLevel=1"]}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME or run from the repository root")


def scala_files():
    for d in SOURCES:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}; "
                 "run from the repository root")
    out = []
    for d in SOURCES:
        for dirpath, _, names in os.walk(d):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(jars):
    files = scala_files()
    h = hashlib.sha256()
    for p in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp] + files)
    if r.returncode != 0:
        fail("compilation failed")
    # one jar, so the JVM can archive the loaded classes (class-data
    # sharing refuses directories on the class path)
    r = subprocess.run(["jar", "cf", os.path.join(tmp, "perfbench.jar"), "-C", tmp, "."])
    if r.returncode != 0:
        fail("packaging failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    # one short run of each workload writes the class-data-sharing archive
    # every later run of that workload maps (the class path must be final)
    for w in WORKLOADS:
        print(f"perfbench: writing the class archive for {w}", file=sys.stderr)
        with scratch(f"train-{w}") as work:
            code = java(jars, "perfbench.Main", ["--workload", w, "--seconds", "1", "--trace", "1",
                                                 "--work", work], work, dump=cds_path(w), quiet=True,
                        flags=JIT_FLAGS.get(w, []))
        # without the archive every later run of w would start seconds
        # slower, so a build that cannot write it stops here
        if code != 0 or not os.path.exists(cds_path(w)):
            fail(f"the class-archive run of {w} failed (exit code {code})")
    with open(os.path.join(CLASSES, "BUILD_STAMP"), "w") as f:
        f.write(stamp)


def cds_path(workload):
    return os.path.join(CLASSES, f"{workload}.jsa")


@contextlib.contextmanager
def scratch(name):
    work = os.path.join(BUILD, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def java(jars, main, args, work, cds=None, dump=None, quiet=False, flags=()):
    """Run `main` in a fresh JVM. With `cds`, the JVM maps that class-data
    sharing archive, which cuts JVM and Spark start-up by seconds; with
    `dump`, it writes such an archive of the classes it loaded at exit."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    share = []
    if cds and os.path.exists(cds):
        share = [f"-XX:SharedArchiveFile={cds}"]
    elif dump:
        share = [f"-XX:ArchiveClassesAtExit={dump}"]
    # JVM log lines go to stderr: the last stdout line must be the result
    cmd = (["java", "-Xmx2g", "-XX:ActiveProcessorCount=2", "-Xlog:disable", "-Xlog:all=warning:stderr"]
           + list(flags) + share + [
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
           + opens + ["-cp", JAR + os.pathsep + os.path.join(jars, "*"), main] + args)
    out = subprocess.DEVNULL if quiet else None
    p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=out)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def main(argv):
    jars = spark_jars()
    build(jars)
    with scratch("run") as work:
        if argv == ["--self-test"]:
            code = java(jars, "perfbench.SelfTest", [os.path.join(ROOT, "BENCHMARK.json")], work)
        else:
            w = argv[argv.index("--workload") + 1] if "--workload" in argv[:-1] else ""
            cds = cds_path(w) if w in WORKLOADS else None
            code = java(jars, "perfbench.Main", argv + ["--work", work], work, cds,
                        flags=JIT_FLAGS.get(w, []))
    sys.exit(code)


if __name__ == "__main__":
    main(sys.argv[1:])
