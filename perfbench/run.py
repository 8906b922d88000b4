#!/usr/bin/env python3
"""Ingestion benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the root of a source checkout. The first call compiles the
program (src/main/scala) together with the benchmark (perfbench/src)
with the Scala compiler shipped in Spark's jars, into .bench_build/;
later calls reuse the classes while the sources are unchanged, and the
class-data-sharing archive the first run writes when it exits. The run
itself is one JVM at local[nproc]; its last stdout line is the result
JSON. Everything the run writes stays under .bench_build/ and is
removed when the run ends.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
BUILD = ROOT / ".bench_build" / "perfbench"
JAR = BUILD / "perfbench.jar"
ARCHIVE = BUILD / "perfbench.jsa"
STAMP = BUILD / "build.stamp"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
WORKLOADS = ("ingest_full", "cdc_daily")

# Spark on JDK 17 outside spark-submit needs these module openings (the
# list org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    if not PROGRAM_SRC.is_dir():
        fail(f"program sources not found at {PROGRAM_SRC.relative_to(ROOT)}; run from a source checkout")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json not found at the checkout root")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(PROGRAM_SRC.rglob("*.scala")):
        fail("no program sources to build")
    return files


def source_id(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def jvm_cmd(jars, work, extra):
    cp = os.pathsep.join([str(JAR), str(jars / "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false",
             # JVM warnings (e.g. class-data sharing at exit) go to stderr, never
             # after the result line on stdout
             "-Xlog:disable", "-Xlog:all=warning:stderr"] + extra + opens + ["-cp", cp])


def build(files, jars, sid):
    """Compile program + benchmark into JAR; skipped while the sources
    are unchanged."""
    if STAMP.is_file() and STAMP.read_text().strip() == sid and JAR.is_file():
        return
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    if not compiler:
        fail(f"no scala-compiler jar in {jars}")
    version = compiler[-1].name[len("scala-compiler-"):-len(".jar")]
    tool_cp = os.pathsep.join(str(jars / f"scala-{k}-{version}.jar") for k in ("compiler", "library", "reflect"))
    classes = BUILD / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    for stale in (STAMP, JAR, ARCHIVE):
        stale.unlink(missing_ok=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    t0 = time.time()
    print(f"perfbench: compiling {len(files)} sources (scala {version})", file=sys.stderr)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", tool_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", str(jars / "*"), "@" + str(argfile)]
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 4)
    if r.returncode != 0:
        fail("build failed", 4)
    with zipfile.ZipFile(JAR, "w") as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    STAMP.write_text(sid + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def run(cmd, timeout):
    """Run a JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=str(ROOT), stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout} s", 5)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    files = sources()
    jars = spark_jars()
    sid = source_id(files)
    BUILD.mkdir(parents=True, exist_ok=True)
    build(files, jars, sid)

    work = BUILD / "work" / f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Class-data sharing: the first run after a build archives the classes
    # it loaded when it exits; later runs map them, which takes 7-13 s off
    # each run's cold start on a 4-vCPU host.
    fresh = BUILD / f"perfbench.jsa.{os.getpid()}"
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.is_file() else [f"-XX:ArchiveClassesAtExit={fresh}"]
    cmd = jvm_cmd(jars, work, cds)
    if a.self_test:
        cmd += ["perfbench.SelfTest", "--work", str(work)]
    else:
        cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
                "--source-id", sid]
    code = None
    try:
        code, out = run(cmd + ["--benchmark-json", str(ROOT / "BENCHMARK.json")], RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if fresh.is_file():
            if code == 0:
                os.replace(fresh, ARCHIVE)
            else:
                fresh.unlink()
    sys.stdout.write(out)
    sys.stdout.flush()
    if code != 0:
        fail(f"run failed with exit code {code}", code if 0 < code < 128 else 1)


if __name__ == "__main__":
    main()
