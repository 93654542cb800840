#!/usr/bin/env python3
"""Stock-pipeline benchmark launcher.

Run from the root of a checkout:

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 10 --trace 0

The workloads are `refresh`, `dashboard` and `catalog` (see README.md);
`catalog` reads the scale directory kept under perfbench/data.

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build (perfbench/target/classpath.txt), then records a
class-data-sharing archive of the classes one `refresh` run loads
(perfbench/target/classes.jsa), which later JVMs map instead of loading and
verifying those classes again. Then runs perfbench.Main in one JVM and
forwards its stdout; the last stdout line is the JSON result. Spark's log
goes to perfbench/target/<workload>.log; all scratch data lives under
perfbench/work and is removed before each run.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE = os.path.join(ROOT, "src", "main", "scala", "graft")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
WORK = os.path.join(BENCH, "work")
EXPECTED = os.path.join(BENCH, "catalog_expected.tsv")
CATALOG_DATA = os.path.join(BENCH, "data", "sf0.01")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    for stale in (STAMP, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeClasspath"]
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.log"), "w") as log:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed, see perfbench/target/build.log")
    # the archive is written when this JVM exits; its stdout is not a result
    run_jvm(["--workload", "refresh", "--seed", "1", "--seconds", "0", "--trace", "0"],
            "archive", timeout=600, jvm_opts=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if not os.path.exists(ARCHIVE):
        fail("no class-data archive was written, see perfbench/target/archive.log")
    with open(STAMP, "w") as f:
        f.write(digest)


def run_jvm(args, log_name, timeout=170, jvm_opts=None):
    """Runs perfbench.Main with `args`; returns its stdout. `jvm_opts`
    replaces the use of the class-data archive."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    jvm = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp] + jvm_opts
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", cp, "perfbench.Main", "--work", WORK] + args
    log_path = os.path.join(TARGET, f"{log_name}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {timeout} s, see {os.path.relpath(log_path, ROOT)}")
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode}), see {os.path.relpath(log_path, ROOT)}")
    shutil.rmtree(WORK, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["refresh", "dashboard", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE):
        fail(f"engine sources not found under {os.path.relpath(ENGINE)}; "
             "run from the root of a full checkout")
    build()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == "catalog":
        if not os.path.isdir(CATALOG_DATA):
            fail(f"catalog data not found under {os.path.relpath(CATALOG_DATA, ROOT)}")
        args += ["--data", CATALOG_DATA, "--expected", EXPECTED]
    out = run_jvm(args, a.workload)
    lines = out.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail("the run printed no result")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
