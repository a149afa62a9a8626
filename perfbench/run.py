#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source with sbt on first use (or when a source changed), then runs the
benchmark JVM, which prints a context line and, as its last line, the result
JSON. Exits non-zero if the program's sources are missing, the build fails,
or a correctness check fails.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_work")
STAMP = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("pdf_mix", "skew_routed", "query_suite")

# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def newest_source_mtime():
    newest = os.path.getmtime(os.path.join(HERE, "build.sbt"))
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith((".scala", ".java")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile with sbt (offline) and record the runtime classpath."""
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_source_mtime():
        return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        sys.exit(f"perfbench: build failed (sbt exit {out.returncode})")
    with open(STAMP, "w") as f:
        f.write(lines[-1].strip())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"perfbench: program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    build()
    with open(STAMP) as f:
        cp = f.read().strip()
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp, *ADD_OPENS,
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--data", os.path.join(HERE, "data"),
           "--work", work]
    # the benchmark JVM's stdout is this process's stdout; its last line is the result
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, timeout=170)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
