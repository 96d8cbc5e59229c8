#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Builds the engine and the harness from source with sbt on first use (or
when a source is newer than the last build), then runs the harness in one
JVM at local[4]. The harness prints a human-readable report and, as the
last line of stdout, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The exit code is non-zero when any op failed or returned a wrong result.

Input: the sf0.1 corpus directory named by SPARK_GRAFT_SF_DIR, by default
~/testdata/sf0.1 (see TESTDATA.md). Everything the run writes stays under
.bench_build/ in the repository root.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("queries", "lake_dml")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"  # fixed size, so resident memory does not follow heap resizing
# Spark on JDK 17 outside spark-submit needs these (see the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every input of the build: the engine's and the harness's."""
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)


def build():
    """Compile with sbt unless the recorded classpath is newer than every
    source; returns the runtime classpath."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(p) <= built for p in sources()):
            with open(CLASSPATH) as f:
                return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
    if not os.path.isfile(os.path.join(sf_dir, "orders.parquet")):
        fail(f"no corpus at {sf_dir} (set SPARK_GRAFT_SF_DIR)")

    cp = build()
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(BUILD, "tmp")
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--sf-dir", sf_dir, "--work-dir", work,
              "--trace-dir", os.path.join(BUILD, "traces"),
              "--expected-dir", os.path.join(HERE, "expected")])
    try:
        run = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                             timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.stdout.write(run.stdout)
    sys.stdout.flush()
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(run.returncode)


if __name__ == "__main__":
    main()
