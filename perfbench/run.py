#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Build outputs and per-run scratch
space live under $CARGO_TARGET_DIR (default `.bench_build`) in the checkout.

The last line of standard output is one JSON object:
{"correct": …, "attempted": …, "failed": …, "metrics": {name: {"value", "unit"}}}
Untraced runs (--trace 0) report the end-to-end metrics; traced runs
(--trace 1) report the per-layer metrics, print the per-layer report on
standard error and keep the spans under <build dir>/traces/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["index_backfill", "registry_mix"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def spark_home():
    """$SPARK_HOME, else the Spark install whose bin/ is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(n.startswith("spark-core_") for n in os.listdir(jars)):
            return home
    return None


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(build_dir, home):
    """Compile graft + harness with sbt unless the stamp matches."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    classes = os.path.join(build_dir, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes
    env = dict(os.environ)
    env["BENCH_BUILD_DIR"] = os.path.join(build_dir, "sbt")
    env["SPARK_HOME"] = home
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.isdir(classes):
        fail(f"build failed (sbt exit {rc})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found next to perfbench/")
    home = spark_home()
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install: set SPARK_HOME or put spark-submit on PATH")
    spark_jars = os.path.join(home, "jars")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir, home)

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    # a fixed heap spares the timings the collector's resizing; it is not
    # pre-touched, so peak RSS counts only the pages the workload touches
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(spark_jars, "*"),
            "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--data", os.path.join(HERE, "data"),
            "--out", out]
    try:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        if rc != 0 or not os.path.exists(out):
            fail(f"{a.workload} run failed (exit {rc})")
        with open(out) as fh:
            line = fh.read().strip()
        if a.trace == "1":
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
