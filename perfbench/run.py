#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload sjoin_skew --seed 1 --seconds 24 --trace 0

Builds the engine and the benchmark from source on first use (sbt, output
under .bench_build/), then runs one workload in a fresh JVM at local[k],
k = min(4, cpu count). The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Everything the run writes
stays under .bench_build/ in the checkout.
"""
import argparse
import os
import shutil
import subprocess
import sys

WORKLOADS = ("sjoin_skew", "etl_geoparquet")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these opens (the list of
# org.apache.spark.launcher.JavaModuleOptions).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found: set SPARK_HOME")
    return home


def newest_mtime(dirs):
    newest = 0.0
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    return newest


def build(bench_dir, build_dir, env):
    """Compiles engine + benchmark unless the classpath file is newer than
    every source. Returns the runtime classpath."""
    root = os.path.dirname(bench_dir)
    sources = [os.path.join(root, "src", "main"), os.path.join(bench_dir, "src")]
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_inputs = sources + [os.path.join(bench_dir, "build.sbt")]
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) > newest_mtime(stamp_inputs):
        with open(cp_file) as f:
            return f.read().strip()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=bench_dir, env=env, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1]
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    bench_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(bench_dir)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {root}/src/main/scala/graft")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    build_dir = os.path.join(root, ".bench_build")
    tmp = os.path.join(build_dir, "tmp")
    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.setdefault("COURSIER_MODE", "offline")
    cp = build(bench_dir, build_dir, env)

    cores = min(4, os.cpu_count() or 1)
    opens = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            *opens, "-cp", cp,
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work])
    os.makedirs(work, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=root, env=env)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
        print("perfbench: run timed out", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
