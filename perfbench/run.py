#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the repository root:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--smoke] [--corrupt]

The first run builds the engine and the harness with sbt (offline) and
caches the classpath in .bench_build/; later runs rebuild only when a source
or build file changed, and a rebuild drops the stores earlier runs cached
in .bench_out/cache/. Each run is one JVM at local[nproc]; daily_append
first starts one more to build its base stores when they are not cached.
Scratch stores and trace files go to .bench_out/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(ROOT, "perfbench", "harness")
WORKLOADS = ["pages_dedup", "boilerplate_dedup", "daily_append", "driver_queries"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "4g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d) if f.endswith((".sbt", ".properties"))]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + harness unless the sources are unchanged; return the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD_DIR, "classpath"), os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        fail(f"build failed (exit {p.returncode}); see {log}")
    # stores cached by earlier runs were written by the previous build
    shutil.rmtree(os.path.join(ROOT, ".bench_out", "cache"), ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def run_jvm(cmd, log):
    """Run one harness JVM, stderr to `log`; return its stdout."""
    t0 = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    if p.returncode != 0:
        fail(f"harness exited {p.returncode} after {time.time() - t0:.0f} s; see {log}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="small inputs, for the self-tests")
    ap.add_argument("--corrupt", action="store_true", help="corrupt the output before checking")
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala", "BENCHMARK.json", "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    cp = build()
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch write (shuffle, spill, JVM temp files) stays in the checkout
    java = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Harness", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace)]
            + (["--smoke"] if a.smoke else []))
    # daily_append's base stores are built once per build, in a JVM of their
    # own, so that the timed JVM is as cold in the first run as in any other
    base = os.path.join(out_dir, "cache", "daily_append-base-" + ("smoke" if a.smoke else "full"))
    if a.workload == "daily_append" and not os.path.isdir(base):
        run_jvm(java + ["--build-base"], os.path.join(out_dir, "daily_append-base.log"))
    log = os.path.join(out_dir, f"{a.workload}-{a.seed}-{a.trace}.log")
    out = run_jvm(java + (["--corrupt"] if a.corrupt else []), log)
    result = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if not result:
        fail(f"harness printed no result; see {log}")
    print(result[-1])


if __name__ == "__main__":
    main()
