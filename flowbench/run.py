#!/usr/bin/env python3
"""Flow benchmark for graft's monitoring and corpus-preparation jobs.

    python3 flowbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the library and
the benchmark from source with sbt (offline) and records the runtime
classpath; every run then starts one JVM that generates the seeded
inputs, runs the workload and checks its outputs. The last line of
stdout is the JSON result; the exit code is 0 only when every flow call
and every output check passed. Build logs and Spark logs go to stderr.

Work files live under .bench_build/flowbench/ in the checkout and are
removed at exit, except the span files of traced runs
(.bench_build/flowbench/spans/).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("monitor_daily", "corpus_prepare", "corpus_incremental")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "classpath.txt")
# sbt writes everything it builds inside the checkout (target/ dirs)
SBT_TIMEOUT_S = 840
RUN_LIMIT_S = 175


def fail(msg):
    print(f"flowbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            files.extend(os.path.join(dirpath, n) for n in names)
    for f in files:
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles when a source is newer than the last build; True if it did."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: the library sources must sit next to the benchmark")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_source_mtime():
        return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # resolve from the local caches only, through the user's
        # repository list when there is one
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    # own process group: a timed-out build is killed with everything it started
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=SBT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build exceeded its time limit")
    if code != 0 or not os.path.exists(STAMP):
        fail(f"build failed (sbt exit {code})")
    print(f"flowbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return True


def java_command(args, work):
    with open(STAMP) as f:
        classpath = f.read().strip()
    with open(os.path.join(TARGET, "javaopts.txt")) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # GC worker threads sized to the two task slots: on a host whose vCPUs
    # are shared, more parallel GC workers mostly add contended CPU time
    return ["java", "-Xmx3g", "-XX:ParallelGCThreads=2", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dderby.system.home={tmp}", *opts, "-cp", classpath, "flowbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    t0 = time.time()
    # the first run of a checkout also pays for the build, on its own budget
    limit = RUN_LIMIT_S if build() else RUN_LIMIT_S - (time.time() - t0)

    base = os.path.join(ROOT, ".bench_build", "flowbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ)
    # a fixed core count keeps runs comparable across hosts; never more
    # than the host has
    env["SPARK_GRAFT_CPUS"] = str(min(2, len(os.sched_getaffinity(0))))
    proc = subprocess.Popen(java_command(args, work), cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=limit)
        print(f"flowbench: jvm exited after {time.time() - t0:.1f} s", file=sys.stderr)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("flowbench: run exceeded its time limit", file=sys.stderr)
        code = 3
    spans = os.path.join(work, "traced.spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        shutil.move(spans, os.path.join(base, "spans", f"{args.workload}-s{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
