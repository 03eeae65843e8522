#!/usr/bin/env python3
"""Alert-to-lightcurve benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload alert_ingest --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt on first use
(cached under .bench_build/, keyed by a hash of every source and build
file), then runs one workload in a single JVM started with the program's
own javaOptions from its build.sbt, heap and collector pinned. The JVM
prints progress to stderr and the result JSON as the last line of
stdout. Exits non-zero without a result when the program's sources are
not next to the benchmark.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("alert_ingest", "ltcv_serve")

# The program's javaOptions set only a maximum heap (8g by default) and
# leave the collector to the JVM (G1). On 4 cores a fixed 3 GB heap with
# the parallel collector made set-up and every ltcv_serve median faster
# and several times steadier from run to run (perfbench/NOTES.md, "JVM").
# They follow the program's options, so they take precedence.
HEAP_AND_GC = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the repository root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def source_hash(files):
    """Hash of the checkout's location and every build input: the cached
    launch arguments hold absolute paths."""
    h = hashlib.sha256(ROOT.encode() + b"\0")
    for f in files:
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached launch arguments match the
    sources; returns the JVM arguments: the program's javaOptions, then
    -cp and the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src/main/scala"))):
        log("program sources not found next to the benchmark "
            "(run from the repository root)")
        sys.exit(2)
    files = source_files()
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "launch.stamp")
    launch_path = os.path.join(BUILD, "launch.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_hash(files)
        if os.path.exists(stamp_path) and os.path.exists(launch_path):
            with open(stamp_path) as fh:
                if fh.read().strip() == digest:
                    with open(launch_path) as fh:
                        return fh.read().splitlines()
        log("building program and benchmark with sbt")
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "")
                           + f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
        if os.path.exists(launch_path):
            os.remove(launch_path)
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"writeLaunch {launch_path}"],
            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if proc.returncode != 0 or not os.path.exists(launch_path):
            log(f"build failed (sbt exit {proc.returncode})")
            sys.exit(3)
        with open(stamp_path, "w") as fh:
            fh.write(digest)
        with open(launch_path) as fh:
            return fh.read().splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM must not orphan sbt or the JVM: exiting through
    # SystemExit lets subprocess.run kill the build and the handler
    # below kill the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    launch = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # temporary files stay in the run's directory (the JVM's perf data
    # would go to the system temp directory, so it is off)
    cmd = (["java", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + launch + HEAP_AND_GC
           + ["perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work,
              "--trace-out", os.path.join(BUILD, "traces")])
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
    try:
        rc = proc.wait()
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
