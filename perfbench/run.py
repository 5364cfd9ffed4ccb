#!/usr/bin/env python3
"""Run one workload of the frontier benchmark.

    python3 perfbench/run.py --workload <crawl|bus> --seed <n>
        --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the engine and the benchmark from source with sbt (the `perfbench` build
next to this file); later runs reuse the build until a source changes.
The measurement itself runs in one JVM started directly from the built
classpath. The last line on stdout is the run's JSON result; the exit
code is 0 only when every correctness gate passed.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
# Class-data archive of the classes a run loads (recorded at build time):
# cuts JVM and Spark start-up out of every run; the measurements are
# taken after the warm-up either way.
CDS = os.path.join(STATE, "classes.jsa")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("crawl", "bus")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build: engine and benchmark sources
    and build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built():
    """Build once per source state; a lock serializes concurrent runs."""
    os.makedirs(STATE, exist_ok=True)
    digest = sources_digest()
    stamp = os.path.join(STATE, "stamp")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(LAUNCH) and os.path.exists(stamp):
            with open(stamp) as fh:
                if fh.read().strip() == digest:
                    return
        log("building engine and benchmark with sbt")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
            cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(LAUNCH):
            log(f"build failed (exit {proc.returncode})")
            sys.exit(3)
        if os.path.exists(CDS):
            os.remove(CDS)
        train = os.path.join(STATE, "work", "train")
        try:
            code, _ = run_jvm(["--workload", "train", "--seed", "0", "--seconds", "0"],
                              train, [f"-XX:ArchiveClassesAtExit={CDS}"])
        finally:
            shutil.rmtree(train, ignore_errors=True)
        if code != 0:
            log(f"warm-up training run failed (exit {code})")
            sys.exit(3)
        with open(stamp, "w") as fh:
            fh.write(digest)
        log(f"built in {time.time() - t0:.1f} s")


def run_jvm(main_args, work, extra_flags=()):
    """Run perfbench.Main; returns (exit code, parsed last stdout line)."""
    with open(LAUNCH) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    classpath, jvm_flags = lines[0], lines[1:]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JVM log lines go to stdout by default; keep stdout for the result
    cmd = [java, *jvm_flags, "-Xlog:disable", "-Xlog:all=error:stderr",
           *extra_flags, f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "perfbench.Main", *main_args, "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(4)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s; killed")
        return 5, None
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            print(lines[-1], file=sys.stderr)
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no {need} here: run from the root of a checkout of the repository")
            sys.exit(2)
    ensure_built()
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        flags = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
        code, result = run_jvm(
            ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            work, flags)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        log(f"no result (exit {code})")
        sys.exit(code or 6)
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
