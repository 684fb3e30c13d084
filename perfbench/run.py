#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt on first use (or
when a source changed), then runs the workload in one JVM. The last line of
standard output is the result as one JSON object. Everything the run writes
stays under perfbench/.work and perfbench/target (and the engine's own
target/ directory).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
STAMP = os.path.join(BENCH, "target", "launch.sha256")
WORKLOADS = ("bulk_build", "serve_topk", "lsm_churn")
HEAP = "4g"
BUILD_TIMEOUT_S = 840


def run_timeout(seconds, traced):
    """Wall-time limit of one run: 175 s at --seconds 10, and more as
    --seconds grows (a traced run measures three passes, and an lsm_churn
    cycle of about 26 s runs per 20 s of --seconds)."""
    return 175 + max(0, seconds - 10) * (6 if traced else 2)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, for the rebuild check."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    want = digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"]
    try:
        # sbt's output goes to stderr: standard output is kept for the result
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no engine sources under {ROOT}: run from a checkout of the repository")
    build()

    with open(LAUNCH) as fh:
        lines = [x for x in fh.read().splitlines() if x]
    classpath, jvm_opts = lines[0], lines[1:]
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", WORK])
    limit = run_timeout(a.seconds, a.trace == "1")
    p = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
    try:
        code = p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {limit} s")
    except KeyboardInterrupt:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    sys.exit(code)


if __name__ == "__main__":
    main()
