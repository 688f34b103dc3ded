#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cron-delta --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
(the engine is compiled from the checkout's own sources). Every run then
starts one JVM, which writes its result to a file; this script prints that
object and exits 0. A failed build, a crash or a timeout exits non-zero and
prints no result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCHER = os.path.join(HERE, "target", "launcher.args")
WORKLOADS = ("cron-delta", "search-only")
HEAP = ["-Xms1g", "-Xmx1g"]  # a fixed heap keeps peak RSS steady between runs
BUILD_TIMEOUT_S = 660
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Files whose change makes the launcher stale."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return files


def stale():
    if not os.path.exists(LAUNCHER):
        return True
    built = os.path.getmtime(LAUNCHER)
    return any(os.path.getmtime(f) > built for f in sources())


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    log("building engine and benchmark with sbt")
    t0 = time.time()
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launcher"],
                   BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(),
                   stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(LAUNCHER):
        raise RuntimeError(f"sbt build failed with exit code {rc}")
    log(f"build took {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline"))):
        log(f"no engine sources next to the benchmark (expected {ROOT}/build.sbt and src/main/scala)")
        return 2
    if stale():
        build()

    with open(LAUNCHER) as f:
        # the engine build's own heap setting gives way to the benchmark's
        jvm_args = [x for x in f.read().splitlines() if x and not x.startswith(("-Xmx", "-Xms"))]
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    traces = os.path.join(HERE, "traces")
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={work}"] + jvm_args
           + ["graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out])
    try:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(out):
            log(f"benchmark JVM exited with code {rc}")
            return 1
        with open(out) as f:
            result = json.load(f)
        spans = out + ".spans.jsonl"
        if os.path.exists(spans):
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a failed build or a timeout: no result line
        log(f"error: {e}")
        sys.exit(1)
