#!/usr/bin/env python3
"""Benchmark runner for the engine: builds it from source, then runs one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload chain_backfill --seed 1 --seconds 20 --trace 0

Workloads: chain_backfill, chain_tail, analytics_roster, or `all` (the three in
one JVM). The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; `--trace 1` reports the
per-layer metrics instead of the end-to-end ones. See perfbench/README.md.

The build runs sbt in perfbench/ (a source dependency on the engine build) only
when a source or build file is newer than the last build. The JVM then starts
directly from the recorded classpath, with every file it writes kept under
.bench_build/ in the checkout.
"""
import argparse
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("chain_backfill", "chain_tail", "analytics_roster", "all")
# Driver heap of the benchmark JVM. build.sbt reads SPARK_DRIVER_MEM for -Xmx;
# its default is sized for a much larger box than the 4-core, 15 GiB class
# the benchmark is tuned for.
DRIVER_MEM = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_bounded(cmd, timeout, **kw):
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


def build(env):
    inputs = [os.path.join(base, p) for base in (ROOT, HERE)
              for p in ("build.sbt", os.path.join("project", "build.properties"),
                        "src")]
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_mtime(inputs):
        return
    t0 = time.time()
    # sbt's own output goes to stderr: stdout ends with the result line
    rc = run_bounded(["sbt", "-batch", "launchSpec"], BUILD_TIMEOUT_S,
                     cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                     stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(LAUNCH):
        die(f"build failed (exit {rc})", 3)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--record-golden", action="store_true",
                    help="rewrite perfbench/roster_golden.json from this run "
                         "(analytics_roster) instead of checking against it")
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1", 2)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources next to perfbench/ (build.sbt, src/main/scala)", 2)

    env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM)
    env.setdefault("COURSIER_MODE", "offline")
    build(env)

    with open(LAUNCH) as f:
        jvm = [line.rstrip("\n") for line in f if line.strip()]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    record = ["-Dperfbench.record=1"] if a.record_golden else []
    cmd = (["java", f"-Djava.io.tmpdir={tmp}"] + record + jvm +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
    rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                     stdin=subprocess.DEVNULL)
    if rc is None:
        die(f"run exceeded {RUN_TIMEOUT_S}s and was killed", 4)
    sys.exit(rc)


if __name__ == "__main__":
    main()
