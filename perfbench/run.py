#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload sync_cold --seed 1 --seconds 12 --trace 0

Workloads: sync_cold, sync_steady, query_mix (see BENCHMARK.json). The first
run in a checkout compiles the engine and the benchmark with sbt (about a
minute); later runs reuse `.bench_build/` until a source file changes. The
last line of stdout is the result object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The run record and the trace land in `.bench_build/records/`.

Development flags: --scale tiny (a few thousand resources, three queries),
--corrupt 1 (one deliberately wrong expectation), --record DIR (write the
query list, outputs and oracle SQL for a new frozen list).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("sync_cold", "sync_steady", "query_mix")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, limit, **kw):
    """Run `cmd` in its own process group; on timeout or exit, kill whatever
    is left of the group and wait for the command to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timed out after {limit:.0f} s: {cmd[0]}")
        return None, None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def build(want):
    """Compile engine + benchmark unless built from sources with stamp `want`;
    return the launch file."""
    stamp_file = os.path.join(BUILD, "stamp")
    launch = os.path.join(BUILD, "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return launch
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                        BUILD_LIMIT_S, cwd=HERE, env=env,
                        stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.exists(launch):
        sys.exit(f"perfbench: build failed (exit {code})")
    with open(stamp_file, "w") as f:
        f.write(want)
    return launch


def commit_id(src_stamp):
    """The git commit when the checkout has one, else the sources' stamp."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + src_stamp[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", choices=("0", "1"), default="0")
    ap.add_argument("--record")
    a = ap.parse_args()
    # a terminated benchmark still stops its build or JVM (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala", "graft"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: engine sources not found next to the benchmark: {missing}")

    t_start = time.monotonic()
    src_stamp = stamp()
    launch = build(src_stamp)
    with open(launch) as f:
        lines = f.read().splitlines()
    sep = lines.index("--")
    jvm_opts, classpath = lines[:sep], lines[sep + 1:]

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + jvm_opts + [f"-Djava.io.tmpdir={work}/tmp",
                               "-cp", os.pathsep.join(classpath),
                               "graft.perfbench.Main",
                               "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", a.trace,
                               "--workdir", work, "--benchdir", HERE,
                               "--scale", a.scale, "--corrupt", a.corrupt,
                               "--commit", commit_id(src_stamp)]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    limit = RUN_LIMIT_S if a.record is None else 3600
    try:
        code, out = run_group(cmd, limit, cwd=work, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.record is not None:
        sys.exit(code or 0)
    last = (out or "").strip().splitlines()[-1:] or [""]
    try:
        result = json.loads(last[0])
    except ValueError:
        result = None
    if code != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.exit(f"perfbench: no result (exit {code}) after {time.monotonic() - t_start:.0f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
