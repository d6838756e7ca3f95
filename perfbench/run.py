#!/usr/bin/env python3
"""Benchmark of the fixedwidth source: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload fw_scan --seed 1 --seconds 20 --trace 0

Workloads are ``fw_scan`` (raw fixed-width files) and ``fwz_selective``
(zstd .fwz with per-frame statistics); see perfbench/README.md.

The first run in a checkout builds the repository and the benchmark from
source with sbt (offline) and records a launch spec: the java binary, the
repository's own ``run / javaOptions`` from build.sbt and the classpath.
Later runs start the JVM from that spec directly and rebuild only when a
source or build file changed. All data lives in a run directory under
perfbench/target that is removed on exit. The last stdout line is the
one-line JSON result; the exit code is non-zero when any operation failed
or returned a wrong answer.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.sha256")

WORKLOADS = ("fw_scan", "fwz_selective")
# Peak use is two copies of the 200 MB data set plus Spark's spill space.
MIN_FREE_BYTES = 2 * 1024**3
# Heap for the benchmark JVM; build.sbt turns it into -Xmx (and -Xms).
DRIVER_MEM = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change requires a rebuild, in a stable order: the
    build definitions and all sources of the repository and the benchmark."""
    files = []
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        project = os.path.join(base, "project")
        if os.path.isdir(project):
            files += [os.path.join(project, n) for n in os.listdir(project)
                      if n.endswith((".sbt", ".scala", ".properties"))]
        for d, _, names in os.walk(os.path.join(base, "src")):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def inputs_hash():
    h = hashlib.sha256(DRIVER_MEM.encode())
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def read_launch():
    java, opts, cp = None, [], []
    with open(LAUNCH) as f:
        for line in f:
            key, _, val = line.rstrip("\n").partition("=")
            if key == "java":
                java = val
            elif key == "opt":
                opts.append(val)
            elif key == "cp":
                cp.append(val)
    return java, opts, cp


def launch_is_current(digest):
    if not (os.path.isfile(LAUNCH) and os.path.isfile(STAMP)):
        return False
    with open(STAMP) as f:
        if f.read().strip() != digest:
            return False
    java, _, cp = read_launch()
    return bool(java) and os.path.exists(java) and all(os.path.exists(p) for p in cp)


def build(digest):
    if shutil.which("sbt") is None:
        die("sbt is not on PATH; it builds the repository")
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_JAVA_OPTS", None)
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    t0 = time.time()
    print("[perfbench] building with sbt", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "launchSpec"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        die(f"build timed out after {BUILD_TIMEOUT_S} s", 4)
    if r.returncode != 0 or not os.path.isfile(LAUNCH):
        die(f"build failed (sbt exit {r.returncode})", 4)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def stop(proc):
    """Kill the JVM's whole process group and wait until it has ended."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no repository sources next to perfbench/ (build.sbt, src/main/scala); "
            "run from a full checkout")
    os.makedirs(TARGET, exist_ok=True)
    free = shutil.disk_usage(TARGET).free
    if free < MIN_FREE_BYTES:
        die(f"only {free / 1e9:.2f} GB free under {TARGET}; need {MIN_FREE_BYTES / 1e9:.1f} GB", 3)

    digest = inputs_hash()
    if not launch_is_current(digest):
        build(digest)
    java, opts, cp = read_launch()

    # Remove run directories left by runs that were killed outright.
    for name in os.listdir(TARGET):
        if name.startswith("run-"):
            pid = name.split("-")[1]
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(TARGET, name), ignore_errors=True)
    run_dir = os.path.join(TARGET, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    trace_out = os.path.join(TARGET, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = ([java] + opts +
           ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores),
            "--run-dir", run_dir, "--trace-out", trace_out])
    proc = None

    def on_signal(signum, _frame):
        if proc is not None:
            stop(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=sys.stderr,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            die(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 5)
        lines = out.splitlines()
        result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
        if result is None:
            die(f"the benchmark JVM exited {proc.returncode} without a result", 6)
        for line in lines:
            print(line)
        return proc.returncode
    finally:
        if proc is not None:
            stop(proc)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
