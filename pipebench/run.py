#!/usr/bin/env python3
"""Run one pipeline-benchmark workload and print its result.

Usage (from the repository root):

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark and the library it measures (sbt, offline) on the
first run or when their sources change, then runs one JVM with at most
`nproc` Spark threads. All state (build stamp, classpath, work files,
traces) lives under `.bench_build/pipebench` in the repository root; the
run's work directory is deleted when it ends.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. The line before it records the host context of the
run (CPU steal and iowait shares, load average at start and end; -1 where
/proc is unreadable). It is context, not a metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
PREFIX = "PIPEBENCH_RESULT "
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[pipebench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile with sbt (offline) and cache the runtime classpath."""
    stamp_file = os.path.join(state, "build.stamp")
    cp_file = os.path.join(state, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    print("[pipebench] building (first run or changed sources)", file=sys.stderr)
    out = run_bounded(cmd, HERE, env, BUILD_TIMEOUT_S)
    if out is None or out[0] != 0:
        fail("build failed" + ("" if out is None else ":\n" + out[1][-4000:]))
    lines = [l.strip() for l in out[1].splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath:\n" + out[1][-4000:])
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_bounded(cmd, cwd, env, timeout):
    """Run to completion in its own process group; kill the group on timeout.
    Returns (exit code, stdout) or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None


def relay(stream):
    """Pass the run's stdout through to stderr, keeping result lines."""
    for line in stream:
        if line.startswith(PREFIX):
            yield line
        else:
            sys.stderr.write(line)


def cpu_ticks():
    """(total, iowait, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f[:8]), f[4], f[7] if len(f) > 7 else 0
    except (OSError, ValueError, IndexError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def host_context(t0, t1, load0, load1):
    ctx = {"host_steal_pct": -1.0, "host_iowait_pct": -1.0,
           "loadavg_start": load0, "loadavg_end": load1}
    if t0 and t1 and t1[0] > t0[0]:
        d = t1[0] - t0[0]
        ctx["host_iowait_pct"] = round(100.0 * (t1[1] - t0[1]) / d, 3)
        ctx["host_steal_pct"] = round(100.0 * (t1[2] - t0[2]) / d, 3)
    return ctx


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: build.sbt and src/main/scala/graft are missing")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    want = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    state = os.path.join(root, ".bench_build", "pipebench")
    os.makedirs(state, exist_ok=True)
    cp = build(root, state)

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(state, "work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={work}/spark-warehouse"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    launch_ms = time.time() * 1000.0
    cmd += ["-cp", cp, "pipebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(HERE, "data"),
            "--launch-epoch-ms", repr(launch_ms),
            "--trace-out", os.path.join(state, "traces", run_id + ".jsonl")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_CPUS", None)

    ticks0, load0 = cpu_ticks(), loadavg()
    p = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    lines = []
    reader = threading.Thread(target=lambda: lines.extend(relay(p.stdout)), daemon=True)
    reader.start()
    try:
        p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[pipebench] run exceeded {RUN_TIMEOUT_S} s, killed", file=sys.stderr)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        reader.join(timeout=10)
        shutil.rmtree(work, ignore_errors=True)
    result = next((l[len(PREFIX):].strip() for l in lines if l.startswith(PREFIX)), None)
    ticks1, load1 = cpu_ticks(), loadavg()

    if result is None or p.returncode != 0:
        fail(f"run ended with code {p.returncode} and {'a' if result else 'no'} result", 1)
    out = json.loads(result)
    if sorted(out["metrics"]) != sorted(want):
        fail(f"metrics {sorted(out['metrics'])} differ from BENCHMARK.json {sorted(want)}", 3)
    print(json.dumps({"host": host_context(ticks0, ticks1, load0, load1)}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
