#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve-read --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the engine and
the benchmark with sbt (offline) and caches the classpath under
perfbench/.build/; later runs reuse it while the sources are unchanged.
Each run gets its own directory under perfbench/.runs/ for the Spark
warehouse, local dir, stream checkpoints and java.io.tmpdir; it is
removed when the run ends, and directories left by dead runs are swept.
A traced run (--trace 1) writes perfbench/traces/<workload>-seed<n>.json.

The last line of stdout is the result object; nothing is printed there
when the run fails, and the exit code is then non-zero.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
TRACES = os.path.join(HERE, "traces")

WORKLOADS = ("serve-read", "serve-mixed", "analytics")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 720  # so that a first run, build included, ends within 890 s
# a fixed, pre-touched heap keeps the peak resident set steady; no
# hsperfdata file, which the JVM would otherwise write under /tmp
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
# Spark on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"run.py: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and not any("sbt.repository.config" in o for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if the sources changed since the cached classpath; return it."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                if f.read() == want:
                    with open(cp_file) as c:
                        return c.read().strip()
        log("building the engine and the benchmark with sbt")
        t0 = time.time()
        out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export perfbench/Runtime/fullClasspath"],
                        cwd=HERE, env=sbt_env(), timeout=BUILD_TIMEOUT_S)
        lines = out.decode(errors="replace").strip().splitlines()
        cp = lines[-1].strip() if lines else ""
        if "perfbench" not in cp or cp.startswith("["):
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            raise SystemExit("run.py: the build failed")
        log(f"built in {time.time() - t0:.1f} s")
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(want)
        return cp


CHILD = None


def run_child(cmd, cwd, env, timeout):
    """Run cmd in its own process group; stderr passes through, stdout is
    returned. The whole group is killed on timeout or on our own exit."""
    global CHILD
    CHILD = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = CHILD.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        raise SystemExit(f"run.py: {cmd[0]} timed out after {timeout} s")
    code = CHILD.returncode
    CHILD = None
    if code != 0:
        raise SystemExit(f"run.py: {cmd[0]} exited with code {code}")
    return out


def stop_child():
    global CHILD
    if CHILD is None or CHILD.poll() is not None:
        CHILD = None
        return
    for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(CHILD.pid, sig)
        except ProcessLookupError:
            break
        try:
            CHILD.wait(timeout=wait)
            break
        except subprocess.TimeoutExpired:
            continue
    CHILD = None


def sweep_dead_runs():
    if not os.path.isdir(RUNS):
        return
    for name in os.listdir(RUNS):
        pid = name.split("-")[0]
        alive = False
        if pid.isdigit():
            try:
                os.kill(int(pid), 0)
                alive = True
            except ProcessLookupError:
                pass
            except PermissionError:
                alive = True
        if not alive:
            shutil.rmtree(os.path.join(RUNS, name), ignore_errors=True)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if not home or os.path.isfile(exe) else "java"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")

    spec = os.path.join(ROOT, "BENCHMARK.json")
    needed = [spec, os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")]
    missing = [os.path.relpath(f, ROOT) for f in needed if not os.path.exists(f)]
    if missing:
        raise SystemExit(f"run.py: not a checkout of the engine (missing {', '.join(missing)})")

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda s, f: sys.exit(128 + s))

    cp = classpath()
    os.makedirs(RUNS, exist_ok=True)
    sweep_dead_runs()
    run_dir = os.path.join(RUNS, f"{os.getpid()}-{a.workload}-{a.seed}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("SPARK_", "PYSPARK_", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS"))}
        cmd = ([java()] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"] +
               [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] +
               ["-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--run-dir", run_dir, "--trace-dir", TRACES, "--spec", spec])
        out = run_child(cmd, cwd=ROOT, env=env, timeout=RUN_TIMEOUT_S)
    finally:
        stop_child()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.decode(errors="replace").rstrip("\n").splitlines()
    if not lines:
        raise SystemExit("run.py: the benchmark printed no result")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit(f"run.py: malformed result {lines[-1]}")
    # the result object must start at column 0 of the last line
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    try:
        main()
    finally:
        stop_child()
