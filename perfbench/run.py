#!/usr/bin/env python3
"""Benchmark of the graft crawl engine.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run starts one JVM for one
workload, which sets the input up, runs crawl operations back to back
for the given seconds and checks every output. The last line of standard
output is the result:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. The line before it, starting with
"context", records the box (cores, load average, JVM and Spark versions,
source commit) and the raw samples.

Options for the self-test (perfbench/selftest.py): --size tiny crawls
corpora of a few hundred pages, --inject-failure makes every output check
fail, --record stores the crawl-order digests in perfbench/expected.json.
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
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("bfs_crawl", "saturated_wave")
# a run must end within 180 s; one that builds a fresh checkout within 900 s
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880
# leaves the JVM two minutes of a run that builds
BUILD_LIMIT_S = 760
# fixed-size heap: no resizing while operations are timed
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def login_env():
    """The environment a login shell sets up: the system profile may add the
    JDK and sbt to PATH and set sbt's options, and a bare process lacks them."""
    # the profile may print to stdout; the environment follows the marker
    marker = "--perfbench-env--\n"
    try:
        r = subprocess.run(["bash", "-lc", f"printf '%s\\n' '{marker.strip()}'; env -0"],
                           stdin=subprocess.DEVNULL, capture_output=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        return {}
    out = r.stdout.decode(errors="replace")
    if marker not in out:
        return {}
    pairs = (x.split("=", 1) for x in out.rsplit(marker, 1)[1].split("\0") if "=" in x)
    return {k: v for k, v in pairs}


def tool_env():
    """This process's environment, completed from a login shell's when sbt
    or java is not on its PATH: variables it lacks are added, and the login
    PATH goes first."""
    env = dict(os.environ)
    if shutil.which("sbt", path=env.get("PATH")) and shutil.which("java", path=env.get("PATH")):
        return env
    login = login_env()
    for k, v in login.items():
        env.setdefault(k, v)
    env["PATH"] = os.pathsep.join(x for x in (login.get("PATH"), os.environ.get("PATH")) if x)
    return env


def source_files():
    """Every file the build reads: the engine's and the harness's."""
    out = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs.sort()
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit_s, log_path):
    """Runs cmd in its own process group, output to log_path; kills the
    group if it outlives limit_s. Returns the exit code, or None on timeout."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(digest, env, limit_s):
    """Compiles engine and harness unless this source tree is built.
    Returns whether it built."""
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return False
    sbt = shutil.which("sbt", path=env.get("PATH"))
    if sbt is None:
        fail("sbt not found on PATH, nor on a login shell's")
    os.makedirs(TARGET, exist_ok=True)
    env = dict(env, COURSIER_MODE="offline")
    # sbt's global state and ivy home live in the checkout; only the
    # dependency caches are shared. The repository list stays the user's.
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}",
           f"-Dsbt.ivy.home={os.path.join(TARGET, 'ivy')}",
           "-Dsbt.override.build.repos=true", "-Dsbt.offline=true"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "sbt.repository.config" not in env.get("SBT_OPTS", "") and os.path.isfile(repos):
        cmd.append(f"-Dsbt.repository.config={repos}")
    cmd.append("writeLaunch")
    log_path = os.path.join(TARGET, "build.log")
    rc = run_bounded(cmd, HERE, env, limit_s, log_path)
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log_path, errors="replace") as f:
            tail = "\n".join(f.read().splitlines()[-20:])
        fail(f"build failed (exit {rc}); log {os.path.relpath(log_path, ROOT)}:\n{tail}")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return True


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (busy, steal, total)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    steal = v[7] if len(v) > 7 else 0
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    return sum(v) - idle - steal, steal, sum(v)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject-failure", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    t_start = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/crawl/CrawlEngine.scala"))):
        fail("engine sources not found: run from the root of a graft checkout")
    load_start = os.getloadavg()
    digest = source_digest()
    env = tool_env()
    java = shutil.which("java", path=env.get("PATH"))
    if java is None:
        fail("java not found on PATH, nor on a login shell's")
    built = build(digest, env, BUILD_LIMIT_S)
    # a run that builds may take longer; the JVM gets what is left of it
    deadline = t_start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]

    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f).get(a.size, {})

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(TARGET, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ([java] + jvm_opts + [
            f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores),
            "--size", a.size, "--expect-digest", expected.get(a.workload, ""),
            "--inject-failure", "1" if a.inject_failure else "0",
            "--record", "1" if a.record else "0"])
    jvm_log = os.path.join(TARGET, f"jvm-{a.workload}.log")
    cpu_start = cpu_times()
    rc = run_bounded(cmd, ROOT, env, deadline - time.monotonic(), jvm_log)
    with open(jvm_log, errors="replace") as f:
        out = f.read().splitlines()
    result = next((x[len("RESULT "):] for x in reversed(out) if x.startswith("RESULT ")), None)
    jvm_ctx = next((x[len("CONTEXT "):] for x in reversed(out) if x.startswith("CONTEXT ")), None)
    if a.trace:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(TARGET, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(TARGET, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        tail = "\n".join(out[-20:])
        fail(f"workload run failed (exit {rc}); log {os.path.relpath(jvm_log, ROOT)}:\n{tail}")

    res = json.loads(result)
    ctx = json.loads(jvm_ctx) if jvm_ctx else {}
    if a.record:
        store = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                store = json.load(f)
        store.setdefault(a.size, {}).update(
            {k: v for k, v in ctx.get("recorded", {}).items() if k == a.workload})
        with open(EXPECTED, "w") as f:
            json.dump(store, f, indent=2, sort_keys=True)
            f.write("\n")
    for line in out:
        if line.startswith(("op=", "CHECK-FAILED", "PHASE-UNKNOWN")):
            print(line)
    cpu_end = cpu_times()
    if cpu_start and cpu_end and cpu_end[2] > cpu_start[2]:
        # steal: time the hypervisor gave this box's CPUs to others
        span = cpu_end[2] - cpu_start[2]
        ctx["cpu_busy_share"] = (cpu_end[0] - cpu_start[0]) / span
        ctx["cpu_steal_share"] = (cpu_end[1] - cpu_start[1]) / span
    ctx.update({"nproc": os.cpu_count(), "cores_used": cores,
                "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                "git_commit": git_commit(), "source_sha256": digest,
                "wall_s": time.monotonic() - t_start})
    print("context " + json.dumps(ctx, sort_keys=True))
    for m in res["metrics"].values():
        if m["value"] is None:
            m["value"] = 0.0
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
