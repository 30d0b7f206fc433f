#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
.bench_build/, keyed by a digest of the sources; later runs start the
JVM directly. Everything a run writes stays under .bench_build/.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json, or its per-layer ones
with --trace 1). Lines before it starting with '#' give the run context.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dataset_build", "query_inventory")
# The engine's own default driver heap (build.sbt, SPARK_DRIVER_MEM unset);
# no -Xms, so the resident set follows the heap the run actually uses.
HEAP = "8g"
BUILD_TIMEOUT_S = 850
RUN_DEADLINE_S = 170
# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# The committed sf0.01 correctness artifact: query_inventory's row counts.
ORACLE = "CORRECTNESS_r19.json"
SOURCES = ("build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
           "perfbench/src/main")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cpu_steal():
    """Cumulative (steal, total) jiffies of all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns the exit code."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_digest():
    h = hashlib.sha256()
    for base in SOURCES:
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(path) for f in fs
            if "target" not in os.path.relpath(d, path).split(os.sep)
            and "project" not in os.path.relpath(d, path).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath(digest):
    """Build engine and harness if the sources changed; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    cps = [l for l in lines if "perfbench" in l and "classes" in l and l.startswith("/")]
    if not cps:
        fail(f"no classpath in the build output; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    return cps[-1]


def head_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "none (not a git checkout)"


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", "src/main/scala/graft", "fixtures", ORACLE, "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from the root of a full checkout")
    if "SPARK_GRAFT_EXTRA_CONF" in os.environ:
        fail("SPARK_GRAFT_EXTRA_CONF is set; the benchmark measures the shipped defaults")

    start = time.time()
    steal0 = cpu_steal()
    nproc = len(os.sched_getaffinity(0))
    digest = source_digest()
    print(f"# workload: {a.workload}, seed: {a.seed}, seconds: {a.seconds:g}, trace: {a.trace}")
    print(f"# nproc: {nproc}, loadavg start: {loadavg()}, max heap: {HEAP}")
    print(f"# HEAD: {head_rev()}, source digest: {digest[:16]}", flush=True)
    # a build may take its own BUILD_TIMEOUT_S; the run keeps RUN_DEADLINE_S
    deadline = RUN_DEADLINE_S - (time.time() - start)
    cp = classpath(digest)

    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            f"-Dgraft.fixtures.dir={os.path.join(ROOT, 'fixtures')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(HERE, "data"),
            "--oracle", os.path.join(ROOT, ORACLE), "--seconds", str(a.seconds)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))

    result = None
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    killed = []
    watchdog = threading.Timer(deadline, lambda: (killed.append(1), os.killpg(p.pid, signal.SIGKILL)))
    watchdog.start()
    try:
        for line in p.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                print(line, end="", flush=True)
        p.wait()
    finally:
        watchdog.cancel()
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if killed:
        fail(f"the run did not finish within {deadline:.0f} s")
    if p.returncode != 0 or result is None:
        fail(f"the run exited with code {p.returncode} and no result")

    traces = os.path.join(BUILD, "traces", os.path.basename(work))
    os.makedirs(traces, exist_ok=True)
    for f in ("spans.json", "ops.json"):
        if os.path.exists(os.path.join(work, f)):
            shutil.copy(os.path.join(work, f), traces)
    shutil.rmtree(work, ignore_errors=True)
    steal1 = cpu_steal()
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(f"# loadavg end: {loadavg()}, cpu steal: {steal:.1%}, "
          f"traces: {os.path.relpath(traces, ROOT)}")

    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        print(json.dumps(result), file=sys.stderr)
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, "
             f"units {sorted(k for k in set(want) & set(got) if want[k] != got[k])}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
