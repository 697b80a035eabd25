#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ops_cycle --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program from source with sbt on first
use (the build is reused while no source file changes), then runs the
program in one JVM. The last line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Exits non-zero, without a result line, when the build or the run fails,
and with the result line but code 1 when an output check failed.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# A fixed-size heap with fixed generation sizes: the resident set then
# tracks retained data and native memory, not the collector's resizing.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources and
    build files."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, dirs, files in os.walk(d):
            dirs.sort()
            inputs += [os.path.join(base, f) for f in sorted(files)]
    for p in inputs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return p.returncode, out, err


def classpath():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources missing: no {need} next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    t0 = time.time()
    rc, out, _ = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    cp = [l for l in out.splitlines()
          if l.startswith(os.path.join(HERE, "target")) and ":" in l]
    if rc != 0 or not cp:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1]


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def cpu_times():
    """Host CPU jiffies (total, steal) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, ValueError, IndexError):
        return None


def report_overhead(work, trace, first_pass):
    """Tracing overhead: the traced run's first measured pass minus that of
    the latest untraced run of the same workload in this checkout."""
    saved = os.path.join(work, "untraced_first_pass_s")
    if first_pass is None:
        return
    if not trace:
        with open(saved, "w") as f:
            f.write(repr(first_pass))
    elif os.path.exists(saved):
        with open(saved) as f:
            base = float(f.read())
        print(f"tracing_overhead_s {first_pass - base:.3f} s "
              f"(traced {first_pass:.3f} - untraced {base:.3f})")
    else:
        print("tracing_overhead_s unknown (no untraced run of this workload yet)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ops_cycle", "bulk_load"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(BUILD, "work", a.workload)
    os.makedirs(work, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, *JVM_FLAGS, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    cpu0 = cpu_times()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc, out, _ = run_group(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                               stderr=log, text=True)
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
        # CPU time the hypervisor gave to other guests: a run with a large
        # share measured a busy host, not the engine
        print(f"host_steal_share {(cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0]):.3f}")
    result = None
    first_pass = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
            continue
        if line.startswith("first_pass_s "):
            first_pass = float(line.split()[1])
        print(line)
    report_overhead(work, a.trace, first_pass)
    if result is None:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the benchmark JVM exited {rc} without a result")
    keep = declared_metrics(a.trace)
    missing = set(keep) - set(result["metrics"])
    if missing:
        fail(f"metrics missing from the run: {sorted(missing)}")
    result["metrics"] = {k: result["metrics"][k] for k in keep}
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(0 if result["correct"] and rc == 0 else 1)


if __name__ == "__main__":
    main()
