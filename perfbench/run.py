#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload stream_fleet|catalog \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use (sbt, into
perfbench/target), then runs the workload in one JVM at local[<nproc>]; a
traced run then runs it again untraced at local[1] in a second JVM for
scaling.rows_per_s_1core. The last line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Artifacts go to perfbench/out/: the full result with its run stamp, the log
and, for traced runs, the span/counter file and a per-layer summary with
self times and the tracing overhead against the last untraced run.

`--record` rewrites the expected-output digests in perfbench/expected/
instead of checking against them.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
OUT = os.path.join(BENCH, "out")
WORK = os.path.join(BENCH, "work")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("stream_fleet", "catalog")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, log, cwd, env=None):
    """Run cmd in its own process group; on timeout kill the group. Returns rc or None."""
    with open(log, "ab") as fh:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def source_fingerprint():
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    fp = source_fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                      "benchClasspath"], BUILD_TIMEOUT_S, os.path.join(OUT, "build.log"), BENCH, env)
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (rc={rc}); see {os.path.join(OUT, 'build.log')}", 3)
    with open(STAMP, "w") as fh:
        fh.write(fp)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def self_times(spans):
    """Per span name: count, total ms and self ms (duration minus the part of
    it that its child spans cover)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        total = s["end_ms"] - s["start_ms"]
        covered, cur_end = 0.0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], cur_end), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        e = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += total
        e["self_ms"] += total - covered
    return out


def summarize(base, workload, seed, result):
    with open(os.path.join(OUT, f"{base}.spans.json")) as fh:
        trace = json.load(fh)
    untraced = os.path.join(OUT, f"{workload}-{seed}-trace0.result.json")
    if not os.path.exists(untraced):
        cands = [f for f in os.listdir(OUT) if f.startswith(f"{workload}-") and f.endswith("-trace0.result.json")]
        untraced = os.path.join(OUT, max(cands, key=lambda f: os.path.getmtime(os.path.join(OUT, f)))) if cands else None
    overhead = {}
    if untraced:
        with open(untraced) as fh:
            base_e2e = json.load(fh)["end_to_end"]
        for k, v in result["end_to_end"].items():
            if k in base_e2e and base_e2e[k]["value"]:
                overhead[k] = {"untraced": base_e2e[k]["value"], "traced": v["value"],
                               "overhead": v["value"] / base_e2e[k]["value"] - 1.0}
    counters = {}
    for c in trace["counters"]:
        e = counters.setdefault(c["name"], {"count": 0, "sum": 0.0})
        e["count"] += 1
        e["sum"] += c["value"]
    summary = {
        "workload": workload, "seed": seed, "stamp": result["stamp"],
        "untraced_result": os.path.basename(untraced) if untraced else None,
        "tracing_overhead": overhead,
        "spans": self_times(trace["spans"]),
        "counters": counters,
        "per_layer": result["per_layer"],
    }
    with open(os.path.join(OUT, f"{base}.summary.json"), "w") as fh:
        json.dump(summary, fh, indent=2, sort_keys=True)


def run_jvm(a, trace, cores, deadline):
    """Runs the workload in a fresh JVM at local[cores] (local[<nproc>] when
    cores is None) and gives its result; fails the run if the JVM fails or
    does not end before the deadline."""
    base = f"{a.workload}-{a.seed}-trace{trace}" + (f"-local{cores}" if cores else "")
    result_file = os.path.join(OUT, f"{base}.result.json")
    log = os.path.join(OUT, f"{base}.log")
    for f in (result_file, log):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, "-Xmx4g",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(trace), "--t0-ms", repr(time.time() * 1000.0),
           "--bench-dir", BENCH, "--out", OUT]
    if cores:
        cmd += ["--cores", str(cores)]
    if a.record:
        cmd.append("--record")
    env = dict(os.environ, PERFBENCH_GIT_SHA=git_sha())
    rc = run_bounded(cmd, max(1.0, deadline - time.monotonic()), log, ROOT, env)
    shutil.rmtree(WORK, ignore_errors=True)
    if rc != 0:
        fail(f"run failed (rc={rc}); see {log}", 4)
    if a.record:
        return None
    with open(result_file) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM):
        fail(f"program sources not found at {os.path.relpath(PROGRAM, os.getcwd())}", 2)
    os.makedirs(OUT, exist_ok=True)
    # one run at a time per checkout: runs share the build and the work dir
    lock = open(os.path.join(OUT, ".lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    base = f"{a.workload}-{a.seed}-trace{a.trace}"
    result = run_jvm(a, a.trace, None, deadline)
    if a.record:
        return
    if a.trace:
        # the same untraced run at local[1] in a fresh JVM, as the
        # single-threaded baseline: same work, same warm-up
        one = run_jvm(a, 0, 1, deadline)
        result["attempted"] += one["attempted"]
        result["failed"] += one["failed"]
        result["failures"] += one["failures"]
        result["correct"] = result["correct"] and one["correct"]
        result["per_layer"]["bench.failed_ratio"]["value"] = result["failed"] / result["attempted"]
        if "rows_per_s" in one["end_to_end"]:
            result["per_layer"]["scaling.rows_per_s_1core"]["value"] = one["end_to_end"]["rows_per_s"]["value"]
        with open(os.path.join(OUT, f"{base}.result.json"), "w") as fh:
            json.dump(result, fh, indent=2)
    for f in result["failures"]:
        print(f"perfbench: failed {f['op']}: {f['reason']}", file=sys.stderr)
    metrics = result["per_layer"] if a.trace else result["end_to_end"]
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_file if os.path.exists(spec_file) else os.devnull) as fh:
        spec = json.loads(fh.read() or "{}")
    wanted = [m["name"] for m in spec.get("per_layer" if a.trace else "end_to_end", [])]
    missing = [m for m in wanted if m not in metrics]
    if missing:
        fail(f"metrics missing from the run: {missing}; see {os.path.join(OUT, base + '.log')}", 5)
    if a.trace:
        summarize(base, a.workload, a.seed, result)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
