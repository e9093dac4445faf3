#!/usr/bin/env python3
"""Run one workload of the CDC lakehouse benchmark and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_stream|cdc_partitioned|query_mix \
        --seed N --seconds S --trace 0|1 [--cores C]

Builds the program and the benchmark from source when needed
(perfbench/build.py), runs the workload in one JVM on a local[C] Spark
session (C defaults to the number of cores), and prints as the LAST line
of standard output one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. The lines before it give provenance, the
workload's own detail figures and any failed operation's exception.

Every file the run writes stays under .bench_build/ in the checkout.
Traced runs also write their spans to .bench_build/results/. Exits
non-zero, without a result line, when the program cannot be built or
run, and with a result line marked incorrect when an output check fails.
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
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("cdc_stream", "cdc_partitioned", "query_mix")
# wall-clock budget of one run after the build, below the 180 s a run may take
TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def stop(signum, frame):
    raise SystemExit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)

    if not os.path.isdir(build.PROGRAM_SRC):
        fail(f"program sources {build.PROGRAM_SRC} not found: run from the repository root")
    try:
        program, bench = build.build()
    except SystemExit as e:
        fail(str(e))
    t_start = time.monotonic()  # a first run's build is not held to the run budget

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-cores{a.cores}"
    work = os.path.abspath(os.path.join(build.BUILD_ROOT, "work", tag))
    results = os.path.join(build.BUILD_ROOT, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    trace_file = os.path.abspath(os.path.join(results, f"trace-{tag}.json"))
    jars = os.path.join(build.spark_jars(), "*")
    # every scratch location points into the work directory; without
    # -XX:-UsePerfData the JVM would write its counters to /tmp
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([bench, program, jars]), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(a.cores), "--work", work,
              "--golden", os.path.join(HERE, "golden", "query_mix.tsv"),
              "--result", result_file, "--trace-file", trace_file])
    log_path = os.path.join(results, f"log-{tag}.txt")
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, TIMEOUT_S - (time.monotonic() - t_start)))
        except BaseException as e:  # the timeout, or this runner being stopped
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if not isinstance(e, subprocess.TimeoutExpired):
                raise
            code = None
    try:
        with open(result_file) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        res = None
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"timed out after {TIMEOUT_S}s (log: {log_path})")
    if code != 0 or res is None or "error" in res:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"workload run failed with exit code {code}: "
             f"{(res or {}).get('error', 'no result')} (log: {log_path})")

    for f in res["failures"]:
        print(f"failed op {f['op']}: {f['class']}: {f['message']}", file=sys.stderr)
    for c in res["checks"]:
        print(("ok   " if c["ok"] else "FAIL ") + f"{c['check']}: {c['detail']}")
    print(json.dumps({"provenance": res["provenance"], "details": res["details"]}))
    out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    with open(os.path.join(results, f"result-{tag}.json"), "w") as fh:
        json.dump(res, fh)
    untraced = os.path.join(results, f"result-{tag.replace('-trace1-', '-trace0-')}.json")
    if a.trace and os.path.exists(untraced):
        # tracing overhead: traced minus untraced, per end-to-end metric
        with open(untraced) as fh:
            base = json.load(fh)["end_to_end"]
        overhead = {k: v["value"] - base[k]["value"] for k, v in res["end_to_end"].items()}
        with open(trace_file) as fh:
            trace = json.load(fh)
        trace["tracing_overhead"] = overhead
        with open(trace_file, "w") as fh:
            json.dump(trace, fh)
        print(json.dumps({"tracing_overhead": overhead}))
    print(json.dumps(out), flush=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
