#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload dedup_5pct --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the library and the benchmark from
source (perfbench/build.py), then runs the workload in one JVM at local[4].
Prints the path of the run's artifact (every sample, loadavg, all spans) and,
as the last line, one JSON object: correct, attempted, failed, metrics.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Exits non-zero without a result line if the build or the run fails.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["dedup_5pct", "dedup_chains", "sig_search"]
RUN_LIMIT_S = 170
# a fixed, pre-touched heap: peak RSS then moves with off-heap and
# metaspace growth, not with where the collector happened to size the heap
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def check_metrics(root, metrics, trace):
    """The metrics must be exactly BENCHMARK.json's list for the mode, each
    with its unit and a finite value."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    if want != got:
        return f"metrics differ from BENCHMARK.json: {sorted(set(want.items()) ^ set(got.items()))}"
    bad = [k for k, v in metrics.items() if not isinstance(v["value"], (int, float))
           or not math.isfinite(v["value"])]
    return f"metrics without a finite value: {bad}" if bad else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.build(root)
    started = time.time()
    work = os.path.join(root, build.BUILD_DIR, "work")
    runs = os.path.join(root, build.BUILD_DIR, "runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join(classes + [os.path.join(build.spark_jars(), "*")])
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m",
           "-Djava.awt.headless=true", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--runs", runs]

    log_path = os.path.join(root, build.BUILD_DIR, "last-run.log")
    with open(log_path, "w") as log:
        # same process group as this script, so a kill of the group reaches it
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)

        def stop(*_):
            proc.kill()
            proc.wait()
            sys.exit(3)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.isfile(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"run failed: {code}", file=sys.stderr)
        sys.exit(1)
    with open(result) as f:
        line = f.read().strip()
    problem = check_metrics(root, json.loads(line)["metrics"], a.trace)
    if problem:
        print(f"run failed: {problem}", file=sys.stderr)
        sys.exit(1)
    shutil.rmtree(work, ignore_errors=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    print(f"artifact: {os.path.join(build.BUILD_DIR, 'runs', tag)}")
    print(line)


if __name__ == "__main__":
    main()
