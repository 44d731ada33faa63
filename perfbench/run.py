#!/usr/bin/env python3
"""CDC engine benchmark: builds the engine with the benchmark's own sbt
project, runs one workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload ingest_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1); the line before it records
the environment. See README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOADS, per_layer_values  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# repository's build and org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark once per source state; returns
    the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and os.path.exists(CLASSPATH):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (log: {log})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(CLASSPATH) as cp:
        return cp.read().strip()


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + source_digest()[:16]


def run_jvm(classpath, args):
    """Run one workload; returns the raw result the JVM wrote."""
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, out]
    log = os.path.join(BUILD, f"last-{args.workload}.log")
    try:
        with open(log, "w") as fh:
            try:
                r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"workload {args.workload} timed out after {RUN_TIMEOUT_S} s (log: {log})")
        if r.returncode != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"workload {args.workload} failed (exit {r.returncode}, log: {log})")
        with open(out) as fh:
            raw = json.load(fh)
        shutil.copy(out, os.path.join(BUILD, f"last-{args.workload}-trace{args.trace}.json"))
        return raw
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end_values(raw, prefix=""):
    s = raw["samples"]
    return {
        "setup_s": stats.median(s["setup_s"]),
        "tput_per_s": stats.median(s[prefix + "tput_per_s"]),
        "lat_p50_ms": stats.percentile(s[prefix + "lat_ms"], 50),
        "lat_p90_ms": stats.percentile(s[prefix + "lat_ms"], 90),
        "scan_s": stats.median(s[prefix + "scan_s"]),
        "peak_rss_mb": raw["counts"]["peak_rss_mb"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources (src/main/scala/graft) are missing")

    classpath = build()
    load_before = loadavg()
    cpu_before = cpu_times()
    t0 = time.time()
    raw = run_jvm(classpath, args)
    load_after = loadavg()
    cpu_after = cpu_times()
    # share of CPU time the hypervisor gave to other guests during the run
    steal = (cpu_after[0] - cpu_before[0]) / max(1, cpu_after[1] - cpu_before[1])

    e2e = end_to_end_values(raw)
    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "loadavg_before": load_before, "loadavg_after": load_after,
           "cpu_steal_frac": round(steal, 4),
           "nproc": os.cpu_count(), "java": raw["info"].get("java_version"),
           "spark": raw["info"].get("spark_version"), "commit": commit_id(),
           "run_wall_s": round(time.time() - t0, 3), "samples": {
               k: len(v) for k, v in raw["samples"].items()}}
    if raw["failed"]:
        env["failures"] = raw["failures"]
    if args.trace:
        traced = end_to_end_values(raw, "traced.")
        layers = per_layer_values(raw, e2e, traced, load_before, load_after)
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in PER_LAYER}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in END_TO_END}
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": raw["failed"] == 0, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
