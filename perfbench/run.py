#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <ingest|upsert_small>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (see
build.py), runs the workload in one JVM with private scratch under
.bench_build/runs/, prints a metric table on stderr and, as the last line
of stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
Exits non-zero if the build fails, the run fails, or a correctness check
fails. See README.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

import build

RUN_TIMEOUT_S = 170
WORKLOADS = ("ingest", "upsert_small")

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classpath, work, main_args, heap="3g"):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", *opens, "-XX:-UsePerfData", "-Xms" + heap, "-Xmx" + heap,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dgraft.index.cache=" + os.path.join(work, "cache"),
            "-Dderby.system.home=" + os.path.join(work, "derby"),
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "conf", "log4j2.properties"),
            "-cp", os.pathsep.join(classpath),
            "graft.perfbench.Main", *main_args]


def private_env(work):
    """Environment with every scratch location inside the run's directory."""
    env = dict(os.environ)
    env.update({
        "GRAFT_INDEX_CACHE": os.path.join(work, "cache"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    return env


def overhead_lines(results, tag):
    """Traced end-to-end figures minus the untraced run's, for one workload
    and seed, from the result files both runs leave in `results`."""
    base = os.path.join(results, f"{tag}-trace0.json")
    e2e = os.path.join(results, f"{tag}-trace1-e2e.json")
    if not (os.path.exists(base) and os.path.exists(e2e)):
        return ["tracing overhead: needs an untraced and a traced run of the same workload and seed"]
    with open(base) as f:
        untraced = json.load(f)["metrics"]
    with open(e2e) as f:
        traced = json.load(f)
    out = []
    for name, m in untraced.items():
        if name in traced and m["value"]:
            d = traced[name] - m["value"]
            out.append(f"tracing overhead: {name} {d:+.6f} {m['unit']} ({100.0 * d / m['value']:+.1f}%)")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out_dir = build.out_dir()
    work = os.path.join(out_dir, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "derby", "cache"):
        os.makedirs(os.path.join(work, d))
    results = os.path.join(out_dir, "results")
    traces = os.path.join(out_dir, "traces")
    os.makedirs(results, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    classpath = [classes] + ([build.TRACE_CONF] if args.trace else []) + [build.spark_jars() + "/*"]
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if args.trace:
        main_args += ["--trace-out", os.path.join(traces, tag + ".jsonl")]
    try:
        proc = subprocess.run(java_cmd(classpath, work, main_args), env=private_env(work),
                              stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {args.workload} did not finish within {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(proc.stdout)
        print(f"perfbench: {args.workload} failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)
    if args.trace:
        e2e = [l for l in lines if l.startswith('{"end_to_end"')]
        if e2e:
            with open(os.path.join(results, f"{tag}-trace1-e2e.json"), "w") as f:
                json.dump(json.loads(e2e[-1])["end_to_end"], f, indent=1)
        for l in overhead_lines(results, tag):
            print(l, file=sys.stderr)
    print(lines[-1])
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
