#!/usr/bin/env python3
"""Per-layer report from traced runs.

    python3 perfbench/run.py --workload <w> --seed <n> --trace 0   # baseline
    python3 perfbench/run.py --workload <w> --seed <n> --trace 1   # traced
    python3 perfbench/report.py

For every workload with a traced result under .bench_build/results, prints
the per-layer metrics keyed by name, the tracing overhead (traced
end-to-end figures minus the untraced run of the same seed), and the spans
with the most self time from .bench_build/traces/<workload>-seed<n>.jsonl.
"""

import glob
import json
import os

import build
import run


def main():
    results = os.path.join(build.out_dir(), "results")
    traces = os.path.join(build.out_dir(), "traces")
    traced = sorted(glob.glob(os.path.join(results, "*-trace1.json")))
    if not traced:
        print("no traced results yet: run perfbench/run.py with --trace 1 first")
        return 1
    for path in traced:
        tag = os.path.basename(path)[: -len("-trace1.json")]
        with open(path) as f:
            metrics = json.load(f)["metrics"]
        print(f"== {tag} ==")
        for name, m in metrics.items():
            print(f"  {name:44s} {m['value']:>18.6f} {m['unit']}")
        for line in run.overhead_lines(results, tag):
            print("  " + line)
        span_file = os.path.join(traces, f"{tag}.jsonl")
        if os.path.exists(span_file):
            with open(span_file) as f:
                spans = [json.loads(l) for l in f if l.strip()]
            print(f"  spans: {len(spans)} in {span_file}; most self time:")
            for s in sorted(spans, key=lambda s: -s["self_ms"])[:12]:
                print(f"    {s['self_ms']:10.1f} ms self {s['dur_ms']:10.1f} ms  [{s['kind']}] {s['name']} (batch {s['batch']})")
        print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
