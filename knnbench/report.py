"""Per-layer report of a traced benchmark run.

    python3 knnbench/report.py .bench_build/knnbench/traces/search-seed1.jsonl

Reads the spans a `--trace 1` run wrote and prints, per layer, the number
of spans, their total and median self time (span duration minus the time
its child spans cover), the Spark jobs and tasks they started, and the
end-to-end metric the layer should move on each workload.
"""

import json
import statistics
import sys
from collections import defaultdict

# Which end-to-end metric each layer should move, on which workload.
MOVES = {
    "client": "the benchmark's own loop (SQL text, result handling)",
    "embed": "request_p50_ms on search (query); write-path batch time (batch)",
    "sources": "setup_s on search (copy); write-path batch time (insert)",
    "plans": "request_p50_ms on search",
    "index": "request_p50_ms on search (exec); setup_s on search (build)",
    "functions": "request_p50_ms on search (shared distance/top-k kernel)",
    "operators": "request_p50_ms and throughput_per_s on curate",
}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def print_report(path, out=sys.stdout):
    spans = load(path)
    by_layer = defaultdict(list)
    for s in spans:
        by_layer[s["name"].split(".")[0]].append(s)
    print(f"per-layer self time, {len(spans)} spans from {path}", file=out)
    print(f"{'layer':<10} {'spans':>6} {'self_ms':>10} {'median':>8} {'jobs':>6} "
          f"{'tasks':>7} {'gc_ms':>7}  should move", file=out)
    for layer in sorted(by_layer):
        ss = by_layer[layer]
        self_ms = [s["self_ms"] for s in ss]
        print(f"{layer:<10} {len(ss):>6} {sum(self_ms):>10.1f} "
              f"{statistics.median(self_ms):>8.2f} {sum(s['jobs'] for s in ss):>6} "
              f"{sum(s['tasks'] for s in ss):>7} {sum(s['gc_ms'] for s in ss):>7}  "
              f"{MOVES.get(layer, '')}", file=out)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    print(f"{'span':<34} {'n':>5} {'median_ms':>10} {'self_ms':>10}", file=out)
    for name in sorted(by_name):
        ss = by_name[name]
        print(f"{name:<34} {len(ss):>5} "
              f"{statistics.median(s['end_ms'] - s['start_ms'] for s in ss):>10.2f} "
              f"{statistics.median(s['self_ms'] for s in ss):>10.2f}", file=out)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print_report(sys.argv[1])
