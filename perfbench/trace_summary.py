#!/usr/bin/env python3
"""Summarise a traced run's spans: self time per layer and per span name,
and the tracing overhead.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 1 --trace-out t/
    python3 perfbench/trace_summary.py t/query_mix-1.spans.jsonl

A span's self time is its duration minus the part of it its child spans
cover. The overhead compares the run's traced passes with its untraced
ones (the run alternates them), read from the result file next to the
spans.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    path = sys.argv[1]
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    by_layer = metrics.self_times(spans)
    total = sum(by_layer.values()) or 1.0
    print(f"{'layer':12s} {'self ms':>10s} {'share':>6s}")
    for layer, ms in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        print(f"{layer:12s} {ms:10.1f} {ms / total:6.1%}")
    by_name = {}
    for s in spans:
        one = metrics.self_times([dict(s, parent=0)] +
                                 [c for c in spans if c["parent"] == s["id"]])
        key = f"{s['layer']}:{s['name']}"
        n, ms = by_name.get(key, (0, 0.0))
        by_name[key] = (n + 1, ms + one.get(s["layer"], 0.0))
    print(f"\n{'span':44s} {'count':>6s} {'self ms':>10s}")
    for key, (n, ms) in sorted(by_name.items(), key=lambda kv: -kv[1][1])[:25]:
        print(f"{key:44s} {n:6d} {ms:10.1f}")
    result = path.replace(".spans.jsonl", ".json")
    if os.path.exists(result):
        with open(result) as f:
            res = json.load(f)
        kind = "batch" if res["workload"] == "cta_pipeline" else "query"
        print("\ntracing overhead (traced / untraced - 1):")
        for traced in (False, True):
            passes = metrics._passes(res, traced)
            lat = [o["ms"] for o in metrics._timed_ops(res, kind, traced)]
            print(f"  {'traced  ' if traced else 'untraced'} passes={len(passes)} "
                  f"pass_s={metrics.med(passes) / 1000:.3f} "
                  f"op_ms_p50={metrics.pct(lat, 50):.1f} op_ms_p90={metrics.pct(lat, 90):.1f}")


if __name__ == "__main__":
    main()
