#!/usr/bin/env python3
"""Renders traced runs (`run.py --trace 1`) as one markdown per-layer table.

    python3 perfbench/layers_table.py .bench_build/trace/*.json > perfbench/results/LAYERS.md

One column per trace file. The first table holds the per-layer metrics, the
second the median self time of each span name.
"""
import json
import statistics
import sys


def main(paths):
    runs = [json.load(open(p)) for p in paths]
    names = list(runs[0]["metrics"])
    head = "| metric | " + " | ".join(f"{r['workload']} (seed {r['seed']})" for r in runs) + " |"
    rule = "|---|" + "---:|" * len(runs)
    print(head)
    print(rule)
    for n in names:
        print(f"| `{n}` | " + " | ".join(f"{r['metrics'][n]:.4g}" for r in runs) + " |")
    print()
    print("Median self time per span name, in seconds (count in parentheses):")
    print()
    span_names = []
    for r in runs:
        for s in r["spans"]:
            if s["name"] not in span_names:
                span_names.append(s["name"])
    print("| span | " + " | ".join(r["workload"] for r in runs) + " |")
    print(rule)
    for n in span_names:
        cells = []
        for r in runs:
            xs = [s["self_s"] for s in r["spans"] if s["name"] == n]
            cells.append(f"{statistics.median(xs):.4f} ({len(xs)})" if xs else "")
        print(f"| `{n}` | " + " | ".join(cells) + " |")
    print()
    for r in runs:
        print(f"- {r['workload']}: " + "; ".join(f"{k}: {v}" for k, v in r["notes"].items()))


if __name__ == "__main__":
    main(sys.argv[1:])
