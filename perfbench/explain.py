#!/usr/bin/env python3
"""Where did one query's (or micro-batch's) time go? Reads a traced run's
`trace.json` only.

    python3 perfbench/explain.py <trace.json> <trace-id prefix, e.g. q89_index_maintenance>

For each matching trace it prints its wall time split by the kind of the
deepest span open at each instant (driver-side build vs. SQL action vs.
job vs. stage vs. catalog operation), the layer metrics of that trace,
and its slowest jobs with their call sites.
"""
import json
import sys
from collections import defaultdict


def kind(span):
    return "catalog" if span["name"].startswith("catalog.") else span["name"]


def timeline(spans):
    """Partition the trace's wall time: each instant goes to the kind of
    the deepest span open then. Unlike summed self times, concurrent
    sibling spans (parallel stages) are not counted twice."""
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s.get("parent") in by_id:
            s, d = by_id[s["parent"]], d + 1
        return d
    edges = sorted({t for s in spans for t in (s["start"], s["end"])})
    out = defaultdict(float)
    for a, b in zip(edges, edges[1:]):
        open_ = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if open_:
            out[kind(max(open_, key=depth))] += b - a
    return out


def explain(trace, prefix, out=sys.stdout):
    spans = [s for s in trace["spans"] if (s.get("trace") or "").startswith(prefix)]
    for tid in sorted({s["trace"] for s in spans}):
        ss = [s for s in spans if s["trace"] == tid]
        roots = [s for s in ss if s["name"] in ("query", "micro-batch")] or ss
        wall = max(s["end"] for s in roots) - min(s["start"] for s in roots)
        print(f"== {tid}: {wall:.0f} ms", file=out)
        print("  wall time by the deepest span kind open (ms):", file=out)
        for k, v in sorted(timeline(ss).items(), key=lambda kv: -kv[1]):
            print(f"    {k:20s} {v:9.1f}", file=out)
        print("  layer metrics:", file=out)
        for k, v in sorted(trace["per_trace"].get(tid, {}).items()):
            print(f"    {k:34s} {v:14.6g}", file=out)
        jobs = sorted((s for s in ss if s["name"] == "job"), key=lambda s: s["start"] - s["end"])[:5]
        print("  slowest jobs:", file=out)
        for j in jobs:
            print(f"    {j['end'] - j['start']:7.0f} ms  {j['attrs']['callsite']}", file=out)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        explain(json.load(f), sys.argv[2])
