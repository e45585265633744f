#!/usr/bin/env python3
"""Per-op phase breakdown of a perfbench span file.

usage: tools/span_phases.py <spans.jsonl> [--pass N] [--op SUBSTRING]

A traced perfbench run (`--trace 1`) writes one JSON line per span to
perfbench/work/spans/<workload>-seed<seed>.jsonl: passes, ops, op
phases (`construct`, `materialize`, `release`), Spark jobs (each under
the innermost op or phase covering its start) and streaming
micro-batches. For every op of the chosen passes (all by default) this
prints the op's duration and self time, then each phase's duration,
self time and job count, and under each phase its jobs as
`+start_offset_ms dur_ms`, the offset measured from the phase's start.
A last table sums jobs and milliseconds per phase name over the printed
ops.
"""
import argparse
import json
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans")
    ap.add_argument("--pass", dest="trace", type=int,
                    help="only the pass with this trace id (1 = first traced pass)")
    ap.add_argument("--op", help="only ops whose name contains this text")
    args = ap.parse_args()

    spans = load(args.spans)
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    for kids in children.values():
        kids.sort(key=lambda s: s["start_ms"])

    def jobs_under(s):
        return [c for c in children[s["id"]] if c["kind"] == "job"]

    ops = [s for s in spans if s["kind"] == "op"
           and (args.trace is None or s["trace"] == args.trace)
           and (args.op is None or args.op in s["name"])]
    if not ops:
        sys.exit("no op spans match")
    totals = defaultdict(lambda: [0, 0.0, 0.0])  # phase -> jobs, dur, self
    for op in ops:
        own = jobs_under(op)
        print(f"pass {op['trace']}  {op['name']}  dur {op['dur_ms']:.1f} ms  "
              f"self {op['self_ms']:.1f} ms" + (f"  {len(own)} job(s) outside phases" if own else ""))
        for ph in children[op["id"]]:
            if ph["kind"] != "phase":
                continue
            js = jobs_under(ph)
            t = totals[ph["name"]]
            t[0] += len(js)
            t[1] += ph["dur_ms"]
            t[2] += ph["self_ms"]
            print(f"  {ph['name']:<12} dur {ph['dur_ms']:9.1f}  self {ph['self_ms']:9.1f}  jobs {len(js)}")
            if js:
                print("    " + "  ".join(f"+{j['start_ms'] - ph['start_ms']:.0f} {j['dur_ms']:.0f}"
                                         for j in js))
    print(f"\n{'phase':<12}{'jobs':>8}{'dur_ms':>12}{'self_ms':>12}   over {len(ops)} op(s)")
    for name, (n, dur, self_ms) in totals.items():
        print(f"{name:<12}{n:>8}{dur:>12.1f}{self_ms:>12.1f}")


if __name__ == "__main__":
    main()
