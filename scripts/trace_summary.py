#!/usr/bin/env python3
"""Summarise perfbench trace files per span name.

    python3 scripts/trace_summary.py perfbench/traces/olap-seed9.jsonl
    python3 scripts/trace_summary.py parent.jsonl change.jsonl

A trace is the spans file a `perfbench/run.py --trace 1` run leaves in
perfbench/traces/: one JSON object per span, with its name, wall time and
counters. With one file this prints, per span name, the number of spans,
the median wall time and the median of each counter below. With two files
it prints the same medians as `parent -> change` for every span name in
either file, and the change's wall time as a ratio of the parent's. It only
reads the files.
"""
import argparse
import json
import statistics

# (column heading, counter name, scale); "wall_ms" is the span's own wall
# time, and kb_w the bytes written in KiB
COLUMNS = [
    ("wall_ms", "wall_ms", 1),
    ("jobs", "exec.jobs", 1),
    ("stages", "exec.stages", 1),
    ("tasks", "exec.tasks", 1),
    ("job_ms", "exec.job_ms", 1),
    ("gap_ms", "exec.driver_gap_ms", 1),
    ("fs_r", "fs.read_ops", 1),
    ("fs_w", "fs.write_ops", 1),
    ("kb_w", "fs.bytes_written", 1 / 1024),
    ("fs_l", "fs.list_ops", 1),
    ("fs_s", "fs.stat_ops", 1),
]


def load(path):
    """span name -> (span count, {column heading: median})."""
    by_name = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                span = json.loads(line)
                values = dict(span["counters"], wall_ms=span["wall_ms"])
                by_name.setdefault(span["name"], []).append(values)
    return {name: (len(spans), {col: statistics.median(s.get(key, 0.0) * scale
                                                       for s in spans)
                                for col, key, scale in COLUMNS})
            for name, spans in by_name.items()}


def fmt(x):
    return f"{x:.0f}" if abs(x) >= 10 or x == int(x) else f"{x:.1f}"


def table(rows, head):
    widths = [max(len(r[i]) for r in [head] + rows) for i in range(len(head))]
    for r in [head] + rows:
        print("  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traces", nargs="+", metavar="trace.jsonl",
                    help="one trace to summarise, or a parent and a change trace")
    a = ap.parse_args()
    if len(a.traces) > 2:
        ap.error("give one trace, or two (parent, change)")
    cols = [c for c, _, _ in COLUMNS]
    if len(a.traces) == 1:
        spans = load(a.traces[0])
        table([[name, str(n)] + [fmt(med[c]) for c in cols]
               for name, (n, med) in sorted(spans.items())], ["span", "n"] + cols)
        return
    parent, change = (load(p) for p in a.traces)
    empty = (0, {c: 0.0 for c in cols})
    rows = []
    for name in sorted(set(parent) | set(change)):
        (n0, m0), (n1, m1) = parent.get(name, empty), change.get(name, empty)
        ratio = f"{m1['wall_ms'] / m0['wall_ms']:.2f}x" if m0["wall_ms"] else "-"
        rows.append([name, f"{n0}->{n1}", ratio] +
                    [f"{fmt(m0[c])}->{fmt(m1[c])}" for c in cols])
    table(rows, ["span", "n", "wall"] + cols)


if __name__ == "__main__":
    main()
