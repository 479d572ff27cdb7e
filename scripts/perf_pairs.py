#!/usr/bin/env python3
"""Compare two checkouts on the benchmark in alternating pairs.

    python3 scripts/perf_pairs.py --parent ../parent --change . \\
        --workload kv-mixed --seeds 11-20 [--seconds 15] [--out runs.jsonl]
    python3 scripts/perf_pairs.py --report runs.jsonl

A pair is one seed: `perfbench/run.py --seed <seed> --trace 0` runs once
in each checkout; even pairs run the parent first, odd pairs the change
first.
Every run's result line is appended to --out as it finishes, so an
interrupted comparison keeps the runs made so far. The report gives, per workload and end-to-end
metric of BENCHMARK.json: each side's median and quartiles, the change's
median as a ratio of the parent's, and the pairs the change won (ties
count for neither). "gain" marks a metric whose change won at least 9/10
of the pairs and whose medians differ by more than the parent's
interquartile range; "worse" marks one whose change median is worse than
the parent's by more than the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    """'11-20' or '11,13,17' -> list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        tail = r.stderr.strip().splitlines()[-3:]
        return {"error": f"exit {r.returncode}: {' | '.join(tail)}"}
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    return {"metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "correct": result["correct"], "fail_share": record["fail_share"],
            "steal_share": record["steal_share"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(runs, spec):
    """Print one table per workload from the recorded runs."""
    metrics = spec["end_to_end"]
    for workload in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == workload and "metrics" in r:
                pairs.setdefault(r["seed"], {})[r["side"]] = r
        pairs = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        failed = sum(1 for r in runs if r["workload"] == workload and "error" in r)
        print(f"\n{workload}: {len(pairs)} complete pairs, {failed} runs errored")
        if not pairs:
            continue
        for side in ("parent", "change"):
            shares = [p[side]["fail_share"] for p in pairs]
            wrong = sum(1 for p in pairs if not p[side]["correct"])
            print(f"  {side}: fail_share max {max(shares):.4f}, "
                  f"{wrong} runs with a failed check")
        print(f"  {'metric':<16}{'parent median [q1, q3]':>30}"
              f"{'change median [q1, q3]':>30}{'ratio':>8}{'wins':>7}  verdict")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            par = [p["parent"]["metrics"][name] for p in pairs]
            chg = [p["change"]["metrics"][name] for p in pairs]
            wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
            pm, cm = statistics.median(par), statistics.median(chg)
            (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
            ratio = cm / pm if pm else float("nan")
            better = cm < pm if lower else cm > pm
            verdict = ""
            if better and wins * 10 >= 9 * len(pairs) and abs(cm - pm) > p3 - p1:
                verdict = "gain"
            elif (ratio - 1 if lower else 1 - ratio) > m["bound"]:
                verdict = "worse"
            print(f"  {name:<16}{pm:>12.1f} [{p1:>7.1f}, {p3:>7.1f}]"
                  f"{cm:>12.1f} [{c1:>7.1f}, {c3:>7.1f}]{ratio:>8.3f}"
                  f"{wins:>4}/{len(pairs):<2}  {verdict}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", action="append", help="repeatable")
    ap.add_argument("--seeds", help="e.g. 11-20 or 11,13,17: one pair per seed")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--out", help="append each run as one JSON line")
    ap.add_argument("--report", help="only print the report of a --out file")
    a = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(a.change or here, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.report:
        with open(a.report) as f:
            report([json.loads(line) for line in f if line.strip()], spec)
        return
    if not (a.parent and a.change and a.workload and a.seeds):
        ap.error("--parent, --change, --workload and --seeds are required")
    seconds = a.seconds or spec["run_seconds"]
    runs = []
    for workload in a.workload:
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                checkout = a.parent if side == "parent" else a.change
                r = dict(run_once(checkout, workload, seed, seconds),
                         workload=workload, seed=seed, side=side)
                runs.append(r)
                print(json.dumps(r), file=sys.stderr)
                if a.out:
                    with open(a.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
    report(runs, spec)


if __name__ == "__main__":
    main()
