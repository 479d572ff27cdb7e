#!/usr/bin/env python3
"""potspark benchmark: build, run one workload, check it, report.

    python3 perfbench/run.py --workload kv-mixed --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
from source (scalac from $SPARK_HOME/jars, into perfbench/target; skipped
while the sources are unchanged), generates the workload's inputs from the seed, runs one JVM
(perfbench.Main) against them, checks the outputs, and prints the run
record and then, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end ones; with
--trace 1 they are its per_layer ones, and the spans go to
perfbench/traces/. A per_layer metric that the workload does not exercise
reads 0 and is named in the record's "not_exercised" list. Every run gets
its own directory (JVM tmpdir, Spark local dir, kv root, inputs, outputs)
under perfbench/work/, deleted when the run ends.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "classes")
STAMP = os.path.join(HERE, "target", "sources.sha256")
# olap's tables are the same in every run; the seed orders the queries.
OLAP_SF, OLAP_DATA_SEED = 0.01, 42
# The JVM's share of a run's 180 s, counted from the end of the build: the
# first run in a checkout builds first, within BUILD_TIMEOUT_S.
DEADLINE_S = 160
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
WORKLOADS = ["kv-mixed", "olap"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def scala_sources():
    """The engine's sources and the benchmark's, in a stable order."""
    files = []
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    return files


def source_digest(sources):
    """sha256 over the sources and the build step."""
    h = hashlib.sha256(open(os.path.abspath(__file__), "rb").read())
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(sources, digest, spark_jars):
    """Compile with the Scala compiler that ships in $SPARK_HOME/jars.

    No build tool: nothing is resolved, and nothing is written outside
    perfbench/target."""
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    jars = sorted(glob.glob(os.path.join(spark_jars, "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        die(f"no Scala compiler in {spark_jars}", 3)
    out = CLASSES + ".new"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = (["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.dirname(out)}",
            "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
            "-d", out, "-classpath", ":".join(jars)] + sources)
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"build took more than {BUILD_TIMEOUT_S} s", 3)
    if r.returncode != 0:
        die("build failed", 3)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(out, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (total, steal)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(spark_jars):
        die("SPARK_HOME must point at a Spark distribution")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sources = scala_sources()
    digest = source_digest(sources)
    build(sources, digest, spark_jars)
    started = time.time()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "nproc": os.cpu_count(), "loadavg_start": loadavg(),
              "commit": git_commit(), "source_sha256": digest}
    cpu0 = cpu_times()
    try:
        data = os.path.join(work, "data")
        if a.workload == "olap":
            import tables
            tables.generate(data, OLAP_DATA_SEED, OLAP_SF)
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", f"{CLASSES}:{spark_jars}/*", "perfbench.Main",
                  a.workload, str(a.seed), str(a.seconds), str(a.trace), work, data])
        budget = DEADLINE_S - (time.time() - started)
        try:
            r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            die(f"benchmark JVM ran past the {DEADLINE_S} s deadline", 4)
        if r.returncode != 0:
            die(f"benchmark JVM exited with {r.returncode}", 4)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        notes = list(res["notes"])
        if a.workload == "olap":
            import oracle
            # A wrong answer also fails the timed runs of that query that had
            # not already failed by throwing.
            for name, (ok_runs, err) in oracle.check(data, os.path.join(work, "out")).items():
                if err:
                    failed += ok_runs + 1
                    notes.append(f"{name} output: {err}")
                attempted += 1
        if a.trace:
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                HERE, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass

    if a.trace:
        wanted, values = spec["per_layer"], res["per_layer"]
        record["not_exercised"] = [m["name"] for m in wanted if m["name"] not in values]
    else:
        wanted = spec["end_to_end"]
        values = dict(res["end_to_end"], peak_rss_mb=res["peak_rss_mb"])
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            die(f"workload did not report {missing}", 5)
    cpu1 = cpu_times()
    # share of CPU time the hypervisor gave to other guests during the run
    steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    record.update(loadavg_end=loadavg(), steal_share=round(steal, 4),
                  fail_share=failed / max(1, attempted),
                  median_ms={k: round(v, 1) for k, v in sorted(res["median_ms"].items())},
                  failures=notes, seconds_total=round(time.time() - started, 3))
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
