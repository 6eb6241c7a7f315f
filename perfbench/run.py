#!/usr/bin/env python3
"""Benchmark of the reference pipeline on the graft engine.

    python3 perfbench/run.py --workload ingest|dashboard|corpus \
        --seed N --seconds S --trace 0|1

Run from the root of the repository. Builds the engine and the
benchmark from source on first use (sbt, offline), generates the
workload's inputs from the seed, runs the workload closed-loop from one
client for S seconds in one JVM on local[nproc], checks the outputs, and
prints one JSON object as the last line of standard output: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See README.md beside this file.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

END_TO_END = ["setup_s", "p50_s", "p90_s", "ops_per_s", "rows_per_s",
              "stored_bytes_per_row", "peak_heap_mb"]
UNITS = {"setup_s": "s", "p50_s": "s", "p90_s": "s", "ops_per_s": "1/s",
         "rows_per_s": "rows/s", "stored_bytes_per_row": "B/row",
         "peak_heap_mb": "MiB"}

# span -> counters reported for it with --trace 1 (metric "<span>.<counter>")
PER_LAYER = {
    "session.start": ["wall_s"],
    "bench.op": ["wall_s", "self_s"],
    "sources.parseLive": ["wall_s", "driver_s", "self_s"],
    "etl.transform": ["wall_s", "driver_s", "self_s"],
    "streaming.appendHistoricalBatch": [
        "wall_s", "self_s", "jobs", "task_cpu_s", "output_bytes", "output_files"],
    "streaming.upsertParquet": [
        "wall_s", "driver_s", "self_s", "jobs", "task_cpu_s", "input_bytes",
        "shuffle_write_bytes", "output_bytes", "rewrite_ratio"],
    "queries.summary": [
        "wall_s", "self_s", "jobs", "input_bytes", "rows_examined_per_result"],
    "queries.build": ["wall_s", "driver_s", "self_s", "jobs"],
    "queries.exec": [
        "wall_s", "self_s", "jobs", "stages", "tasks", "task_cpu_s", "slot_util",
        "input_bytes", "shuffle_write_bytes", "rows_examined_per_result"],
    "ext.Dedup.sharedGramPairs": [
        "wall_s", "self_s", "jobs", "task_cpu_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes"],
    "ext.Graph.connectedComponents": [
        "wall_s", "self_s", "jobs", "task_cpu_s", "shuffle_write_bytes", "slot_util"],
}
COUNTER_UNITS = {"wall_s": "s", "driver_s": "s", "self_s": "s", "task_cpu_s": "s",
                 "jobs": "count", "stages": "count", "tasks": "count",
                 "output_files": "count", "slot_util": "ratio",
                 "rewrite_ratio": "ratio", "rows_examined_per_result": "ratio"}

# what Spark 4 needs opened on JDK 17 outside spark-submit (as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


BUILD = os.path.join(HERE, ".build")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")


def jar_classpath(cp):
    """The classpath with each class directory packed into a jar: the
    JVM's class-data sharing archive takes jars only."""
    out = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(BUILD, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in sorted(os.walk(p)):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), p))
            p = jar
        out.append(p)
    return os.pathsep.join(out)


def build():
    """Compile the engine and the benchmark; return the runtime classpath.
    Reused while the sources are unchanged."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if "scala-2.13/classes" in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    cp = jar_classpath(lines[-1])
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def heap_mb():
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return max(1024, min(4096, kb // 4096))


def same(a, b):
    if isinstance(a, bool) or isinstance(b, bool) or a is None or b is None:
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def oracle_failures(data):
    """Names of the catalog queries whose first result differs from the
    catalog's own DuckDB oracle over the same parquet files."""
    import decimal

    import duckdb
    res = os.path.join(data, "run", "results")
    with open(os.path.join(res, "oracle.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    tables = os.path.join(data, "tables")
    for t in os.listdir(tables):
        con.execute(f"CREATE VIEW {t.split('.')[0]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(tables, t)}')")
    bad = set()
    for name, sql in oracles.items():
        path = os.path.join(res, f"{name}.jsonl")
        if not os.path.isfile(path):
            continue
        with open(path) as f:  # one JSON array per line
            got = json.loads("[" + ",".join(ln for ln in f.read().split("\n") if ln) + "]")
        want = [[float(v) if isinstance(v, decimal.Decimal) else v for v in row]
                for row in con.execute(sql).fetchall()]
        if got != want and not same(got, want):
            print(f"perfbench: {name} differs from its DuckDB oracle "
                  f"({len(got)} rows, oracle {len(want)})", file=sys.stderr)
            bad.add(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "dashboard", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources (build.sbt, src/main/scala/graft) are not "
             "in the directory above the benchmark", 2)
    clock = [time.monotonic()]
    cp = build()
    clock.append(time.monotonic())

    data = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}")
    shutil.rmtree(data, ignore_errors=True)
    shape = gen.make(a.workload, a.seed, data)
    clock.append(time.monotonic())
    os.makedirs(os.path.join(data, "tmp"))
    out = os.path.join(data, "measurements.json")
    log = os.path.join(data, "jvm.log")
    heap = heap_mb()
    cores = len(os.sched_getaffinity(0))
    # The first run after a build records the classes it loads in a
    # class-data sharing archive; later runs map it and start faster.
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.isfile(CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", cds, "-Xlog:cds=off"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={data}/tmp", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--data", data, "--out", out,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores)])
    try:
        with open(log, "w") as lf:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=150)
        if r.returncode != 0 or not os.path.isfile(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            fail(f"the benchmark JVM exited with {r.returncode}")
        with open(out) as f:
            m = json.load(f)
        with open(log) as lf:
            sys.stderr.write("".join(ln for ln in lf if ln.startswith(("op ", "ingest "))))

        clock.append(time.monotonic())
        attempted = m["attempted"]
        failed = set(m["failed_ops"])
        if a.workload != "ingest":
            bad = oracle_failures(data)
            if a.workload == "corpus" and bad:
                failed |= set(range(1, attempted + 1))
            elif bad:
                with open(os.path.join(data, "order.json")) as f:
                    order = json.load(f)
                failed |= {i for i in range(1, attempted + 1)
                           if order[(i - 1) % len(order)] in bad}
        clock.append(time.monotonic())
    finally:
        shutil.rmtree(data, ignore_errors=True)

    lat = m["latencies_s"]
    total = sum(lat)
    if a.trace:
        spans = m["spans"]
        spans["session.start"] = {"wall_s": statistics.median(m["session_start_s"])}
        metrics = {f"{s}.{c}": {"value": spans.get(s, {}).get(c, 0.0),
                                "unit": COUNTER_UNITS.get(c, "B")}
                   for s, cs in PER_LAYER.items() for c in cs}
    else:
        values = {
            "setup_s": statistics.median(m["setup_s"]),
            "p50_s": statistics.median(lat),
            # a corpus run holds a handful of passes: it reports the median only
            "p90_s": (statistics.median(lat) if a.workload == "corpus"
                      else statistics.quantiles(lat, n=10, method="inclusive")[8]),
            "ops_per_s": len(lat) / total,
            "rows_per_s": m["rows"] / total,
            "stored_bytes_per_row": m["figures"]["stored_bytes_per_row"],
            "peak_heap_mb": m["peak_heap_mb"],
        }
        metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "inputs": shape,
                      "figures": m["figures"], "ops": len(lat),
                      "setups_s": m["setup_s"],
                      "phases_s": dict(zip(["build", "generate", "jvm", "check"],
                                           (round(t1 - t0, 2) for t0, t1 in zip(clock, clock[1:]))))}),
          file=sys.stderr)
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
