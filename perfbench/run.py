#!/usr/bin/env python3
"""Benchmark of the graft engine's flagship streaming path and heavy battery.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload drain_backlog --seed 1 --seconds 8 --trace 0

Builds the program from `src/main/scala` with the Scala compiler that ships
with Spark and writes the fixed parquet tables (first run only; both land in
`.bench_build/`), runs one JVM at `local[nproc]` (`perfbench/src`, see
README.md), checks the battery results against the DuckDB oracle, and prints
the metrics. The last line of
stdout is one JSON object: `correct`, `attempted`, `failed`, `metrics`
(end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
TABLES = os.path.join(BUILD, "tables")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
WORKLOADS = ("drain_backlog", "live_tail")
JVM_LIMIT_S = 150  # leaves time for the oracle check inside the 180 s run limit
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


T0 = time.time()


def note(msg):
    print(f"[perfbench {time.time() - T0:7.2f}s] {msg}", file=sys.stderr)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def scalac(sources, classpath, dest):
    os.makedirs(dest, exist_ok=True)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", dest, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + (r.stdout + r.stderr)[-4000:])


def java(main, args, **kw):
    """Runs a main of the benchmark with the program and Spark on the classpath."""
    cp = os.pathsep.join([os.path.join(BUILD, "bench"), os.path.join(BUILD, "program"),
                          os.path.join(SPARK_JARS, "*")])
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xms4g", "-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + kw.pop("jvm", []) + [
        "-cp", cp, main] + args
    return subprocess.Popen(cmd, **kw)


def build():
    """Compiles the program and the benchmark and writes the tables, once per source state."""
    program = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = scala_sources(os.path.join(HERE, "src"))
    if not program:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    h = hashlib.sha256()
    for p in program + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return
    shutil.rmtree(BUILD, ignore_errors=True)
    jars = os.path.join(SPARK_JARS, "*")
    scalac(program, jars, os.path.join(BUILD, "program"))
    scalac(bench, os.path.join(BUILD, "program") + os.pathsep + jars, os.path.join(BUILD, "bench"))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp)
    p = java("perfbench.Fixtures", [TABLES], jvm=[f"-Djava.io.tmpdir={tmp}"],
             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, cwd=tmp,
             env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    try:
        out = p.communicate()[0].decode(errors="replace")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0:
        fail("writing the tables failed:\n" + out[-4000:])
    shutil.rmtree(tmp)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def run_jvm(args, work, result, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(OUT, f"jvm_{args.workload}_s{args.seed}_t{args.trace}.log")
    with open(log, "w") as lf:
        p = java("perfbench.Main", [args.workload, str(args.seed), str(args.seconds), str(args.trace),
                                    os.path.join(work, "data"), TABLES, result],
                 jvm=[f"-Djava.io.tmpdir={tmp}",
                      f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"],
                 stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                 env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit; log: {log}")
        finally:
            # also when this process is stopped: the JVM never outlives it
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {p.returncode}; log: {log}")


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return str(a) == str(b)


def oracle_check(tables, out_dir):
    """tools/check.py's compare rule: columns sorted by name, rows sorted
    by all columns, exact except floats (relative tolerance 1e-9)."""
    if not os.path.exists(os.path.join(out_dir, "oracle_sql.json")):
        return ["battery did not run"]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            exp = con.sql(sql).df()
        except Exception as e:  # a broken query or oracle is a failed query
            bad.append(f"{name}: {e}")
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            bad.append(f"{name}: shape {list(got.columns)}x{len(got)} != {list(exp.columns)}x{len(exp)}")
            continue
        got = got.sort_values(by=list(got.columns), ignore_index=True)
        exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
        for c in got.columns:
            diff = next((i for i, (a, b) in enumerate(zip(got[c], exp[c])) if not same(a, b)), None)
            if diff is not None:
                bad.append(f"{name}: col {c} row {diff}: spark={got[c][diff]!r} oracle={exp[c][diff]!r}")
                break
    return bad


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}_s{args.seed}_t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(OUT, f"result_{args.workload}_s{args.seed}_t{args.trace}.json")
    if os.path.exists(result):
        os.remove(result)
    try:
        note("jvm")
        run_jvm(args, work, result, time.time() + JVM_LIMIT_S)
        note("oracle")
        with open(result) as f:
            res = json.load(f)
        failures = list(res["failures"])
        battery = os.path.join(work, "data", "battery")
        bad = oracle_check(TABLES, battery)
        failures += [f"oracle: {b}" for b in bad]
        if args.trace:
            spans = result + ".spans.jsonl"
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(OUT, f"trace_{args.workload}_s{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    note("done")
    attempted = max(1, res["attempted"])
    failed = res["failed"] + len(bad)
    key = "per_layer" if args.trace else "end_to_end"
    source = res["layers"] if args.trace else res["metrics"]
    metrics = {}
    for m in spec[key]:
        v = source.get(m["name"], {}).get("value")
        if v is None:
            # every workload runs every phase: a metric left unmeasured is a failed run
            failures.append(f"metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"input: {json.dumps(res['input'])}")
    for name, m in metrics.items():
        print(f"{name:36s} {m['value']!s:>24} {m['unit']}")
    print(f"{'failed_frac':36s} {failed / max(1, attempted)!s:>24} ratio")
    for f in failures:
        print(f"FAILED CHECK: {f}")
    correct = not failures and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
