#!/usr/bin/env python3
"""Benchmark of the graft link-graph engine: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the driver in
`perfbench/` (sbt, offline) together with the engine sources of the
checkout; later calls reuse the build while no source has changed. The
driver (perfbench.Main) starts Spark at local[4], makes its inputs from the
seed, warms up, runs the workload for the given seconds and checks every
run. The graph-queries workload is further checked by this script against DuckDB
running each query's oracle SQL, with the canonical compare of
tools/check_oracles.py.

The last line of standard output is the result:
{"correct": …, "attempted": …, "failed": …, "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Exits non-zero, printing no result, when the engine
sources or the toolchain are missing.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench-build.json")
DEADLINE_S = 175.0

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the driver is built from."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME, else the
    one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def build():
    """Compile with sbt unless the last build is of the same sources;
    returns the driver's runtime classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            st = json.load(f)
        if st.get("sources") == digest:
            return st["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "-batch", "--no-server", "-Dsbt.log.noformat=true",
         f"-Dperfbench.sparkJars={spark_jars()}", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in out.stdout:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-2000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"sources": digest, "classpath": classpath}, f)
    return classpath


def oracle_check(work):
    """Compare the exported engine results of graph-queries with DuckDB
    running each query's oracle SQL over the same documents table, in the
    canonical form of tools/check_oracles.py."""
    import duckdb
    import pandas as pd
    sys.dont_write_bytecode = True  # no __pycache__ in the checkout's tools/
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracles import canon
    odir = os.path.join(work, "oracle")
    with open(os.path.join(odir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    docs = os.path.join(work, "docs", "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
    errors = []
    for name, sql in sorted(sqls.items()):
        with open(os.path.join(odir, name + ".json")) as f:
            got = json.load(f)
        g = canon(pd.DataFrame(got["rows"], columns=got["columns"]))
        w = canon(con.execute(sql).fetchdf())
        if list(g.columns) != list(w.columns):
            errors.append(f"{name}: columns {list(g.columns)} vs oracle {list(w.columns)}")
        elif len(g) != len(w):
            errors.append(f"{name}: {len(g)} rows vs oracle {len(w)}")
        elif not g.equals(w):
            errors.append(f"{name}: rows differ from the oracle")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    classpath = build()

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("java not found")
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # the throughput collector runs no concurrent GC threads next to the
        # 4 task threads on a 4-core box
        cmd = [java, "-Xmx3g", "-XX:+UseParallelGC",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
        with open(os.path.join(work, "driver.log"), "w") as err:
            try:
                out = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                     stderr=err, text=True,
                                     timeout=max(10.0, DEADLINE_S - (time.monotonic() - start)))
            except subprocess.TimeoutExpired:
                fail("driver did not finish in time")
        with open(os.path.join(work, "driver.log")) as f:
            log = f.read()
        lines = [l for l in out.stdout.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l)
        if out.returncode != 0 or not lines:
            sys.stderr.write(log[-6000:])
            fail(f"driver exited with code {out.returncode}")
        res = json.loads(lines[-1])
        attempted, failed, errors = res["attempted"], res["failed"], res["errors"]
        if a.workload == "graph-queries" and failed < attempted:
            t0 = time.monotonic()
            oracle_errors = oracle_check(work)
            print(f"perfbench-oracle {json.dumps({'seconds': time.monotonic() - t0, 'errors': oracle_errors})}")
            if oracle_errors:
                # every run that passed reproduced the exported results exactly
                errors += oracle_errors
                failed = attempted
                if "ok_frac" in res["metrics"]:
                    res["metrics"]["ok_frac"] = 0.0
        for e in errors:
            print(f"perfbench-error {e}")

        kind = "per_layer" if a.trace else "end_to_end"
        metrics = {}
        for m in spec[kind]:
            v = res["metrics"].get(m["name"], None if kind == "end_to_end" else 0.0)
            if v is None:
                fail(f"driver did not report {m['name']}")
            v = float(v)
            metrics[m["name"]] = {"value": v if math.isfinite(v) else 0.0, "unit": m["unit"]}
        extra = set(res["metrics"]) - set(metrics)
        if extra:
            fail(f"driver reported metrics missing from BENCHMARK.json: {sorted(extra)}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
