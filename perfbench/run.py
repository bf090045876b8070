#!/usr/bin/env python3
"""Benchmark of the text pipeline and the curation chain.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest|rescan|curate|all \
        --seed N --seconds S --trace 0|1 [--smoke]

Builds the program and the harness from source with sbt (once per
source state; the classpath is cached under .bench_build/), runs the
harness JVM for one workload, compares the query-chain results with
their DuckDB oracles, and prints one JSON line as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics named in
BENCHMARK.json, with --trace 1 the per-layer ones; the spans of a traced
run are written to .bench_build/spans/. --workload all runs every
workload in turn and prints one line per workload, then a combined
line. --smoke runs tiny inputs and fails unless every named metric is
present with its unit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "rescan", "curate")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the same list the
# program's own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles with sbt unless the cached classpath matches the sources."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and "scala-2.13" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def run_jvm(cp, workload, seed, seconds, trace, smoke, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work,
            "--smoke", "1" if smoke else "0"]
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{workload}-seed{seed}.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload}: harness timed out after {JVM_TIMEOUT_S} s; see {log}")
    res_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        fail(f"{workload}: harness exited {rc}; see {log}")
    with open(res_file) as fh:
        return json.load(fh)


def oracle_check(res):
    """Compares each written chain result with its DuckDB oracle under
    tools/check_oracle.py's rules; returns (checked, failure messages).
    """
    out_dir = res["extra"].get("oracle_results")
    if not out_dir:
        return 0, []
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pyarrow.dataset as ds
    from check_oracle import canon, type_parity

    corpus = res["extra"]["oracle_corpus"]
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{os.path.join(out_dir, 'duckdb_tmp')}'")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus, t + '.parquet')}/*.parquet')")
    errs, n = [], 0
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path) or name == "duckdb_tmp":
            continue
        n += 1
        sql_file = path + ".sql"
        if not os.path.exists(sql_file):
            errs.append(f"{name}: no oracle SQL")
            continue
        tbl = ds.dataset(path, format="parquet").to_table()
        s_rows = [tuple(d[c] for c in tbl.column_names) for d in tbl.to_pylist()]
        try:
            with open(sql_file) as fh:
                d_tbl = con.execute(fh.read()).fetch_arrow_table()
        except Exception as e:
            errs.append(f"{name}: duckdb error {e}")
            continue
        d_rows = [tuple(r[c] for c in d_tbl.column_names) for r in d_tbl.to_pylist()]
        sc, sr = canon(s_rows, tbl.column_names)
        dc, dr = canon(d_rows, d_tbl.column_names)
        if sc != dc:
            errs.append(f"{name}: columns {sc} != {dc}")
        elif type_parity(tbl, d_tbl):
            errs.append(f"{name}: types {type_parity(tbl, d_tbl)}")
        elif sr != dr:
            errs.append(f"{name}: {len(sr)} rows differ from the oracle's {len(dr)}")
    return n, errs


def one(cp, spec, workload, seed, seconds, trace, smoke):
    work = os.path.join(BUILD, "work", f"{workload}-seed{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, workload, seed, seconds, trace, smoke, work)
        t0 = time.time()
        n, errs = oracle_check(res)
        if n:
            print(f"perfbench: {workload}: {n} results compared with their oracles "
                  f"in {time.time() - t0:.1f} s", file=sys.stderr)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
            shutil.copy(spans, os.path.join(BUILD, "spans", f"{workload}-seed{seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = res["failed"] + len(errs)
    for m in (res["failures"] + errs)[:20]:
        print(f"perfbench: {workload}: FAILED {m}", file=sys.stderr)
    wanted = (spec["end_to_end"] + spec["per_layer"] if smoke
              else spec["per_layer" if trace else "end_to_end"])
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v.get("value") is None:
            fail(f"{workload}: metric {m['name']} missing")
        if v.get("unit") != m["unit"]:
            fail(f"{workload}: metric {m['name']} has unit {v.get('unit')!r}, "
                 f"not {m['unit']!r}")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    rest = {k: v["value"] for k, v in got.items() if k not in metrics}
    print(f"perfbench: {workload}: other measurements {json.dumps(rest)}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": res["attempted"],
            "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program source here ({need} is missing)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in workloads:
        results[w] = one(cp, spec, w, a.seed, a.seconds, bool(a.trace or a.smoke),
                         a.smoke)
        if len(workloads) > 1:
            print(json.dumps({"workload": w, **results[w]}))
    if len(workloads) == 1:
        print(json.dumps(results[workloads[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
