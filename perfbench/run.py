#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its metrics.

    python3 perfbench/run.py --workload sybil_query --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark's JVM program when their sources changed
(see build.py), runs the workload in one JVM (Spark local[nproc], one
client, closed loop), checks the results (the catalog's against DuckDB),
and prints every metric with its unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}, where metrics are the
end-to-end metrics of BENCHMARK.json with --trace 0 and its per-layer
metrics with --trace 1. The full record of the run, and with --trace 1 its
spans, are written to perfbench/out/. Exits non-zero when any operation
failed or returned a wrong result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sybil_query", "catalog_light", "catalog_heavy")
DATA = os.path.join(HERE, "data", "sf0.1")
CATALOG = os.path.join(HERE, "catalog.json")
# a run must end within 180 s of its build
DEADLINE_S = 175

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def oracle_check(result_dir, names, budget_s):
    """Compare each catalog result with its oracle SQL run by DuckDB over
    the same inputs, normalised like scripts/oracle_check.py. Returns the
    names that differ; an oracle still running after `budget_s` is
    interrupted and counts as a difference.

    The inputs are fixed, so each normalised oracle answer is kept in the
    build directory under a hash of the DuckDB version, the SQL text and
    the input files, and DuckDB runs each oracle once per checkout."""
    import hashlib
    import threading

    import duckdb
    import pyarrow.dataset as pads
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from oracle_check import norm_rows

    with open(os.path.join(result_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    inputs = json.load(open(CATALOG))["inputs"]
    key = hashlib.sha256(duckdb.__version__.encode())
    for t in inputs:
        with open(os.path.join(DATA, f"{t}.parquet"), "rb") as f:
            key.update(hashlib.sha256(f.read()).digest())
    cache = os.path.join(build.target_dir(), "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in inputs:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")

    def answer(sql):
        h = key.copy()
        h.update(sql.encode())
        path = os.path.join(cache, h.hexdigest() + ".json")
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, [tuple(r) for r in rows]
        cur = con.execute(sql)
        want = norm_rows([c[0] for c in cur.description], cur.fetchall())
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(want, f)
        os.replace(tmp, path)
        return want

    timer = threading.Timer(max(1.0, budget_s), con.interrupt)
    timer.start()
    bad = []
    for name in names:
        try:
            tbl = pads.dataset(os.path.join(result_dir, name), format="parquet").to_table()
            cols = list(tbl.column_names)
            got = norm_rows(cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()])
            want = answer(oracle[name])
            if got != want:
                bad.append(name)
        except Exception as e:  # a missing result or a failing oracle is a failure
            bad.append(f"{name} ({e.__class__.__name__})")
    timer.cancel()
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.ensure()
    t_start = time.monotonic()

    base = build.target_dir()
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_file = os.path.join(out_dir, tag + ".json")
    log_file = os.path.join(out_dir, tag + ".log")
    for stale in (result_file, result_file + ".spans.json"):
        if os.path.exists(stale):
            os.remove(stale)
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    # one temp dir shared by all runs: the engine's own stale-dir check
    # counts what earlier runs left there
    tmp = os.path.join(base, "tmp")
    os.makedirs(work)
    os.makedirs(tmp, exist_ok=True)
    tmp_before = set(os.listdir(tmp))

    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--out", result_file,
           "--data", DATA, "--catalog", CATALOG]
    try:
        with open(log_file, "w") as log:
            budget = DEADLINE_S - (time.monotonic() - t_start)
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                    timeout=max(1.0, budget)).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(result_file):
            with open(log_file) as f:
                sys.stderr.write(f.read()[-3000:])
            sys.exit(f"perfbench: {a.workload} run failed ({rc}); log: {log_file}")
        with open(result_file) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        if a.workload.startswith("catalog_"):
            stratum = a.workload[len("catalog_"):]
            names = [q["name"] for q in json.load(open(CATALOG))[stratum]]
            with open(os.path.join(work, "oracle", "oracle_sql.json"), "w") as f:
                json.dump(res["oracle_sql"], f)
            bad = oracle_check(os.path.join(work, "oracle"), names,
                               DEADLINE_S - (time.monotonic() - t_start))
            attempted += len(names)
            failed += len(bad)
            res["errors"] += [f"oracle mismatch: {b}" for b in bad]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for p in set(os.listdir(tmp)) - tmp_before:
            shutil.rmtree(os.path.join(tmp, p), ignore_errors=True)

    if a.trace:
        res["per_layer"]["error_rate"] = failed / max(1, attempted)
    section = "per_layer" if a.trace else "end_to_end"
    values = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[section]}
    res["errors"] = res["errors"][:20]
    with open(result_file, "w") as f:
        json.dump(res, f, indent=1)

    env = res["env"]
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"nproc={env['nproc']} heap={env['driver_heap_mb']}MiB "
          f"stale_tmp_dirs={env['stale_tmp_dirs']} spark={env['spark']}")
    for name, m in metrics.items():
        print(f"{name:28s} {m['value']:>16.6g} {m['unit']}")
    if not a.trace:
        # measured on every run, gated by no bound (see README)
        for name in ("query_p50_s", "query_tail_s"):
            print(f"{'(' + name + ')':28s} {res['end_to_end'][name]:>16.6g} s")
        print(f"{'(query_tail_s percentile)':28s} {res['tail']['percentile']:>16.4g} "
              f"% of n={res['tail']['n']}")
        print(f"{'(error_rate)':28s} {failed / max(1, attempted):>16.6g} ratio")
    print(f"# {failed} failed of {attempted} operations")
    for e in res["errors"]:
        print(f"# error: {e}")
    print(f"# detail: {os.path.relpath(result_file, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
