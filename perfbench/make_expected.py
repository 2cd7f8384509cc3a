#!/usr/bin/env python3
"""Regenerates expected.json: the fingerprint of every benchmark query's
result on the benchmark's data, validated against the DuckDB oracle.

Runs `graft.Verify` for the benchmark's queries, compares each result with
its oracle SQL through tools/check.py's comparator, and stores the oracle's
fingerprint (the engine's, for a query without oracle SQL). A query whose
result disagrees with its oracle keeps the oracle's fingerprint, so the
benchmark reports it as failed. Needs the whole repository checkout.

Usage (from the repository root): python3 perfbench/make_expected.py
"""
import glob
import importlib.util
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

import build
import metrics
import run
import workloads


def main():
    cp = build.build()
    out = os.path.join(run.RUN, "expected")
    if os.path.isdir(run.RUN):
        shutil.rmtree(run.RUN)
    os.makedirs(os.path.join(run.RUN, "tmp"))
    names = workloads.RELATIONAL + workloads.CORPUS
    subprocess.run(
        ["java"] + run.JVM_OPTS +
        [f"-Djava.io.tmpdir={os.path.join(run.RUN, 'tmp')}", "-cp", cp,
         "graft.Verify", run.DATA, out, ",".join(names)],
        cwd=run.RUN, check=True, stdout=subprocess.DEVNULL,
        env=dict(os.environ, SPARK_GRAFT_CPUS=str(run.cores())))
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(run.ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run.DATA}/{t}.parquet')")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    expected = {}
    for name in sorted(names):
        path = os.path.join(out, name)
        engine_fp = metrics.fingerprint_parquet(path)
        if name not in oracles:
            expected[name] = dict(engine_fp, oracle=False, check="no oracle")
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in
                              glob.glob(os.path.join(path, "*.parquet"))],
                             ignore_index=True)
        err = check.cmp(name, spark_df, con.sql(oracles[name]).df(), con)
        oracle_fp = metrics.fingerprint_table(con.sql(oracles[name]).arrow())
        if err is None and oracle_fp != engine_fp:
            err = f"fingerprint {engine_fp} != oracle {oracle_fp}"
        expected[name] = dict(oracle_fp, oracle=True, check=err or "PASS")
        print(f"{name}: {expected[name]['check']}", file=sys.stderr)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
