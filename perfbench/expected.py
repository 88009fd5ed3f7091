#!/usr/bin/env python3
"""Regenerates perfbench/expected.json: for each fixture set in
perfbench/data, the hash of every workload query's DuckDB oracle result.
Run from the repository root after a workload or a fixture changes:

    python3 perfbench/expected.py

The oracle SQL comes from the program's registry (Main --mode oracle).
DuckDB writes each oracle result to parquet, and the benchmark's JVM hashes
those files (Main --mode hash) with the same Canon.hash that checks Spark's
results, so the hash has one implementation.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def jvm(cp, work, mode, args):
    """Runs one Main mode and returns its last stdout line as JSON."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = subprocess.run(run.java_cmd(cp, work, mode, args),
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    cp = run.classpath()
    work = os.path.join(run.WORK, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    try:
        oracle = jvm(cp, work, "oracle", [])
        expected = {}
        for sf in sorted(os.listdir(os.path.join(run.HERE, "data"))):
            results = os.path.join(work, sf)
            os.makedirs(results)
            con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(run.HERE, "data", sf, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q, sql in sorted(oracle.items()):
                sql = sql.strip().rstrip(";")
                con.execute(f"COPY ({sql}) TO '{os.path.join(results, q)}.parquet' (FORMAT PARQUET)")
            con.close()
            expected[sf] = jvm(cp, work, "hash", ["--dir", results])
            missing = set(oracle) - set(expected[sf])
            if missing:
                sys.exit(f"{sf}: no hash for {sorted(missing)}")
            print(f"{sf}: {len(expected[sf])} queries", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
