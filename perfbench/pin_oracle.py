#!/usr/bin/env python3
"""Regenerate data/oracle_digests.json: the query-suite digests pinned
from the DuckDB oracle.

    python3 perfbench/pin_oracle.py

Runs every registered query's oracle SQL (SparkEntry.oracleSql) in
DuckDB over data/sf0.1, writes each result as parquet, and digests it
with the benchmark's own Digest. It then digests the engine's outputs
on the same tables and reports any query whose two digests differ.
Needs the `duckdb` Python package.
"""
import json
import os
import shutil
import sys

import duckdb

import build
import run

SF = os.path.join(run.DATA, "sf0.1")
OUT = os.path.join(run.DATA, "oracle_digests.json")


def main():
    classes, jars = build.build(), build.spark_jars()
    pin = os.path.join(build.BUILD_DIR, "pin")
    shutil.rmtree(pin, ignore_errors=True)
    os.makedirs(pin)

    def jvm(*args):
        rc = run.run_jvm(classes, jars, os.path.join(pin, "work"), ["perfbench.Pin", *args])
        if rc != 0:
            sys.exit(f"pin: perfbench.Pin {args[0]} failed ({rc})")

    sql_file = os.path.join(pin, "oracle_sql.json")
    jvm("sql", sql_file)
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    oracle = os.path.join(pin, "oracle")
    for name, sql in sorted(json.load(open(sql_file)).items()):
        os.makedirs(os.path.join(oracle, name))
        con.execute(f"COPY ({sql}) TO '{oracle}/{name}/part-0.parquet' (FORMAT PARQUET)")
    jvm("digest", oracle, OUT)
    engine = os.path.join(pin, "engine.json")
    jvm("spark", SF, engine)
    pinned, got = json.load(open(OUT)), json.load(open(engine))
    bad = [q for q in pinned if pinned[q] != got.get(q)]
    for q in bad:
        print(f"{q}: oracle {pinned[q]} != engine {got.get(q)}")
    print(f"pinned {len(pinned)} digests to {OUT}; {len(bad)} differ from the engine")
    shutil.rmtree(pin, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
