#!/usr/bin/env python3
"""Derive perfbench/oracle/fingerprints.json from the DuckDB oracle.

Usage (from the repository root): python3 perfbench/tools/oracle_fingerprints.py

Runs each analytics_suite query's oracle SQL (SparkEntry.oracleSql) in
DuckDB over perfbench/data/sf0.01, normalises every row as
tools/oracle_check.py does (columns in name order, doubles rounded to
9 places, integral values without a fraction) and records the row count
and the sha256 of the sorted rows, cells joined by tabs and rows by
newlines. The benchmark compares each Spark result against it.
"""
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import build  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        r = round(v, 9)
        if r == int(r) and abs(r) < 1e15:
            return str(int(r))
        return f"{r:.9f}".rstrip("0")
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def main():
    jars = build.spark_jars()
    classes = build.build(build.out_dir(), jars)
    sql = json.loads(subprocess.run(
        ["java", "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "graftbench.OracleSql"],
        check=True, stdout=subprocess.PIPE, text=True).stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    data = os.path.join(HERE, "data", "sf0.01")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    fps = {}
    for name in sorted(sql):
        rel = con.sql(sql[name])
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = sorted(tuple(norm(r[i]) for i in order) for r in rel.fetchall())
        text = "\n".join("\t".join(r) for r in rows)
        fps[name] = {"rows": len(rows), "sha256": hashlib.sha256(text.encode()).hexdigest()}
        print(f"{name}: {len(rows)} rows", file=sys.stderr)
    os.makedirs(os.path.join(HERE, "oracle"), exist_ok=True)
    with open(os.path.join(HERE, "oracle", "fingerprints.json"), "w") as fh:
        json.dump(fps, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
