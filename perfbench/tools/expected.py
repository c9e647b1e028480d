#!/usr/bin/env python3
"""Derive the catalog mix's expected answers from the DuckDB oracle.

    python3 perfbench/tools/expected.py

Builds the benchmark, dumps each mix query's oracle SQL
(`graft.SparkEntry.oracleSql`), runs it in DuckDB over the committed
perfbench/data/sf0.01 tables (one view per parquet file, as
tools/oracle_check.py does) and writes the row count and canonical hash
of every answer to perfbench/expected/catalog_sf0.01.json. Spark's own
output is never used. Run it again only when the mix or the data changes.
"""
import glob
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, HERE)
import build  # noqa: E402
import canon  # noqa: E402

import duckdb  # noqa: E402


def main():
    cp = build.build()
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".build")) as tmp:
        dump = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", ":".join(cp), "perfbench.OracleDump", dump],
                       check=True)
        oracle = json.load(open(dump))
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(BENCH, "data", "sf0.01", "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in oracle.items():
        rel = con.sql(sql)
        rows, digest = canon.of(rel.columns, rel.fetchall())
        out[name] = {"rows": rows, "hash": digest}
        print(f"{name}: {rows} rows", file=sys.stderr)
    dest = os.path.join(BENCH, "expected", "catalog_sf0.01.json")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
