#!/usr/bin/env python3
"""Regenerate perfbench/expected/query_mix.json: the result fingerprint of
every query in the mix, computed by running each query's oracle SQL
(`graft.SparkEntry.oracleSql`) in DuckDB over the generated mix tables.

    python3 perfbench/derive_expected.py

The tables are fixed (a seed only permutes the query order), so the file
changes only when the table generator, the query list or an oracle changes.
Needs the duckdb Python package.
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


def main():
    cp = run.build()
    work = os.path.join(run.BUILD, "derive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        subprocess.run(run.java_cmd(cp, work, ["gen-mix", "--out", data]),
                       cwd=work, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        out = subprocess.run(run.java_cmd(cp, work, ["oracle-sql"]), cwd=work, check=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True).stdout
        oracle = json.loads(out[out.index("{"):])
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet/*.parquet'")
        expected = {}
        for name, sql in sorted(oracle.items()):
            rel = con.execute(sql)
            expected[name] = run.fingerprint([d[0] for d in rel.description], rel.fetchall())
            print(f"{name}: {expected[name]['rows']} rows", file=sys.stderr)
        with open(run.EXPECTED, "w") as f:
            json.dump({"regenerate": "python3 perfbench/derive_expected.py",
                       "queries": expected}, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
