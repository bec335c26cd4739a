#!/usr/bin/env python3
"""Rebuilds perfbench/expected_counts.tsv, the row count each timed
ops_inventory key must return.

The counts come from the keys' DuckDB oracle SQL (SparkEntry.oracleSql),
run by the installed duckdb over the generated tables, never from the
Spark implementation under test. Run it after changing the key set, the
table generator or an oracle query:

  python3 perfbench/make_expected.py   (from the repository root)
"""
import os
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def main():
    root = os.getcwd()
    classes, jars = build.build(root)
    work = os.path.join(root, build.OUT, "work", f"expected-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tables = os.path.join(work, "tables")
    os.makedirs(tables)
    try:
        cmd = run.java_cmd(classes, jars, work, "perfbench.DumpTables", [tables, str(run.CPUS)])
        proc = subprocess.Popen(cmd, cwd=root,
                                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        try:
            if proc.wait() != 0:
                raise SystemExit(f"DumpTables exited with {proc.returncode}")
        finally:
            shutil.rmtree(f"/tmp/graft_run_{proc.pid}", ignore_errors=True)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        lines = []
        for line in open(os.path.join(tables, "oracle.tsv")):
            key, sql = line.rstrip("\n").split("\t", 1)
            n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            lines.append(f"{key}\t{n}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(root, "perfbench", "expected_counts.tsv")
    with open(out, "w") as fh:
        fh.write("# key<TAB>rows: DuckDB oracle row counts over the generated "
                 "ops_inventory tables (perfbench/make_expected.py)\n")
        fh.write("\n".join(lines) + "\n")
    print(f"{len(lines)} keys -> {out}")


if __name__ == "__main__":
    main()
