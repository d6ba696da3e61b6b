#!/usr/bin/env python3
"""Re-record catalogue_expected.json: the row count and order-insensitive
hash of every catalogue_mix query on data/sf0.001.

Runs graft.Verify for the mix, then each query's DuckDB oracle
(SparkEntry.oracleSql) over the same parquet files. A query with an
oracle is recorded only when the engine's result equals the oracle's;
one without is recorded from the engine at the current commit.

Usage (from the repository root): python3 perfbench/record_expected.py
"""
import json
import os
import shutil
import sys
import time

import duckdb

import checks
import run

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def main():
    root = os.getcwd()
    classes = run.build(root)
    queries = run.CATALOGUE
    work = os.path.join(root, ".bench_work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_GRAFT_ONLY"] = ",".join(queries)
    run.java(classes, work, "graft.Verify", [run.CATALOGUE_DATA, f"{work}/out"],
             time.time() + 900)
    oracle = json.load(open(f"{work}/out/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run.CATALOGUE_DATA}/{t}.parquet')")
    expected, failed = {}, []
    for q in queries:
        rel = con.execute(f"SELECT * FROM read_parquet('{work}/out/{q}/*.parquet')")
        cols, rows = [d[0] for d in rel.description], rel.fetchall()
        rec = {"rows": len(rows), "hash": checks.table_hash(rows, cols), "source": "engine"}
        if q in oracle:
            orel = con.execute(oracle[q])
            ocols, orows = [d[0] for d in orel.description], orel.fetchall()
            if sorted(ocols) != sorted(cols) or checks.table_hash(orows, ocols) != rec["hash"]:
                failed.append(q)
            rec["source"] = "oracle"
        expected[q] = rec
        print(q, rec, file=sys.stderr)
    if failed:
        raise SystemExit(f"engine disagrees with the oracle on {failed}")
    with open(os.path.join(run.HERE, "catalogue_expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
