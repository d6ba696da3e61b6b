"""Output checks: every operation's outputs against the expectations.

ETL: the ok rows of each pipeline run must hash-equal the generator's
expected rows and its dead letters must equal the expected (pk, error)
set. Catalogue: every pass's row counts must equal the recorded counts,
and each query's result (written once after the timed window) must
hash-equal the recorded hash, which comes from the query's DuckDB oracle
where it has one.
"""
import glob
import json
import os

import duckdb

import gen

DEAD_KINDS = ("corrupt_input", "enforcement_failure", "empty_or_unjoinable_group")


def read_dead(d):
    out = []
    for p in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(p) as f:
            out += [json.loads(line) for line in f if line.strip()]
    return sorted([r["PK"], r["error"]] for r in out)


def _ok_hash(con, parquet_glob, where=""):
    cols = ", ".join(f'"{c}"' for c in gen.OK_COLS)
    rows = con.execute(f"SELECT {cols} FROM read_parquet('{parquet_glob}', "
                       f"hive_partitioning = true) {where}").fetchall()
    return len(rows), gen.rows_hash(rows)


def table_hash(rows, cols):
    """Order-insensitive hash of a query result, normalised like
    tools/check.py: columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return gen.rows_hash([tuple(_cell(r[i]) for i in order) for r in rows])


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _compare(con, parquet_glob, dead_dir, exp, where=""):
    """Number of wrong outputs (0, 1 or 2) and the observed counts."""
    n, h = _ok_hash(con, parquet_glob, where)
    dead = read_dead(dead_dir)
    wrong = int(h != exp["ok_hash"]) + int(dead != exp["dead"])
    return wrong, n, dead


def check(workload, work, res, expected, queries):
    """({op index: wrong outputs}, output counts averaged per op);
    `queries` is the catalogue mix."""
    con = duckdb.connect()
    bad, ok_rows, dead_counts = {}, [], {k: [] for k in DEAD_KINDS}
    ops = [o for o in res["ops"] if not o["error"]]
    for o in ops:
        wrong, n, dead = 0, 0, []
        if workload == "etl_backfill":
            for api, exp in expected.items():
                w, k, d = _compare(con, f"{o['out']}/teams_{api}/*.parquet",
                                   f"{o['out']}/dead_{api}", exp)
                wrong, n, dead = wrong + w, n + k, dead + d
        elif workload == "etl_daily":
            for api, exp in expected[o["set"]].items():
                keys = " OR ".join(f"(season = {s} AND league_id = '{lg}')"
                                   for s, lg in exp["groups"])
                w, k, d = _compare(con, f"{o['table']}/teams_{api}/*/*/*.parquet",
                                   f"{o['dead']}/dead_{api}", exp,
                                   f"WHERE {keys}" if keys else "")
                wrong, n, dead = wrong + w, n + k, dead + d
        else:
            wrong = sum(1 for q, c in o["counts"].items() if c != expected[q]["rows"])
            n = sum(o["counts"].values())
        bad[o["i"]] = wrong
        ok_rows.append(n)
        for k in DEAD_KINDS:
            dead_counts[k].append(sum(1 for _pk, e in dead if e == k))
    if workload == "catalogue_mix":
        wrong = 0
        for q in queries:
            exp = expected[q]
            files = glob.glob(f"{work}/results/{q}/*.parquet")
            if not files:
                wrong += 1
                continue
            rel = con.execute(f"SELECT * FROM read_parquet('{work}/results/{q}/*.parquet')")
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            if len(rows) != exp["rows"] or table_hash(rows, cols) != exp["hash"]:
                wrong += 1
        if wrong:
            bad = {i: b + wrong for i, b in bad.items()}
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    counts = {"ok_rows": mean(ok_rows)}
    counts.update({f"dead_groups.{k}": mean(v) for k, v in dead_counts.items()})
    return bad, counts
