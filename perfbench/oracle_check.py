#!/usr/bin/env python3
"""Confirms the curation mix's results against graft's DuckDB oracle SQL.

The expected digests in expected_digests.json are taken from graft's own
output. This check shows that output is right: it re-runs each query's
oracle SQL (graft.SparkEntry.oracleSql) in DuckDB over the benchmark's
tables and compares the rows exactly, as multisets.

Usage, from the checkout root, after one run has built the benchmark:

    python3 perfbench/oracle_check.py

It asks the benchmark to dump every mix query's rows as parquet
(--dump-results) and exits non-zero if any query disagrees.
"""
import json
import math
import pathlib
import subprocess
import sys

import duckdb

ROOT = pathlib.Path.cwd()
DUMP = ROOT / ".bench_build" / "oracle"


def canon(v):
    """a hashable, engine-neutral form of one cell"""
    if v is None:
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        return ("num", int(v))
    if isinstance(v, int):
        return ("num", v)
    return v


def rows(con, sql, columns=None):
    rel = con.sql(sql)
    names = list(rel.columns)
    order = sorted(names) if columns is None else columns
    idx = [names.index(c) for c in order]
    return order, sorted((tuple(canon(r[i]) for i in idx) for r in rel.fetchall()), key=repr)


def main():
    cmd = ["python3", "perfbench/run.py", "--workload", "curate_dedup", "--seed", "1",
           "--seconds", "0", "--trace", "0", "--dump-results", str(DUMP)]
    if subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL).returncode != 0:
        sys.exit("benchmark run failed")
    meta = json.loads((DUMP / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{meta['data_dir']}/{t}.parquet/*.parquet')")
    failed = []
    for q, sql in sorted(meta["queries"].items()):
        cols, got = rows(con, f"SELECT * FROM read_parquet('{DUMP}/{q}.parquet/*.parquet')")
        try:
            ecols, exp = rows(con, sql)
        except duckdb.Error as e:
            failed.append(q)
            print(f"FAIL {q}: oracle SQL error: {e}")
            continue
        if ecols != cols:
            failed.append(q)
            print(f"FAIL {q}: columns {cols} vs oracle {ecols}")
        elif got != exp:
            failed.append(q)
            diff = set(got) ^ set(exp)
            print(f"FAIL {q}: {len(got)} rows vs oracle {len(exp)}; e.g. {sorted(diff, key=repr)[:2]}")
        else:
            print(f"ok   {q}: {len(got)} rows")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
