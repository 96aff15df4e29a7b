#!/usr/bin/env python3
"""Writes perfbench/registry_sweep.tsv: the frozen registry_sweep list and
each query's expected row count, computed by DuckDB from the query's
oracle SQL over perfbench/data.

    python3 perfbench/oracle_counts.py

Run it from the root of a checkout after the registry or the data
changes. It builds the benchmark if needed, asks the JVM for every
registry query's oracle SQL, keeps the queries the sweep runs, and
counts each oracle's rows. A query without an oracle is written as
`nonempty`: the sweep then requires at least one row.

The list is a systematic sample: every EVERY-th query in name order of
the registry, after leaving out the queries that read a SnapshotTable
fixture (d11, and d23-d54 except d39), which stage that fixture on first
call (the table_commits workload times the write path on fresh tables
instead). The sample size is what one pass can run inside the
benchmark's run length; see README.md.
"""
import json
import os
import re
import subprocess
import sys
import tempfile

import duckdb

import run

EVERY = 17
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def reads_fixture(name):
    m = re.match(r"d(\d+)_", name)
    if not m:
        return False
    k = int(m.group(1))
    return k == 11 or (23 <= k <= 54 and k != 39)


def oracle_sql():
    run.ensure_built()
    with tempfile.TemporaryDirectory() as tmp:
        os.makedirs(os.path.join(tmp, "tmp"))
        out = os.path.join(tmp, "oracles.json")
        cmd = run.java_command(["--dump-oracles", out], tmp)
        subprocess.run(cmd, cwd=tmp, check=True, stdout=sys.stderr)
        with open(out) as fh:
            return json.load(fh)


def main():
    data = os.path.join(run.BENCH, "data")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = oracle_sql()
    names = sorted(n for n in oracles if not reads_fixture(n))[::EVERY]
    lines = []
    for n in names:
        sql = oracles[n]
        if sql is None:
            lines.append(f"{n}\tnonempty")
        else:
            count = con.execute(f"SELECT count(*) FROM ({sql}) AS oracle").fetchone()[0]
            lines.append(f"{n}\t{count}")
    out = os.path.join(run.BENCH, "registry_sweep.tsv")
    with open(out, "w") as fh:
        fh.write("# name<TAB>expected rows (DuckDB oracle over perfbench/data), "
                 "or nonempty; written by oracle_counts.py\n")
        fh.write("\n".join(lines) + "\n")
    print(f"{len(lines)} queries ({sum(l.endswith('nonempty') for l in lines)} without oracle) "
          f"-> {os.path.relpath(out)}")


if __name__ == "__main__":
    main()
