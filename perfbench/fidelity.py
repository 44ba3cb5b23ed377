#!/usr/bin/env python3
"""Compares the benchmark's generated fixture with the engine's test data.

    python3 perfbench/fidelity.py <test-data dir at sf0.01>

Run it from the repository root after one run of each workload (the runs
leave the engine's oracle SQL in perfbench/.work/run-<workload>/run.json).
It prints, per table, whether the column names and Arrow types and the row
counts match, and per benchmark query the row count of its DuckDB oracle
result on both data sets. Exits 1 if a table's schema or row count differs.
The benchmark itself never reads the test data: it is not in a checkout.
"""
import glob
import json
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import oracle  # noqa: E402


def tables(fixture, driver):
    """[(table, same schema, fixture rows, driver rows)]"""
    out = []
    for t in oracle.load_check(run.ROOT).TABLES:
        a, b = (pq.ParquetFile(f"{d}/{t}.parquet") for d in (fixture, driver))
        same = [(f.name, str(f.type)) for f in a.schema_arrow] == \
               [(f.name, str(f.type)) for f in b.schema_arrow]
        out.append((t, same, a.metadata.num_rows, b.metadata.num_rows))
    return out


def oracle_rows(fixture, driver):
    """[(query, fixture result rows, driver result rows)] for every query a
    previous run recorded an oracle for."""
    sqls = {}
    for path in sorted(glob.glob(os.path.join(run.WORK, "run-*", "run.json"))):
        with open(path) as f:
            sqls.update(json.load(f)["oracles"])
    names = oracle.load_check(run.ROOT).TABLES
    cons = [oracle.connect(d, names) for d in (fixture, driver)]
    return [(q, *(len(c.execute(sql).df()) for c in cons)) for q, sql in sqls.items()]


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    fixture, driver = run.fixture(), sys.argv[1]
    ok = True
    print("table        schema  rows (fixture / test data)")
    for t, same, a, b in tables(fixture, driver):
        ok &= same and a == b
        print(f"{t:<12} {'same' if same else 'DIFF':<7} {a} / {b}")
    print("query                           oracle rows (fixture / test data)")
    for q, a, b in oracle_rows(fixture, driver):
        print(f"{q:<31} {a} / {b}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
