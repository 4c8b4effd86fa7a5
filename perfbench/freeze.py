#!/usr/bin/env python3
"""Fix the expected answer of every workload key.

Run from the repository root:  python3 perfbench/freeze.py [workload ...]

Runs each workload's warm pass once with result dumping on, compares every
key's collected rows against its DuckDB oracle SQL (`SparkEntry.oracleSql`)
the way the repository's oracle check does (columns by name, rows in order,
floats exact), and writes perfbench/expected.json: for each key that agrees
with its oracle, the row count and digest the harness computed. A key with
no oracle keeps the program's own answer; a key that disagrees with its
oracle is reported and left out, and the command exits non-zero.
"""
import json
import math
import os
import shutil
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return str(v)


def rows(table):
    cols = sorted(table.column_names)
    return cols, [tuple(norm(r[c]) for c in cols) for r in table.to_pylist()]


def compare(fixtures, dump):
    """key -> None when the dumped rows equal the oracle's, else a reason."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(fixtures, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for key in sorted(os.listdir(dump)):
        if not os.path.isdir(os.path.join(dump, key)):
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{dump}/{key}/*.parquet')")
        scols, srows = rows(got.fetch_arrow_table())
        if key not in oracle:
            out[key] = None
            continue
        ocols, orows = rows(con.execute(oracle[key]).fetch_arrow_table())
        if scols != ocols:
            out[key] = f"columns {scols} vs oracle {ocols}"
        elif srows != orows:
            bad = sum(1 for a, b in zip(srows, orows) if a != b)
            out[key] = f"rows {len(srows)} vs oracle {len(orows)}, {bad} differ"
        else:
            out[key] = None
    return out, set(oracle)


def main(names):
    root = os.getcwd()
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        spec = json.load(f)
    path = os.path.join(run.HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    fixtures = os.path.join(run.HERE, spec["fixtures"])
    status = 0
    for name in names or list(spec["workloads"]):
        dump = os.path.join(root, run.BUILD, "freeze", name)
        shutil.rmtree(dump, ignore_errors=True)
        verdicts = {}

        def check(res):
            verdicts["res"] = res
            verdicts["cmp"] = compare(fixtures, dump)

        run.run_workload(root, spec, name, 1, 0, 0, dump=dump, inspect=check)
        res = verdicts["res"]
        cmp, with_oracle = verdicts["cmp"]
        for key in spec["workloads"][name]["keys"]:
            reason = (res["warm_failures"].get(key) if key not in cmp
                      else cmp[key])
            if key not in cmp and reason is None:
                reason = "no result"
            if reason is None:
                expected[key] = dict(res["digests"][key],
                                     source="oracle" if key in with_oracle else "program")
                print(f"ok   {name:10} {key:36} {expected[key]['rows']} rows "
                      f"({expected[key]['source']})")
            else:
                status = 1
                expected.pop(key, None)
                print(f"FAIL {name:10} {key:36} {reason}")
        shutil.rmtree(dump, ignore_errors=True)
    keys = {k for w in spec["workloads"].values() for k in w["keys"]}
    with open(path, "w") as f:
        json.dump({k: v for k, v in sorted(expected.items()) if k in keys}, f, indent=1)
        f.write("\n")
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
