#!/usr/bin/env python3
"""Compare the query outputs written by `run.py --workload refs` with DuckDB
running each query's oracle SQL over the same generated tables, and record the
verdict per query in perfbench/refs/queries.json ("oracle": match, mismatch or
none for the queries that have no oracle SQL).

Usage (from the checkout root, after the refs run):
  python3 perfbench/tools/verify_refs.py
Compares after sorting columns by name and rows by all values, exactly.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

WORK = os.path.join(".bench_build", "graftbench")
REFS = os.path.join("perfbench", "refs", "queries.json")
data = glob.glob(os.path.join(WORK, "data-*"))[0]
out = os.path.join(WORK, "refs-out")

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet')")
oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
refs = json.load(open(REFS))
fails = 0
for name in sorted(refs):
    if name not in oracle:
        refs[name]["oracle"] = "none"
        print(f"{name}: no oracle SQL ({refs[name]['rows']} rows)")
        continue
    files = glob.glob(os.path.join(out, name, "*.parquet"))
    spark_df = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    duck_df = con.execute(oracle[name]).fetchdf()
    a = spark_df.reindex(sorted(spark_df.columns), axis=1)
    b = duck_df.reindex(sorted(duck_df.columns), axis=1)
    verdict = "match"
    try:
        assert list(a.columns) == list(b.columns), "schema"
        a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
        b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
        assert len(a) == len(b), f"rows spark={len(a)} duck={len(b)}"
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except (AssertionError, TypeError) as e:
        verdict = "mismatch"
        fails += 1
        print(f"{name}: MISMATCH {str(e)[:300]}")
    refs[name]["oracle"] = verdict
    if verdict == "match":
        print(f"{name}: match ({len(a)} rows)")
with open(REFS, "w") as f:
    f.write("{\n" + ",\n".join(f"  {json.dumps(k)}: {json.dumps(refs[k])}"
                               for k in sorted(refs)) + "\n}\n")
print(f"{fails} mismatches / {len(refs)} queries")
sys.exit(1 if fails else 0)
