#!/usr/bin/env python3
"""Regenerate perfbench/golden/query_digests.json.

    sbt "runMain graft.Verify perfbench/data/sf0.01 <verify_out>"
    python3 perfbench/make_golden.py <verify_out> [bench_out.json]

For every query with an oracle in <verify_out>/oracle_sql.json, runs the oracle
in DuckDB over perfbench/data/sf0.01 and records its digest (rows, sorted column
names, value hash; the rule of scripts/local_check.py). A query is kept only if
the engine's own result in <verify_out> has the same digest, so the golden file
lists queries that are correct at the commit it was made from. The optional
graft.Bench artifact (run with SPARK_GRAFT_SF_DIR=perfbench/data/sf0.01) adds
each query's measured seconds as `cost_s`, which query_mix uses to draw
cost-matched samples.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import GOLDEN, SF_DIR, canon, digest  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def main():
    out = sys.argv[1]
    costs = json.load(open(sys.argv[2]))["queries"] if len(sys.argv) > 2 else {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    golden, skipped = {}, []
    for name in sorted(oracle):
        got = digest(os.path.join(out, name))
        try:
            df = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001
            skipped.append((name, f"oracle error {e}"))
            continue
        want = {"rows": len(df), "cols": sorted(df.columns), "md5": canon(df)}
        if got != want:
            skipped.append((name, "engine result differs from the oracle"))
            continue
        if name in costs:
            want["cost_s"] = round(costs[name], 3)
        golden[name] = want
    with open(GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for name, why in skipped:
        print(f"skipped {name}: {why}")
    print(f"{len(golden)} golden digests written to {GOLDEN}")


if __name__ == "__main__":
    main()
