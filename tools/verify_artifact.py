#!/usr/bin/env python3
"""Write a JSON correctness artifact for one `graft.Verify` output directory.

Usage: python3 tools/verify_artifact.py <outDir> <sfDir> <dest.json>

Per query: whether rows, schema and hash match the DuckDB oracle (the same
canonical form as tools/check.py: columns sorted by name, rows sorted,
values stringified), the row counts, and `spark_hash`, the md5 of the
canonical Spark output. The file holds no paths but `sfDir`, so two runs
over the same fixture (say, a parent commit and a change) have the same
output exactly when `diff parent.json change.json` prints nothing.
"""
import hashlib
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import TABLES, canon  # noqa: E402


def md5(df):
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def main():
    out_dir, sf_dir, dest = sys.argv[1], sys.argv[2], sys.argv[3]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    res = {}
    for name, sql in sorted(oracle.items()):
        got = canon(pq.read_table(f"{out_dir}/{name}").to_pandas())
        exp = canon(con.execute(sql).df())
        res[name] = {
            "rows_match": len(got) == len(exp),
            "schema_match": list(got.columns) == list(exp.columns),
            "hash_match": md5(got) == md5(exp),
            "spark_hash": md5(got),
            "spark_rows": len(got), "oracle_rows": len(exp), "err": None}
    json.dump({"_meta": {"sf_dir": sf_dir}, **res}, open(dest, "w"), indent=2)
    bad = [n for n, r in res.items() if not r["hash_match"]]
    print(f"{len(res) - len(bad)}/{len(res)} hash-match the oracle"
          + (f"; mismatched: {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
