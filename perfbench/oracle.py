#!/usr/bin/env python3
"""Confirm the query suite's results against DuckDB and record their
`dev/compare.py`-rule hashes next to the benchmark's digests.

    python3 perfbench/oracle.py [--reuse]

Needs the suite's tables, which any `queries_sf01` run stages. Runs
`graft.Verify` over them (every SparkEntry query written as parquet, plus
each query's oracle SQL), executes each suite query's oracle SQL in DuckDB
over the same tables, and compares row counts and table hashes. Writes the
hashes into expected.json under queries_sf01.oracle; exits 1 on a mismatch.
`--reuse` skips `graft.Verify` and compares its previous output.
"""
import json
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

import benchlib
import run


def main():
    wl = run.WORKLOADS["queries_sf01"]
    tables = run.WORK / "stage" / f"queries-seed{wl['tables_seed']}-scale{wl['scale']}"
    if not (tables / "_SUCCESS").exists():
        run.die("stage the tables first: python3 perfbench/run.py --workload queries_sf01 ...")
    out = run.WORK / "verify"
    cp = run.build()
    if "--reuse" not in sys.argv:
        subprocess.run(run.java_cmd(cp, [tables, out], main="graft.Verify"), cwd=run.ROOT, check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    oracle_sql = json.loads((out / "oracle_sql.json").read_text())
    hashes, fails = {}, 0
    for name in sorted(run.QUERIES):
        spark = pq.read_table(out / name)
        scols = spark.column_names
        srows = [tuple(spark.column(c)[i].as_py() for c in scols) for i in range(spark.num_rows)]
        duck = con.sql(oracle_sql[name])
        drows, dcols = duck.fetchall(), [c.lower() for c in duck.columns]
        hs, hd = benchlib.table_hash(scols, srows), benchlib.table_hash(dcols, drows)
        ok = len(srows) == len(drows) and hs == hd
        fails += not ok
        print(f"{'OK  ' if ok else 'FAIL'} {name} ({len(srows)} rows, duckdb {len(drows)})")
        hashes[name] = [len(srows), hs]
    e = json.loads(run.EXPECTED.read_text())
    e["queries_sf01"]["oracle"] = hashes
    run.EXPECTED.write_text(json.dumps(e, indent=1, sort_keys=True) + "\n")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
