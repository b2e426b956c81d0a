#!/usr/bin/env python3
"""Freeze the ledger split and its oracle counts into perfbench/ledger.json.

Usage (from the repository root; takes a few minutes):
    python3 perfbench/make_ledger.py <harness sf0.1 dir>

1. Runs every ledger query once over the harness tables under a
   StreamingQueryListener; the queries that start a Structured Streaming
   query form `stream`.
2. Copies the harness `events` table, the only table those queries read,
   to perfbench/data/sf0.1.
3. `expected_count` holds each listed query's row count from its DuckDB
   oracle (SparkEntry.oracleSql) over that copy, read with
   tools/compare.py's table-source rule.
"""
import json
import shutil
import sys
from pathlib import Path

import duckdb

import run

SF_DIR = "data/sf0.1"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    sys.path.insert(0, str(run.ROOT / "tools"))
    from compare import table_source

    harness = sys.argv[1]
    classpath = run.build()
    work = run.WORK / "make-ledger"
    work.mkdir(parents=True, exist_ok=True)
    sf = run.BENCH / SF_DIR
    split_file, oracle_file = work / "split.json", work / "oracles.json"
    run.java(classpath, ["--workload", "split-ledger", "--sf", harness, "--work", str(work),
                         "--cpus", str(run.cores()), "--result", str(split_file)],
             work, work / "split.log", 1800)
    run.java(classpath, ["--workload", "dump-oracles", "--result", str(oracle_file)],
             work, work / "oracles.log", 600)
    split = json.loads(split_file.read_text())
    oracles = json.loads(oracle_file.read_text())

    stream = split["stream"]
    sf.mkdir(parents=True, exist_ok=True)
    shutil.copyfile(Path(harness) / "events.parquet", sf / "events.parquet")

    con = duckdb.connect()
    for t in TABLES:
        if (sf / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_source(str(sf), t)}'")
    counts = {}
    for q in stream:
        counts[q] = con.execute(f"SELECT count(*) FROM ({oracles[q]})").fetchone()[0]
        print(f"{q}: {counts[q]}", file=sys.stderr)

    out = {"sf_dir": SF_DIR, "stream": stream, "expected_count": counts}
    (run.BENCH / "ledger.json").write_text(json.dumps(out, indent=1) + "\n")
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
