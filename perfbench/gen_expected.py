#!/usr/bin/env python3
"""Regenerate perfbench/expected_rows.json: the row count of every key's
DuckDB oracle (SparkEntry.oracleSql) on the sf0.1 fixture.

    python3 perfbench/gen_expected.py [--fixture DIR] [--threads N]
                                      [--cap SECONDS] [key ...]

Run from the repository root. The oracle SQL is read from the compiled
program (the same build run.py makes). Keys whose oracle runs past
--cap seconds are retried once without a cap at the end. With key
arguments only those keys are recomputed; the others keep their stored
counts.
"""
import argparse
import json
import os
import sys
import threading
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Oracles whose row count follows exactly from a cheaper query. The
# llm_dedup_cc oracle groups a recursive reachability closure by `src`;
# the closure's base case holds (doc_id, doc_id) for every document and
# its recursive step never adds a new `src`, so it has one row per
# distinct doc_id. The closure itself runs for more than ten minutes.
ROW_COUNT_SQL = {
    "llm_dedup_cc": "SELECT count(*) FROM (SELECT DISTINCT doc_id FROM documents)",
}


def count_rows(con, key, sql, cap):
    timer = threading.Timer(cap, con.interrupt) if cap else None
    if timer:
        timer.start()
    try:
        body = sql.strip().rstrip(";")
        query = ROW_COUNT_SQL.get(key, f"SELECT count(*) FROM ({body}) AS q")
        return con.execute(query).fetchone()[0]
    finally:
        if timer:
            timer.cancel()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture", default=bench.FIXTURE)
    ap.add_argument("--threads", type=int, default=4)
    ap.add_argument("--memory", default="4GB")
    ap.add_argument("--cap", type=float, default=60.0)
    ap.add_argument("keys", nargs="*")
    a = ap.parse_args()

    oracles = bench.dump_oracles(bench.build())["oracles"]
    keys = a.keys or sorted(oracles)
    out_path = os.path.join(bench.HERE, "expected_rows.json")
    stored = json.load(open(out_path)) if os.path.exists(out_path) else {}

    con = duckdb.connect()
    con.execute(f"SET threads = {a.threads}")
    con.execute(f"SET memory_limit = '{a.memory}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{a.fixture}/{t}.parquet'")

    slow = []
    for cap, todo in ((a.cap, keys), (None, slow)):
        for k in list(todo):
            t0 = time.time()
            try:
                stored[k] = count_rows(con, k, oracles[k], cap)
            except duckdb.InterruptException:
                print(f"{k}: past {cap:.0f} s, retried uncapped at the end", flush=True)
                slow.append(k)
                continue
            print(f"{k}: {stored[k]} rows ({time.time() - t0:.1f} s)", flush=True)
            with open(out_path, "w") as f:
                json.dump(dict(sorted(stored.items())), f, indent=1)
                f.write("\n")


if __name__ == "__main__":
    main()
