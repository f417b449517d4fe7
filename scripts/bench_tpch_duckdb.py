#!/usr/bin/env python3
"""DuckDB twin of `graft.VerbatimBench tpch [scale]`: run the reference's 22
verbatim TPC-H query texts (fixtures/tpch/queries, or
SPARK_GRAFT_TPCH_QUERIES) over the SAME staged parquet fixtures
(fixtures/tpch/<scale>/), warm best-of-N, one JSON line out — the
same-box apples-to-apples baseline for the engine's verbatim suite.

Usage: python3 scripts/bench_tpch_duckdb.py [scale] [runs] [out]
       (defaults: sf0.1 3 bench_evidence/r16_tpch_duckdb.json)
"""
import json
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = os.environ.get(
    "SPARK_GRAFT_TPCH_QUERIES",
    os.path.join(ROOT, "fixtures", "tpch", "queries"))
TABLES = "region nation customer supplier part partsupp orders lineitem".split()


def main():
    scale = sys.argv[1] if len(sys.argv) > 1 else "sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        ROOT, "bench_evidence", "r16_tpch_duckdb.json")
    fix = os.path.join(ROOT, "fixtures", "tpch", scale)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fix}/{t}.parquet')")
    texts = {}
    for n in range(1, 23):
        with open(os.path.join(QUERIES, f"q{n:02d}.sql")) as f:
            texts[n] = f.read().strip().rstrip(";")

    def once(n):
        t0 = time.perf_counter()
        con.execute(texts[n]).fetchall()
        return time.perf_counter() - t0

    for n in range(1, 23):  # warm
        once(n)
    best = {n: min(once(n) for _ in range(runs)) for n in range(1, 23)}
    rec = {
        "metric": "tpch_duckdb_total",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "runs": runs,
        "scale": scale,
        "threads": os.cpu_count(),
        "duckdb": duckdb.__version__,
        "queries": {f"q{n:02d}": round(s, 3) for n, s in best.items()},
    }
    line = json.dumps(rec)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
