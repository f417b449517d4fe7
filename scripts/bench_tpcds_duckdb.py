#!/usr/bin/env python3
"""DuckDB twin of `graft.VerbatimBench tpcds [scale]`: run the reference's 99
verbatim TPC-DS query texts (fixtures/tpcds/queries, or
SPARK_GRAFT_TPCDS_QUERIES) over the SAME staged parquet fixtures
(fixtures/tpcds/<scale>/), warm best-of-N, one JSON line out — the
same-box apples-to-apples baseline for the engine's verbatim suite.

Usage: python3 scripts/bench_tpcds_duckdb.py [scale] [runs] [out]
       (defaults: sf0.1 3 bench_evidence/r17_tpcds_duckdb.json)
GRAFT_TPCDS_ROOT overrides the fixture root (e.g. a /tmp-staged sf1).
"""
import json
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = os.environ.get(
    "SPARK_GRAFT_TPCDS_QUERIES",
    os.path.join(ROOT, "fixtures", "tpcds", "queries"))
TABLES = (
    "call_center catalog_page catalog_returns catalog_sales customer "
    "customer_address customer_demographics date_dim household_demographics "
    "income_band inventory item promotion reason ship_mode store "
    "store_returns store_sales time_dim warehouse web_page web_returns "
    "web_sales web_site").split()


def main():
    scale = sys.argv[1] if len(sys.argv) > 1 else "sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        ROOT, "bench_evidence", "r17_tpcds_duckdb.json")
    root = os.environ.get("GRAFT_TPCDS_ROOT") or os.path.join(
        ROOT, "fixtures", "tpcds")
    fix = os.path.join(root, scale)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fix}/{t}.parquet')")
    texts = {}
    for n in range(1, 100):
        with open(os.path.join(QUERIES, f"{n:02d}.sql")) as f:
            texts[n] = f.read().strip().rstrip(";")

    def once(n):
        t0 = time.perf_counter()
        con.execute(texts[n]).fetchall()
        return time.perf_counter() - t0

    for n in texts:  # warm
        once(n)
    best = {n: min(once(n) for _ in range(runs)) for n in texts}
    rec = {
        "metric": "tpcds_duckdb_total",
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
