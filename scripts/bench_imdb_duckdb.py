#!/usr/bin/env python3
"""DuckDB twin of `graft.VerbatimBench imdb`: the 113 verbatim JOB texts
over the SAME synthetic parquet fixtures, warm best-of-N, one JSON
line out.

Usage: python3 scripts/bench_imdb_duckdb.py [runs] [out]
       (defaults: 3 bench_evidence/r17_imdb_duckdb.json)
GRAFT_IMDB_ROOT overrides the fixture root (e.g. a /tmp-staged
inflation).
"""
import json
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = os.environ.get(
    "SPARK_GRAFT_IMDB_QUERIES",
    "/root/reference/benchmark/imdb_plan_cost/queries")


def main():
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        ROOT, "bench_evidence", "r17_imdb_duckdb.json")
    fix = os.environ.get("GRAFT_IMDB_ROOT") or os.path.join(
        ROOT, "fixtures", "imdb")
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for f in sorted(os.listdir(fix)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{fix}/{f}')")
    ids = sorted(f[:-4] for f in os.listdir(QUERIES) if f.endswith(".sql"))
    texts = {i: open(os.path.join(QUERIES, f"{i}.sql")).read()
                 .strip().rstrip(";") for i in ids}

    def once(i):
        t0 = time.perf_counter()
        con.execute(texts[i]).fetchall()
        return time.perf_counter() - t0

    for i in ids:  # warm
        once(i)
    best = {i: min(once(i) for _ in range(runs)) for i in ids}
    rec = {
        "metric": "imdb_duckdb_total",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "runs": runs,
        "fixtures": fix,
        "threads": os.cpu_count(),
        "duckdb": duckdb.__version__,
        "queries": {f"q{i}": round(s, 3) for i, s in best.items()},
    }
    line = json.dumps(rec)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
