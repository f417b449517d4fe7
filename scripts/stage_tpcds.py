#!/usr/bin/env python3
"""Stage the reference's REAL TPC-DS corpus as parquet fixtures.

Uses DuckDB's offline `CALL dsdgen(sf=...)` (the same dsdgen the
reference vendors at extension/tpcds) to produce the genuine 24-table
schema, then exports each table as a single parquet file to
fixtures/tpcds/sf<sf>/<table>.parquet.

DECIMAL money columns are exported as DOUBLE, matching the TPC-H fixture
convention (scripts/stage_tpch.py): both engines then read identical
doubles and the gate's rel-1e-12 float tolerance absorbs
summation-order rounding. Dates stay DATE, keys BIGINT, text VARCHAR.

Also writes the 99 query texts DuckDB's tpcds extension ships
(`SELECT query FROM tpcds_queries()`, the texts the reference keeps under
extension/tpcds/dsdgen/queries) byte for byte to
fixtures/tpcds/queries/NN.sql, with a sha256sum-format SHA256SUMS, and
emits fixtures/tpcds/meta.json: for each of those 99 query texts, the
RESULT arity and DuckDB column types (probed by running the query over
the staged sf0.01 parquet). TpcdsVerbatim
needs the arity to alias result columns positionally (many TPC-DS
outputs are unaliased expressions whose auto-names differ per engine)
and the types to cast DuckDB HUGEINT sums to BIGINT at the comparison
boundary (sum(INTEGER) is HUGEINT in DuckDB, BIGINT in Spark — the
same artifact TpchVerbatim shims for q12).

Usage: python3 scripts/stage_tpcds.py [sf ...]   (default: 0.01 0.1)
"""
import json
import os
import sys

import duckdb

from stage_tpch import stage_queries

TABLES = (
    "call_center catalog_page catalog_returns catalog_sales customer "
    "customer_address customer_demographics date_dim household_demographics "
    "income_band inventory item promotion reason ship_mode store "
    "store_returns store_sales time_dim warehouse web_page web_returns "
    "web_sales web_site").split()


def stage(sf: float, root: str) -> str:
    out = os.path.join(root, f"sf{sf}")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CALL dsdgen(sf={sf})")
    for t in TABLES:
        cols = con.execute(f"DESCRIBE {t}").fetchall()
        sel = ", ".join(
            f"CAST({name} AS DOUBLE) AS {name}" if typ.startswith("DECIMAL")
            else name
            for name, typ, *_ in cols)
        dest = os.path.join(out, f"{t}.parquet")
        con.execute(
            f"COPY (SELECT {sel} FROM {t}) TO '{dest}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        print(f"sf{sf} {t}: {n} rows -> {dest}")
    con.close()
    return out


def probe_meta(fixdir: str, root: str) -> None:
    """Run each verbatim query over the staged parquet; record result
    arity + DuckDB types (and row count, as a staging-time sanity log)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixdir}/{t}.parquet')")
    meta = {}
    for n in range(1, 100):
        qf = os.path.join(root, "queries", f"{n:02d}.sql")
        sql = open(qf).read().strip().rstrip(";")
        rel = con.sql(sql)
        types = [str(t) for t in rel.types]  # DuckDB logical types
        nrows = len(rel.fetchall())
        meta[f"{n:02d}"] = {
            "ncols": len(types),
            "types": types,
            "rows_sf001": nrows,
        }
        print(f"q{n:02d}: {len(types)} cols, {nrows} rows, types={types}")
    with open(os.path.join(root, "meta.json"), "w") as f:
        json.dump(meta, f, indent=0, sort_keys=True)
    print(f"meta -> {os.path.join(root, 'meta.json')}")


if __name__ == "__main__":
    sfs = [float(a) for a in sys.argv[1:]] or [0.01, 0.1]
    root = os.environ.get("GRAFT_TPCDS_ROOT") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "tpcds")
    stage_queries(root, "tpcds_queries", "{:02d}.sql")
    for sf in sfs:
        key = sf if sf != int(sf) else int(sf)
        stage(key, root)
    # meta (arity/types/row-count sanity) is ALWAYS probed at sf0.01 —
    # the gate scale — regardless of which scales this invocation staged
    base = os.path.join(root, "sf0.01")
    if not os.path.isdir(base):
        stage(0.01, root)
    probe_meta(base, root)
