#!/usr/bin/env python3
"""Stage the reference's REAL TPC-H corpus as parquet fixtures.

Uses DuckDB's offline `CALL dbgen(sf=...)` (the same dbgen the reference
vendors at extension/tpch/dbgen) to produce the genuine 8-table schema —
partsupp included — then exports each table as a single parquet file to
fixtures/tpch/sf<sf>/<table>.parquet.

Also writes the 22 query texts DuckDB's tpch extension ships
(`SELECT query FROM tpch_queries()`, the texts the reference keeps under
extension/tpch/dbgen/queries) byte for byte to
fixtures/tpch/queries/qNN.sql, with a sha256sum-format SHA256SUMS.

DECIMAL(15,2) money columns are exported as DOUBLE, matching the
driver-testdata convention (/root/testdata/sf*/lineitem.parquet stores
l_extendedprice etc. as DOUBLE): both engines then read identical
doubles and the gate's rel-1e-12 float tolerance absorbs summation-order
rounding. Dates stay DATE, keys BIGINT, text VARCHAR.

Usage: python3 scripts/stage_tpch.py [sf ...]   (default: 0.01 0.1)
"""
import hashlib
import os
import sys

import duckdb

TABLES = "region nation customer supplier part partsupp orders lineitem".split()


def stage_queries(root: str, table_fn: str = "tpch_queries",
                  name_fmt: str = "q{:02d}.sql") -> None:
    """Write each text of DuckDB's `table_fn()` to root/queries, plus
    SHA256SUMS (stage_tpcds.py reuses this for tpcds_queries())."""
    out = os.path.join(root, "queries")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    sums = []
    for n, text in con.execute(
            f"SELECT query_nr, query FROM {table_fn}() ORDER BY query_nr").fetchall():
        name = name_fmt.format(n)
        data = text.encode("utf-8")
        with open(os.path.join(out, name), "wb") as f:
            f.write(data)
        sums.append(f"{hashlib.sha256(data).hexdigest()}  {name}\n")
    con.close()
    with open(os.path.join(out, "SHA256SUMS"), "w") as f:
        f.writelines(sums)
    print(f"{len(sums)} query texts -> {out}")


def stage(sf: float, root: str) -> None:
    out = os.path.join(root, f"sf{sf}")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CALL dbgen(sf={sf})")
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


if __name__ == "__main__":
    sfs = [float(a) for a in sys.argv[1:]] or [0.01, 0.1]
    root = os.environ.get("GRAFT_TPCH_ROOT") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "tpch")
    stage_queries(root)
    for sf in sfs:
        stage(sf if sf != int(sf) else int(sf), root)
