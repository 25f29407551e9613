"""Local replica of the driver's correctness gate: run every
__spark_entry__ query on Spark and its oracle on DuckDB at a given sf,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

# import the package from the tree this script lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pyrdf2vec_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(_norm(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows")
            continue
        # Fetch via pandas (.df()), NOT fetchall(): the driver's harness
        # goes through pandas, where DuckDB HUGEINT (e.g. sum(int))
        # coerces to float64 — fetchall() would hide that class of
        # mismatch (it bit us on events_sessionize in round 2).
        odf = con.sql(oracles[name]).df()
        ocols = list(odf.columns)
        orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        ok_cols = sorted(scols) == sorted(ocols)
        ok_n = len(srows) == len(orows)
        sh = value_hash(srows, scols)
        oh = value_hash(orows, ocols)
        status = "OK " if (ok_cols and ok_n and sh == oh) else "FAIL"
        print(
            f"{name:28s} {status} rows {len(srows)}/{len(orows)} "
            f"cols={'=' if ok_cols else f'{scols} vs {ocols}'} "
            f"hash={'=' if sh == oh else 'MISMATCH'}"
        )
        if status == "FAIL":
            failures.append(name)
            if sh != oh and ok_cols and ok_n:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                a = sorted("|".join(_norm(r[i]) for i in order) for r in srows)
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                b = sorted("|".join(_norm(r[i]) for i in oorder) for r in orows)
                for x, y in zip(a, b):
                    if x != y:
                        print(f"   spark:  {x[:160]}")
                        print(f"   duckdb: {y[:160]}")
                        break
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
