"""Local stand-in for the driver's correctness harness: runs every
queries() entry at sf0.01 against its oracle_sql() DuckDB twin and compares
row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb

# this checkout's code, not whichever copy is installed or on PYTHONPATH
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod  # noqa: E402
from graph_rag_agent_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows, cols):
    cols_sorted = sorted(cols)
    lines = []
    for row in rows:
        d = dict(zip(cols, row))
        lines.append("|".join(_norm(d[c]) for c in cols_sorted))
    lines.sort()
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"{name}: SPARK ERROR {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({len(rows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {str(e)[:200]}")
            failures += 1
            continue
        ok_count = len(rows) == len(orows)
        ok_cols = sorted(cols) == sorted(ocols)
        ok_hash = ok_cols and value_hash(rows, cols) == value_hash(orows, ocols)
        status = "OK" if (ok_count and ok_cols and ok_hash) else "MISMATCH"
        if status != "OK":
            failures += 1
            print(f"{name}: {status} rows={len(rows)}/{len(orows)} cols={ok_cols} hash={ok_hash}")
            if ok_cols and rows and orows:
                s1 = {tuple(_norm(x) for x in r) for r in rows}
                s2 = {tuple(_norm(x) for x in r) for r in orows}
                print("  spark-only:", list(s1 - s2)[:2])
                print("  oracle-only:", list(s2 - s1)[:2])
        else:
            print(f"{name}: OK ({len(rows)} rows)")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
