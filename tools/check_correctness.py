"""Local stand-in for the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
on DuckDB at the given SF, then compares row count, column names, and
order-insensitive values (exact match after canonicalization).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

# import the tree this tool lives in, wherever it is checked out
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def canon_cell(v):
    import datetime
    from decimal import Decimal

    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_cell(x) for x in v)
    return v


def canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return sorted(cols), out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from wren_engine_spark.session import get_spark

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {dt:.1f}s)")
            if len(srows) == 0 and name not in ("x-empty-ok",):
                print(f"     WARNING: 0 rows from {name}")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        sc, sr = canon_rows(scols, srows)
        dc, dr = canon_rows(dcols, drows)
        if sc != dc:
            print(f"FAIL {name}: columns differ spark={sc} duck={dc}")
            failures.append(name)
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duck={len(dr)}")
            failures.append(name)
            continue
        if sr != dr:
            bad = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs: {bad}")
            failures.append(name)
            continue
        print(f"PASS {name} ({len(sr)} rows, {dt:.1f}s)")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
