"""Driver-compatibility sweep: catch the comparison-layer mismatches the
local value-compare harness can't see.

The external driver compares Spark vs DuckDB through PANDAS frames, so
three classes of defect pass tools/check_correctness.py (python-object
compare) yet fail the driver:

  1. DuckDB HUGEINT/UHUGEINT outputs (un-cast SUMs) -> pandas float64
     while Spark yields int64 -> value-hash mismatch.
  2. Array/map/struct-typed output columns -> pandas canonicalizer
     throws `unhashable type: 'list'` (driver ERR).
  3. Column-name mismatches between the two sides -> schema FAIL.

This sweep runs every registered query ONCE at the given SF, every
oracle as LIMIT-0 against DuckDB (type inference only — cheap), and
reports per-query: Spark complex-typed columns, DuckDB HUGEINT/DECIMAL
columns whose Spark twin is integral, and name set differences.

Usage: python tools/check_driver_compat.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

# import the tree this tool lives in, wherever it is checked out
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

_COMPLEX_PREFIXES = ("array", "map", "struct")


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import duckdb

    import __spark_entry__ as entry
    from wren_engine_spark.session import get_spark

    spark = get_spark("driver-compat-sweep")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    queries, oracles = entry.queries(), entry.oracle_sql()
    bad = 0
    for name, fn in queries.items():
        problems = []
        try:
            df = fn(spark, sf)
            spark_types = dict(df.dtypes)
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: spark build failed: {e}")
            bad += 1
            continue
        for col, typ in spark_types.items():
            if typ.startswith(_COMPLEX_PREFIXES):
                problems.append(f"complex spark output column {col}:{typ}")
        if name in oracles:
            try:
                rel = con.sql(f"SELECT * FROM ({oracles[name]}) LIMIT 0")
                duck_types = dict(zip(rel.columns, [str(t) for t in rel.types]))
            except Exception as e:  # noqa: BLE001
                print(f"ERR  {name}: oracle does not parse: {e}")
                bad += 1
                continue
            if set(duck_types) != set(spark_types):
                problems.append(
                    f"column-name mismatch: spark-only "
                    f"{sorted(set(spark_types) - set(duck_types))}, oracle-only "
                    f"{sorted(set(duck_types) - set(spark_types))}"
                )
            for col, dt in duck_types.items():
                st = spark_types.get(col, "")
                if dt in ("HUGEINT", "UHUGEINT") and st in (
                    "tinyint", "smallint", "int", "bigint",
                ):
                    problems.append(
                        f"{col}: DuckDB {dt} (pandas float64) vs Spark {st} -> "
                        f"CAST the oracle aggregate to BIGINT"
                    )
                if dt.startswith("DECIMAL") and st == "double":
                    problems.append(
                        f"{col}: DuckDB {dt} vs Spark double -> CAST oracle to DOUBLE"
                    )
                if dt.endswith("[]"):
                    problems.append(f"{col}: DuckDB list type {dt} (unhashable in pandas)")
        if problems:
            bad += 1
            print(f"FLAG {name}")
            for p in problems:
                print(f"     - {p}")
        else:
            print(f"ok   {name}")
    print()
    print("all driver-compatible" if bad == 0 else f"{bad} queries flagged")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
