#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every
queries() entry through Spark AND its oracle_sql() through DuckDB at
the given sf dir, compare row count, column names, and
order-insensitive values. Exit non-zero on any mismatch."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def canon_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


# The driver's value hash is TYPE-SENSITIVE (r03: DuckDB sum(BIGINT)
# → HUGEINT hash-failed against Spark's BIGINT even with identical
# values), so the local gate must compare result dtypes too, mapped to
# a canonical family so only real engine-type divergence trips it.

def canon_spark_type(s: str) -> str:
    """Spark simpleString → canonical family."""
    m = {"bigint": "int64", "int": "int32", "smallint": "int16",
         "tinyint": "int8", "double": "double", "float": "float",
         "string": "string", "boolean": "boolean", "date": "date",
         "binary": "binary"}
    if s in m:
        return m[s]
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("decimal"):
        return s.replace(" ", "")
    if s.startswith("array<") and s.endswith(">"):
        return f"array<{canon_spark_type(s[6:-1])}>"
    return s


def canon_duck_type(s: str) -> str:
    """DuckDB DESCRIBE type → canonical family (HUGEINT maps to its
    own family: it can never silently pass against int64)."""
    s = s.strip()
    if s.endswith("[]"):
        return f"array<{canon_duck_type(s[:-2])}>"
    m = {"BIGINT": "int64", "INTEGER": "int32", "SMALLINT": "int16",
         "TINYINT": "int8", "UBIGINT": "uint64", "UINTEGER": "uint32",
         "HUGEINT": "hugeint", "DOUBLE": "double", "FLOAT": "float",
         "VARCHAR": "string", "BOOLEAN": "boolean", "DATE": "date",
         "BLOB": "binary"}
    if s in m:
        return m[s]
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    if s.startswith("DECIMAL"):
        return s.lower().replace(" ", "")
    return s.lower()


def dtype_mismatches(sdf, con, sql):
    spark_types = {f.name: canon_spark_type(f.dataType.simpleString())
                   for f in sdf.schema.fields}
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    duck_types = {r[0]: canon_duck_type(r[1]) for r in desc}
    return [(c, spark_types.get(c), duck_types.get(c))
            for c in duck_types
            if c in spark_types and spark_types[c] != duck_types[c]]


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master("local[8]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs = entrymod.queries()
    if ONLY:
        unknown = sorted(ONLY - qs.keys())
        if unknown:
            print(f"FAIL no such queries: {', '.join(unknown)}")
            return 1
        qs = {name: fn for name, fn in qs.items() if name in ONLY}
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            if len(srows) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failed.append(name)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(dcols)}")
            failed.append(name)
            continue
        try:
            bad = dtype_mismatches(sdf, con, oracles[name])
        except Exception as exc:
            bad = []
            print(f"WARN {name}: dtype describe failed: {exc}")
        if bad:
            print(f"FAIL {name}: dtype mismatch (col, spark, duckdb): {bad}")
            failed.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(drows)}")
            failed.append(name)
            continue
        a = canon_rows(scols, srows)
        b = canon_rows(dcols, drows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            failed.append(name)
            continue
        print(f"ok   {name}: {len(srows)} rows, values match")
    print(f"\n{len(qs) - len(failed)}/{len(qs)} queries pass")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
