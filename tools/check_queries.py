"""Local replica of the driver's correctness compare.

Runs every ``queries()`` entry on Spark at sf0.01, the matching
``oracle_sql()`` in DuckDB over the same parquet, and compares
row count + column names + order-insensitive values (exact, cell by
cell after sorting on all columns). Stricter than a hash: if this
passes, any order-insensitive value hash passes.

Usage: python tools/check_queries.py [name_filter ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

import os

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connect(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exact doubles required
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def compare(spark_rows, duck_rows, cols):
    a = sorted([tuple(norm_cell(c) for c in r) for r in spark_rows])
    b = sorted([tuple(norm_cell(c) for c in r) for r in duck_rows])
    if a == b:
        return True, ""
    # first diff for debugging
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return False, f"first diff at sorted row {i}:\n  spark={x}\n  duck ={y}"
    return False, f"row sets differ in length only: spark={len(a)} duck={len(b)}"


def main(filters: list[str]) -> int:
    from pyspark.sql import SparkSession

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_connect()

    names = [n for n in qs if not filters or any(f in n for f in filters)]
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            # fetch via Arrow, not fetchall(): fetchall() collapses DuckDB's
            # HUGEINT into plain int, hiding dtype drift the driver's value
            # hash catches (r4: windowed sum -> HUGEINT -> Decimal cells)
            tbl = con.execute(oracles[name]).arrow()
            dcols = tbl.column_names
            drows = [
                tuple(d[c] for c in dcols) for d in tbl.to_pylist()
            ]
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: cols spark={scols} duck={dcols}")
            n_fail += 1
            continue
        # driver sorts columns by name before hashing — do the same
        sidx = [scols.index(c) for c in sorted(scols)]
        didx = [dcols.index(c) for c in sorted(dcols)]
        ok, msg = compare(
            [tuple(r[i] for i in sidx) for r in srows],
            [tuple(r[i] for i in didx) for r in drows],
            sorted(scols),
        )
        if ok:
            print(f"PASS  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL  {name}: {msg}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
