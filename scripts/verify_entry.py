"""Local replica of the driver's correctness gate: run every queries()
entry at sf0.01, and where an oracle_sql() entry exists compare against
DuckDB (row count + column names + order-insensitive value comparison)."""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(val):
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return f"{val:.9g}"
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(canon(v) for v in val) + "]"
    return str(val)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "|".join(canon(r[i]) for i in order) for r in rows
    )


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify-entry")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only, {len(rows)} rows, cols={cols}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        problems = []
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} != {sorted(ocols)}")
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        if not problems:
            a, b = rowset(cols, rows), rowset(ocols, orows)
            if a != b:
                diff = [
                    (x, y) for x, y in zip(a, b) if x != y
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"MATCH {name}: {len(rows)} rows")

    # entry() smoke
    try:
        edges = entry_mod.entry(spark)
        n = edges.count()
        print(f"entry(): {n} edge rows, schema={edges.columns}")
    except Exception as e:  # noqa: BLE001
        failures.append(("entry", str(e)))
        print(f"FAIL  entry(): {e}")

    print("FAILURES:", len(failures))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
