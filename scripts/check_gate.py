"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__ query at sf0.01 on Spark AND its DuckDB
oracle, then compares row count, column names, and order-insensitive
values (exact for ints/strings, bit-exact for doubles by design).
A column that is float on one side and integer on the other fails.

Usage: python scripts/check_gate.py [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

import __spark_entry__ as E  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .appName("check_gate")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    queries = E.queries()
    oracles = E.oracle_sql()
    only = set(sys.argv[1:])
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, {el:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failures += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures += 1
            continue
        # type-strict: a float column never matches
        # an integer one, even when every value compares equal
        mixed = [
            c for c in a.columns
            if {a[c].dtype.kind, b[c].dtype.kind} in ({"f", "i"}, {"f", "u"})
        ]
        if mixed:
            c = mixed[0]
            print(
                f"FAIL {name}: col {c} dtype spark={a[c].dtype} "
                f"oracle={b[c].dtype}"
            )
            failures += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failures += 1
            continue
        bad = None
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
            else:
                eq = av == bv
            if not bool(np.all(eq)):
                i = int(np.argmin(eq))
                bad = (c, i, av[i], bv[i])
                break
        if bad:
            c, i, x, y = bad
            print(f"FAIL {name}: col {c} row {i}: spark={x!r} oracle={y!r}")
            failures += 1
        else:
            print(f"OK   {name}: {len(a)} rows ({el:.1f}s)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
