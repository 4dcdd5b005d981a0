"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
at sf0.01, compare row count + order-insensitive values.

Usage: python scripts/check_oracles.py [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

# import the checkout this script lives in: a second copy of the repo
# checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    only = set(sys.argv[1:])
    known = set(entrymod.queries())
    unknown = only - known
    if unknown:
        # a typo'd or renamed query name must not produce a green
        # gate that verified nothing
        print(f"UNKNOWN query names: {sorted(unknown)}")
        return 2

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(got)} rows)")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        g, e_ = normalize(got), normalize(exp)
        if len(g) != len(e_):
            print(f"FAIL {name}: rows {len(g)} vs {len(e_)}")
            failed.append(name)
        elif list(g.columns) != list(e_.columns):
            print(f"FAIL {name}: cols {list(g.columns)} vs "
                  f"{list(e_.columns)}")
            failed.append(name)
        elif not g.equals(e_):
            diff = (g != e_).any(axis=1)
            print(f"FAIL {name}: {int(diff.sum())} differing rows; first:")
            print(pd.concat([g[diff].head(2), e_[diff].head(2)]))
            failed.append(name)
        else:
            print(f"OK   {name}: {len(g)} rows")
    print("FAILED:" if failed else "ALL OK", failed or "")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
