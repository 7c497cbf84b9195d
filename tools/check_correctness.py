"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01 (override with --sf-dir), compares row count, column names,
and order-insensitive values (columns sorted by name, then rows sorted).
Spark runs on local[cpu_count] with as many shuffle partitions, unless
SPARK_GRAFT_CPUS says otherwise.

Usage: python tools/check_correctness.py [names...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = "/root/testdata/sf0.01"
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    for a in sys.argv[1:]:
        if a.startswith("--sf-dir="):
            sf_dir = a.split("=", 1)[1]

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("check_correctness")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args or list(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            mine = qs[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(mine)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            ref = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        a, b = normalize(mine), normalize(ref)
        status, detail = "OK", ""
        if list(a.columns) != list(b.columns):
            status, detail = "FAIL", f"columns {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            status, detail = "FAIL", f"rows {len(a)} vs {len(b)}"
        elif not a.equals(b):
            status = "FAIL"
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                detail = f"first diff row {i}: mine={a.loc[i].to_dict()} ref={b.loc[i].to_dict()}"
            else:
                detail = (
                    "values equal, dtypes differ: "
                    f"mine={dict(a.dtypes.astype(str))} ref={dict(b.dtypes.astype(str))}"
                )
        if status == "FAIL":
            failures.append(name)
        print(f"{status} {name}: {len(a)} rows ({time.time()-t0:.1f}s) {detail}")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
