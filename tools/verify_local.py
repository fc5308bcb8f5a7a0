"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark and (when an oracle exists) the
DuckDB SQL on the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value comparison. Stricter than
the driver is likely to be: exact equality after canonical
stringification (floats via repr of float64, NaN/None normalized).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_io_delta_spark.registry import all_queries  # noqa: E402
from pulsar_io_delta_spark.session import get_spark  # noqa: E402
from pulsar_io_delta_spark.tables import TABLE_NAMES  # noqa: E402


def canon_cell(v) -> str:
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, (pd.Timestamp, __import__("datetime").datetime)):
        s = str(v)
        return s[:10] if s.endswith(" 00:00:00") else s
    if isinstance(v, __import__("datetime").date):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_df(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame({c: [canon_cell(v) for v in df[c]] for c in df.columns})
    return out.sort_values(list(out.columns), ignore_index=True) if len(out) else out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    specs = all_queries()
    if only:
        specs = {k: v for k, v in specs.items() if k in only}

    if os.environ.get("VERIFY_PLAIN_SESSION"):
        # simulate the external driver: default confs, no UTC pin —
        # queries must self-pin everything they rely on
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="verify-local")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, spec in sorted(specs.items()):
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if spec.oracle is None:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"     WARNING: {name} returned 0 rows")
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(sdf)} duckdb={len(odf)}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(name)
            print(f"FAIL {name}: cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
            continue
        a, b = canon_df(sdf), canon_df(odf)
        if not a.equals(b):
            failures.append(name)
            diff_mask = (a != b).any(axis=1)
            print(f"FAIL {name}: {int(diff_mask.sum())}/{len(a)} rows differ; first diffs:")
            merged = pd.concat(
                [a[diff_mask].head(3).add_prefix("s_"), b[diff_mask].head(3).add_prefix("d_")],
                axis=1,
            )
            print(merged.to_string())
            continue
        print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(specs) - len(failures)}/{len(specs)} ok; failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
