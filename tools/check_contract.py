"""Local replica of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry at sf0.01 and compares
against ``oracle_sql()`` via DuckDB: row count, schema (column names),
and an order-insensitive value hash (columns sorted by name, rows
sorted, values stringified with float rounding).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

# this checkout, wherever it lives, not another one on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df_pdf):
    cols = sorted(df_pdf.columns)
    pdf = df_pdf[cols].copy()
    import numpy as np
    import pandas as pd

    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        try:
            import decimal
            if isinstance(v, decimal.Decimal):
                return f"{float(v):.6f}"
        except Exception:
            pass
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    rows = sorted("|".join(cell(v) for v in row)
                  for row in pdf.itertuples(index=False, name=None))
    return cols, hashlib.md5("\n".join(rows).encode()).hexdigest(), rows


def main(sf_dir="/root/testdata/sf0.01", only=None):
    import __spark_entry__ as entrymod
    from lexmapr_spark.engine import build_spark

    spark = build_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = f"SPARK-ERROR {type(e).__name__}: {str(e)[:200]}"
            continue
        dt = time.time() - t0
        if name not in oracles:
            results[name] = f"rows-only: {len(spark_pdf)} rows ({dt:.1f}s)"
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = f"DUCK-ERROR {type(e).__name__}: {str(e)[:200]}"
            continue
        s_cols, s_hash, s_rows = normalize(spark_pdf)
        d_cols, d_hash, d_rows = normalize(duck_pdf)
        if s_cols != d_cols:
            results[name] = f"SCHEMA-MISMATCH spark={s_cols} duck={d_cols}"
        elif len(s_rows) != len(d_rows):
            results[name] = (f"ROWCOUNT-MISMATCH spark={len(s_rows)} "
                             f"duck={len(d_rows)}")
        elif s_hash != d_hash:
            diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            results[name] = f"VALUE-MISMATCH first diffs: {diff}"
        else:
            results[name] = f"OK: {len(s_rows)} rows match ({dt:.1f}s)"

    if not results:
        print("no queries matched the filter")
        spark.stop()
        return {}
    width = max(len(n) for n in results)
    ok = sum(1 for v in results.values() if v.startswith(("OK", "rows-only")))
    for name, verdict in results.items():
        print(f"{name:<{width}}  {verdict}")
    print(f"\n{ok}/{len(results)} pass")
    spark.stop()
    return results


if __name__ == "__main__":
    only = set(sys.argv[1:]) or None
    main(only=only)
