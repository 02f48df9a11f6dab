"""Local differential harness: run every registered query on Spark AND
its DuckDB oracle, compare row count, column names, and values
(order-insensitive, exact) — a stricter local mirror of the driver's
CORRECTNESS gate. Usage:

    python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tp_integ_data_pipeline_spark import plans
from tp_integ_data_pipeline_spark.session import get_session
from tp_integ_data_pipeline_spark.sources.fixtures import FIXTURE_TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    import datetime

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        # Spark DateType arrives as object(datetime.date); DuckDB DATE as
        # datetime64 — at Arrow level both are date32, so align here.
        if s.dtype == object and s.map(lambda v: v is None or isinstance(v, datetime.date)).all():
            if s.notna().any():
                df[c] = pd.to_datetime(s)
                s = df[c]
        if "datetime" in str(s.dtype):
            df[c] = s.map(lambda v: "∅" if pd.isna(v) else v.isoformat())
        elif s.dtype == object:
            df[c] = s.map(lambda v: "∅" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_session("oracle-check")
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in sorted(plans.QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:500]}")
            continue
        oracle = plans.ORACLES.get(name)
        if oracle is None:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracle).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:500]}")
            continue
        s, o = normalize(sdf), normalize(odf)
        if list(s.columns) != list(o.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(s.columns)} vs {list(o.columns)}")
            continue
        if len(s) != len(o):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(s)} vs {len(o)}")
            continue
        if not s.equals(o):
            neq = (s != o) & ~(s.isna() & o.isna())
            bad_cols = [c for c in s.columns if neq[c].any()]
            failures.append(name)
            print(f"FAIL  {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:2]:
                idx = neq[c].idxmax()
                print(f"      {c}[{idx}]: spark={s[c][idx]!r} oracle={o[c][idx]!r}")
            continue
        print(f"OK    {name}: {len(s)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
