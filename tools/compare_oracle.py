"""Local replica of the driver's correctness gate: run each
queries() entry and its oracle_sql() side-by-side, compare row count,
column names, and an order-insensitive value hash."""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(
            lambda v: repr(sorted(v)) if isinstance(v, (list, set)) else repr(v)
        )
    rows = sorted(df.apply(lambda r: "|".join(r.astype(str)), axis=1).tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main(sf_dir: str, only: list[str] | None = None) -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from osm_wayback_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name:24s} SPARK-ERROR {str(e)[:2000]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(sdf)} rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"{name:24s} ORACLE-ERROR {str(e)[:2000]}")
            failures += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:24s} {status} rows={len(sdf)}/{len(odf)} "
            f"cols={'ok' if ok_cols else f'{sorted(sdf.columns)} vs {sorted(odf.columns)}'} "
            f"hash={'ok' if ok_hash else 'MISMATCH'}"
        )
        if not ok_hash and ok_rows and ok_cols and len(sdf) > 0:
            s = sdf[sorted(sdf.columns)].astype(str).sort_values(list(sorted(sdf.columns))).reset_index(drop=True)
            o = odf[sorted(odf.columns)].astype(str).sort_values(list(sorted(odf.columns))).reset_index(drop=True)
            neq = (s != o).any(axis=1)
            if neq.any():
                i = neq.idxmax()
                print("  spark :", s.iloc[i].to_dict())
                print("  oracle:", o.iloc[i].to_dict())
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    raise SystemExit(main(sf, only))
