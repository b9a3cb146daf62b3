"""Local replica of the driver's correctness gate: run every queries() entry
and its oracle_sql() twin on DuckDB, compare row count + sorted values."""

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

# check the checkout this script lives in, wherever it is run from — in
# the driver and in the Python workers, which import xagg_spark too
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(sdf: pd.DataFrame, ddf: pd.DataFrame) -> str:
    if len(sdf) != len(ddf):
        return f"ROWCOUNT {len(sdf)} vs {len(ddf)}"
    a, b = canon(sdf), canon(ddf)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            af = av.astype(float); bf = bv.astype(float)
            nan_ok = np.isnan(af) == np.isnan(bf)
            m = ~np.isnan(af)
            if not nan_ok.all() or not np.allclose(af[m], bf[m], rtol=0, atol=1e-9):
                bad = np.where(~np.isclose(af, bf, rtol=0, atol=1e-9, equal_nan=True))[0][:3]
                return f"VALUES col={c} rows={bad.tolist()} {af[bad]} vs {bf[bad]}"
        else:
            if not (av.astype(str) == bv.astype(str)).all():
                bad = np.where(av.astype(str) != bv.astype(str))[0][:3]
                return f"VALUES col={c} rows={bad.tolist()} {av[bad]} vs {bv[bad]}"
    return "OK"


def main(sf_dir="/root/testdata/sf0.01", only=None):
    import __spark_entry__ as entrymod
    from xagg_spark.options import set_options
    from xagg_spark.session import get_spark
    set_options(silent=True)
    spark = get_spark("contract", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name:32s} SPARK-ERROR {type(e).__name__}: {str(e)[:150]}")
            failures.append(name)
            continue
        if name in osql:
            try:
                ddf = con.sql(osql[name]).df()
            except Exception as e:
                print(f"{name:32s} ORACLE-ERROR {type(e).__name__}: {str(e)[:150]}")
                failures.append(name)
                continue
            verdict = compare(sdf, ddf)
        else:
            verdict = f"rows-only ({len(sdf)} rows)" if len(sdf) > 0 else "ROWS-ONLY EMPTY"
        dt = time.time() - t0
        print(f"{name:32s} {verdict}  [{dt:.1f}s, {len(sdf)} rows]")
        if verdict not in ("OK",) and not verdict.startswith("rows-only"):
            failures.append(name)
    # entry smoke
    try:
        e = entrymod.entry(spark).toPandas()
        print(f"{'entry':32s} {'OK' if len(e) > 0 else 'EMPTY'}  [{len(e)} rows]")
    except Exception as ex:
        print(f"{'entry':32s} ENTRY-ERROR {type(ex).__name__}: {str(ex)[:150]}")
        failures.append("entry")
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    # usage: check_contract.py [sf_dir] [query ...] — the first arg is a
    # data dir when it exists on disk, else a query-name filter
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if args and ("/" in args[0] or os.path.isdir(args[0])):
        sf, args = args[0], args[1:]
    sys.exit(main(sf_dir=sf, only=set(args) or None))
