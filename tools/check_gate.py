"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark AND its oracle_sql() on DuckDB
at sf0.01, sort columns by name, sort rows, compare values.

Usage: python tools/check_gate.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from metadata_quality_stack_spark import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == bool:
            df[c] = df[c].astype(int)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def dtype_drift(sp_raw: pd.DataFrame, dk_raw: pd.DataFrame) -> list:
    """Pre-normalization dtype drift between the two raw frames:
    [(col, spark_dtype, duckdb_dtype), ...]. datetime64 RESOLUTION
    ([ns] vs [us]) is exempt — a pandas artifact of the two fetch
    paths, not a difference either engine emits (same exemption the
    normalize() [us] coercion encodes)."""
    drifted = []
    for c in sorted(set(sp_raw.columns) & set(dk_raw.columns)):
        sd, dd = str(sp_raw[c].dtype), str(dk_raw[c].dtype)
        both_dt = sd.startswith("datetime64") and dd.startswith("datetime64")
        if sd != dd and not both_dt:
            drifted.append((c, sd, dd))
    return drifted


def main() -> int:
    only = set(sys.argv[1:])
    # no console progress bar: it would land in front of the result lines
    SparkSession.builder.master("local[8]").config(
        "spark.ui.showConsoleProgress", "false"
    ).getOrCreate()
    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sp_raw = fn(spark, SF_DIR).toPandas()
            sp = normalize(sp_raw)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only) — {len(sp)} rows")
            continue
        try:
            dk_raw = con.execute(oracles[name]).fetchdf()
            # pre-normalization dtype drift (e.g. DuckDB HUGEINT ->
            # float64/object) is a FAILURE, not a warning: the int64
            # coercion below would hide it, but the driver's value hash
            # sees the raw dtypes — a drift the replica tolerates is a
            # latent driver red (VERDICT r4 'What's wrong #3')
            drifted = dtype_drift(sp_raw, dk_raw)
            if drifted:
                for c, sd, dd in drifted:
                    print(
                        f"FAIL {name}: dtype drift col {c}: "
                        f"spark={sd} duckdb={dd}"
                    )
                failures.append(name)
                continue
            dk = normalize(dk_raw)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue
        if list(sp.columns) != list(dk.columns):
            print(f"FAIL {name}: columns {list(sp.columns)} vs {list(dk.columns)}")
            failures.append(name)
            continue
        if len(sp) != len(dk):
            print(f"FAIL {name}: rowcount {len(sp)} vs {len(dk)}")
            failures.append(name)
            continue
        bad_cols = []
        for c in sp.columns:
            a, b = sp[c], dk[c]
            if np.issubdtype(a.dtype, np.floating):
                eq = (a.fillna(-9e99) == b.fillna(-9e99)) | (
                    np.isclose(a.fillna(-9e99), b.fillna(-9e99), rtol=0, atol=0)
                )
            else:
                eq = a.fillna("<NA>").eq(b.fillna("<NA>")) if a.dtype == object else a.eq(b)
            if not eq.all():
                idx = (~eq).to_numpy().nonzero()[0][:3]
                bad_cols.append((c, [(int(i), a.iloc[i], b.iloc[i]) for i in idx]))
        if bad_cols:
            print(f"FAIL {name}: value mismatches:")
            for c, ex in bad_cols:
                print(f"   col {c}: {ex}")
            failures.append(name)
        else:
            print(f"OK   {name} ({len(sp)} rows)")
    spark.stop()
    print()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
