"""Shared harness replicating the driver's correctness gate: run each
engine query and its DuckDB oracle at a given sf dir, compare row count,
schema shape, and order-insensitive values."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(float)
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare_query(spark, sf_dir: str, name: str) -> tuple[bool, str]:
    """Row count, column set, pandas dtype kinds and order-insensitive
    values of the query against its oracle. Kinds must match, as the
    correctness gate's value hash is dtype-sensitive (a DuckDB HUGEINT
    landing as float64 against Spark int64 fails there even with equal
    values); only integer widths and signedness may differ. A query
    that reads the absent GDAL autotest tree raises FixtureMissing."""
    import __spark_entry__ as entry
    sdf = entry.queries()[name](spark, sf_dir).toPandas()
    con = duck_con(sf_dir)
    try:
        odf = con.execute(entry.oracle_sql()[name]).df()
    finally:
        con.close()
    if len(sdf) != len(odf):
        return False, f"{name}: row count {len(sdf)} vs oracle {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"{name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    for c in sorted(sdf.columns):
        a, b = sdf[c].dtype, odf[c].dtype
        if a.kind != b.kind and not (a.kind in "iu" and b.kind in "iu"):
            return False, f"{name}: dtype of {c} {a} vs oracle {b}"
    a, b = normalize(sdf), normalize(odf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            am, bm = np.isnan(av.astype(float)), np.isnan(bv.astype(float))
            if not (am == bm).all():
                return False, f"{name}: NaN mask mismatch in {c}"
            if not (av[~am] == bv[~bm]).all():
                mx = np.abs(av[~am] - bv[~bm]).max()
                return False, f"{name}: float mismatch in {c} (max abs diff {mx})"
        else:
            if not (pd.Series(av).fillna("@") == pd.Series(bv).fillna("@")).all():
                return False, f"{name}: value mismatch in {c}"
    return True, f"{name}: OK ({len(sdf)} rows)"
