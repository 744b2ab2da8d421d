"""Result checks against DuckDB, with the comparator of the repo's
correctness gate (tools/check_oracle.py): equal row count, equal column
names and dtypes, and equal values after sorting columns by name and
rows by value. Kept here so the benchmark does not depend on a tool
script's import path."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v
            ).astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when equal, else a one-line reason."""
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = normalize(got), normalize(want)
    gd, wd = dict(g.dtypes.astype(str)), dict(w.dtypes.astype(str))
    if gd != wd:
        return f"dtypes {gd} != {wd}"
    if not g.equals(w):
        return "values differ"
    return ""


def duckdb_over(table_dir: str, names: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con
