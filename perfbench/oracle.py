"""Result checks: DuckDB views over generated inputs, and an
order-insensitive comparison of a result against its oracle."""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name -> parquet path``
    (a file, a directory of part files, or a list of either)."""
    con = duckdb.connect()
    for name, paths in views.items():
        paths = [paths] if isinstance(paths, str) else paths
        files = [f"{p}/*.parquet" if os.path.isdir(p) else p for p in paths]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet({files!r})")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            if getattr(col.dt, "tz", None) is not None:
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = col.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype("int64")
        elif pd.api.types.is_numeric_dtype(col):
            df[c] = col.astype("float64")
        else:
            df[c] = col.map(lambda v: None if v is None else str(v))
    cols = sorted(df.columns)
    return (df[cols].sort_values(by=cols, na_position="last")
            .reset_index(drop=True))


def compare(got: pd.DataFrame, want: pd.DataFrame,
            float_tol: float = 1e-6) -> list[str]:
    """Mismatch descriptions; empty when ``got`` equals ``want`` as a
    multiset of rows (floats within ``float_tol``)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    g, w = _normalize(got), _normalize(want)
    issues = []
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            ok = ((a - b).abs() <= float_tol) | (a.isna() & b.isna())
        else:
            ok = (a == b) | (a.isna() & b.isna())
        if not ok.all():
            i = int((~ok).to_numpy().argmax())
            issues.append(f"column {c!r}: {int((~ok).sum())} mismatches, "
                          f"first got={a[i]!r} want={b[i]!r}")
    return issues
