"""Output checks: compare a Spark result with its DuckDB counterpart.

Rows are compared as multisets: both frames are normalised (columns by
name, rows sorted by every column, one dtype per kind) and must have the
same shape and values. Floats may differ by 1e-4 absolute or 1e-9
relative: summation order differs between the engines, and DuckDB and
Spark round a ``round(x, 4)`` tie on opposite sides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _canon(v) -> str:
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for col in sorted(pdf.columns):
        s = pdf[col]
        if pd.api.types.is_bool_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("float64") if s.isna().any() else s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        else:
            s = s.map(lambda v: None if v is None else _canon(v))
        out[col] = s.reset_index(drop=True)
    ndf = pd.DataFrame(out)
    if len(ndf.columns):
        ndf = ndf.sort_values(by=list(ndf.columns), kind="mergesort")
    return ndf.reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else a reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for col in a.columns:
        x, y = a[col], b[col]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            ok = np.isclose(x.to_numpy(), y.to_numpy(), rtol=1e-9, atol=1e-4, equal_nan=True)
        else:
            ok = (x.isna() & y.isna()) | (x == y)
        if not bool(np.all(ok)):
            i = int(np.argmin(ok))
            return f"column {col} row {i}: {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None
