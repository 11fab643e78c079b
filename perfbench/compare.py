"""Order-insensitive frame comparison for output checks.

The same rules as the repository's differential tests: columns compared
by name, rows sorted after normalizing dates, timestamps, arrays and
numeric dtypes; floats exact unless a relative tolerance is given, and
an int column never equals a float column.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
            if (s.dropna().dt.time == dt.time(0)).all():
                df[c] = s.dt.strftime("%Y-%m-%d")
            else:
                df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: v.strftime("%Y-%m-%d %H:%M:%S.%f")
                if isinstance(v, dt.datetime)
                else v.strftime("%Y-%m-%d") if isinstance(v, dt.date)
                else tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame,
             float_rtol: float = 0.0) -> str | None:
    """None when the frames hold the same rows, else what differs."""
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            if (av.dtype.kind in "iu") != (bv.dtype.kind in "iu"):
                return f"column {c}: dtype {av.dtype} != {bv.dtype}"
            av, bv = av.astype("float64"), bv.astype("float64")
            both_nan = np.isnan(av) & np.isnan(bv)
            if float_rtol:
                eq = np.isclose(av, bv, rtol=float_rtol, atol=1e-9) | both_nan
            else:
                eq = (av == bv) | both_nan
        else:
            an, bn = pd.isna(a[c]).to_numpy(), pd.isna(b[c]).to_numpy()
            eq = ((av == bv) & ~an & ~bn) | (an & bn)
        if not bool(np.all(eq)):
            i = int(np.flatnonzero(~eq)[0])
            return (f"column {c}: {int((~eq).sum())} of {len(a)} rows differ,"
                    f" first {a[c].iloc[i]!r} != {b[c].iloc[i]!r}")
    return None
