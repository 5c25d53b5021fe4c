"""Per-op output check against a DuckDB reference.

Canonicalization follows the engine's oracle-parity gate: lower-cased and
sorted column names, object columns as strings, integers as int64, floats
as float64, rows sorted by every column; floats then compare at an
absolute 5e-7 (both sides round to 6 decimals), everything else exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

FLOAT_ATOL = 5e-7


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out.columns = [c.lower() for c in out.columns]
    out = out[sorted(out.columns)]
    for c in out.columns:
        kind = str(out[c].dtype)
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif kind.startswith(("int", "uint", "Int")):
            out[c] = out[c].astype("int64")
        elif kind.startswith("float"):
            out[c] = out[c].astype("float64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when ``actual`` matches ``expected`` (already canonical), else
    a one-line reason."""
    a = canonicalize(actual)
    if list(a.columns) != list(expected.columns):
        return f"columns {list(a.columns)} != {list(expected.columns)}"
    if len(a) != len(expected):
        return f"row count {len(a)} != {len(expected)}"
    for c in a.columns:
        x, y = a[c], expected[c]
        if x.dtype == np.float64 and y.dtype == np.float64:
            xv, yv = x.to_numpy(), y.to_numpy()
            ok = np.isclose(xv, yv, rtol=0.0, atol=FLOAT_ATOL) | (
                np.isnan(xv) & np.isnan(yv)
            )
        else:
            ok = ((x == y) | (x.isna() & y.isna())).to_numpy()
        if not ok.all():
            return f"column {c}: {int((~ok).sum())} values differ"
    return None


def perturbed(expected: pd.DataFrame) -> pd.DataFrame:
    """A copy of a canonical frame with one value changed: the first
    numeric column's first row moves by 1, else the first cell gets a
    suffix. A comparator that accepts this is broken."""
    out = expected.copy()
    for c in out.columns:
        if out[c].dtype.kind in "if":
            out.loc[0, c] = out.loc[0, c] + 1
            return out
    c = out.columns[0]
    out.loc[0, c] = f"{out.loc[0, c]}~"
    return out
