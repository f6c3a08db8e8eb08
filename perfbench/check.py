"""Order-insensitive comparison of result frames: both sides become
sorted lists of canonical rows, which must be equal."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import pandas as pd


def _cell(v):
    if v is None or v is pd.NaT:
        return ("null",)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("null",)
        # 3 and 3.0 compare equal: a nullable integer column surfaces as
        # float64 on one engine and int64 on the other
        return ("n", int(v)) if v.is_integer() else ("f", repr(v))
    if isinstance(v, int):
        return ("n", int(v))
    if isinstance(v, (pd.Timestamp, dt.date)):
        # DuckDB hands DATE columns to pandas as midnight timestamps
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, (list, tuple)):
        return ("a", tuple(_cell(x) for x in v))
    if hasattr(v, "tolist"):
        return _cell(v.tolist())
    return ("s", str(v))


def canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(
        tuple(_cell(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )


def compare(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{what}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    g, w = canon(got), canon(want)
    if g == w:
        return []
    gs, ws = set(g), set(w)
    return [f"{what}: {len(g)} rows, expected {len(w)}; "
            f"unexpected {[r for r in g if r not in ws][:2]}; "
            f"missing {[r for r in w if r not in gs][:2]}"]
