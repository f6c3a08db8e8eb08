"""Parity harness: replicate the driver's correctness compare locally.

The driver sorts result columns by name, then computes an order-insensitive
value hash over rows. We mimic that as strictly as possible — exact value
equality after canonicalization (floats compared bit-exact, timestamps at
microsecond precision) — so any flakiness shows up here before the driver
sees it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math

import pandas as pd


def canon_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", repr(v))
    if isinstance(v, (int,)):
        return ("i", int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        ts = pd.Timestamp(v)
        return ("t", ts.isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("a", tuple(canon_cell(x) for x in v))
    if hasattr(v, "tolist"):  # numpy scalars / arrays
        return canon_cell(v.tolist())
    return ("s", str(v))


def digest(rows) -> str:
    """sha256 of the canonical JSON of the sorted rows (``json.dumps``
    writes floats with ``repr``, so every double is pinned to the last
    bit). The golden pins of the LLM kernels and the change feed share
    it."""
    canon = json.dumps(sorted(rows), separators=(",", ":"))
    return hashlib.sha256(canon.encode()).hexdigest()


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(canon_cell(v) for v in row))
    out.sort()
    return out


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> list[str]:
    """Return a list of human-readable mismatch descriptions (empty = match)."""
    problems: list[str] = []
    scols, ocols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if scols != ocols:
        problems.append(f"{name}: column mismatch spark={scols} oracle={ocols}")
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"{name}: row count spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    srows, orows = canon_rows(spark_pdf), canon_rows(oracle_pdf)
    if srows != orows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
        ][:3]
        oset, sset = set(orows), set(srows)
        only_s = [r for r in srows if r not in oset][:2]
        only_o = [r for r in orows if r not in sset][:2]
        problems.append(
            f"{name}: value mismatch; first row-diffs={diffs}; "
            f"spark-only={only_s}; oracle-only={only_o}; cols={scols}"
        )
    return problems


def run_pair(spark, duck_con, qobj, sf_dir: str) -> list[str]:
    sdf = qobj.fn(spark, sf_dir)
    spdf = sdf.toPandas()
    if qobj.oracle is None:
        return [] if len(spdf) >= 0 else [f"{qobj.name}: spark query failed"]
    opdf = duck_con.sql(qobj.oracle).df()
    return compare_frames(spdf, opdf, qobj.name)
