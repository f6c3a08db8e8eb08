"""Skew mitigation operators (SURVEY.md §7.4 "100 TB posture").

AQE's skew-join splitting (on by default, session.py) handles sort-merge
join skew at runtime; these helpers cover the two shapes AQE can't:

* ``salted_join`` — hot-key equi-join where the BUILD side must replicate:
  the probe side appends a random salt in [0, salt); the build side
  explodes each row ``salt`` times (one per salt value); the join key
  becomes (key, salt). A key holding 10% of 100 TB now spreads over
  ``salt`` reducers instead of one.
* ``two_phase_agg`` — skewed groupBy: aggregate first on (key, salt) —
  map-side-combine-friendly, spreads the hot key — then re-aggregate on
  key. Works for any algebraic aggregate (sum/count/min/max).

The salt uses ``pmod(hash(unique_col), salt)`` rather than rand(): it is
deterministic per row, so retried tasks produce identical output (a
correctness requirement — rand() in a shuffle key breaks exactly-once
under task retry).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def with_salt(df: DataFrame, unique_col: str, salt: int) -> DataFrame:
    """Deterministic per-row salt in [0, salt)."""
    return df.withColumn("__skew_salt", F.pmod(F.hash(F.col(unique_col)), F.lit(salt)))


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    salt: int = 16,
    probe_unique_col: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to probe-side hot keys.

    ``build`` rows are replicated ``salt`` times (keep the build side the
    smaller input); ``probe`` rows get one deterministic salt each, derived
    from ``probe_unique_col`` (defaults to the key itself — pass a
    higher-cardinality column when the key is the hot one, which is the
    point)."""
    ucol = probe_unique_col or probe_key
    p = with_salt(probe, ucol, salt)
    b = build.withColumn("__skew_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = p.join(
        b,
        (p[probe_key] == b[build_key]) & (p["__skew_salt"] == b["__skew_salt"]),
        how,
    )
    return out.drop("__skew_salt")


def two_phase_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, Column]],
    salt: int = 16,
    unique_col: str | None = None,
) -> DataFrame:
    """Skew-spread groupBy: ``aggs`` maps output name -> (merge_fn_name,
    partial_agg_column); merge_fn is 'sum'/'min'/'max' applied to the
    per-salt partials. Example::

        two_phase_agg(li, "l_orderkey",
                      {"qty": ("sum", F.sum("l_quantity")),
                       "n":   ("sum", F.count(F.lit(1)))})
    """
    ucol = unique_col or key
    partial = (
        with_salt(df, ucol, salt)
        .groupBy(key, "__skew_salt")
        .agg(*[c.alias(f"__p_{name}") for name, (_, c) in aggs.items()])
    )
    merge = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
    }
    return partial.groupBy(key).agg(
        *[merge[fn](f"__p_{name}").alias(name) for name, (fn, _) in aggs.items()]
    )
