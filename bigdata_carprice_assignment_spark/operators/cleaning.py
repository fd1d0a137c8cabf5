"""Cleaning / projection operators (SURVEY.md §2.2 P1-P13, §2.6 F6-F10).

Reference: the clean→impute→cap→feature phases of BigDataProject.R:51-130.
All operators are lazy narrow transformations (single projection each) so
Catalyst fuses the whole chain into one WholeStageCodegen stage — the
reference materializes a full new table per step.

Scale posture: imputation statistics (median/mode per column) are one
aggregation pass producing k scalars — never a per-row driver loop; the
fill itself is a projection. At 100 TB this is one scan + one map.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import clamp


def lowercase_columns(df: DataFrame) -> DataFrame:
    """P1: ``names(df) <- tolower(names(df))`` (BigDataProject.R:51)."""
    return df.toDF(*[c.lower() for c in df.columns])


def cast_columns(df: DataFrame, cols: Sequence[str], dtype: str = "double") -> DataFrame:
    """P11: bulk cast (``as.numeric`` at BigDataProject.R:65-75). Invalid
    strings become null, matching R's coercion-with-NA-warning."""
    return df.withColumns({c: F.col(c).cast(dtype) for c in cols if c in df.columns})


def median_fill_values(
    df: DataFrame, cols: Sequence[str], mode: str = "exact"
) -> dict[str, float]:
    """A5: per-column median in ONE aggregation pass
    (BigDataProject.R:87). ``mode='exact'`` (default) for oracle parity
    with R type-7; ``mode='approx'`` selects the single-pass sketch for
    the 100 TB path (operators/aggregates.py::percentile_expr)."""
    from .aggregates import percentile_expr

    row = df.select(
        *[percentile_expr(c, 0.5, mode).alias(c) for c in cols]
    ).first()
    return {c: row[c] for c in cols if row[c] is not None}


def mode_fill_values(df: DataFrame, cols: Sequence[str]) -> dict[str, str]:
    """A6: per-column mode with deterministic tie-break (count desc, value
    asc) — R takes first by table order (BigDataProject.R:89-94), which is
    value-sorted, so ties match.

    One grouped pass per column over a k-distinct result (small); columns
    are independent so Spark runs the jobs back-to-back on cached input if
    the caller persists.
    """
    out: dict[str, str] = {}
    for c in cols:
        r = (
            df.filter(F.col(c).isNotNull())
            .groupBy(c)
            .count()
            .orderBy(F.desc("count"), F.asc(c))
            .first()
        )
        if r is not None:
            out[c] = r[c]
    return out


def impute(df: DataFrame, numeric: Sequence[str] = (), categorical: Sequence[str] = ()) -> DataFrame:
    """A5/A6/F10: median+mode imputation (BigDataProject.R:83-94)."""
    fills: dict = {}
    if numeric:
        fills.update(median_fill_values(df, numeric))
    if categorical:
        fills.update(mode_fill_values(df, categorical))
    return df.fillna(fills) if fills else df


def iqr_bounds(
    df: DataFrame, cols: Sequence[str], k: float = 1.5, mode: str = "exact"
) -> dict[str, tuple[float, float]]:
    """A7 half of the outlier cap: Q1/Q3 per column, single pass, bounds
    = (Q1 - k*IQR, Q3 + k*IQR) (BigDataProject.R:99-111). ``mode``
    selects exact (oracle parity) vs approx (100 TB) quantiles."""
    from .aggregates import percentile_expr

    exprs = []
    for c in cols:
        exprs.append(percentile_expr(c, [0.25, 0.75], mode).alias(c))
    row = df.select(*exprs).first()
    out = {}
    for c in cols:
        q = row[c]
        if q is None or q[0] is None:
            continue
        q1, q3 = float(q[0]), float(q[1])
        iqr = q3 - q1
        out[c] = (q1 - k * iqr, q3 + k * iqr)
    return out


def cap_outliers_iqr(
    df: DataFrame, cols: Sequence[str], k: float = 1.5, mode: str = "exact"
) -> DataFrame:
    """F6: IQR cap (``cap_outliers_iqr`` at BigDataProject.R:99-115) —
    the reference's one reusable function, lowered to native expressions
    (no UDF). Idempotent: capping twice is a no-op (tested)."""
    bounds = iqr_bounds(df, cols, k, mode)
    return df.withColumns({c: clamp(c, lo, hi) for c, (lo, hi) in bounds.items()})


def winsorize(
    df: DataFrame,
    cols: Sequence[str],
    lo_p: float = 0.01,
    hi_p: float = 0.99,
    mode: str = "exact",
) -> DataFrame:
    """Percentile winsorization: clamp each column to its [lo_p, hi_p]
    quantiles, one aggregation pass for all columns.

    This is the capping the reference's committed golden outputs were
    produced with (car_prices_cleaned.csv: every numeric column clipped at
    the type-7 1%/99% quantiles — verified empirically; the script's
    current IQR cap is :func:`cap_outliers_iqr`)."""
    from .aggregates import percentile_expr

    exprs = [percentile_expr(c, [lo_p, hi_p], mode).alias(c) for c in cols]
    row = df.select(*exprs).first()
    updates = {}
    for c in cols:
        q = row[c]
        if q is not None and q[0] is not None:
            updates[c] = clamp(c, float(q[0]), float(q[1]))
    return df.withColumns(updates)


def recode_rare(
    df: DataFrame, col: str, keep: Sequence[str], other: str = "Other"
) -> DataFrame:
    """P10: keep listed levels, collapse the rest
    (BigDataProject.R:555-557)."""
    return df.withColumn(
        col,
        F.when(F.col(col).isin(list(keep)), F.col(col)).otherwise(F.lit(other)),
    )
