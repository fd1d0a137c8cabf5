"""The reference's end-to-end CarPrice pipeline, re-expressed as lazy
Spark plans (SURVEY.md §3 EP1 phases 1-5 and 8).

Two capping modes:
- ``cap='percentile'`` — 1%/99% winsorization of every numeric column:
  reproduces the committed golden outputs cell-for-cell
  (car_prices_cleaned.csv / car_prices_ml_ready.csv were generated by an
  earlier script revision with this cap — verified empirically against
  both the goldens and the current source).
- ``cap='iqr'`` — the current script's semantics
  (BigDataProject.R:99-115): 1.5·IQR cap on numeric predictors only,
  price left untouched.

Everything is a narrow projection chain (one WholeStageCodegen stage at
execution) except the quantile passes, which are single aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import first_word
from ..operators import cleaning
from ..sources.readers import read_carprice_csv

REFERENCE_CSV = "/root/reference/CarPrice_Assignment.csv"

# 9 factor columns (BigDataProject.R:53-57) + brand (:62-63).
FACTOR_COLS = [
    "fueltype",
    "aspiration",
    "doornumber",
    "carbody",
    "drivewheel",
    "enginelocation",
    "enginetype",
    "cylindernumber",
    "fuelsystem",
]
# Explicit numeric coercions (BigDataProject.R:65-75).
COERCE_NUMERIC = [
    "horsepower",
    "peakrpm",
    "boreratio",
    "stroke",
    "compressionratio",
    "citympg",
    "highwaympg",
    "price",
]
# ML feature list (BigDataProject.R:277).
ML_VARS = [
    "log_price",
    "horsepower",
    "enginesize",
    "curbweight",
    "citympg",
    "highwaympg",
    "carwidth",
    "carlength",
    "brand",
]
PRICE_BUCKET_LABELS = ["Low", "Medium", "High", "VeryHigh"]


def load_raw(spark: SparkSession, path: str = REFERENCE_CSV) -> DataFrame:
    return read_carprice_csv(spark, path)


def numeric_cols(df: DataFrame) -> list[str]:
    return [c for c, t in df.dtypes if t in ("double", "int", "bigint", "float")]


def clean(df: DataFrame, cap: str = "percentile") -> DataFrame:
    """Phases 2-5: rename → brand → coerce → impute → cap → bucket →
    log_price (BigDataProject.R:51-130)."""
    df = cleaning.lowercase_columns(df)
    df = df.withColumn("brand", first_word("carname"))
    df = cleaning.cast_columns(df, COERCE_NUMERIC, "double")
    num = numeric_cols(df)
    cat = FACTOR_COLS + ["brand"]
    df = cleaning.impute(df, numeric=num, categorical=[c for c in cat if c in df.columns])
    if cap == "percentile":
        df = cleaning.winsorize(df, num, 0.01, 0.99)
    elif cap == "iqr":
        predictors = [c for c in num if c != "price"]
        df = cleaning.cap_outliers_iqr(df, predictors)
    else:
        raise ValueError(f"unknown cap mode: {cap}")
    # price_bucket: R cut on exact price quartiles, right-closed,
    # include.lowest (BigDataProject.R:122-128).
    q = df.select(
        F.expr("percentile(price, array(0.0, 0.25, 0.5, 0.75, 1.0))").alias("q")
    ).first()["q"]
    from ..functions.scalars import bucket_label_col

    df = df.withColumn(
        "price_bucket", bucket_label_col("price", [float(v) for v in q], PRICE_BUCKET_LABELS)
    )
    df = df.withColumn("log_price", F.log1p("price"))
    return df


def brand_levels(df: DataFrame) -> list[str]:
    """Distinct brand levels in R factor order: locale-aware sort —
    case-insensitive, lowercase first on ties (the golden's column order
    puts ``brand.nissan`` before ``brand.Nissan``). casefold+swapcase
    reproduces that collation."""
    levels = [r[0] for r in df.select("brand").distinct().collect()]
    return sorted(levels, key=lambda s: (s.casefold(), s.swapcase()))


def ml_ready(df: DataFrame, target: str = "price") -> DataFrame:
    """Phase 8: feature projection + one-hot (BigDataProject.R:277-288).

    ``target='price'`` matches the committed golden
    (car_prices_ml_ready.csv carries raw price); ``target='log_price'``
    matches the current script.
    """
    features = [c for c in ML_VARS if c not in ("log_price", "brand")]
    keep = [c for c in features + ["brand", target] if c in df.columns]
    base = df.select(*[F.col(c) for c in dict.fromkeys(keep)]).dropna()
    levels = brand_levels(base)
    # single projection: features, dummies (fullRank: drop first level),
    # target — built in one select because Spark's default case-insensitive
    # name resolution would make brand_nissan/brand_Nissan ambiguous on a
    # later by-name select.
    dummies = [
        F.when(F.col("brand") == lv, 1.0).otherwise(0.0).alias(f"brand_{lv}")
        for lv in levels[1:]
    ]
    return base.select(*features, *dummies, target)
