"""The iterative day-series fits of ``queries/trends.py`` (Huber IRLS,
Poisson GLM, Holt): independent numpy re-derivations of the fits, the
exactness of the sorted-array median they use, and a guard that building
them runs no Spark job beyond reading the orders table's schema."""

from __future__ import annotations

import math
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_carprice_assignment_spark import registry
from bigdata_carprice_assignment_spark.queries.trends import _sorted_median

from .conftest import SF_SMOKE as SF

registry.load_all()


def _daily_cents(spark, sf=SF):
    from pyspark.sql import functions as F

    from bigdata_carprice_assignment_spark.sources.readers import load_table

    d = (
        load_table(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
        .orderBy("day")
        .collect()
    )
    return d


def test_huber_between_and_robust(spark):
    got = registry.QUERIES["huber_regression_daily_revenue"](spark, SF).collect()[0]
    # IRLS with Huber weights: some days downweighted, never all
    assert 0 < got["n_downweighted"] < got["n_days"]
    assert got["huber_c"] > 0
    # direct numpy IRLS replication
    rows = _daily_cents(spark)
    days = np.array([(r["day"] - rows[0]["day"]).days for r in rows], dtype=float)
    y = np.array([r["cents"] for r in rows], dtype=float) / 100
    n = len(y)
    sx, sy = days.sum(), y.sum()
    sxx, sxy = (days * days).sum(), (days * y).sum()
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    icept = sy / n - slope * (sx / n)
    r0 = np.abs(y - (icept + slope * days))
    c = np.quantile(r0, 0.5) / 0.6745 * 1.345
    for _ in range(6):
        r = np.abs(y - (icept + slope * days))
        w = np.where(r <= c, 1.0, c / np.maximum(r, 1e-300))
        sw, swx, swy = w.sum(), (w * days).sum(), (w * y).sum()
        swxx, swxy = (w * days * days).sum(), (w * days * y).sum()
        slope = (swxy - swx * swy / sw) / (swxx - swx * swx / sw)
        icept = swy / sw - slope * (swx / sw)
    assert abs(got["huber_slope"] - slope) / max(abs(slope), 1) < 1e-4


def test_poisson_glm_matches_numpy_newton(spark):
    from pyspark.sql import functions as F

    from bigdata_carprice_assignment_spark.sources.readers import load_table

    rows = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .collect()
    )
    d0 = min(r["day"] for r in rows)
    x1 = np.array([(r["day"] - d0).days for r in rows]) / 1000.0
    wk = np.array([1.0 if r["day"].isoweekday() in (6, 7) else 0.0 for r in rows])
    y = np.array([r["y"] for r in rows], dtype=float)
    X = np.column_stack([np.ones_like(x1), x1, wk])
    beta = np.zeros(3)
    for _ in range(40):
        mu = np.exp(X @ beta)
        g = X.T @ (y - mu)
        H = (X * mu[:, None]).T @ X
        beta = beta + np.linalg.solve(H, g)
    got = {
        r["feature"]: r["coefficient"]
        for r in registry.QUERIES["poisson_glm_daily_orders"](
            spark, SF
        ).collect()
    }
    assert got["(intercept)"] == pytest.approx(beta[0], abs=1e-5)
    assert got["day_index_per_1000"] == pytest.approx(beta[1], abs=1e-5)
    assert got["is_weekend"] == pytest.approx(beta[2], abs=1e-5)


def test_sorted_median_matches_percentile_and_numpy(spark):
    rng = np.random.default_rng(7)
    cases = {
        "n1": [3.25],
        "n2": [1.5, 2.75],
        # hi > 2 lo, so hi - lo is inexact: numpy's hi - (hi - lo) * 0.5
        # misses Spark's 0.5 lo + 0.5 hi by an ulp here, and the
        # lo + (hi - lo) * 0.5 of quantile_cont does in the next case
        "n2_far": [47.67, 1066.93],
        "n2_far_lerp": [0.0012159061283464334, 1.8033867003015707],
        "n2_tie": [4.0, 4.0],
        "n3": [9.0, 0.5, 2.0],
        "tie_straddles_median": [5.0, 1.0, 5.0, 5.0, 2.0, 7.0],
        "all_equal_even": [0.0] * 4,
        "odd_residuals": list(np.abs(rng.normal(0, 8e5, 2399))),
        "even_residuals": list(np.abs(rng.normal(0, 8e5, 1094))),
        "even_rounded_ties": list(np.round(np.abs(rng.normal(0, 50, 600)))),
    }
    df = spark.createDataFrame(
        [(k, float(v)) for k, vs in cases.items() for v in vs], "k string, r double"
    )
    got = {
        row["k"]: row
        for row in df.groupBy("k")
        .agg(
            F.expr("percentile(r, 0.5)").alias("pct"),
            F.expr("array_sort(collect_list(r))").alias("rs"),
        )
        .select("k", "pct", F.expr(_sorted_median("rs")).alias("med"))
        .collect()
    }
    assert set(got) == set(cases)
    for k, vs in cases.items():
        med, pct = got[k]["med"], got[k]["pct"]
        # Spark's own exact percentile: the same double, bit for bit
        assert med == pct, k
        # numpy interpolates hi - (hi - lo) * 0.5: the same double when
        # hi - lo is exact (hi <= 2 lo, Sterbenz), else within one ulp
        s = np.sort(np.array(vs))
        lo, hi = s[(len(s) - 1) // 2], s[len(s) // 2]
        want = float(np.quantile(s, 0.5))
        if hi <= 2 * lo or lo == hi:
            assert med == want, k
        else:
            assert abs(med - want) <= math.ulp(want), k


def _build_jobs(spark, build) -> int:
    """Spark jobs started while ``build()`` runs, counted through a job
    group of its own."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus: let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name",
    [
        "huber_regression_daily_revenue",
        "poisson_glm_daily_orders",
        "holt_linear_daily_revenue",
    ],
)
def test_fit_build_starts_no_job_beyond_schema_read(spark, name):
    from bigdata_carprice_assignment_spark.sources.readers import load_table

    # the floor: spark.read.parquet infers the orders schema with one job
    floor = _build_jobs(spark, lambda: load_table(spark, SF, "orders"))
    assert floor <= 1
    assert _build_jobs(spark, lambda: registry.QUERIES[name](spark, SF)) == floor
