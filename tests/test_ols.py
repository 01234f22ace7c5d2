"""A9 mass OLS: planted-beta recovery + numpy lstsq parity
(FIXTURES.md F-4; SURVEY.md §5.2#3)."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from neuroimaging_data_pipeline_spark.operators.ols import (
    mass_ols,
    ols_normal_equations_sql,
)

N, NVOX = 40, 30


@pytest.fixture(scope="module")
def planted(rng):
    X = np.column_stack(
        [np.ones(N), rng.normal(0, 1, N), rng.normal(0, 1, N)]
    )
    B = rng.normal(0, 2, (3, NVOX))
    Y = X @ B + rng.normal(0, 0.1, (N, NVOX))
    return X, B, Y


@pytest.fixture(scope="module")
def planted_dfs(spark, planted):
    X, B, Y = planted
    drows = pd.DataFrame(
        {"subject": "sub-001", "run": 1, "t": np.arange(N),
         "intercept": X[:, 0], "x1": X[:, 1], "x2": X[:, 2]}
    )
    vrows = pd.DataFrame(
        {
            "subject": "sub-001",
            "run": 1,
            "t": np.repeat(np.arange(N), NVOX),
            "voxel_id": np.tile(np.arange(NVOX), N),
            "value": Y.ravel(),
        }
    )
    return spark.createDataFrame(drows), spark.createDataFrame(vrows)


def test_mass_ols_matches_lstsq(spark, planted, planted_dfs):
    X, B, Y = planted
    design, values = planted_dfs
    stats = mass_ols(values, design, ["intercept", "x1", "x2"]).toPandas()
    assert set(stats["regressor"]) == {"intercept", "x1", "x2"}
    assert stats.shape[0] == 3 * NVOX
    got = stats.pivot_table(index="voxel_id", columns="regressor", values="beta")
    lstsq = np.linalg.lstsq(X, Y, rcond=None)[0]
    np.testing.assert_allclose(got["x1"], lstsq[1], atol=1e-9)
    np.testing.assert_allclose(got["intercept"], lstsq[0], atol=1e-9)
    # planted betas recovered within noise
    np.testing.assert_allclose(got["x1"].to_numpy(), B[1], atol=0.15)
    # t/p/df/sigma sanity vs direct formulas
    resid = Y - X @ lstsq
    dof = N - 3
    mse = (resid**2).sum(axis=0) / dof
    assert (stats["df"] == dof).all()
    sig = stats[stats.regressor == "x1"].sort_values("voxel_id")["sigma"].to_numpy()
    np.testing.assert_allclose(sig, np.sqrt(mse), atol=1e-9)
    se = np.sqrt(np.diag(np.linalg.inv(X.T @ X))[1] * mse)
    tvals = stats[stats.regressor == "x1"].sort_values("voxel_id")["t"].to_numpy()
    np.testing.assert_allclose(tvals, lstsq[1] / se, atol=1e-8)
    pvals = stats[stats.regressor == "x1"].sort_values("voxel_id")["p"].to_numpy()
    assert ((pvals >= 0) & (pvals <= 1)).all()


def _t_sf_numeric(tval: float, df: float) -> float:
    """Student-t survival function by numeric tail integration —
    scipy-free oracle for the engine's incomplete-beta fallback."""
    from math import exp, lgamma

    c = exp(lgamma((df + 1) / 2) - lgamma(df / 2)) / np.sqrt(df * np.pi)
    xs = np.linspace(abs(tval), abs(tval) + 80, 2_000_000)
    pdf = c * (1 + xs**2 / df) ** (-(df + 1) / 2)
    sf = float(np.trapz(pdf, xs))
    return sf if tval >= 0 else 1.0 - sf


def test_ols_p_values_against_numeric_tcdf(spark, planted, planted_dfs):
    X, _, Y = planted
    design, values = planted_dfs
    stats = mass_ols(values, design, ["intercept", "x1", "x2"]).toPandas()
    x1 = stats[stats.regressor == "x1"].sort_values("voxel_id")
    tvals = x1["t"].to_numpy()
    expect = np.array(
        [2 * _t_sf_numeric(abs(t), N - 3) for t in tvals[:8]]
    )
    np.testing.assert_allclose(x1["p"].to_numpy()[:8], expect, atol=1e-6)


def test_ols_p_values_against_scipy(spark, planted, planted_dfs):
    scipy = pytest.importorskip("scipy")
    from scipy import stats as st

    X, _, Y = planted
    design, values = planted_dfs
    stats = mass_ols(values, design, ["intercept", "x1", "x2"]).toPandas()
    x1 = stats[stats.regressor == "x1"].sort_values("voxel_id")
    expect = 2 * st.t.sf(np.abs(x1["t"].to_numpy()), N - 3)
    np.testing.assert_allclose(x1["p"].to_numpy(), expect, atol=1e-12)


def test_normal_equations_simple_regression(spark, planted, planted_dfs):
    X, _, Y = planted
    design, values = planted_dfs
    out = (
        ols_normal_equations_sql(values, design, "x1", keys=["subject", "run"])
        .toPandas()
        .sort_values("voxel_id")
    )
    x = X[:, 1]
    for i, vox in enumerate(out["voxel_id"]):
        y = Y[:, vox]
        b1 = np.cov(x, y, ddof=1)[0, 1] / np.var(x, ddof=1)
        np.testing.assert_allclose(out.iloc[i]["beta1"], b1, atol=1e-9)
        np.testing.assert_allclose(
            out.iloc[i]["beta0"], y.mean() - b1 * x.mean(), atol=1e-9
        )


def test_contrast_matches_numpy(spark, planted, planted_dfs):
    from neuroimaging_data_pipeline_spark.operators.ols import contrast

    X, _, Y = planted
    design, values = planted_dfs
    regs = ["intercept", "x1", "x2"]
    stats = mass_ols(values, design, regs)
    c = np.array([0.0, 1.0, -1.0])
    out = (
        contrast(stats, design, regs, {"x1": 1.0, "x2": -1.0})
        .toPandas()
        .sort_values("voxel_id")
        .reset_index(drop=True)
    )
    beta = np.linalg.lstsq(X, Y, rcond=None)[0]
    resid = Y - X @ beta
    mse = (resid**2).sum(axis=0) / (N - 3)
    quad = float(c @ np.linalg.inv(X.T @ X) @ c)
    expect_est = c @ beta
    expect_se = np.sqrt(mse * quad)
    np.testing.assert_allclose(out["contrast"], expect_est, atol=1e-9)
    np.testing.assert_allclose(out["se"], expect_se, atol=1e-9)
    np.testing.assert_allclose(out["t"], expect_est / expect_se, atol=1e-8)


def test_mass_ols_cogrouped_design_cohort_scale(spark, rng):
    """VERDICT r8 #6: a Spark-DataFrame design takes the cogrouped
    path — the design is never collected to the driver and never
    rides a task closure — and produces numbers IDENTICAL to the
    broadcast pandas path, at a 500-subject-run synthetic cohort whose
    keys the broadcast path splits out of one Arrow batch."""
    n_runs, n_t, n_vox = 500, 8, 6
    t = np.arange(n_t, dtype=float)
    subs = [f"sub-{i:04d}" for i in range(n_runs)]
    drows = pd.DataFrame(
        {
            "subject": np.repeat(subs, n_t),
            "run": 1,
            "t": np.tile(t, n_runs),
            "intercept": 1.0,
            "x1": np.tile(t / n_t, n_runs) + np.repeat(
                rng.normal(0, 0.1, n_runs), n_t
            ),
        }
    )
    vrows = pd.DataFrame(
        {
            "subject": np.repeat(subs, n_t * n_vox),
            "run": 1,
            "t": np.tile(np.repeat(t, n_vox), n_runs),
            "voxel_id": np.tile(np.arange(n_vox), n_runs * n_t),
            "value": rng.normal(0, 1.0, n_runs * n_t * n_vox),
        }
    )
    design_sdf = spark.createDataFrame(drows)
    values = spark.createDataFrame(vrows)
    regs = ["intercept", "x1"]
    # small block size so one subject-run spans multiple blocks and
    # the design fan-out to block ids is actually exercised
    got = (
        mass_ols(values, design_sdf, regs, voxels_per_block=4)
        .toPandas()
        .sort_values(["subject", "run", "voxel_id", "regressor"])
        .reset_index(drop=True)
    )
    # one shuffle partition: all 3000 packed series (< maxRecordsPerBatch)
    # reach the broadcast path as ONE Arrow batch holding all 500 keys
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        want = (
            mass_ols(values, drows, regs)
            .toPandas()
            .sort_values(["subject", "run", "voxel_id", "regressor"])
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got.shape == (n_runs * n_vox * len(regs), want.shape[1])
    pd.testing.assert_frame_equal(got, want)


REGS = ["intercept", "x1", "x2"]


def _design_forms(design):
    """The same design as a Spark DataFrame (cogrouped path) and as
    pandas (broadcast path)."""
    return {"spark": design, "pandas": design.toPandas()}


@pytest.mark.parametrize("form", ["spark", "pandas"])
def test_mass_ols_gappy_and_null_series_match_lstsq(
    spark, planted, planted_dfs, form
):
    """Series missing timepoints and series holding a null value are
    fitted on their present rows, exactly as per-voxel lstsq does."""
    from pyspark.sql import functions as F

    X, _, Y = planted
    design, values = planted_dfs
    gappy, nulled = 3, 7
    values = values.filter(
        ~((F.col("voxel_id") == gappy) & F.col("t").between(5, 9))
    ).withColumn(
        "value",
        F.when(
            (F.col("voxel_id") == nulled) & (F.col("t") == 12), F.lit(None)
        ).otherwise(F.col("value")),
    )
    stats = mass_ols(values, _design_forms(design)[form], REGS).toPandas()
    assert stats.shape[0] == 3 * NVOX
    for vox, drop in ((gappy, range(5, 10)), (nulled, [12]), (0, [])):
        m = ~np.isin(np.arange(N), list(drop))
        beta = np.linalg.lstsq(X[m], Y[m, vox], rcond=None)[0]
        got = stats[stats.voxel_id == vox].set_index("regressor").loc[REGS]
        np.testing.assert_allclose(got["beta"], beta, atol=1e-9)
        dof = m.sum() - 3
        assert (got["df"] == dof).all()
        resid = Y[m, vox] - X[m] @ beta
        np.testing.assert_allclose(
            got["sigma"], np.sqrt((resid**2).sum() / dof), atol=1e-9
        )


@pytest.mark.parametrize("form", ["spark", "pandas"])
def test_mass_ols_rejects_duplicate_samples(spark, planted_dfs, form):
    design, values = planted_dfs
    dup = values.union(values.limit(1))
    with pytest.raises(Exception, match=r"duplicate \(t, voxel_id\)"):
        mass_ols(dup, _design_forms(design)[form], REGS).collect()


@pytest.mark.parametrize("form", ["spark", "pandas"])
@pytest.mark.parametrize(
    "stray_t, message",
    [(N + 7, rf"t={N + 7} of key"), (None, "null t in a series of key")],
)
def test_mass_ols_bad_t_names_key_and_t(
    spark, planted_dfs, form, stray_t, message
):
    """A t outside the design's time axis, or a null t, fails with an
    error naming the key (and the t) instead of a bare KeyError."""
    from pyspark.sql import functions as F

    design, values = planted_dfs
    stray = values.limit(1).withColumn("t", F.lit(stray_t).cast("long"))
    with pytest.raises(Exception, match=rf"{message} \('sub-001', 1\)"):
        mass_ols(values.union(stray), _design_forms(design)[form], REGS).collect()


def test_mass_ols_broadcast_plan_is_one_exchange(spark, planted_dfs):
    """Pandas design: the series are packed by the aggregation's
    exchange and solved in the same stage — one Exchange, no Sort, one
    MapInArrow."""
    from neuroimaging_data_pipeline_spark.plans.audit import explain_str

    design, values = planted_dfs
    plan = explain_str(mass_ols(values, design.toPandas(), REGS))
    nodes = re.findall(r"(?m)^\(\d+\) (\w+)", plan)
    assert nodes.count("Exchange") == 1, plan
    assert "Sort" not in nodes, plan
    assert nodes.count("MapInArrow") == 1, plan
