"""Mass-univariate OLS — the reference's flagship operator (SURVEY.md A9).

Reference: ``smoothed.regress()`` (ssm_loop.py:91) fits
y_v = X b_v + e_v independently for every voxel v (1,342,211 of them),
with one shared design matrix X (296 x ~40), returning per voxel:
beta, t, p, df, sigma, residual (ssm_loop.py:94-102).

Spark-first physical strategy (SURVEY.md §4.3):
- X is tiny and shared -> collected once and *broadcast* to executors.
- Y is the long fact table (subject, run, t, voxel_id, value). Each
  voxel series is packed into one row of two aligned arrays by
  ``groupBy(keys, voxel_id).agg(collect_list(t), collect_list(value))``;
  map-side partial aggregation packs the samples BEFORE the exchange,
  so the one shuffle moves a row per series, not per sample (the
  keep-the-series-dense layout of Raptor's raster pixels, PAPERS.md).
  Voxel-bucketed Parquet at ingest would make that groupBy
  shuffle-free (bucketed scan).
- The packed rows go straight into ``mapInArrow``: inside each Arrow
  batch every series of one design key is solved *at once* with one
  pinv(X) @ Y matmul — the per-voxel Python loop the naive
  implementation would do is hoisted into a single BLAS call.
  p-values use the Student-t survival function; scipy when present,
  else an incomplete-beta series fallback (float64).

An oracle-checkable *summation form* for small k is provided in
``ols_normal_equations_sql`` (SURVEY.md §5.2: A9's SQL special case).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from neuroimaging_data_pipeline_spark.functions.rowmap import drop_zip_importers


def _t_sf(tval: np.ndarray, df: float) -> np.ndarray:
    """Two-sided p-value helper: Student-t survival function.

    scipy is the fast path; the fallback uses the regularized
    incomplete beta via continued fractions (Numerical-Recipes-style,
    public domain algorithm) in pure numpy.
    """
    try:
        from scipy import stats as _st

        return _st.t.sf(tval, df)
    except Exception:
        x = df / (df + tval**2)
        return np.where(tval >= 0, 0.5 * _betainc_reg(df / 2.0, 0.5, x),
                        1.0 - 0.5 * _betainc_reg(df / 2.0, 0.5, x))


def _betacf(a: float, b: float, x: np.ndarray) -> np.ndarray:
    """Vectorized modified-Lentz continued fraction for the regularized
    incomplete beta (Numerical-Recipes betacf, array form). Runs the
    whole array through each iteration — one numpy pass per step
    instead of a Python loop per element."""
    tiny = 1e-30
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = np.ones_like(x)
    d = 1.0 - qab * x / qap
    d = np.where(np.abs(d) < tiny, tiny, d)
    d = 1.0 / d
    h = d.copy()
    for m in range(1, 200):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < tiny, tiny, d)
        d = 1.0 / d
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < tiny, tiny, c)
        h = h * d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < tiny, tiny, d)
        d = 1.0 / d
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < tiny, tiny, c)
        delta = d * c
        h = h * delta
        if np.all(np.abs(delta - 1.0) < 1e-12):
            break
    return h


def _betainc_reg(a: float, b: float, x: np.ndarray) -> np.ndarray:
    """Regularized incomplete beta I_x(a, b), vectorized.

    NR betai: for x < (a+1)/(a+b+2) evaluate the continued fraction
    directly; otherwise via the symmetry I_x(a,b) = 1 - I_{1-x}(b,a)
    (the swapped branch must re-derive BOTH the prefactor and the CF
    with (b, a, 1-x) — using the direct-branch prefactor there gives
    wrong values for small |t|)."""
    x = np.asarray(x, dtype=np.float64)
    out = np.empty_like(x)
    zero, one = x <= 0.0, x >= 1.0
    out[zero], out[one] = 0.0, 1.0
    mid = ~(zero | one)
    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    xm = x[mid]
    direct = xm < (a + 1.0) / (a + b + 2.0)
    res = np.empty_like(xm)
    if direct.any():
        xd = xm[direct]
        bt = np.exp(a * np.log(xd) + b * np.log1p(-xd) - lbeta) / a
        res[direct] = bt * _betacf(a, b, xd)
    if (~direct).any():
        xs = 1.0 - xm[~direct]
        bt = np.exp(b * np.log(xs) + a * np.log1p(-xs) - lbeta) / b
        res[~direct] = 1.0 - bt * _betacf(b, a, xs)
    out[mid] = res
    return out


def _stats_schema(values_schema, keys: list[str]) -> StructType:
    """Output carries every group key (found by driving two-run data:
    without ``run`` in the schema, per-run fits collapse together)."""
    fields = [StructField(k, values_schema[k].dataType) for k in keys]
    fields += [
        StructField("voxel_id", LongType()),
        StructField("regressor", StringType()),
        StructField("beta", DoubleType()),
        StructField("t", DoubleType()),
        StructField("p", DoubleType()),
        StructField("df", DoubleType()),
        StructField("sigma", DoubleType()),
    ]
    return StructType(fields)


def mass_ols(
    values: DataFrame,
    design: DataFrame,
    regressors: list[str],
    keys: list[str] | None = None,
    t_col: str = "t",
    voxels_per_block: int = 2048,
) -> DataFrame:
    """Fit y ~ X per (keys..., voxel_id); return the long stats bundle
    (subject, voxel_id, regressor, beta, t, p, df, sigma) — D8.

    Packing: each voxel series is first collected into ONE row,
    ``groupBy(keys..., voxel_id).agg(collect_list(t), collect_list(value))``.
    Spark's map-side partial aggregation packs the samples before the
    exchange, so the only shuffle moves one array row per series
    (296 samples at the reference shape) instead of one row per sample.

    Design shipping (VERDICT r8 #6, cohort-scale safe): a pandas
    design (the driver-generated convenience form) is keyed into
    (X, t) arrays ONCE and shipped as a Spark broadcast variable —
    one torrent copy per executor, O(1) task payload — and the packed
    rows flow straight into ``mapInArrow`` in the aggregation's stage:
    no second exchange, no sort, memory bounded by one Arrow batch of
    series. A Spark DataFrame design takes the COGROUPED path: it is
    never materialized on the driver at all — each (keys...,
    voxel_block) group of packed rows receives exactly its own design
    rows through the cogroup shuffle (``voxels_per_block`` sizes those
    groups; the broadcast path has no blocks). Both paths solve with
    ``_fit_packed``.
    """
    key_cols = list(keys or ["subject", "run"])
    reg_names = list(regressors)
    schema = _stats_schema(values.schema, key_cols)
    # Two aggregates of one Aggregate see the same rows in the same
    # order, so the lists stay aligned; collect_list skips nulls, so a
    # null value becomes NaN (a missing sample) rather than vanishing.
    # Two flat lists pack faster than one list of (t, value) structs
    # (15 M samples at local[4]: 5.1 s vs 7.9 s).
    packed = values.groupBy(*key_cols, "voxel_id").agg(
        F.collect_list(t_col).alias("_t"),
        F.collect_list(
            F.coalesce(F.col("value").cast("double"), F.lit(float("nan")))
        ).alias("_y"),
    )

    if not isinstance(design, pd.DataFrame):
        # Spark-DataFrame design: COGROUPED path (VERDICT r8 #6) — the
        # design is never materialized on the driver and never rides a
        # task closure, so task payload stays O(1) in cohort size.
        # The design side is fanned out to the block ids that actually
        # exist (one distinct + one key-equi-join, both tiny next to
        # the value shuffle). The rename breaks attribute lineage with
        # `values` so the cogroup isn't flagged as an ambiguous self-join.
        from pyspark.sql.pandas.types import to_arrow_schema

        empty = to_arrow_schema(schema).empty_table()
        block = F.floor(F.col("voxel_id") / F.lit(int(voxels_per_block)))
        blocks = values.select(*key_cols, block.alias("_dsn_block")).distinct()
        design_blocked = design.select(*key_cols, t_col, *reg_names).join(
            blocks, key_cols
        )

        def fit_cogrouped(vals: pa.Table, dsn: pa.Table) -> pa.Table:
            drop_zip_importers()
            if vals.num_rows == 0:
                # design key with no values in this block: nothing to fit
                return empty
            kt = tuple(vals.column(k)[0].as_py() for k in key_cols)
            if dsn.num_rows == 0:
                raise KeyError(f"mass_ols: no design rows for key {kt}")
            dsn = dsn.sort_by(t_col)
            X_full = np.column_stack(
                [dsn.column(r).to_numpy() for r in reg_names]
            ).astype(np.float64)
            return _fit_packed(
                vals.combine_chunks().to_batches()[0],
                X_full,
                dsn.column(t_col).to_numpy(),
                kt,
                key_cols,
                reg_names,
            )

        return (
            packed.withColumn("_voxel_block", block)
            .groupBy(*key_cols, "_voxel_block")
            .cogroup(design_blocked.groupBy(*key_cols, "_dsn_block"))
            .applyInArrow(fit_cogrouped, schema)
        )

    # pandas design (generated driver-side — skips a whole Spark job; a
    # 7-row toPandas costs ~2 s of pure overhead): build key -> (X, t)
    # once and ship it as a Spark BROADCAST VARIABLE — torrent-
    # distributed once per executor instead of serialized into every
    # task closure (the closure grows linearly with cohort size;
    # broadcast keeps task payload O(1)).
    dpdf = design.sort_values([*key_cols, t_col])
    Xmap: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
    for kvals, g in dpdf.groupby(key_cols):
        kt = kvals if isinstance(kvals, tuple) else (kvals,)
        Xmap[kt] = (
            g[reg_names].to_numpy(dtype=np.float64),
            g[t_col].to_numpy(),
        )
    bc_xmap = values.sparkSession.sparkContext.broadcast(Xmap)

    def fit(batches):
        drop_zip_importers()
        for batch in batches:
            for kt, rows in _split_by_key(batch, key_cols):
                if kt not in bc_xmap.value:
                    raise KeyError(f"mass_ols: no design rows for key {kt}")
                X_full, t_axis = bc_xmap.value[kt]
                yield from _fit_packed(
                    rows, X_full, t_axis, kt, key_cols, reg_names
                ).to_batches()

    return packed.mapInArrow(fit, schema)


def _split_by_key(batch: pa.RecordBatch, key_cols: list[str]):
    """Yield (key tuple, rows) for each distinct key of ``batch``: one
    stable sort of a dense key code, then contiguous slices."""
    if batch.num_rows == 0:
        return
    code = np.zeros(batch.num_rows, dtype=np.int64)
    for k in key_cols:
        enc = batch.column(k).dictionary_encode(null_encoding="encode")
        code = code * len(enc.dictionary) + enc.indices.to_numpy()
        code = np.unique(code, return_inverse=True)[1]
    if np.any(code[1:] < code[:-1]):
        order = np.argsort(code, kind="stable")
        batch, code = batch.take(pa.array(order)), code[order]
    starts = np.flatnonzero(np.r_[True, code[1:] != code[:-1]])
    ends = np.r_[starts[1:], batch.num_rows]
    for a, b in zip(starts, ends):
        rows = batch.slice(a, b - a)
        yield tuple(rows.column(k)[0].as_py() for k in key_cols), rows


def _fit_packed(
    packed: pa.RecordBatch,
    X_full: np.ndarray,
    t_axis: np.ndarray,
    kt: tuple,
    key_cols: list[str],
    reg_names: list[str],
) -> pa.Table:
    """Solve the packed series of ONE design key: scatter every
    series into a dense (t x voxel) matrix aligned to the design's
    sorted time axis, and solve every complete voxel with ONE
    pinv @ Y. Voxels missing timepoints or holding null values
    (never the case on a real fMRI grid, but legal input) fall to a
    per-voxel masked solve."""
    t_lists, y_lists = packed.column("_t"), packed.column("_y")
    lengths = np.diff(t_lists.offsets.to_numpy())
    if not np.array_equal(lengths, np.diff(y_lists.offsets.to_numpy())):
        raise ValueError(f"mass_ols: null t in a series of key {kt}")
    t_vals = t_lists.flatten().to_numpy(zero_copy_only=False)
    nvox = len(t_lists)
    vox_codes = np.repeat(np.arange(nvox), lengths)
    pos = np.searchsorted(t_axis, t_vals)
    hit = pos < len(t_axis)
    hit[hit] = t_axis[pos[hit]] == t_vals[hit]
    if not hit.all():
        raise ValueError(
            f"mass_ols: t={t_vals[~hit][0]!r} of key {kt} is not in the "
            "design's time axis"
        )
    # only design rows some series of this key samples enter the fit
    present = np.zeros(len(t_axis), dtype=bool)
    present[pos] = True
    X = X_full[present]
    rows = (np.cumsum(present) - 1)[pos]
    n, k = X.shape
    cells = rows * np.int64(nvox) + vox_codes
    # the scatter below would silently keep one of duplicate samples
    seen = np.zeros(n * nvox, dtype=bool)
    seen[cells] = True
    if np.count_nonzero(seen) != len(cells):
        raise ValueError(
            "mass_ols: duplicate (t, voxel_id) rows in input; "
            "aggregate to one value per (t, voxel_id) first"
        )
    Y = np.full((n, nvox), np.nan)
    Y.ravel()[cells] = y_lists.flatten().to_numpy(zero_copy_only=False)
    B = np.empty((k, nvox))
    SE = np.empty((k, nvox))
    DOF = np.empty(nvox)
    SIGMA = np.empty(nvox)
    nanmask = np.isnan(Y)
    complete = ~nanmask.any(axis=0)
    if complete.any():
        Yc = Y[:, complete]
        pinv = np.linalg.pinv(X)
        Bc = pinv @ Yc                  # (k, n_complete)
        resid = Yc - X @ Bc             # (n, n_complete)
        dof = float(n - np.linalg.matrix_rank(X))
        mse = (resid**2).sum(axis=0) / dof
        xtx_inv_diag = np.diag(pinv @ pinv.T)  # == diag((X'X)^-1)
        B[:, complete] = Bc
        SE[:, complete] = np.sqrt(np.outer(xtx_inv_diag, mse))
        DOF[complete] = dof
        SIGMA[complete] = np.sqrt(mse)
    for j in np.nonzero(~complete)[0]:
        m = ~nanmask[:, j]
        Xi, yi = X[m], Y[m, j]
        pinv_i = np.linalg.pinv(Xi)
        bi = pinv_i @ yi
        ri = yi - Xi @ bi
        dof_i = float(len(yi) - np.linalg.matrix_rank(Xi))
        mse_i = (ri**2).sum() / dof_i if dof_i > 0 else np.nan
        B[:, j] = bi
        SE[:, j] = np.sqrt(np.diag(pinv_i @ pinv_i.T) * mse_i)
        DOF[j] = dof_i
        SIGMA[j] = np.sqrt(mse_i)
    with np.errstate(divide="ignore", invalid="ignore"):
        T = np.where(SE > 0, B / SE, 0.0)
    P = np.empty_like(T)
    for dv in np.unique(DOF):
        mcol = DOF == dv
        P[:, mcol] = (
            2.0 * _t_sf(np.abs(T[:, mcol]), float(dv))
            if dv > 0
            else np.nan
        )
    first = np.zeros(k * nvox, dtype=np.int64)
    vox = packed.column("voxel_id").cast(pa.int64()).to_numpy()
    return pa.table(
        {
            **{name: packed.column(name).take(first) for name in key_cols},
            "voxel_id": np.tile(vox, k),
            "regressor": pa.array(reg_names, pa.string()).take(
                np.repeat(np.arange(k), nvox)
            ),
            "beta": B.ravel(),
            "t": T.ravel(),
            "p": P.ravel(),
            "df": np.tile(DOF, k),
            "sigma": np.tile(SIGMA, k),
        }
    )


def contrast(
    stats: DataFrame,
    design: "pd.DataFrame | DataFrame",
    regressors: list[str],
    weights: dict[str, float],
    keys: list[str] | None = None,
    t_col: str = "t",
) -> DataFrame:
    """Linear contrast c'beta per voxel with its standard error — the
    reference study's actual inference (Big vs Small condition
    difference; the notebook fits Big_c0/Small_c0 precisely to compare
    them).

    est = sum_j c_j * beta_j;  se = sigma * sqrt(c' (X'X)^-1 c)

    The quadratic form c'(X'X)^-1 c depends only on the design — one
    scalar per (subject, run), computed driver-side from the same
    design the fit used and broadcast-joined. The per-voxel part is a
    grouped SUM over the stats bundle: map-side partial agg, one
    shuffled row per voxel.
    """
    keys = keys or ["subject", "run"]
    if isinstance(design, pd.DataFrame):
        dpdf = design.sort_values([*keys, t_col])
    else:
        dpdf = design.orderBy(*keys, t_col).toPandas()
    c = np.array([weights.get(r, 0.0) for r in regressors])
    qrows = []
    for kvals, g in dpdf.groupby(keys):
        kt = kvals if isinstance(kvals, tuple) else (kvals,)
        X = g[regressors].to_numpy(dtype=np.float64)
        pinv = np.linalg.pinv(X)
        quad = float(c @ (pinv @ pinv.T) @ c)  # c'(X'X)^-1 c
        qrows.append((*kt, quad))
    wmap = F.create_map(
        *[x for r, w in weights.items() for x in (F.lit(r), F.lit(float(w)))]
    )
    per_vox = (
        stats.filter(F.col("regressor").isin(list(weights)))
        .groupBy(*keys, "voxel_id")
        .agg(
            F.sum(
                F.col("beta") * wmap[F.col("regressor")]
            ).alias("contrast"),
            F.first("sigma").alias("_sigma"),
            F.first("df").alias("df"),
        )
    )
    if len(qrows) == 1:
        # One design group (the whole-cohort case): the quadratic form
        # is a single scalar — attach it as a literal instead of
        # building + broadcast-joining a one-row DataFrame (saves a
        # driver-side createDataFrame and a join stage per call).
        per_vox = per_vox.withColumn("_quad", F.lit(qrows[0][-1]))
    else:
        spark = stats.sparkSession
        quad_df = F.broadcast(
            spark.createDataFrame(
                pd.DataFrame(qrows, columns=[*keys, "_quad"])
            )
        )
        per_vox = per_vox.join(quad_df, on=keys)
    out = per_vox.select(
        *keys,
        "voxel_id",
        "contrast",
        (F.col("_sigma") * F.sqrt(F.col("_quad"))).alias("se"),
        F.try_divide(
            F.col("contrast"), F.col("_sigma") * F.sqrt(F.col("_quad"))
        ).alias("t"),
        "df",
    )
    return out


def ols_normal_equations_sql(
    values: DataFrame,
    design: DataFrame,
    x_col: str,
    keys: list[str] | None = None,
    t_col: str = "t",
) -> DataFrame:
    """Simple-regression special case via pure-SQL normal equations:
    beta1 = cov(x,y)/var(x), beta0 = mean(y) - beta1*mean(x), per voxel.
    Oracle-checkable in any ANSI engine (SURVEY.md §5.2)."""
    keys = keys or ["subject"]
    j = values.join(design.select(*keys, t_col, x_col), on=[*keys, t_col])
    x, y = F.col(x_col), F.col("value")
    agg = j.groupBy(*keys, "voxel_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(x).alias("mx"),
        F.avg(y).alias("my"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    beta1 = F.try_divide(
        F.col("sxy") - F.col("n") * F.col("mx") * F.col("my"),
        F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx"),
    )
    return agg.select(
        *keys,
        "voxel_id",
        beta1.alias("beta1"),
        (F.col("my") - beta1 * F.col("mx")).alias("beta0"),
    )
