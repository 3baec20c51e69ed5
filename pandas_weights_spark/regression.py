"""Weighted least-squares line fit (per group or whole-table).

``y ≈ intercept + slope·x`` minimizing ``Σ w·(y − ŷ)²`` — the
frequency-weights analog of ``np.polyfit(x, y, 1, w=w)``. The
reference library has no regression surface (SURVEY.md §2.6); this is
an engine extension built on the SAME seven aggregate moments the
Pearson kernel uses (:func:`_stats.moment_sums` with ``y``):

    slope     = (Σwxy − ΣwxΣwy/W) / (Σwxx − (Σwx)²/W)
    intercept = Σwy/W − slope·Σwx/W
    r²        = corr(x, y)²     (share of weighted variance explained)
    rmse      = sqrt(Σw·resid² / (W − dof))   with dof = 2 params

Scale shape: ONE hash aggregate with map-side partials — group
cardinality is unbounded, nothing collects. The per-row
``fitted``/``resid`` transform joins the (tiny) coefficient frame back
with AQE-broadcast null-safe equality, the zscore join-back pattern.
Pairwise-complete mask throughout: rows with NULL x, y, or w carry no
mass (and get NULL fitted/resid).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_weights_spark._stats import aggregate, moment_sums, q

__all__ = ["weighted_linfit", "weighted_linfit_transform", "weighted_linreg"]


def _coeff_frame(
    wdf, x_col: str, y_col: str, keys: list, ddof: float, min_periods: int
) -> DataFrame:
    from pandas_weights_spark.frame import WEIGHT_COL

    moments = [
        f"{expr} AS __m_{name}"
        for name, expr in moment_sums(
            wdf._value_sql(x_col), q(WEIGHT_COL), y=wdf._value_sql(y_col)
        ).items()
    ]
    g = aggregate(wdf.df, moments, keys)
    n = F.col("__m_n")
    W = F.col("__m_w")
    wx = F.col("__m_wx")
    wy = F.col("__m_wy")
    wxy = F.col("__m_wxy")
    wxx = F.col("__m_wxx")
    wyy = F.col("__m_wyy")
    sxx = wxx - F.try_divide(wx * wx, W)  # Σw(x-x̄)²
    sxy = wxy - F.try_divide(wx * wy, W)
    syy = wyy - F.try_divide(wy * wy, W)
    ok = (
        (n >= F.lit(min_periods))
        & W.isNotNull()
        & ~F.isnan(W)
        & (W > 0)
        & (sxx > 0)
    )
    slope = F.when(ok, F.try_divide(sxy, sxx))
    intercept = F.when(
        ok, F.try_divide(wy, W) - slope * F.try_divide(wx, W)
    )
    r2 = F.when(
        ok & (syy > 0), F.try_divide(sxy * sxy, sxx * syy)
    )
    # Σw·resid² = syy − slope²·sxx (exact OLS identity)
    sse = syy - slope * slope * sxx
    rmse = F.when(
        ok & (W > F.lit(ddof)),
        F.sqrt(F.try_divide(F.greatest(sse, F.lit(0.0)), W - F.lit(ddof))),
    )
    return g.select(
        *keys,
        n.alias("n"),
        W.alias("sum_w"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
        rmse.alias("rmse"),
    )


def weighted_linfit(
    wdf,
    x_col: str,
    y_col: str,
    by: Optional[Sequence[str]] = None,
    ddof: float = 2.0,
    min_periods: int = 2,
) -> DataFrame:
    """Fit ``y ≈ intercept + slope·x`` per group (``by``) or globally.

    Output: ``keys + (n, sum_w, slope, intercept, r2, rmse)`` — NULL
    coefficients when the group has fewer than ``min_periods`` complete
    rows, no positive weight, or zero x-variance; ``rmse`` divides the
    weighted squared residuals by ``W − ddof`` (``ddof=2`` for the two
    fitted parameters, the ``np.polyfit`` residual convention under
    frequency weights).
    """
    keys = list(by) if by else []
    return _coeff_frame(wdf, x_col, y_col, keys, float(ddof), min_periods)


def weighted_linfit_transform(
    wdf,
    x_col: str,
    y_col: str,
    by: Optional[Sequence[str]] = None,
    ddof: float = 2.0,
    min_periods: int = 2,
) -> DataFrame:
    """Per-row fitted values and residuals: the input frame plus
    ``{y}_fitted = intercept + slope·x`` and ``{y}_resid = y − fitted``
    from the group's fit — residual-based outlier screening for
    pipelines. The coefficient frame is one row per group and comes
    back via the AQE-broadcast null-safe join (zscore pattern)."""
    from pandas_weights_spark.groupby import _join_group_stats

    keys = list(by) if by else []
    coef = _coeff_frame(wdf, x_col, y_col, keys, float(ddof), min_periods)
    coef = coef.select(*keys, "slope", "intercept")
    j = _join_group_stats(wdf.df, coef, keys)
    x = wdf._value(x_col)
    y = wdf._value(y_col)
    fitted = F.when(
        x.isNotNull(), F.col("intercept") + F.col("slope") * x
    )
    return j.select(
        *wdf.df.columns,
        fitted.alias(f"{y_col}_fitted"),
        F.when(y.isNotNull(), y - fitted).alias(f"{y_col}_resid"),
    )


def weighted_linreg(
    wdf,
    x_cols: Sequence[str],
    y_col: str,
    by: Optional[Sequence[str]] = None,
    ridge: float = 0.0,
) -> DataFrame:
    """Multiple weighted least squares ``y ≈ β₀ + Σ βᵢ·xᵢ`` minimizing
    ``Σ w·(y − ŷ)²``: ``(by…, intercept, coef (array, x_cols order),
    r2, n)`` — the k-predictor generalization of
    :func:`weighted_linfit` (same moment algebra:
    β = (X'WX)⁻¹X'Wy on the intercept-augmented design).

    Scale shape: the normal-equation moments — (k+1)(k+2)/2 upper-
    triangle Gram sums + k+1 cross sums — come from ONE hash aggregate
    with map-side partials over the raw rows; the solve runs in an
    Arrow-batched applyInPandas over the AGGREGATED frame (one row per
    group — the tiny table, not the data; numpy lstsq, honoring the
    engine's "no Python on the hot path" rule). ``ridge`` adds λ to
    the non-intercept diagonal for ill-conditioned designs. Rows with
    any NULL among x, y, w carry no mass (pairwise-complete-row mask);
    a group with fewer mass-carrying rows than k+2 yields NULLs.
    """
    import numpy as np
    import pandas as pd

    xs = list(x_cols)
    k = len(xs)
    if k == 0:
        raise ValueError("x_cols must name at least one predictor")
    keys = list(by or [])
    for c in [*xs, y_col, *keys]:
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    w = wdf.weights
    vals = [wdf._value(c) for c in xs]
    yv = wdf._value(y_col)
    ok = yv.isNotNull() & w.isNotNull()
    for v in vals:
        ok = ok & v.isNotNull()
    m = F.when(ok, w.cast("double")).otherwise(F.lit(0.0))
    design = [F.lit(1.0), *[v.cast("double") for v in vals]]
    aggs = [F.sum(m).alias("g_0_0")]  # Σw = gram[0][0]
    for i in range(k + 1):
        for j in range(i, k + 1):
            if i == 0 and j == 0:
                continue
            aggs.append(
                F.sum(m * design[i] * design[j]).alias(f"g_{i}_{j}")
            )
    for i in range(k + 1):
        aggs.append(F.sum(m * design[i] * yv).alias(f"c_{i}"))
    aggs.append(F.sum(m * yv * yv).alias("syy"))
    aggs.append(F.count(F.when(ok, F.lit(1))).alias("nrows"))
    g = (
        wdf.df.groupBy(*[F.col(c) for c in keys]).agg(*aggs)
        if keys
        else wdf.df.agg(*aggs)
    )

    out_schema = ", ".join(
        [*(f"`{c}` {g.schema[c].dataType.simpleString()}" for c in keys),
         "intercept double", "coef array<double>", "r2 double", "n double"]
    )

    def solve(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rows = []
        for _, r in pdf.iterrows():
            G = np.zeros((k + 1, k + 1))
            for i in range(k + 1):
                for j in range(i, k + 1):
                    G[i, j] = G[j, i] = r[f"g_{i}_{j}"]
            c = np.array([r[f"c_{i}"] for i in range(k + 1)])
            W = G[0, 0]
            base = {kk: r[kk] for kk in keys}
            if W <= 0 or r["nrows"] < k + 2:
                rows.append({**base, "intercept": None, "coef": None,
                             "r2": None, "n": W})
                continue
            A = G.copy()
            if ridge:
                A[1:, 1:] += np.eye(k) * ridge
            try:
                beta = np.linalg.solve(A, c)
            except np.linalg.LinAlgError:
                beta, *_ = np.linalg.lstsq(A, c, rcond=None)
            sst = r["syy"] - c[0] * c[0] / W
            sse = r["syy"] - float(beta @ c)
            r2 = 1.0 - sse / sst if sst > 0 else None
            rows.append({**base, "intercept": float(beta[0]),
                         "coef": [float(b) for b in beta[1:]],
                         "r2": r2, "n": float(W)})
        return pd.DataFrame(rows)

    grouped = (
        g.groupBy(*[F.col(c) for c in keys]) if keys else g.groupBy()
    )
    return grouped.applyInPandas(solve, out_schema)
