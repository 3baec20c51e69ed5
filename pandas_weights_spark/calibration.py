"""Survey-weight calibration: raking (iterative proportional fitting)
and post-stratification, plus weighting diagnostics.

The reference library computes statistics UNDER given weights; real
survey workflows also have to PRODUCE those weights — calibrate a
base-weight column so the weighted marginal masses match known
population margins (region totals, demographic shares, …). This module
is that missing production step (engine extension, SURVEY.md §2.6),
classic Deming–Stephan IPF / raking as used by every survey package.

Scale design — the iteration loop never touches the data:

* The calibrated weight is ``w0 · Π_d f_d(x_d)`` — a product of ONE
  per-dimension factor lookup per row. Factors live driver-side as
  literal maps (a dimension has survey-cell cardinality: tens, not
  millions) and enter the plan as broadcast literals; the application
  is a row-local projection (no join, no shuffle — pinned by tests).
* IPF only ever needs the JOINT cross-classification masses, so the
  default strategy aggregates them in ONE scan
  (``groupBy(all dims).agg(sum w0)``, map-side combining), collects
  the tiny cell table (guarded by ``max_cells``), and runs the
  classic sequential Deming–Stephan updates driver-side. A 50-round
  rake costs one scan, not fifty.
* ``strategy="sequential"`` is the fallback when the joint grid
  explodes (many/high-cardinality dimensions): the textbook one
  marginal-mass scan per dimension per iteration, still no data
  rewrite between iterations.

Both strategies compute identical factors (the joint table is just a
sufficient statistic for the marginal updates). ``max_iter`` fixed +
``tol`` early-stop on the max relative margin error; raking with one
dimension IS post-stratification (exact in one step, exposed as
:func:`poststratify_weights`).
"""

from __future__ import annotations

from math import factorial as _fact
from typing import Dict, Mapping, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "rake_weights",
    "poststratify_weights",
    "weight_diagnostics",
    "bootstrap_se",
    "poisson1_multiplier",
    "trim_weights",
]

MarginSpec = Mapping[object, float]


def _factor_expr(col: str, factors: Dict[object, float]) -> Column:
    """Literal map lookup: the dimension's factor for this row's value.
    NULL category keys can't live in a map literal, so NULL gets its
    own branch."""
    null_f = factors.get(None)
    items = [(k, v) for k, v in factors.items() if k is not None]
    if items:
        m = F.create_map(
            *[x for k, v in items for x in (F.lit(k), F.lit(float(v)))]
        )
        lookup = F.element_at(m, F.col(col))
    else:
        lookup = F.lit(None).cast("double")
    if null_f is not None:
        lookup = F.when(
            F.col(col).isNull(), F.lit(float(null_f))
        ).otherwise(lookup)
    return F.coalesce(lookup, F.lit(1.0))


def _check_margins(
    dims, margins, masses: Dict[str, Dict[object, float]]
) -> None:
    """IPF feasibility: every positive-mass data category must have a
    target, every positive target must have data mass."""
    for d in dims:
        tgt, got = margins[d], masses[d]
        extra = {v for v, m in got.items() if m > 0 and v not in tgt}
        if extra:
            raise ValueError(
                f"dimension {d!r} has data mass in categories missing "
                f"from the margin: {sorted(map(repr, extra))}"
            )
        for v, t in tgt.items():
            if t > 0 and got.get(v, 0.0) <= 0:
                raise ValueError(
                    f"margin target for {d!r}={v!r} is {t} but the data "
                    "carries no mass there"
                )


def _ipf_step(
    d: str,
    margins: Mapping[str, MarginSpec],
    masses: Dict[object, float],
    factors: Dict[str, Dict[object, float]],
) -> Tuple[Dict[object, float], float]:
    """One sequential IPF update of dimension ``d`` from its CURRENT
    marginal masses: returns (per-value multiplier, max rel error)."""
    mult: Dict[object, float] = {}
    max_err = 0.0
    for v, t in margins[d].items():
        m = masses.get(v, 0.0)
        if m <= 0:
            continue
        mult[v] = t / m
        max_err = max(max_err, abs(m - t) / (t if t > 0 else 1.0))
    for v, f in mult.items():
        factors[d][v] = factors[d].get(v, 1.0) * f
    return mult, max_err


def rake_weights(
    df: DataFrame,
    weight: Union[str, Column],
    margins: Mapping[str, MarginSpec],
    max_iter: int = 50,
    tol: float = 1e-9,
    out_col: str = "weight_cal",
    strategy: str = "joint",
    max_cells: int = 100_000,
) -> Tuple[DataFrame, Dict]:
    """Rake ``weight`` to the given per-dimension target masses
    (classic sequential Deming–Stephan IPF).

    ``margins`` maps each dimension column to ``{value: target_mass}``
    (absolute masses — normalize shares yourself against Σw if needed;
    NULL as a key calibrates the NULL bucket). Returns ``(frame,
    info)``: the frame is ``df`` plus ``out_col`` (the calibrated
    weight, a row-local factor product), ``info`` reports
    ``iterations``, ``max_rel_err`` per iteration, ``converged``, and
    the final per-dimension ``factors``.

    ``strategy="joint"`` (default) aggregates the joint cell table in
    one scan and iterates driver-side (raises past ``max_cells`` —
    switch to ``"sequential"``, one marginal scan per dim per
    iteration, for high-dimensional rakes).

    Raises if the data contains a category with positive mass that the
    margin omits (IPF has no consistent answer for it), or if a target
    cell has no supporting data mass (its target is unreachable).
    """
    dims = list(margins)
    if not dims:
        raise ValueError("margins must name at least one dimension")
    if strategy not in ("joint", "sequential"):
        raise ValueError(f"unknown strategy {strategy!r}")
    for d in dims:
        if d not in df.columns:
            raise KeyError(f"margin column {d!r} not in frame")
        if not margins[d]:
            raise ValueError(f"empty margin for {d!r}")
        for v, t in margins[d].items():
            if t < 0:
                raise ValueError(f"negative target for {d!r}={v!r}")
    w0 = F.col(weight) if isinstance(weight, str) else weight
    w0 = F.when(w0.isNotNull() & (w0 > 0), w0.cast("double")).otherwise(
        F.lit(0.0)
    )

    factors: Dict[str, Dict[object, float]] = {d: {} for d in dims}
    errs: list = []
    converged = False
    it = 0

    if strategy == "joint":
        cells = (
            df.groupBy(*[F.col(d) for d in dims])
            .agg(F.sum(w0).alias("__m__"))
            .limit(max_cells + 1)
            .collect()
        )
        if len(cells) > max_cells:
            raise ValueError(
                f"joint cell table exceeds max_cells={max_cells}; use "
                "strategy='sequential'"
            )
        joint = {
            tuple(r[d] for d in dims): float(r["__m__"] or 0.0)
            for r in cells
        }

        def marginal(di: int) -> Dict[object, float]:
            out: Dict[object, float] = {}
            for key, m in joint.items():
                out[key[di]] = out.get(key[di], 0.0) + m
            return out

        _check_margins(
            dims, margins, {d: marginal(i) for i, d in enumerate(dims)}
        )
        for it in range(1, max_iter + 1):
            max_err = 0.0
            for di, d in enumerate(dims):
                mult, err = _ipf_step(d, margins, marginal(di), factors)
                max_err = max(max_err, err)
                if mult:
                    joint = {
                        k: m * mult.get(k[di], 1.0)
                        for k, m in joint.items()
                    }
            errs.append(max_err)
            if max_err <= tol:
                converged = True
                break
    else:
        for it in range(1, max_iter + 1):
            max_err = 0.0
            for d in dims:
                cur = w0
                for d2 in dims:
                    if factors[d2]:
                        cur = cur * _factor_expr(d2, factors[d2])
                got = {
                    r[d]: float(r["__m__"] or 0.0)
                    for r in df.groupBy(F.col(d))
                    .agg(F.sum(cur).alias("__m__"))
                    .collect()
                }
                if it == 1:
                    _check_margins([d], margins, {d: got})
                _, err = _ipf_step(d, margins, got, factors)
                max_err = max(max_err, err)
            errs.append(max_err)
            if max_err <= tol:
                converged = True
                break

    cal = w0
    for d in dims:
        if factors[d]:
            cal = cal * _factor_expr(d, factors[d])
    out = df.withColumn(out_col, cal)
    info = {
        "iterations": it,
        "max_rel_err": errs,
        "converged": converged,
        "factors": factors,
    }
    return out, info


def poststratify_weights(
    df: DataFrame,
    weight: Union[str, Column],
    strata_col: str,
    targets: MarginSpec,
    out_col: str = "weight_cal",
) -> Tuple[DataFrame, Dict]:
    """Single-dimension exact calibration (post-stratification): one
    mass scan, one factor map, exact in one iteration."""
    return rake_weights(
        df, weight, {strata_col: targets}, max_iter=1, tol=0.0,
        out_col=out_col,
    )


def weight_diagnostics(
    df: DataFrame,
    weight: Union[str, Column],
    by: Optional[list] = None,
) -> DataFrame:
    """Standard weighting diagnostics in one aggregate: ``n`` (rows
    with positive weight), ``sum_w``, Kish effective sample size
    ``n_eff = (Σw)²/Σw²``, design effect ``deff = n/n_eff`` (≥ 1;
    the variance inflation the weights cost), weight coefficient of
    variation ``cv_w``, and ``min_w``/``max_w``."""
    w = F.col(weight) if isinstance(weight, str) else weight
    m = F.when(w.isNotNull() & (w > 0), w.cast("double"))
    keys = list(by or [])
    aggs = [
        F.count(m).alias("n"),
        F.sum(m).alias("sum_w"),
        F.sum(m * m).alias("__sww__"),
        F.min(m).alias("min_w"),
        F.max(m).alias("max_w"),
    ]
    g = df.groupBy(*[F.col(k) for k in keys]).agg(*aggs) if keys else df.agg(*aggs)
    n = F.col("n").cast("double")
    S = F.col("sum_w")
    SS = F.col("__sww__")
    n_eff = F.try_divide(S * S, SS)
    mean_w = F.try_divide(S, n)
    var_w = F.try_divide(SS, n) - mean_w * mean_w
    return g.select(
        *keys,
        "n", "sum_w",
        n_eff.alias("n_eff"),
        F.try_divide(n, n_eff).alias("deff"),
        F.try_divide(F.sqrt(F.greatest(var_w, F.lit(0.0))), mean_w).alias(
            "cv_w"
        ),
        "min_w", "max_w",
    )


#: P(Poisson(1) <= k) thresholds for the inverse-CDF draw; k caps at 8
#: (P(X > 8) ~ 1e-6 — one lost count per ~1M rows per replicate).
_POISSON1_CDF: tuple = tuple(
    sum(2.718281828459045 ** -1 / _fact(k) for k in range(j + 1))
    for j in range(9)
)


def poisson1_multiplier(u: Column) -> Column:
    """Poisson(1) draw from a uniform in (0,1) via the inverse CDF —
    the per-row replicate multiplier of the Poisson bootstrap."""
    expr = F.lit(8)
    for k in range(8, -1, -1):
        expr = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(expr)
    return expr


def bootstrap_se(
    df: DataFrame,
    weight: Union[str, Column],
    value: str,
    key_cols: list,
    n_replicates: int = 50,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Poisson-bootstrap standard error of the weighted mean: one row
    with ``estimate`` (the full-sample weighted mean), ``se_boot``
    (stddev of the replicate means, ddof=1), and ``n_replicates``.

    The classic resampling bootstrap reshuffles the data B times; the
    Poisson bootstrap multiplies each row's weight by an independent
    Poisson(1) draw per replicate instead, so no data ever moves:
    explode a replicate-index array (replicate −1 = the unmultiplied
    base estimate), draw the multiplier from a deterministic md5
    uniform of ``key_cols`` + replicate (sample.py's engine-portable
    uniform_hash), and hash-aggregate on the replicate id — B+1
    groups, map-side combining, so the shuffle is partitions × (B+1)
    tiny rows regardless of data size. A final (B+1)-row aggregate
    yields the SE. (A first cut packed all 2B sums into one aggregate
    expression list; the serialized plan OOM'd executors at B=100 —
    the explode shape keeps the plan O(1) in B.)
    """
    from pandas_weights_spark.quantile import _mass
    from pandas_weights_spark.sample import uniform_hash

    if n_replicates < 2:
        raise ValueError("n_replicates must be >= 2")
    w = F.col(weight) if isinstance(weight, str) else weight
    x = F.col(value)
    m = _mass(x, w.cast("double"))
    rows = df.select(
        m.alias("__m__"),
        x.alias("__x__"),
        *[F.col(c) for c in key_cols],
        F.explode(
            F.sequence(F.lit(-1), F.lit(n_replicates - 1))
        ).alias("__r__"),
    )
    if portable:
        # md5 string-path uniform (sample.uniform_hash) — 100× the
        # hash cost of xxhash64 (measured 9.7 s vs 0.1 s for the
        # 600k×21 explode at sf0.1), kept ONLY so a SQL engine can
        # replay the draws (the driver oracle row)
        u = uniform_hash(
            [F.col(c) for c in key_cols]
            + [F.lit(seed).cast("long") + F.col("__r__")],
            seed=seed,
        )
    else:
        # native 64-bit path: top 53 bits of xxhash64 over the keys +
        # replicate index as a [0,1) uniform
        h = F.xxhash64(
            *[F.col(c) for c in key_cols],
            F.lit(seed).cast("long") + F.col("__r__"),
        )
        u = (
            F.shiftrightunsigned(h, 11).cast("double") * F.lit(2.0 ** -53)
            + F.lit(2.0 ** -54)
        )
    # materialize the uniform BEFORE the inverse-CDF CASE chain: the 9
    # WHEN branches each reference u, and re-deriving the hash per
    # branch measured ~2x the work (17.7 s vs 9.5 s at sf0.1 on md5)
    rows = rows.select("__m__", "__x__", "__r__", u.alias("__u__"))
    mult = F.when(
        F.col("__r__") < 0, F.lit(1.0)
    ).otherwise(poisson1_multiplier(F.col("__u__")).cast("double"))
    per = rows.groupBy("__r__").agg(
        F.sum(F.col("__m__") * mult).alias("__w__"),
        F.sum(F.col("__m__") * mult * F.col("__x__")).alias("__s__"),
    )
    mean_r = F.try_divide(F.col("__s__"), F.col("__w__"))
    return per.agg(
        F.max(F.when(F.col("__r__") < 0, mean_r)).alias("estimate"),
        F.stddev_samp(F.when(F.col("__r__") >= 0, mean_r)).alias("se_boot"),
        F.lit(n_replicates).alias("n_replicates"),
    )


def trim_weights(
    df: DataFrame,
    weight: Union[str, Column],
    upper_q: float = 0.99,
    lower_q: Optional[float] = None,
    rescale: bool = True,
    exact: bool = True,
    bins: int = 4096,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
    out_col: str = "weight_trimmed",
) -> DataFrame:
    """Survey-weight TRIMMING — the standard post-calibration step the
    raking/post-stratification family feeds into: cap weights at their
    own ``upper_q`` (optionally floor at ``lower_q``) quantile, then
    (default) RESCALE so the trimmed weights reproduce the original
    total mass ("trim and redistribute"; see e.g. Potter's survey
    weight-trimming reviews — public literature). Extreme calibration
    factors inflate variance (Kish n_eff collapses); trimming trades a
    small bias for that variance, and ``weight_diagnostics`` before vs
    after quantifies the trade.

    Bounds come from the engine's own weighted-quantile machinery over
    the WEIGHT column (unit mass — each row one case): ``exact=True``
    uses the inverted-CDF path (documented single-window exception at
    global scope), ``exact=False`` the binned CDF (the 100 TB path;
    pass ``lo``/``hi``). The caps are TWO scalars — the row-local
    clip + one rescale ratio never shuffle the data.

    Adds ``out_col``; NULL/non-positive weights pass through unchanged
    (they carry no mass anywhere in the engine).
    """
    from pandas_weights_spark.frame import wt as _wt

    if not 0.0 < upper_q <= 1.0:
        raise ValueError("upper_q must be in (0, 1]")
    if lower_q is not None and not 0.0 <= lower_q < upper_q:
        raise ValueError("lower_q must be in [0, upper_q)")
    w = F.col(weight) if isinstance(weight, str) else weight
    w = w.cast("double")
    src = df.select(w.alias("__tw__")).where(
        F.col("__tw__").isNotNull() & (F.col("__tw__") > 0)
    )
    qs = [upper_q] if lower_q is None else [lower_q, upper_q]
    wdf = _wt(src, F.lit(1.0))
    if exact:
        row = wdf.quantile(qs, subset=["__tw__"]).collect()[0]
    else:
        if lo is None or hi is None:
            raise ValueError("binned trimming needs lo= and hi= bounds")
        from pandas_weights_spark.quantile import weighted_quantiles_binned

        row = weighted_quantiles_binned(
            wdf, qs, lo=lo, hi=hi, bins=bins, subset=["__tw__"]
        ).collect()[0]
    from pandas_weights_spark.quantile import quantile_col_name

    up = row[quantile_col_name("__tw__", upper_q)]
    lo_b = (
        row[quantile_col_name("__tw__", lower_q)]
        if lower_q is not None
        else None
    )
    if up is None:
        return df.withColumn(out_col, w)
    clipped = F.least(w, F.lit(float(up)))
    if lo_b is not None:
        clipped = F.greatest(clipped, F.lit(float(lo_b)))
    clipped = F.when(w.isNotNull() & (w > 0), clipped).otherwise(w)
    if not rescale:
        return df.withColumn(out_col, clipped)
    totals = df.select(
        F.sum(F.when(w > 0, w)).alias("orig"),
        F.sum(F.when(w > 0, clipped)).alias("trim"),
    ).collect()[0]
    ratio = (
        float(totals["orig"]) / float(totals["trim"])
        if totals["trim"] else 1.0
    )
    return df.withColumn(
        out_col,
        F.when(w.isNotNull() & (w > 0), clipped * F.lit(ratio)).otherwise(w),
    )
