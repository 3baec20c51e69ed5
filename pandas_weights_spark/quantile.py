"""Weighted quantiles and the weighted CDF/rank family (engine
extension — the reference has no quantile support).

Every statistic here weighs a row by the quantile family's **mass
rule** (:func:`_mass`): ``w`` where the value and the weight are
non-NULL and ``w > 0``, else 0 — excluded rows carry no probability
mass.

* **Exact quantiles** (:func:`weighted_quantiles`): the frequency-weights
  "inverted CDF" — the q-quantile is the smallest value whose
  cumulative mass reaches ``q × Σw``, cumulating in ascending-x order
  with ties merged (a RANGE frame: equal values share one cumulative
  mass). One hash exchange on the group keys, one sort per value
  column, then a groupBy that reuses the window's partitioning.
  *Global* quantiles order the whole table in one window partition
  (one task), so at scale use :func:`weighted_quantiles_binned`
  (``exact=False`` on the groupby/frame methods): its shuffle is
  ``groups × bins`` whatever the row count, with error ≤ range/bins.
* **Per-row prefix sums** (:func:`weighted_cdf`, :func:`weighted_qcut`,
  :func:`weighted_gini`, :func:`weighted_ks`,
  :func:`weighted_mannwhitney`, and the inference module's info
  panel): all read tie-inclusive cumulative masses from one kernel,
  :func:`_banded_cums`. Its band totals merge into per-row prefix
  sums, so no ordered window ever spans a whole group.
"""

from __future__ import annotations

from typing import NamedTuple, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandas_weights_spark._stats import q as _q
from pandas_weights_spark.groupby import _join_group_stats, _key_cols

__all__ = [
    "weighted_quantiles",
    "weighted_quantiles_binned",
    "weighted_cdf",
    "weighted_winsorize",
    "weighted_qcut",
    "weighted_cut",
    "quantile_col_name",
    "weighted_gini",
    "weighted_ks",
    "weighted_mannwhitney",
    "weighted_robust_zscore",
]


def quantile_col_name(col: str, q: float) -> str:
    """``x, 0.5 → x_p50``; non-integral percents keep digits (``x_p12_5``)."""
    pct = q * 100.0
    if float(int(pct)) == pct:
        return f"{col}_p{int(pct)}"
    return f"{col}_p{str(pct).replace('.', '_')}"


def _carries_mass(
    x: Optional[Column], w: Column, where: Optional[Column] = None
) -> Column:
    """The mass rule as a condition: ``w > 0``, the value ``x`` is
    non-NULL (no value test when ``x`` is None) and ``where`` holds. A
    NULL weight fails ``w > 0``, so it needs no test of its own."""
    ok = w > 0 if x is None else x.isNotNull() & (w > 0)
    return ok if where is None else ok & where


def _carries_mass_sql(x: str, w: str) -> str:
    """:func:`_carries_mass` of a value as SQL text."""
    return f"(({x}) IS NOT NULL AND (({w}) > 0))"


def _mass(
    x: Optional[Column], w: Column, where: Optional[Column] = None
) -> Column:
    """The quantile family's mass rule: ``w`` where
    :func:`_carries_mass` holds, else 0."""
    return F.when(_carries_mass(x, w, where), w).otherwise(F.lit(0.0))


def _band(v: Column, lo: Column, hi: Column, bands: int) -> Column:
    """Linear band index of ``v`` over ``[lo, hi]``, clamped to
    ``[0, bands)``; band 0 when the bounds are NULL or degenerate.
    Equal values always share a band, so the bounds decide only how
    evenly rows spread over bands, never a prefix sum or a rank."""
    v, lo, hi = v.cast("double"), lo.cast("double"), hi.cast("double")
    return F.when(
        hi > lo,
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(bands - 1),
                F.floor((v - lo) / (hi - lo) * F.lit(float(bands))).cast(
                    "int"
                ),
            ),
        ),
    ).otherwise(F.lit(0))


def weighted_quantiles(
    wdf,
    qs: Union[float, Sequence[float]],
    subset: Optional[Sequence[str]] = None,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Grouped (or global, ``keys=()``) weighted quantiles.

    One output column per (value column, q): ``{col}_p{percent}``.
    Empty groups / all-excluded columns yield NULL.
    """
    if isinstance(qs, float):
        qs = [qs]
    qs = [float(q) for q in qs]
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile must be in (0, 1], got {q}")
    cols = list(subset) if subset is not None else wdf.numeric_columns()
    cols = [c for c in cols if c not in keys]
    if not cols:
        raise ValueError("no numeric columns for quantile")
    if not keys:
        import warnings

        warnings.warn(
            "global exact weighted quantile orders the whole table in a "
            "SINGLE window partition (one task). At scale, group it or "
            "use the binned path (exact=False / weighted_quantiles_binned).",
            stacklevel=2,
        )

    from pandas_weights_spark._stats import aggregate, num, q
    from pandas_weights_spark.frame import WEIGHT_COL

    w = q(WEIGHT_COL)
    part = f"PARTITION BY {', '.join(q(k) for k in keys)} " if keys else ""
    sel = [q(k) for k in keys]
    aggs = []
    for c in cols:
        x = wdf._value_sql(c)
        mass = f"CASE WHEN {_carries_mass_sql(x, w)} THEN {w} ELSE {num(0.0)} END"
        cum = (
            f"{part}ORDER BY {x} RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        )
        xn, cwn, twn = (q(f"__{s}_{c}__") for s in ("x", "cw", "tw"))
        sel += [
            f"{x} AS {xn}",
            f"CASE WHEN ({mass} > 0) THEN sum({mass}) OVER ({cum}) END AS {cwn}",
            f"sum({mass}) OVER ({part.strip()}) AS {twn}",
        ]
        for p in qs:
            aggs.append(
                f"min(CASE WHEN ({cwn} >= ({num(p)} * {twn})) THEN {xn} END)"
                f" AS {q(quantile_col_name(c, p))}"
            )
    return aggregate(wdf.df.selectExpr(*sel), aggs, keys)


class _Spine(NamedTuple):
    """Column names :func:`_banded_cums` adds for one value column."""

    band: str  #: the row's band index
    cum: dict  #: mass name → tie-inclusive cumulative sum in value order
    tot: dict  #: mass name → the group's total


def _banded_cums(
    wdf,
    masses: dict,
    keys: Sequence[str],
    bands: int = 256,
    bounds: Optional[DataFrame] = None,
):
    """The banded prefix-sum kernel: for every row, the tie-inclusive
    cumulative sum (ascending value order, within the row's ``keys``
    group) of each named mass, and each mass's group total.

    ``masses`` maps each value column to its masses, ``{name: Column}``.
    Returns ``(frame, spines)``: ``frame`` is the input rows plus the
    kernel's columns, whose names ``spines[col]`` (a :class:`_Spine`)
    gives.

    Plan, so no ordered window ever spans a whole group:

    * one fused per-group min/max aggregate over every value column,
      joined back (or, keyless only, ``bounds``: a one-row frame of
      ``(lo, hi)`` column pairs in value-column order, donated by a
      caller whose own aggregate already scanned the data);
    * per value column: a linear band over the group's range
      (:func:`_band`); one band-mass aggregate carrying every mass
      (map-side combine); one small window over the band totals giving
      each band's exclusive offset and the group total (one frame
      partitioned by ``keys``, so the total needs no aggregate and join
      of its own), joined back on ``(keys, band)``; and one RANGE-frame
      cumulative window per ``(keys, band)`` straight over the rows.
      RANGE includes ties, so no distinct-value aggregate or join-back
      on the value is needed.
    """
    keys = list(keys)
    kcF = _key_cols(keys)
    xs = {c: wdf._value(c) for c in masses}
    lohi = [(f"__lo_{i}__", f"__hi_{i}__") for i in range(len(masses))]
    if bounds is not None:
        if keys:
            raise ValueError("bounds= is only supported without keys")
        rng = bounds.toDF(*[n for pair in lohi for n in pair])
    else:
        rng = wdf.df.groupBy(*kcF).agg(
            *[
                agg
                for (lo, hi), x in zip(lohi, xs.values())
                for agg in (F.min(x).alias(lo), F.max(x).alias(hi))
            ]
        )
    base = _join_group_stats(wdf.df, rng, keys)
    spines = {
        c: _Spine(
            f"__band__{i}__",
            {n: f"__cum_{i}_{n}__" for n in ms},
            {n: f"__tw_{i}_{n}__" for n in ms},
        )
        for i, (c, ms) in enumerate(masses.items())
    }
    base = base.select(
        "*",
        *[
            _band(xs[c], F.col(lo), F.col(hi), bands).alias(spines[c].band)
            for (lo, hi), c in zip(lohi, masses)
        ],
    )

    cums = []
    for i, (c, ms) in enumerate(masses.items()):
        sp = spines[c]
        bm = {n: f"__bm_{i}_{n}__" for n in ms}
        off = {n: f"__off_{i}_{n}__" for n in ms}
        btot = base.groupBy(*kcF, F.col(sp.band)).agg(
            *[F.sum(m).alias(bm[n]) for n, m in ms.items()]
        )
        by_band = Window.partitionBy(*kcF).orderBy(sp.band)
        before = by_band.rowsBetween(Window.unboundedPreceding, -1)
        whole = by_band.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offs = btot.select(
            *kcF,
            sp.band,
            *[
                F.coalesce(F.sum(bm[n]).over(before), F.lit(0.0)).alias(off[n])
                for n in ms
            ],
            *[F.sum(bm[n]).over(whole).alias(sp.tot[n]) for n in ms],
        )
        base = _join_group_stats(base, offs, [*keys, sp.band])
        upto = (
            Window.partitionBy(*kcF, F.col(sp.band))
            .orderBy(xs[c])
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cums += [
            (F.sum(m).over(upto) + F.col(off[n])).alias(sp.cum[n])
            for n, m in ms.items()
        ]
    return base.select("*", *cums), spines


def weighted_cdf(
    wdf,
    subset: Optional[Sequence[str]] = None,
    keys: Sequence[str] = (),
    bands: int = 256,
) -> DataFrame:
    """Per-row weighted CDF transform (percentile-rank): adds
    ``{col}_cdf = F(x) = Σ mass(value ≤ x) / Σ mass`` within the row's
    group for every selected column — the transform counterpart of
    :func:`weighted_quantiles` (``min x with F(x) ≥ q`` is exactly the
    q-quantile). Rows whose value is NULL keep a NULL cdf. One
    :func:`_banded_cums` pass over all columns."""
    cols = list(subset) if subset is not None else wdf.numeric_columns()
    cols = [c for c in cols if c not in keys]
    if not cols:
        raise ValueError("no numeric columns for cdf")
    frame, spines = _banded_cums(
        wdf, {c: {"m": _mass(wdf._value(c), wdf.weights)} for c in cols},
        keys, bands,
    )
    cdfs = []
    for c in cols:
        cw, tw = F.col(spines[c].cum["m"]), F.col(spines[c].tot["m"])
        cdfs.append(
            F.when(
                wdf._value(c).isNotNull() & (tw > 0), F.try_divide(cw, tw)
            ).alias(f"{c}_cdf")
        )
    return frame.select(*_key_cols(wdf.df.columns), *cdfs)


def weighted_qcut(
    wdf,
    col: str,
    q: int,
    keys: Sequence[str] = (),
    bands: int = 256,
    out_col: Optional[str] = None,
    keep_cdf: bool = False,
) -> DataFrame:
    """Equal-weight-mass discretization (pandas ``qcut`` under
    frequency weights): per-row bin ``0..q-1`` such that each bin
    carries ~``1/q`` of the group's weight mass. Built on the CDF
    transform — ``bin = max(0, ⌈F(x)·q⌉ − 1)`` puts cdf ∈
    ``((i)/q, (i+1)/q]`` in bin ``i``, with ties sharing a bin (the
    ``duplicates="drop"`` behavior falls out: a value spanning a
    boundary lands wholly in its cdf's bin). NULL value → NULL bin.

    Scale shape = the CDF transform's (banded prefix sums, no ordered
    window over the raw rows); the bin arithmetic is a free map."""
    if q < 1:
        raise ValueError("q must be >= 1")
    c = weighted_cdf(wdf, subset=[col], keys=keys, bands=bands)
    cdfc = F.col(_q(f"{col}_cdf"))
    b = F.when(
        cdfc.isNotNull(),
        F.greatest(
            F.lit(0), (F.ceil(cdfc * F.lit(float(q))) - F.lit(1)).cast("int")
        ),
    )
    out = c.withColumn(out_col or f"{col}_qbin", b)
    # keep_cdf exposes the F(x) column the bin rides on — bin + cdf in
    # one banded pass instead of running the machinery twice
    return out if keep_cdf else out.drop(f"{col}_cdf")


def weighted_cut(
    wdf,
    col: str,
    edges: Sequence[float],
    right: bool = True,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Fixed-edge discretization (pandas ``cut`` with explicit bins):
    bin ``i`` ⟺ ``edges[i] < x <= edges[i+1]`` (``right=True``; flipped
    closure otherwise), NULL outside the edges — a pure row-local CASE
    expression (no shuffle, weights don't enter)."""
    edges = [float(e) for e in edges]
    if len(edges) < 2 or any(
        not a < b for a, b in zip(edges, edges[1:])
    ):
        raise ValueError("edges must be >= 2 strictly increasing values")
    x = wdf._value(col).cast("double")
    expr = F.lit(None).cast("int")
    for i in range(len(edges) - 2, -1, -1):
        lo, hi = edges[i], edges[i + 1]
        if right:
            inside = (x > F.lit(lo)) & (x <= F.lit(hi))
        else:
            inside = (x >= F.lit(lo)) & (x < F.lit(hi))
        expr = F.when(inside, F.lit(i)).otherwise(expr)
    return wdf.df.withColumn(out_col or f"{col}_bin", expr)


def weighted_winsorize(
    wdf,
    subset: Optional[Sequence[str]] = None,
    keys: Sequence[str] = (),
    lower: float = 0.05,
    upper: float = 0.95,
    exact: bool = True,
    bands: int = 1000,
    range_bounds: Optional[tuple] = None,
    suffix: str = "_wins",
) -> DataFrame:
    """Winsorize: clip each selected column at its group's weighted
    ``[lower, upper]`` quantiles (pandas ``clip(lower=q_lo, upper=q_hi)``
    with the bounds from the weighted inverted-CDF quantile family —
    the standard outlier-taming transform before training-statistics).

    Adds ``{col}{suffix}``; NULL values stay NULL, a group with no
    probability mass passes values through unclipped. ``exact=False``
    takes the binned quantile path (shuffle = groups × bands — the
    100 TB default, error ≤ range/bands).

    Plan: ONE quantile pass computes both bounds for every column
    (grouped: one shuffle), then an AQE-broadcast join-back and a
    row-local ``least``/``greatest`` — the same shape as the z-score
    transform.
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(
            f"need 0 <= lower < upper <= 1, got {lower}, {upper}"
        )
    cols = list(subset) if subset is not None else wdf.numeric_columns()
    cols = [c for c in cols if c not in keys]
    if not cols:
        raise ValueError("no numeric columns to winsorize")
    # quantile of 0 is outside the inverted-CDF domain (min mass > 0);
    # the weighted minimum is the value where cum mass first reaches
    # any positive mass, which lower=0 should mean — nudge to the
    # smallest representable q so cw >= q*tw still selects the min.
    qlo = lower if lower > 0.0 else 1e-12
    qs = [qlo, upper]
    if exact:
        bounds = weighted_quantiles(wdf, qs, subset=cols, keys=keys)
    else:
        if range_bounds is None:
            raise ValueError(
                "exact=False (binned) winsorize needs range_bounds=(lo, hi)"
            )
        bounds = weighted_quantiles_binned(
            wdf, qs, range_bounds[0], range_bounds[1],
            bins=bands, subset=cols, keys=keys,
        )
    out = _join_group_stats(wdf.df, bounds, keys)
    lo_of = {c: quantile_col_name(c, qlo) for c in cols}
    hi_of = {c: quantile_col_name(c, upper) for c in cols}
    for c in cols:
        x = wdf._value(c)
        lo, hi = F.col(_q(lo_of[c])), F.col(_q(hi_of[c]))
        # least/greatest SKIP nulls, so a missing bound (empty group)
        # degrades to a pass-through rather than nulling the value
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(x.isNotNull(), F.greatest(F.least(x, hi), lo)),
        )
    return out.drop(*lo_of.values(), *hi_of.values())


def weighted_quantiles_binned(
    wdf,
    qs: Union[float, Sequence[float]],
    lo: float,
    hi: float,
    bins: int = 4096,
    subset: Optional[Sequence[str]] = None,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Approximate weighted quantiles via a fixed binning of ``[lo, hi]``
    — the 100 TB path: NO per-row sort, just one hash aggregate on
    ``(keys, bin)`` (at most ``groups × bins`` rows ever shuffle) plus a
    tiny bin-level window.

    The returned value is the lower edge of the bucket where the
    cumulative weight first reaches ``q × Σw``: error ≤ ``(hi-lo)/bins``
    deterministically. Values are clamped into [lo, hi] (mass outside the
    range accumulates in the edge buckets), so Σw matches the exact
    definition. Same output column names as :func:`weighted_quantiles`.
    """
    if isinstance(qs, float):
        qs = [qs]
    qs = [float(q) for q in qs]
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile must be in (0, 1], got {q}")
    if bins <= 0 or not lo < hi:
        raise ValueError("need bins > 0 and lo < hi")
    cols = list(subset) if subset is not None else wdf.numeric_columns()
    cols = [c for c in cols if c not in keys]
    if not cols:
        raise ValueError("no numeric columns for quantile")

    w = wdf.weights
    df = wdf.df
    width = (hi - lo) / bins
    kc = _key_cols(keys)
    sel = list(kc)
    aggs1, aggs2 = [], []
    for c in cols:
        x = wdf._value(c)
        clamped = F.least(F.greatest(x, F.lit(float(lo))), F.lit(float(hi)))
        b = F.least(
            F.lit(bins - 1),
            F.floor((clamped - F.lit(float(lo))) / F.lit(width)).cast("int"),
        )
        mass = _mass(x, w)
        sel += [
            F.when(mass > 0, b).alias(f"__b_{c}__"),
            mass.alias(f"__m_{c}__"),
        ]
        aggs1.append(F.sum(f"__m_{c}__").alias(f"__bm_{c}__"))
    staged = df.select(*sel)
    if len(cols) == 1:
        # fast path: no generator — the whole map side stays in one
        # whole-stage-codegen span feeding the (keys, bin) hash aggregate
        c = cols[0]
        binned = (
            staged.select(
                *kc,
                F.lit(0).alias("__ci__"),
                F.col(_q(f"__b_{c}__")).alias("__b__"),
                F.col(_q(f"__m_{c}__")).alias("__m__"),
            )
            .where(F.col("__b__").isNotNull())
            .groupBy(*kc, "__ci__", "__b__")
            .agg(F.sum("__m__").alias("__bm__"))
        )
    else:
        # multi-column: one scan, per-column bins unioned via explode of
        # (col_idx, bin, mass) structs — the generator costs codegen
        # fusion, so multi-column binning trades map-side speed for a
        # single pass over the data
        pairs = F.array(
            *[
                F.struct(
                    F.lit(i).alias("ci"),
                    F.col(_q(f"__b_{c}__")).alias("b"),
                    F.col(_q(f"__m_{c}__")).alias("m"),
                )
                for i, c in enumerate(cols)
            ]
        )
        exploded = staged.select(*kc, F.explode(pairs).alias("p"))
        binned = (
            exploded.select(
                *kc,
                F.col("p.ci").alias("__ci__"),
                F.col("p.b").alias("__b__"),
                F.col("p.m").alias("__m__"),
            )
            .where(F.col("__b__").isNotNull())
            .groupBy(*kc, "__ci__", "__b__")
            .agg(F.sum("__m__").alias("__bm__"))
        )
    cum_w = Window.partitionBy(*kc, "__ci__").orderBy("__b__").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot_w = Window.partitionBy(*kc, "__ci__")
    cdf = binned.select(
        *kc,
        "__ci__",
        "__b__",
        F.sum("__bm__").over(cum_w).alias("__cw__"),
        F.sum("__bm__").over(tot_w).alias("__tw__"),
    )
    aggs = []
    for i, c in enumerate(cols):
        for q in qs:
            edge = F.lit(float(lo)) + F.col("__b__") * F.lit(width)
            hit = F.when(
                (F.col("__ci__") == i)
                & (F.col("__cw__") >= F.lit(q) * F.col("__tw__")),
                edge,
            )
            aggs.append(F.min(hit).alias(quantile_col_name(c, q)))
    return cdf.groupBy(*kc).agg(*aggs)


def _two_sample(x: Column, w: Column, group_col: str, group_a, group_b):
    """The per-side masses ``{"a": …, "b": …}`` of a two-sample
    statistic: the mass rule on rows whose ``group_col`` equals
    (null-safe) ``group_a`` / ``group_b``."""
    g = F.col(_q(group_col))
    return {
        "a": _mass(x, w, g.eqNullSafe(F.lit(group_a))),
        "b": _mass(x, w, g.eqNullSafe(F.lit(group_b))),
    }


def _gini(x: Column, m: Column, sp: _Spine):
    """Gini's aggregate columns over a :func:`_banded_cums` frame
    carrying masses ``m`` (mass) and ``s`` (mass·x), and the statistic
    read from them. ``__W__`` is the group's mass."""
    cw, cs = F.col(sp.cum["m"]), F.col(sp.cum["s"])
    aggs = [
        F.sum(m * (x.cast("double") * cw - cs)).alias("__num__"),
        F.min(F.col(sp.tot["m"])).alias("__W__"),
        F.min(F.col(sp.tot["s"])).alias("__S__"),
    ]
    return aggs, F.try_divide(
        F.col("__num__"), F.col("__W__") * F.col("__S__")
    )


def _ks(x: Column, sp: _Spine):
    """KS's aggregate columns over a :func:`_banded_cums` frame carrying
    the :func:`_two_sample` masses, and the statistic read from them
    (NULL unless both sides have mass). ``__na__``/``__nb__`` are the
    sides' masses."""
    fa = F.try_divide(F.col(sp.cum["a"]), F.col(sp.tot["a"]))
    fb = F.try_divide(F.col(sp.cum["b"]), F.col(sp.tot["b"]))
    aggs = [
        F.max(F.when(x.isNotNull(), F.abs(fa - fb))).alias("__ks__"),
        F.min(F.col(sp.tot["a"])).alias("__na__"),
        F.min(F.col(sp.tot["b"])).alias("__nb__"),
    ]
    both = (F.col("__na__") > 0) & (F.col("__nb__") > 0)
    return aggs, F.when(both, F.col("__ks__"))


def weighted_gini(
    wdf,
    col: str,
    keys: Sequence[str] = (),
    bands: int = 256,
) -> DataFrame:
    """Weighted Gini coefficient of ``col`` (optionally per ``keys``):
    ``(keys…, gini, n)`` with G = Σᵢ Σⱼ wᵢwⱼ|xᵢ−xⱼ| / (2·W·Σwx) —
    the mean-absolute-difference form, exact under frequency weights.

    Scale shape: the pairwise double sum collapses to per-row prefix
    sums — Σᵢ Σⱼ wᵢwⱼ|xᵢ−xⱼ| = 2·Σᵢ wᵢ(xᵢ·W⁼ᵢ − S⁼ᵢ) where W⁼/S⁼ are
    the tie-inclusive cumulative mass and cumulative Σwx at xᵢ (the
    tie terms cancel algebraically, so inclusive cums — exactly what
    the banded machinery produces — are correct). One banded-prefix
    pass + one aggregate; negative values are allowed (G is then not
    bounded by [0,1], as usual for the MAD form).
    """
    x = wdf._value(col)
    m = _mass(x, wdf.weights)
    frame, spines = _banded_cums(
        wdf, {col: {"m": m, "s": m * x.cast("double")}}, keys, bands
    )
    aggs, gini = _gini(x, m, spines[col])
    kc = _key_cols(keys)
    return frame.groupBy(*kc).agg(*aggs).select(
        *kc, gini.alias("gini"), F.col("__W__").alias("n")
    )


def weighted_ks(
    wdf,
    col: str,
    group_col: str,
    group_a,
    group_b,
    keys: Sequence[str] = (),
    bands: int = 256,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the weighted
    empirical CDFs of rows where ``group_col == group_a`` vs
    ``== group_b`` (optionally per ``keys``): ``(keys…, ks_stat,
    n_a, n_b)`` with D = max over observed x of |F_a(x) − F_b(x)|.

    Exact: the supremum of two step functions is attained at a data
    point, and the banded machinery yields both sides' tie-inclusive
    cumulative masses at EVERY pooled data point in one pass — so this
    is one banded-prefix pass + one max aggregate, no sort of the
    whole group on one task.
    """
    x = wdf._value(col)
    frame, spines = _banded_cums(
        wdf,
        {col: _two_sample(x, wdf.weights, group_col, group_a, group_b)},
        keys,
        bands,
    )
    aggs, ks = _ks(x, spines[col])
    kc = _key_cols(keys)
    return frame.groupBy(*kc).agg(*aggs).select(
        *kc,
        ks.alias("ks_stat"),
        F.col("__na__").alias("n_a"),
        F.col("__nb__").alias("n_b"),
    )


def weighted_mannwhitney(
    wdf,
    col: str,
    group_col: str,
    group_a,
    group_b,
    keys: Sequence[str] = (),
    bands: int = 256,
) -> DataFrame:
    """Weighted Mann–Whitney U (rank-sum) statistic between the rows
    where ``group_col == group_a`` vs ``== group_b``: ``(keys…,
    u_stat, z_stat, n_a, n_b)``.

    Frequency-weight generalization of the pairwise definition:
    U = Σ_{i∈A} Σ_{j∈B} wᵢwⱼ·([xᵢ > xⱼ] + ½[xᵢ = xⱼ]), which
    collapses to per-A-row prefix masses of the B sample —
    Σ_A wᵢ·(B-mass strictly below xᵢ + ½·B-mass at xᵢ). Strictly-below
    and at-value masses both come from the same banded WindowExec the
    CDF/KS family uses (inclusive cum + a RANGE(0,0) tie frame), so
    this is one banded pass + one aggregate — no whole-group sort on
    one task. ``z_stat`` is the large-sample normal approximation
    (no tie correction): (U − n_a·n_b/2)/√(n_a·n_b·(n_a+n_b+1)/12).
    """
    x = wdf._value(col)
    masses = _two_sample(x, wdf.weights, group_col, group_a, group_b)
    frame, spines = _banded_cums(wdf, {col: masses}, keys, bands)
    sp = spines[col]
    kcF = _key_cols(keys)
    at_win = (
        Window.partitionBy(*kcF, F.col(sp.band))
        .orderBy(x)
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    b_at = F.sum(masses["b"]).over(at_win)
    b_below = F.col(sp.cum["b"]) - b_at  # inclusive cum minus ties at x
    # window exprs must materialize before the aggregate sees them
    staged = frame.select(
        *kcF,
        (masses["a"] * (b_below + b_at / F.lit(2.0))).alias("__contrib__"),
        F.col(sp.tot["a"]).alias("__ta__"),
        F.col(sp.tot["b"]).alias("__tb__"),
    )
    agg = staged.groupBy(*kcF).agg(
        F.sum("__contrib__").alias("u_stat"),
        F.min("__ta__").alias("n_a"),
        F.min("__tb__").alias("n_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    mu = na * nb / F.lit(2.0)
    sigma = F.sqrt(na * nb * (na + nb + F.lit(1.0)) / F.lit(12.0))
    return agg.select(
        *kcF,
        F.when((na > 0) & (nb > 0), F.col("u_stat")).alias("u_stat"),
        F.when(
            (na > 0) & (nb > 0),
            F.try_divide(F.col("u_stat") - mu, sigma),
        ).alias("z_stat"),
        "n_a",
        "n_b",
    )


def weighted_robust_zscore(
    wdf,
    subset: Optional[Sequence[str]] = None,
    keys: Sequence[str] = (),
    exact: bool = True,
    bands: int = 1000,
    range_bounds: Optional[tuple] = None,
    suffix: str = "_rz",
) -> DataFrame:
    """Robust standardization: ``(x − median) / IQR`` per group, with
    the weighted median and quartiles from the inverted-CDF quantile
    family — the outlier-insensitive counterpart of ``zscore`` (mean/
    std standardization is dragged by the tails it should flag).

    Adds ``{col}{suffix}``; NULL values stay NULL; a zero-IQR group
    (more than half the mass on one value) yields NULL rather than
    ±inf. ``exact=False`` takes the binned quantile path (shuffle =
    groups × bands, the 100 TB default). Plan: ONE quantile pass for
    all three quartiles of every column, AQE-broadcast join-back,
    row-local arithmetic — the winsorize/zscore shape.
    """
    cols = list(subset) if subset is not None else wdf.numeric_columns()
    cols = [c for c in cols if c not in keys]
    if not cols:
        raise ValueError("no numeric columns to standardize")
    qs = [0.25, 0.5, 0.75]
    if exact:
        stats = weighted_quantiles(wdf, qs, subset=cols, keys=keys)
    else:
        if range_bounds is None:
            raise ValueError(
                "exact=False (binned) robust zscore needs range_bounds="
            )
        stats = weighted_quantiles_binned(
            wdf, qs, range_bounds[0], range_bounds[1],
            bins=bands, subset=cols, keys=keys,
        )
    out = _join_group_stats(wdf.df, stats, keys)
    names = {
        c: [quantile_col_name(c, q) for q in qs] for c in cols
    }
    for c in cols:
        x = wdf._value(c)
        q1, q2, q3 = _key_cols(names[c])
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(x.isNotNull(), F.try_divide(x - q2, q3 - q1)),
        )
    return out.drop(*[n for ns in names.values() for n in ns])
