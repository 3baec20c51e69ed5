"""Weighted quantiles / median (engine extension — the reference has no
quantile support; this is the frequency-weights "inverted CDF" definition
consistent with the engine's ddof convention).

Definition: for the weighted distribution of a column x, the q-quantile
is the smallest value whose cumulative weight reaches ``q × Σw``,
cumulating in ascending-x order with ties merged (a RANGE frame: every
row of equal value shares one cumulative weight). Rows with NULL x, or
NULL/non-positive weight, are excluded — they carry no probability mass.

Plan shape: one hash exchange on the group keys, one sort per value
column (RANGE-frame running sum + a whole-partition total in the same
Window), then a reuse-partitioning groupBy — the agg rides the window's
exchange, so grouped quantiles cost exactly one shuffle like every other
grouped statistic.

Scale note: *global* (ungrouped) quantiles order the whole table in a
single window partition — exact but single-task, like any total order in
Spark. **At scale, default to** :func:`weighted_quantiles_binned` (the
same API surface via ``exact=False`` on the groupby/frame methods): its
shuffle is ``groups × bins`` regardless of row count, with error bounded
by ``range/bins``, and it is the documented 100 TB path for the whole
quantile family (quantile, median, MAD). Reserve this exact path for
bounded-size groups or small tables.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: lineage-cut the banded-prefix range probe (see _banded_cums).
#: None = AUTO (r16): cut when the raw side scans >= 16 partitions
#: (>~2 GB at the default 128 MB split), where re-running the pruned
#: min/max scan under the second join side costs far more than one
#: extra job submission — scale_smoke at 20 M rows measured
#: qcut 28.5 -> 21.0 s and group_cdf 21.6 -> 17.0 s with the cut.
#: On few-partition inputs (the sf0.1 bench's one-file tables) the
#: extra job dominates instead (r15 iso: qcut 1.37 -> 1.71 s), so
#: AUTO leaves those alone. True/False force either regime (the
#: scale_smoke A/B rows set them explicitly).
_CHECKPOINT_RANGE_PROBE: "bool | None" = None

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

    w = wdf.weights
    df = wdf.df
    sel = [F.col(k) for k in keys]
    part = [F.col(k) for k in keys]
    aggs = []
    for c in cols:
        x = wdf._value(c)
        # probability mass of this row for column c (0 ⇒ excluded)
        mass = F.when(x.isNotNull() & (w > 0), w).otherwise(F.lit(0.0))
        cum = Window.partitionBy(*part).orderBy(x).rangeBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        total = Window.partitionBy(*part)
        cw = F.sum(mass).over(cum)
        tw = F.sum(mass).over(total)
        sel += [
            x.alias(f"__x_{c}__"),
            F.when(mass > 0, cw).alias(f"__cw_{c}__"),
            tw.alias(f"__tw_{c}__"),
        ]
        for q in qs:
            aggs.append(
                F.min(
                    F.when(
                        F.col(f"__cw_{c}__") >= F.lit(q) * F.col(f"__tw_{c}__"),
                        F.col(f"__x_{c}__"),
                    )
                ).alias(quantile_col_name(c, q))
            )
    staged = df.select(*sel)
    return staged.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


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
    q-quantile; the invariant is pinned by tests). ``mass`` is the
    quantile family's rule: ``w`` where value and weight are non-NULL
    and ``w > 0``, else 0. Rows whose value is NULL keep a NULL cdf.

    Scale shape — the banded prefix sum (same as spearman's ranks, NOT
    an ordered window over ``Window.partitionBy(keys)``): range-band
    via the group's min/max (one fused aggregate for every column),
    per-band mass totals (map-side combine), per-band exclusive
    offsets + the group total in one tiny ordered window, then a
    tie-inclusive RANGE-frame cumulative sum per (group, band) DIRECTLY
    over the rows — no distinct-value aggregate and no join back on
    (group, value) (the r3 shape paid both; removing them halved the
    fat shuffles).
    """
    from pandas_weights_spark.groupby import _join_group_stats

    cols = list(subset) if subset is not None else wdf.numeric_columns()
    cols = [c for c in cols if c not in keys]
    if not cols:
        raise ValueError("no numeric columns for cdf")
    w = wdf.weights
    kc = list(keys)
    kcF = [F.col(k) for k in kc]
    orig_cols = list(wdf.df.columns)

    # per-group min/max for EVERY column in one aggregate, joined back
    # null-safe (NULL-key groups keep their transform, dropna=False)
    rng_aggs = []
    for c in cols:
        x = wdf._value(c)
        rng_aggs += [
            F.min(x).alias(f"__lo_{c}__"), F.max(x).alias(f"__hi_{c}__")
        ]
    rng = wdf.df.groupBy(*kcF).agg(*rng_aggs)
    if kc:
        base = _join_group_stats(wdf.df, rng, kc)
    else:
        base = wdf.df.crossJoin(F.broadcast(rng))

    def _mass(c: str):
        x = wdf._value(c)
        return F.when(x.isNotNull() & (w > 0), w).otherwise(F.lit(0.0))

    band_sel = []
    for c in cols:
        v = wdf._value(c).cast("double")
        lo = F.col(f"__lo_{c}__").cast("double")
        hi = F.col(f"__hi_{c}__").cast("double")
        band = F.when(
            hi > lo,
            F.least(
                F.lit(bands - 1),
                F.floor((v - lo) / (hi - lo) * F.lit(float(bands))).cast(
                    "int"
                ),
            ),
        ).otherwise(F.lit(0))
        band_sel.append(band.alias(f"__band__{c}__"))
    base = base.select("*", *band_sel)

    for c in cols:
        bcol = f"__band__{c}__"
        btot = base.groupBy(*kcF, F.col(bcol)).agg(
            F.sum(_mass(c)).alias("__bm__")
        )
        # exclusive band offset AND the group total in ONE WindowExec:
        # both frames share the partitionBy(keys) spec, so the group
        # total rides the same sort instead of costing a separate
        # groupBy(keys) aggregate plus a join back (one fewer Exchange,
        # pinned by test_plans).
        off_win = (
            Window.partitionBy(*kcF)
            .orderBy(bcol)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        tot_win = Window.partitionBy(*kcF).orderBy(bcol).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        off = btot.select(
            *kc,
            bcol,
            F.coalesce(F.sum("__bm__").over(off_win), F.lit(0.0)).alias(
                f"__off_{c}__"
            ),
            F.sum("__bm__").over(tot_win).alias(f"__tw_{c}__"),
        )
        base = _join_group_stats(base, off, kc + [bcol])

    cdf_cols = []
    for c in cols:
        bcol = f"__band__{c}__"
        x = wdf._value(c)
        # RANGE frame: every row with value <= current (ties included)
        # is in frame, so the cumulative mass IS F(x) — per-row, no
        # distinct-value detour
        cum_win = (
            Window.partitionBy(*kcF, F.col(bcol))
            .orderBy(x)
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cw = F.sum(_mass(c)).over(cum_win) + F.col(f"__off_{c}__")
        tw = F.col(f"__tw_{c}__")
        cdf_cols.append(
            F.when(
                x.isNotNull() & (tw > 0), F.try_divide(cw, tw)
            ).alias(f"{c}_cdf")
        )
    return base.select(*orig_cols, *cdf_cols)


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
    cdfc = F.col(f"{col}_cdf")
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
    from pandas_weights_spark.groupby import _join_group_stats

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
    if keys:
        out = _join_group_stats(wdf.df, bounds, list(keys))
    else:
        out = wdf.df.crossJoin(F.broadcast(bounds))
    lo_of = {c: quantile_col_name(c, qlo) for c in cols}
    hi_of = {c: quantile_col_name(c, upper) for c in cols}
    for c in cols:
        x = wdf._value(c)
        lo, hi = F.col(lo_of[c]), F.col(hi_of[c])
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
    sel = [F.col(k) for k in keys]
    part = [F.col(k) for k in keys]
    aggs1, aggs2 = [], []
    for c in cols:
        x = wdf._value(c)
        clamped = F.least(F.greatest(x, F.lit(float(lo))), F.lit(float(hi)))
        b = F.least(
            F.lit(bins - 1),
            F.floor((clamped - F.lit(float(lo))) / F.lit(width)).cast("int"),
        )
        mass = F.when(x.isNotNull() & (w > 0), w).otherwise(F.lit(0.0))
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
                *[F.col(k) for k in keys],
                F.lit(0).alias("__ci__"),
                F.col(f"__b_{c}__").alias("__b__"),
                F.col(f"__m_{c}__").alias("__m__"),
            )
            .where(F.col("__b__").isNotNull())
            .groupBy(*[F.col(k) for k in keys], "__ci__", "__b__")
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
                    F.col(f"__b_{c}__").alias("b"),
                    F.col(f"__m_{c}__").alias("m"),
                )
                for i, c in enumerate(cols)
            ]
        )
        exploded = staged.select(
            *[F.col(k) for k in keys], F.explode(pairs).alias("p")
        )
        binned = (
            exploded.select(
                *[F.col(k) for k in keys],
                F.col("p.ci").alias("__ci__"),
                F.col("p.b").alias("__b__"),
                F.col("p.m").alias("__m__"),
            )
            .where(F.col("__b__").isNotNull())
            .groupBy(*[F.col(k) for k in keys], "__ci__", "__b__")
            .agg(F.sum("__m__").alias("__bm__"))
        )
    cum_w = Window.partitionBy(*part, "__ci__").orderBy("__b__").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot_w = Window.partitionBy(*part, "__ci__")
    cdf = binned.select(
        *[F.col(k) for k in keys],
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
    return cdf.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def _banded_cums(
    wdf,
    col: str,
    keys: Sequence[str],
    masses: dict,
    bands: int = 256,
    bounds=None,
):
    """Shared banded-prefix engine: per-row INCLUSIVE cumulative sums
    (ties included, value order) of several named mass expressions over
    ``col`` within each ``keys`` group, plus each mass's group total.

    Returns ``(frame, cums, tots)`` where ``cums[name]``/``tots[name]``
    are column names on ``frame``. Same scale shape as
    :func:`weighted_cdf` (range-banded windows; never an ordered window
    over the whole group) generalized to N accumulators: band totals
    for ALL masses ride one aggregate, offsets + totals one tiny
    WindowExec, per-row cumulative sums one (keys, band) WindowExec.

    ``bounds`` (r6, keyless only): a 1-row DataFrame carrying
    ``__lo__``/``__hi__`` — lets a caller whose OWN aggregate already
    scanned the data (e.g. :func:`~pandas_weights_spark.inference.
    weighted_info_panel`'s grouping-sets pass) donate the min/max so
    the band-range probe rides a ReusedExchange instead of a fifth
    raw-relation read. Values are identical either way; only the plan
    shrinks.
    """
    from pandas_weights_spark.groupby import _join_group_stats

    kcF = [F.col(k) for k in keys]
    x = wdf._value(col)
    if bounds is not None:
        if keys:
            raise ValueError("bounds= is only supported without keys")
        rng = bounds.select("__lo__", "__hi__")
    else:
        rng = wdf.df.groupBy(*kcF).agg(
            F.min(x).alias("__lo__"), F.max(x).alias("__hi__")
        )
        # r16 (r15 "Not yet optimized" #2): the probe subtree executes
        # under BOTH join sides when bounds are not donated; the
        # lineage cut trades one extra Spark job for one fewer pruned
        # column scan. Scale-adaptive via the input's partition count
        # (the fan_out guard pattern — partitions track input bytes
        # for file sources): ON at >= 16 scan partitions where
        # scale_smoke measured it 1.27-1.36x at 20 M rows, OFF on the
        # few-partition inputs where the extra job dominates instead
        # (module flag _CHECKPOINT_RANGE_PROBE forces either regime;
        # rows identical in both — the probe is deterministic).
        cut = _CHECKPOINT_RANGE_PROBE
        if cut is None:
            cut = wdf.df.rdd.getNumPartitions() >= 16
        if cut:
            rng = rng.localCheckpoint(eager=False)
    if keys:
        base = _join_group_stats(wdf.df, rng, list(keys))
    else:
        base = wdf.df.crossJoin(F.broadcast(rng))
    v = x.cast("double")
    lo, hi = F.col("__lo__").cast("double"), F.col("__hi__").cast("double")
    band = F.when(
        hi > lo,
        F.least(
            F.lit(bands - 1),
            F.floor((v - lo) / (hi - lo) * F.lit(float(bands))).cast("int"),
        ),
    ).otherwise(F.lit(0))
    base = base.select("*", band.alias("__band__"))

    btot = base.groupBy(*kcF, F.col("__band__")).agg(
        *[F.sum(m).alias(f"__bm_{n}__") for n, m in masses.items()]
    )
    off_win = (
        Window.partitionBy(*kcF)
        .orderBy("__band__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot_win = Window.partitionBy(*kcF).orderBy("__band__").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off = btot.select(
        *keys,
        "__band__",
        *[
            F.coalesce(
                F.sum(f"__bm_{n}__").over(off_win), F.lit(0.0)
            ).alias(f"__off_{n}__")
            for n in masses
        ],
        *[
            F.sum(f"__bm_{n}__").over(tot_win).alias(f"__tot_{n}__")
            for n in masses
        ],
    )
    base = _join_group_stats(base, off, list(keys) + ["__band__"])
    cum_win = (
        Window.partitionBy(*kcF, F.col("__band__"))
        .orderBy(x)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = ["*"] + [
        (F.sum(m).over(cum_win) + F.col(f"__off_{n}__")).alias(f"__cum_{n}__")
        for n, m in masses.items()
    ]
    out = base.select(*sel)
    cums = {n: f"__cum_{n}__" for n in masses}
    tots = {n: f"__tot_{n}__" for n in masses}
    return out, cums, tots


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
    w = wdf.weights
    x = wdf._value(col)
    m = F.when(x.isNotNull() & w.isNotNull() & (w > 0), w).otherwise(
        F.lit(0.0)
    )
    frame, cums, tots = _banded_cums(
        wdf, col, list(keys),
        {"m": m, "s": m * x.cast("double")}, bands=bands,
    )
    cw, cs = F.col(cums["m"]), F.col(cums["s"])
    W, S = F.col(tots["m"]), F.col(tots["s"])
    num = F.sum(m * (x.cast("double") * cw - cs))
    agg = frame.groupBy(*[F.col(k) for k in keys]).agg(
        num.alias("__num__"), F.min(W).alias("__W__"), F.min(S).alias("__S__")
    )
    return agg.select(
        *keys,
        F.try_divide(
            F.col("__num__"), F.col("__W__") * F.col("__S__")
        ).alias("gini"),
        F.col("__W__").alias("n"),
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
    w = wdf.weights
    x = wdf._value(col)
    ok = x.isNotNull() & w.isNotNull() & (w > 0)
    ma = F.when(ok & F.col(group_col).eqNullSafe(F.lit(group_a)), w).otherwise(
        F.lit(0.0)
    )
    mb = F.when(ok & F.col(group_col).eqNullSafe(F.lit(group_b)), w).otherwise(
        F.lit(0.0)
    )
    frame, cums, tots = _banded_cums(
        wdf, col, list(keys), {"a": ma, "b": mb}, bands=bands
    )
    fa = F.try_divide(F.col(cums["a"]), F.col(tots["a"]))
    fb = F.try_divide(F.col(cums["b"]), F.col(tots["b"]))
    d = F.when(x.isNotNull(), F.abs(fa - fb))
    agg = frame.groupBy(*[F.col(k) for k in keys]).agg(
        F.max(d).alias("ks_stat"),
        F.min(F.col(tots["a"])).alias("n_a"),
        F.min(F.col(tots["b"])).alias("n_b"),
    )
    return agg.select(
        *keys,
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.col("ks_stat")).alias(
            "ks_stat"
        ),
        "n_a",
        "n_b",
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
    w = wdf.weights
    x = wdf._value(col)
    ok = x.isNotNull() & w.isNotNull() & (w > 0)
    ma = F.when(ok & F.col(group_col).eqNullSafe(F.lit(group_a)), w).otherwise(
        F.lit(0.0)
    )
    mb = F.when(ok & F.col(group_col).eqNullSafe(F.lit(group_b)), w).otherwise(
        F.lit(0.0)
    )
    frame, cums, tots = _banded_cums(
        wdf, col, list(keys), {"a": ma, "b": mb}, bands=bands
    )
    kcF = [F.col(k) for k in keys]
    at_win = (
        Window.partitionBy(*kcF, F.col("__band__"))
        .orderBy(x)
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    b_at = F.sum(mb).over(at_win)
    b_below = F.col(cums["b"]) - b_at  # inclusive cum minus ties at x
    # window exprs must materialize before the aggregate sees them
    staged = frame.select(
        *kcF,
        (ma * (b_below + b_at / F.lit(2.0))).alias("__contrib__"),
        F.col(tots["a"]).alias("__ta__"),
        F.col(tots["b"]).alias("__tb__"),
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
        *keys,
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
    from pandas_weights_spark.groupby import _join_group_stats

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
    if keys:
        out = _join_group_stats(wdf.df, stats, list(keys))
    else:
        out = wdf.df.crossJoin(F.broadcast(stats))
    names = {
        c: [quantile_col_name(c, q) for q in qs] for c in cols
    }
    for c in cols:
        x = wdf._value(c)
        q1, q2, q3 = [F.col(n) for n in names[c]]
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(x.isNotNull(), F.try_divide(x - q2, q3 - q1)),
        )
    return out.drop(*[n for ns in names.values() for n in ns])
