"""Weighted Pearson correlation and covariance operators.

Every corr/cov here is the same two steps: :func:`_stats.moment_sums`
builds a pair's seven moment sums under its joint validity mask, and
:func:`_stats.assemble` turns them into corr or cov. Two builders shape
the output:

* :func:`pair_matrix` — long-form matrices ``(keys…, col_x, col_y,
  corr/cov…)`` over a table's numeric columns, globally (reference
  ``frame.py:253-285``) or per group (reference ``frame.py:630-660``).
  The reference iterates groups on the driver; here it is ONE
  ``groupBy().agg()`` over all pair sums followed by a JVM-side
  ``inline`` unpivot — group cardinality is unbounded and there is
  exactly one shuffle (none without keys). Only the i<=j triangle's
  sums are computed (k(k+1)/2 pairs, as reference frame.py:272-283);
  the mirror cell reuses the computed value, and Catalyst shares
  duplicated sums across pairs within the one aggregate.
* :func:`_aligned` — one column against another table's column, aligned
  by an explicit inner join (reference ``series.py:222-247``,
  ``435-468``: pandas label alignment incl. duplicate-label
  cross-pairing → join fan-out), behind :func:`aligned_corr`,
  :func:`aligned_cov` and :func:`aligned_corr_cov`.

The rank (Spearman) and lag (autocorrelation) operators feed ranks or
lagged values through the same two steps.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandas_weights_spark._stats import assemble, moment_sums

if TYPE_CHECKING:
    import pandas as pd

    from pandas_weights_spark.frame import WeightedDataFrame

__all__ = [
    "pair_matrix",
    "corr_pair",
    "aligned_corr",
    "aligned_cov",
    "aligned_corr_cov",
    "spearman_corr",
    "spearman_matrix",
    "weighted_autocorr",
    "to_matrix",
]


def _check_method(method: str) -> None:
    # reference raises for non-pearson (frame.py:263-266); the engine
    # routes method="spearman" to spearman_matrix at the frame surface
    # (r5) — this guard covers the remaining methods (kendall, ...)
    # and the grouped matrix, where spearman stays pair-level
    # (spearman_corr(by=...)).
    if method != "pearson":
        raise NotImplementedError(
            f"weighted correlation method {method!r} is not supported "
            "here; use wt().corr(method='spearman') for the global "
            "rank matrix or spearman_corr() per pair/group."
        )


def pair_matrix(
    wdf: "WeightedDataFrame",
    keys: Sequence[str],
    stats: Sequence[str],
    *,
    cols: Optional[Sequence[str]] = None,
    dropna: bool = True,
    sort: bool = False,
    min_periods: int = 1,
    ddof: int = 1,
) -> DataFrame:
    """Weighted ``stats`` (``"corr"`` and/or ``"cov"``) matrices in long
    form ``(keys…, col_x, col_y, *stats)``, one aggregate pass.

    ``cols`` defaults to the numeric columns outside ``keys``;
    ``dropna`` drops NULL-key rows first (pandas groupby default);
    ``sort`` orders the output by ``(keys…, col_x, col_y)``. Asking for
    cov alone aggregates only the five sums it reads.
    """
    keys = list(keys)
    if cols is None:
        cols = [c for c in wdf.numeric_columns() if c not in keys]
    if not cols:
        raise ValueError("no numeric columns to correlate")
    df = wdf.df
    if dropna:
        for k in keys:
            df = df.where(F.col(k).isNotNull())
    w = wdf.weights
    cells = {}
    for i, cx in enumerate(cols):
        for j in range(i, len(cols)):
            m = moment_sums(wdf._value(cx), w, y=wdf._value(cols[j]))
            cells[i, j] = [
                assemble(s, m, ddof=ddof, min_periods=min_periods).alias(s)
                for s in stats
            ]
    pairs = F.array(
        *[
            F.struct(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                *cells[min(i, j), max(i, j)],
            )
            for i, cx in enumerate(cols)
            for j, cy in enumerate(cols)
        ]
    )
    out = (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(pairs.alias("__pairs__"))
        .select(*keys, F.inline("__pairs__"))
    )
    if sort:
        out = out.orderBy(*keys, "col_x", "col_y")
    return out


def corr_pair(
    wdf: "WeightedDataFrame",
    x_col: str,
    y_col: str,
    method: str = "pearson",
    min_periods: int = 1,
    ddof: int = 1,
) -> DataFrame:
    """Weighted Pearson correlation of ONE column pair — the matrix
    path's ``(x_col, y_col)`` cell without the matrix: 7 aggregate
    expressions instead of ``7·k(k+1)/2`` (measured ~3× less per-row
    aggregate work than a filtered 2-column matrix at sf0.1). The
    value is BIT-identical to :func:`pair_matrix`'s corresponding cell
    (same moment sums over the frame's nanvl'd values, same assembler).
    Output: one row ``(corr)``.
    """
    _check_method(method)
    m = moment_sums(wdf._value(x_col), wdf.weights, y=wdf._value(y_col))
    return wdf.df.agg(
        assemble("corr", m, ddof=ddof, min_periods=min_periods).alias("corr")
    )


def _aligned(
    left: DataFrame,
    x_col: str,
    other: DataFrame,
    y_col: str,
    on: Union[str, Sequence[str]],
    by: Optional[Sequence[str]],
    min_periods: Optional[int],
    ddof: int,
    stats: Sequence[str],
) -> DataFrame:
    """``stats`` of ``left[x_col]`` (weights already bound on ``left``
    under ``WEIGHT_COL``) against ``other[y_col]``, aligned by inner join
    on ``on`` — the engine's replacement for pandas label alignment
    (series.py:238-239). Duplicate join keys fan out like duplicate
    index labels (README.md:84-135). ``by`` adds per-group output
    ``(by…, *stats)`` ordered by ``by`` (series.py:435-468); default
    ``min_periods`` is 1 (series.py:246). One join, one aggregate.

    At scale: if ``other`` is small it is broadcast automatically by AQE;
    a skewed ``on`` key benefits from AQE skew handling.
    """
    from pandas_weights_spark.frame import WEIGHT_COL

    min_periods = 1 if min_periods is None else min_periods
    on_cols = [on] if isinstance(on, str) else list(on)
    by = list(by) if by else []

    left_sel = left.select(
        *dict.fromkeys(on_cols + by), F.col(x_col).alias("__pw_x__"), F.col(WEIGHT_COL)
    )
    right_sel = other.select(*on_cols, F.col(y_col).alias("__pw_other__"))
    joined = left_sel.join(right_sel, on=on_cols, how="inner")

    m = moment_sums(
        F.col("__pw_x__").cast("double"),
        F.col(WEIGHT_COL),
        y=F.col("__pw_other__").cast("double"),
    )
    out = joined.groupBy(*by).agg(
        *[assemble(s, m, ddof=ddof, min_periods=min_periods).alias(s) for s in stats]
    )
    return out.orderBy(*by) if by else out


def aligned_corr(
    left: DataFrame,
    x_col: str,
    other: DataFrame,
    y_col: str,
    on: Union[str, Sequence[str]],
    by: Optional[Sequence[str]] = None,
    method: str = "pearson",
    min_periods: Optional[int] = None,
    ddof: int = 1,
) -> DataFrame:
    """Aligned weighted Pearson correlation, output ``(by…, corr)`` —
    see :func:`_aligned`."""
    _check_method(method)
    return _aligned(left, x_col, other, y_col, on, by, min_periods, ddof, ("corr",))


def aligned_cov(
    left: DataFrame,
    x_col: str,
    other: DataFrame,
    y_col: str,
    on: Union[str, Sequence[str]],
    by: Optional[Sequence[str]] = None,
    min_periods: Optional[int] = None,
    ddof: int = 1,
) -> DataFrame:
    """Aligned weighted covariance, output ``(by…, cov)`` (extension:
    the reference aligns corr only) — see :func:`_aligned`; only the
    five sums cov reads are aggregated."""
    return _aligned(left, x_col, other, y_col, on, by, min_periods, ddof, ("cov",))


def aligned_corr_cov(
    left: DataFrame,
    x_col: str,
    other: DataFrame,
    y_col: str,
    on: Union[str, Sequence[str]],
    by: Optional[Sequence[str]] = None,
    min_periods: Optional[int] = None,
    ddof: int = 1,
) -> DataFrame:
    """Aligned correlation AND covariance in one join + one aggregate,
    output ``(by…, corr, cov)``; values bit-identical to
    :func:`aligned_corr` / :func:`aligned_cov` (which each re-run the
    alignment join)."""
    return _aligned(
        left, x_col, other, y_col, on, by, min_periods, ddof, ("corr", "cov")
    )


def _band(c: Column, bounds, bands: int) -> Column:
    """Linear band index of ``c`` over ``bounds = (lo, hi)``, clamped to
    ``[0, bands)``; band 0 when the bounds are missing or degenerate.
    Ranks are band-assignment-invariant (equal values always share a
    band), so bound quality affects only load balance, never values."""
    if bounds is None or not (bounds[1] > bounds[0]):
        return F.lit(0)
    lo, hi = float(bounds[0]), float(bounds[1])
    return F.greatest(
        F.lit(0),
        F.least(
            F.lit(bands - 1),
            F.floor(
                (c.cast("double") - F.lit(lo)) / F.lit(hi - lo)
                * F.lit(float(bands))
            ).cast("int"),
        ),
    )


def _offmap(entries: Column) -> Column:
    """Fold a (sorted) ``(band, n)`` list into an exclusive-running-sum
    ``map<band, offset>`` — ≤ bands elements, all expression-side."""
    zero = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.map_from_arrays(
            F.array().cast("array<int>"), F.array().cast("array<long>")
        ).alias("m"),
    )
    return F.aggregate(
        F.sort_array(entries),
        zero,
        lambda acc, e: F.struct(
            (acc["s"] + e["n"]).alias("s"),
            F.map_concat(acc["m"], F.create_map(e["band"], acc["s"])).alias("m"),
        ),
        lambda acc: acc["m"],
    )


def _rank(
    val_col: str, band_col: str, off_col: str, keys: Sequence[Column] = ()
) -> Column:
    """Average-tie rank from two banded cumulative-count windows: a
    tie-inclusive RANGE count within ``(keys, band)`` plus the band's
    offset, minus half the ties — no distinct-value aggregate."""
    win = Window.partitionBy(*keys, F.col(band_col)).orderBy(F.col(val_col))
    cum = F.count(F.lit(1)).over(
        win.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tie = F.count(F.lit(1)).over(
        win.rangeBetween(Window.currentRow, Window.currentRow)
    )
    return (
        (cum + F.col(off_col)).cast("double")
        - (tie - F.lit(1)).cast("double") / F.lit(2.0)
    )


def spearman_corr(
    wdf: "WeightedDataFrame",
    x_col: str,
    y_col: str,
    by: Optional[Sequence[str]] = None,
    min_periods: int = 1,
    ddof: int = 1,
    band_bounds: Optional[dict] = None,
) -> DataFrame:
    """Weighted Spearman rank correlation of two columns (extension: the
    reference raises for non-pearson, frame.py:263-266).

    Semantics: average-tie ranks over the pairwise-complete mask
    (x, y, w all non-NULL — exactly the rows pandas
    ``.corr(method="spearman")`` ranks), then the weighted Pearson
    kernel (:func:`~pandas_weights_spark._stats.assemble`) on
    the ranks. At unit weights this reproduces pandas spearman.

    Plan: per-row average-tie ranks come straight from TWO banded
    cumulative-count windows over the masked frame — one per column,
    each partitioned by ``(keys, band)`` so ranking stays parallel when
    the key has 3 distinct values and the column is near-unique. A
    RANGE frame makes the cumulative count tie-inclusive, so
    ``rank = band_offset + count(v' <= v) - (ties - 1)/2`` needs no
    distinct-value aggregate, no rank join-back, and no row-id regroup
    (the r3 melt-join-regroup shape paid THREE extra fat shuffles:
    distinct-count, rank join, rid regroup).

    r4 barrier diet (2.7 s → sf0.1 target <1.5 s; the windows were
    already cheap — sequential full passes were the cost):

    - band bounds come from a robust [p1, p99] of a bounded
      ``limit(10240)`` probe (ONE cheap job that reads about a row
      group, vs r3's full per-group min/max scan), or — for callers
      needing run-to-run reproducible plans (ADVICE r4: the probe's
      subset is partition-order dependent) — from an explicit
      ``band_bounds={"x": (lo, hi), "y": (lo, hi)}`` with no probe job
      at all. Deterministic probe variants were measured and rejected:
      content-hash sampling and split-pinned filters still scan every
      partition (+0.6 s), per-key exact percentiles via broadcast join
      +1.4 s on this 1.9 s query. Banding stays linear arithmetic
      (2 flops/row in codegen; an equal-frequency edge-array variant's
      per-row higher-order-function fold was 3× slower than the whole
      r3 query). Rows outside the probed support clamp into the edge
      bands; ranks are band-assignment-invariant (equal values always
      share a band), so bound quality affects only load balance,
      never the result.
    - the two per-(keys, band) offset joins are fused into ONE
      broadcast join on ``keys`` carrying two ``map<band, offset>``
      columns (≤ bands entries ≈ 2 KB per key — broadcast-small at any
      key cardinality that can hold a corr).

    Band totals still come from ONE GROUPING SETS
    ((keys, bandx), (keys, bandy)) map-side-combining pass — a joint
    (keys, bandx, bandy) count would materialize up to keys·bands²
    groups (a shuffle as fat as the data) only to be re-marginalized.
    """
    from pandas_weights_spark.frame import WEIGHT_COL
    from pandas_weights_spark.groupby import _join_group_stats

    bands = 256
    keys = list(by) if by else []
    kc = [F.col(k) for k in keys]
    # _value wraps in nanvl so pandas NaN means missing, like every kernel
    x = wdf._value(x_col)
    y = wdf._value(y_col)
    w = F.col(WEIGHT_COL)
    v = wdf.df.where(x.isNotNull() & y.isNotNull() & w.isNotNull()).select(
        *keys, x.alias("__x__"), y.alias("__y__"), w.alias(WEIGHT_COL)
    )
    # p1/p99 rather than min/max: one sampled outlier would stretch the
    # linear band range until the real mass collapses into a few bands.
    # The probe's row subset is partition-order dependent (limit races
    # the collect, ADVICE r4); ranks are band-assignment-invariant so
    # only load balance varies, never values. Callers needing
    # reproducible plans pass band_bounds={"x": (lo, hi), "y": ...} —
    # zero probe job, fully literal. Deterministic probe alternatives
    # were measured and rejected on this 1.9 s query: content-hash
    # sampling / split-pinned filters still scan every partition's
    # rows (+0.6 s), and per-key exact percentile bounds via broadcast
    # join cost +1.4 s (extra scan + losing the literal-codegen band).
    if band_bounds is not None:
        bounds = {"bx": tuple(band_bounds["x"]), "by": tuple(band_bounds["y"])}
    else:
        bounds = v.limit(10_240).agg(
            F.percentile_approx("__x__", [0.01, 0.99], 1000).alias("bx"),
            F.percentile_approx("__y__", [0.01, 0.99], 1000).alias("by"),
        ).first()
    if bounds["bx"] is None:  # no pairwise-complete rows at all
        null_corr = F.lit(None).cast("double").alias("corr")
        if keys:  # no groups either — empty result, matching r3
            return v.groupBy(*keys).agg(null_corr).select(*keys, "corr")
        return v.sparkSession.range(1).select(null_corr)

    j = v.select(
        *keys, "__x__", "__y__", WEIGHT_COL,
        _band(F.col("__x__"), bounds["bx"], bands).alias("__bandx__"),
        _band(F.col("__y__"), bounds["by"], bands).alias("__bandy__"),
    )
    gsets = j.groupingSets(
        [[*keys, "__bandx__"], [*keys, "__bandy__"]],
        *keys, "__bandx__", "__bandy__",
    ).agg(
        F.count(F.lit(1)).alias("__bt__"),
        F.grouping("__bandy__").alias("__gy__"),
    )
    # BOTH columns' band→offset maps from ONE aggregate over the
    # grouping-set marginals: collect each key's (band, count) list and
    # fold it (sorted) into an exclusive-running-sum map — ≤ bands
    # elements per key, all expression-side. Splitting into per-column
    # branches (r4 first cut) let Catalyst push the grouping-flag
    # filter into each branch's Expand, defeating exchange reuse and
    # re-scanning the table per column.
    def _entries(band_col: str, other_gone: int) -> Column:
        # when() without otherwise -> NULL for the other marginal's
        # rows, and collect_list drops NULLs
        return F.collect_list(
            F.when(
                F.col("__gy__") == other_gone,
                F.struct(
                    F.col(band_col).alias("band"), F.col("__bt__").alias("n")
                ),
            )
        )

    maps = gsets.groupBy(*kc).agg(
        _offmap(_entries("__bandx__", 1)).alias("__mx__"),
        _offmap(_entries("__bandy__", 0)).alias("__my__"),
    )
    if keys:
        j = _join_group_stats(j, maps, keys)
    else:
        j = j.crossJoin(F.broadcast(maps))
    j = j.select(
        *keys, "__x__", "__y__", WEIGHT_COL, "__bandx__", "__bandy__",
        F.element_at("__mx__", F.col("__bandx__")).alias("__off__bandx__"),
        F.element_at("__my__", F.col("__bandy__")).alias("__off__bandy__"),
    )

    j = j.select(
        *keys,
        WEIGHT_COL,
        _rank("__x__", "__bandx__", "__off__bandx__", kc).alias("__rx__"),
        _rank("__y__", "__bandy__", "__off__bandy__", kc).alias("__ry__"),
    )
    m = moment_sums(F.col("__rx__"), F.col(WEIGHT_COL), y=F.col("__ry__"))
    return j.groupBy(*kc).agg(
        assemble("corr", m, ddof=ddof, min_periods=min_periods).alias("corr")
    )


def spearman_matrix(
    wdf: "WeightedDataFrame",
    subset: Optional[Sequence[str]] = None,
    min_periods: int = 1,
    ddof: int = 1,
    bands: int = 256,
    band_bounds: Optional[dict] = None,
) -> DataFrame:
    """Weighted Spearman rank-correlation MATRIX, long form ``(col_x,
    col_y, corr)`` — the k-column companion to :func:`spearman_corr`
    (the reference raises for ``corr(method="spearman")``; this closes
    the matrix surface the pair operator left open).

    Semantics: LISTWISE-complete — rows with a NULL in ANY selected
    column (or the weight) drop before ranking, so every pair shares
    one rank basis and the matrix is positive semi-definite. This is
    the standard large-scale simplification and a documented divergence
    from pandas' per-pair masks (pandas re-ranks every pair over its
    own pairwise-complete rows — k² rank passes; at equal masks the two
    definitions coincide, and the pairwise behavior stays available via
    :func:`spearman_corr` per pair).

    Plan: one listwise filter → one bounded probe for ALL columns'
    [p1, p99] band bounds → ONE GROUPING SETS pass emitting every
    column's band counts → one k-map offset aggregate broadcast back →
    k banded rank windows (each partitioned by its own (band) — ranking
    parallelism k × bands, never a whole-table sort) → ONE moment
    aggregate for all k(k+1)/2 pairs (:func:`pair_matrix` over the
    ranks).

    ``band_bounds`` (r6, ADVICE r5 — the same escape hatch
    :func:`spearman_corr` grew in r5): a ``{col: (lo, hi)}`` mapping
    that skips the partition-order-dependent ``limit(10240)`` probe
    job entirely for run-to-run reproducible PLANS (values are
    band-assignment-invariant either way; only load balance varies).
    Columns absent from the mapping still probe.
    """
    from pandas_weights_spark.frame import WEIGHT_COL, WeightedDataFrame

    cols = list(subset) if subset is not None else wdf.numeric_columns()
    if not cols:
        raise ValueError("no numeric columns to correlate")
    k = len(cols)
    w = F.col(WEIGHT_COL)
    mask = w.isNotNull()
    for c in cols:
        mask = mask & wdf._value(c).isNotNull()
    v = wdf.df.where(mask).select(
        *[wdf._value(c).alias(f"__c{i}__") for i, c in enumerate(cols)],
        w.alias(WEIGHT_COL),
    )
    bb = {c: tuple(bnds) for c, bnds in (band_bounds or {}).items()}
    unknown = set(bb) - set(cols)
    if unknown:
        raise ValueError(f"band_bounds for unselected column(s): {unknown}")
    need_probe = [i for i, c in enumerate(cols) if c not in bb]
    probe = None
    if need_probe:
        probe = v.limit(10_240).agg(
            *[
                F.percentile_approx(f"__c{i}__", [0.01, 0.99], 1000).alias(
                    f"b{i}"
                )
                for i in need_probe
            ]
        ).first()
    bounds: "list" = []
    for i, c in enumerate(cols):
        if c in bb:
            lo, hi = bb[c]
            bounds.append((float(lo), float(hi)))
        else:
            b = probe[f"b{i}"]
            bounds.append(None if b is None else (float(b[0]), float(b[1])))

    j = v.select(
        "*",
        *[
            _band(F.col(f"__c{i}__"), bounds[i], bands).alias(f"__band{i}__")
            for i in range(k)
        ],
    )
    band_cols = [f"__band{i}__" for i in range(k)]
    gsets = j.groupingSets(
        [[b] for b in band_cols], *band_cols
    ).agg(
        F.count(F.lit(1)).alias("__bt__"),
        *[F.grouping(b).alias(f"__g{i}__") for i, b in enumerate(band_cols)],
    )

    maps = gsets.agg(
        *[
            _offmap(
                F.collect_list(
                    F.when(
                        F.col(f"__g{i}__") == 0,
                        F.struct(
                            F.col(band_cols[i]).alias("band"),
                            F.col("__bt__").alias("n"),
                        ),
                    )
                )
            ).alias(f"__map{i}__")
            for i in range(k)
        ]
    )
    j = j.crossJoin(F.broadcast(maps)).select(
        "*",
        *[
            F.element_at(F.col(f"__map{i}__"), F.col(band_cols[i])).alias(
                f"__off{i}__"
            )
            for i in range(k)
        ],
    )

    # the ranks take their columns' names, so the rank frame is itself a
    # weighted frame (double ranks, already-normalized weight: nothing
    # to cast or nanvl) and the Pearson matrix comes from pair_matrix
    ranked = j.select(
        WEIGHT_COL,
        *[
            _rank(f"__c{i}__", band_cols[i], f"__off{i}__").alias(c)
            for i, c in enumerate(cols)
        ],
    )
    return pair_matrix(
        WeightedDataFrame(ranked, WEIGHT_COL, nan_as_null=False),
        [],
        ("corr",),
        cols=cols,
        min_periods=min_periods,
        ddof=ddof,
    )


def to_matrix(long_form: DataFrame) -> "pd.DataFrame":
    """Pivot long-form ``(col_x, col_y, corr)`` to a square pandas matrix.

    Driver-side convenience for the reference's k×k output shape
    (frame.py:270) — k is the column count, so the collected data is tiny.
    """
    pdf = long_form.toPandas()
    order = list(dict.fromkeys(pdf["col_x"]))
    return (
        pdf.pivot(index="col_x", columns="col_y", values="corr")
        .reindex(index=order, columns=order)
        .rename_axis(index=None, columns=None)
    )


def weighted_autocorr(
    wdf: "WeightedDataFrame",
    col: str,
    lags: Sequence[int] = (1,),
    order_by: Sequence[str] = (),
    by: Optional[Sequence[str]] = None,
    ddof: int = 1,
    min_periods: int = 1,
) -> DataFrame:
    """Weighted autocorrelation function: the weighted Pearson
    correlation of ``x_t`` with ``x_{t−k}`` along ``order_by``
    (optionally per ``by`` group), one output row per (group, lag) —
    ``keys…, lag, corr`` (engine extension: lag features' sanity check
    in time-series / session pipelines).

    Convention: the pair ``(x_t, x_{t−k})`` carries the CURRENT row's
    weight ``w_t``, and is pairwise-complete masked like every corr
    kernel (x_t, x_{t−k}, w_t all non-NULL — leading rows of each group
    drop out of lag k naturally).

    Plan: ONE WindowExec produces every lagged column (all lags share
    the ``partitionBy(by) orderBy(order_by)`` sort), then ONE aggregate
    computes all lags' seven moments fused (map-side partials), and the
    long (lag, corr) shape unpivots from that single row — two
    exchanges total, independent of the number of lags.
    """
    from pandas_weights_spark.frame import WEIGHT_COL

    lags = [int(k) for k in lags]
    if not lags or any(k < 1 for k in lags):
        raise ValueError(f"lags must be positive ints, got {lags!r}")
    if not order_by:
        raise ValueError("autocorr requires order_by columns")
    keys = list(by or [])
    for c in [col, *order_by, *keys]:
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    if not keys:
        import warnings

        warnings.warn(
            "keyless autocorr orders the whole table in a single window "
            "partition (one task). Pass by= at scale.",
            stacklevel=2,
        )
    x = wdf._value(col)
    w = F.col(WEIGHT_COL)
    spec = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c) for c in order_by]
    )
    lagged = wdf.df.select(
        *keys,
        x.alias("__x__"),
        w.alias(WEIGHT_COL),
        *[F.lag(x, k).over(spec).alias(f"__xl_{k}__") for k in lags],
    )
    rows = [
        F.struct(
            F.lit(k).alias("lag"),
            assemble(
                "corr",
                moment_sums(
                    F.col("__x__"), F.col(WEIGHT_COL), y=F.col(f"__xl_{k}__")
                ),
                ddof=ddof,
                min_periods=min_periods,
            ).alias("corr"),
        )
        for k in lags
    ]
    return (
        lagged.groupBy(*[F.col(k) for k in keys])
        .agg(F.array(*rows).alias("__lags__"))
        .select(*keys, F.inline("__lags__"))
    )
