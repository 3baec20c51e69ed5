"""Weighted grouped aggregation (reference ``frame.py:449-679``,
``series.py:341-481``).

Each statistic compiles to exactly one ``df.groupBy(keys).agg(...)`` —
a single shuffle with map-side partial aggregation — versus the
reference's three independent grouped passes for ``var``
(frame.py:599-609). ``agg_all`` fuses several statistics over the same
grouping into that same single shuffle, which the reference cannot do
at all.

Scale notes (100 TB posture):
* The shuffle is keyed on the grouping columns; AQE handles skewed keys
  and partition coalescing at runtime.
* No ``collect()`` anywhere — results stay distributed.
* ``mode="cube"|"rollup"`` compose the same weighted expressions with
  native grouping sets (SURVEY.md §2.6).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandas_weights_spark import _stats
from pandas_weights_spark.frame import WEIGHT_COL

if TYPE_CHECKING:
    from pandas_weights_spark.frame import WeightedDataFrame

__all__ = ["WeightedGroupBy"]


#: every statistic agg_all / agg accept: the moment statistics
#: :func:`_stats.assemble` builds, then the mass-rule kernels
_STATS = (*_stats.MOMENT_STATS, *_stats.KERNELS)


def _stat_exprs(
    wdf: "WeightedDataFrame", col: str, stats: Sequence[str], **kwargs
) -> list[str]:
    """``{col}_{stat}`` aggregate SQL for ``stats`` of one column
    (:func:`_stats.stat_sql`). ``kwargs`` are the moment statistics'
    ``skipna``/``ddof``/``min_count``; others are ignored."""
    x = wdf._value_sql(col)
    w = _stats.q(WEIGHT_COL)
    opts = {k: kwargs[k] for k in ("skipna", "ddof", "min_count") if k in kwargs}
    return [
        f"{_stats.stat_sql(s, x, w, **opts)} AS {_stats.q(f'{col}_{s}')}"
        for s in stats
    ]


def _key_cols(keys: Sequence[str]) -> list[Column]:
    """Key columns by literal name (a dot is part of the name)."""
    return [F.col(_stats.q(k)) for k in keys]


def _join_group_stats(
    df: DataFrame, stats: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Left-join per-group statistics back onto the row frame.

    The scale-safe shape for per-row transforms: the statistics frame is
    one row per group (tiny relative to ``df``), so AQE broadcast-joins
    it at runtime — no forced ``F.broadcast`` hint, because group-key
    cardinality is unbounded and a hinted broadcast of a huge side OOMs
    the executors; a plain shuffle join is safe at any cardinality.

    Uses null-safe key equality (``<=>``) so NULL-key groups keep their
    statistics (matching ``Window.partitionBy`` / pandas ``dropna=False``
    semantics, where NULL is an ordinary group key). The stats frame's
    key columns are renamed before the join and dropped after, so the
    output has exactly ``df``'s columns plus the statistic columns.

    With no keys ``stats`` is one row, broadcast-crossjoined.
    """
    if not keys:
        return df.crossJoin(F.broadcast(stats))
    renamed = stats
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__pw_sk_{k}__")
    cond = None
    for k in keys:
        c = df[_stats.q(k)].eqNullSafe(renamed[_stats.q(f"__pw_sk_{k}__")])
        cond = c if cond is None else (cond & c)
    out = df.join(renamed, cond, "left")
    return out.drop(*[f"__pw_sk_{k}__" for k in keys])


class WeightedGroupBy:
    """Lazy weighted group-by: ``(WeightedDataFrame, keys)`` pair.

    ``dropna=True`` (pandas groupby default) drops rows whose key is NULL
    before grouping; Spark's native default keeps them, so the filter is
    explicit (SURVEY.md §2.3 row 19). ``sort=True`` orders the result by
    the group keys (pandas ``sort=True`` default — here opt-in because a
    global sort is an extra exchange at scale).
    """

    def __init__(
        self,
        wdf: "WeightedDataFrame",
        keys: Sequence[str],
        dropna: bool = True,
        sort: bool = False,
        mode: str = "groupby",
    ) -> None:
        if not keys:
            raise ValueError("groupby requires at least one key column")
        missing = [k for k in keys if k not in wdf.df.columns]
        if missing:
            raise KeyError(f"group keys not in DataFrame: {missing}")
        if mode not in ("groupby", "cube", "rollup"):
            raise ValueError(f"unknown grouping mode: {mode!r}")
        self._wdf = wdf
        self._keys = list(keys)
        self._dropna = dropna
        self._sort = sort
        self._mode = mode

    # -- plumbing -------------------------------------------------------------

    def __getitem__(self, key):
        """Narrow the aggregated columns (frame.py:468-477)."""
        cols = [key] if isinstance(key, str) else list(key)
        out = WeightedGroupBy(
            self._wdf._subset(cols),
            self._keys,
            dropna=self._dropna,
            sort=self._sort,
            mode=self._mode,
        )
        return out

    def _value_cols(self) -> list[str]:
        """Numeric data columns minus the group keys (frame.py:496-503:
        keys are 'exclusions', never aggregated)."""
        return [c for c in self._wdf.numeric_columns() if c not in self._keys]

    def _kept(self) -> "WeightedDataFrame":
        """The weighted frame over the rows the grouping keeps:
        ``dropna=True`` drops the rows with a NULL key."""
        if not self._dropna:
            return self._wdf
        df = self._wdf.df.where(
            " AND ".join(f"{_stats.q(k)} IS NOT NULL" for k in self._keys)
        )
        return self._wdf._with_df(df)

    def _grouped(self):
        df = self._kept().df
        keys = _key_cols(self._keys)
        if self._mode == "cube":
            return df.cube(*keys)
        if self._mode == "rollup":
            return df.rollup(*keys)
        return df.groupBy(*keys)

    def _finish(self, out: DataFrame) -> DataFrame:
        if self._sort:
            out = out.orderBy(*_key_cols(self._keys))
        return out

    def _agg(self, stat: str, **kwargs) -> DataFrame:
        """The aggregate ``stat`` of every value column, named after it."""
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        w = _stats.q(WEIGHT_COL)
        exprs = [
            f"{_stats.stat_sql(stat, self._wdf._value_sql(c), w, **kwargs)} AS {_stats.q(c)}"
            for c in cols
        ]
        return self._finish(self._grouped().agg(*map(F.expr, exprs)))

    # -- statistics (frame.py:512-628) -----------------------------------------

    def count(self, skipna: bool = True) -> DataFrame:
        return self._agg("count", skipna=skipna)

    def sum(self, min_count: int = 0) -> DataFrame:
        return self._agg("sum", min_count=min_count)

    def mean(self, skipna: bool = True) -> DataFrame:
        return self._agg("mean", skipna=skipna)

    def var(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._agg("var", ddof=ddof, skipna=skipna)

    def std(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._agg("std", ddof=ddof, skipna=skipna)

    def min(self) -> DataFrame:
        """Per-group minimum over mass-carrying rows (the q→0⁺ weighted
        quantile; rows with NULL/non-positive weight are excluded)."""
        return self._agg("min")

    def max(self) -> DataFrame:
        """Per-group maximum over mass-carrying rows (the q=1 weighted
        quantile)."""
        return self._agg("max")

    def first(self, order_by: Sequence[str]) -> DataFrame:
        """Per-group FIRST non-NULL value of each column along
        ``order_by`` (pandas ``groupby.first`` made deterministic: the
        reference semantics need an explicit order on a distributed
        table). ONE aggregate — ``min_by(x, ord WHERE x valid)`` — no
        window, no sort of the raw rows; weights don't enter (an
        index-aligned pick, like shift/ffill)."""
        return self._ordered_pick(order_by, last=False)

    def last(self, order_by: Sequence[str]) -> DataFrame:
        """Per-group LAST non-NULL value along ``order_by`` — see
        :meth:`first`."""
        return self._ordered_pick(order_by, last=True)

    def _ordered_pick(
        self, order_by: Sequence[str], last: bool
    ) -> DataFrame:
        order_by = list(order_by)
        if not order_by:
            raise ValueError("first/last require order_by columns")
        wdf = self._wdf
        for c in order_by:
            if c not in wdf.df.columns:
                raise KeyError(f"column {c!r} not in frame")
        ord_expr = F.struct(*[F.col(c) for c in order_by])
        pick = F.max_by if last else F.min_by
        cols = [
            c for c in self._value_cols() if c not in order_by
        ]
        aggs = []
        for c in cols:
            x = wdf._value(c)
            # NULL ordering rows are skipped by min_by/max_by, so
            # masking the order with the value's validity yields the
            # first/last NON-NULL value — pandas first/last semantics
            aggs.append(
                pick(x, F.when(x.isNotNull(), ord_expr)).alias(c)
            )
        return self._grouped().agg(*aggs)

    def nth(self, n: int, order_by: Sequence[str]) -> DataFrame:
        """Per-group n-th ROW (0-based; negative counts from the end)
        along ``order_by`` — pandas ``groupby.nth``: the whole row at
        that position, NULLs and all. One window shuffle on the group
        keys (row_number), then a row-local filter."""
        from pyspark.sql import Window

        order_by = list(order_by)
        if not order_by:
            raise ValueError("nth requires order_by columns")
        n = int(n)
        wdf = self._wdf
        cols = [F.col(c) for c in order_by]
        if n >= 0:
            spec = Window.partitionBy(*self._keys).orderBy(*cols)
            target = n + 1
        else:
            spec = Window.partitionBy(*self._keys).orderBy(
                *[c.desc() for c in cols]
            )
            target = -n
        from pandas_weights_spark.frame import WEIGHT_COL

        rn = F.row_number().over(spec)
        return (
            wdf.df.withColumn("__pw_rn__", rn)
            .where(F.col("__pw_rn__") == target)
            .drop("__pw_rn__", WEIGHT_COL)
        )

    def sem(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        """Per-group weighted standard error of the mean (``std/sqrt(W)``,
        frequency-weights convention)."""
        return self._agg("sem", ddof=ddof, skipna=skipna)

    def gmean(self) -> DataFrame:
        """Per-group weighted geometric mean (positive values/weights)."""
        return self._agg("gmean")

    def hmean(self) -> DataFrame:
        """Per-group weighted harmonic mean (positive values/weights)."""
        return self._agg("hmean")

    def skew(self, skipna: bool = True) -> DataFrame:
        """Per-group weighted skewness (extension beyond the reference)."""
        return self._agg("skew", skipna=skipna)

    def kurt(self, skipna: bool = True) -> DataFrame:
        """Per-group weighted excess kurtosis (extension)."""
        return self._agg("kurt", skipna=skipna)

    def quantile(
        self,
        q=0.5,
        exact: bool = True,
        lo: Optional[float] = None,
        hi: Optional[float] = None,
        bins: int = 4096,
    ) -> DataFrame:
        """Per-group weighted quantile(s) (inverted CDF over cumulative
        weight; see pandas_weights_spark.quantile). One shuffle: the
        final groupBy reuses the window's hash partitioning.

        ``exact=False`` switches to the fixed-binning approximation over
        ``[lo, hi]`` (required then) — shuffle volume groups × bins
        instead of rows, error ≤ ``(hi−lo)/bins``. **This is the default
        to reach for at 100 TB**: the exact path sorts every group's
        rows inside its window partition, which degrades when group
        cardinality is low relative to data size."""
        if self._mode != "groupby":
            raise NotImplementedError(
                "quantile is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.quantile import (
            weighted_quantiles,
            weighted_quantiles_binned,
        )

        wdf = self._kept()
        if exact:
            out = weighted_quantiles(
                wdf, q, subset=self._value_cols(), keys=self._keys
            )
        else:
            if lo is None or hi is None:
                raise ValueError("exact=False needs explicit lo and hi")
            out = weighted_quantiles_binned(
                wdf, q, lo=lo, hi=hi, bins=bins,
                subset=self._value_cols(), keys=self._keys,
            )
        return self._finish(out)

    def median(self) -> DataFrame:
        return self.quantile(0.5)

    def mad(
        self,
        scale: float = 1.0,
        exact: bool = True,
        lo: Optional[float] = None,
        hi: Optional[float] = None,
        bins: int = 4096,
    ) -> DataFrame:
        """Weighted median absolute deviation per group:
        ``scale · median_w(|x − median_w(x)|)`` — the robust spread
        companion to :meth:`std` (extension; pass ``scale≈1.4826`` for
        normal-consistency). Two window shuffles: the group medians (a
        tiny frame) broadcast-join back onto the rows, then the deviation
        median reuses the same inverted-CDF machinery.

        ``exact=False`` routes BOTH median passes through the binned
        approximation over ``[lo, hi]`` (deviations bin over
        ``[0, hi−lo]``) — the 100 TB shape: two groups × bins
        aggregates instead of two per-row sorts; error ≤ 2·(hi−lo)/bins.
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "mad is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.frame import WEIGHT_COL, wt as _wt
        from pandas_weights_spark.quantile import (
            quantile_col_name,
            weighted_quantiles,
            weighted_quantiles_binned,
        )

        if not exact and (lo is None or hi is None):
            raise ValueError("exact=False needs explicit lo and hi")
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        wdf = self._kept()
        df = wdf.df
        if exact:
            med = weighted_quantiles(wdf, 0.5, subset=cols, keys=self._keys)
        else:
            med = weighted_quantiles_binned(
                wdf, 0.5, lo=lo, hi=hi, bins=bins,
                subset=cols, keys=self._keys,
            )
        # Per-group medians are one row per group — usually tiny, but the
        # key cardinality is unbounded, so no forced broadcast hint: AQE
        # picks broadcast when the frame is small and a safe shuffle join
        # otherwise. Null-safe equality keeps NULL-key groups (window
        # grouping treats NULL as a key; plain `=` would drop them when
        # dropna=False).
        joined = _join_group_stats(df, med, self._keys)
        dev = joined.select(
            *self._keys,
            F.col(WEIGHT_COL),
            *[
                F.abs(
                    wdf._value(c) - F.col(quantile_col_name(c, 0.5))
                ).alias(c)
                for c in cols
            ],
        )
        if exact:
            out = weighted_quantiles(
                _wt(dev, WEIGHT_COL), 0.5, subset=cols, keys=self._keys
            )
        else:
            out = weighted_quantiles_binned(
                _wt(dev, WEIGHT_COL), 0.5,
                lo=0.0, hi=hi - lo, bins=bins,
                subset=cols, keys=self._keys,
            )
        renamed = out.select(
            *self._keys,
            *[
                (F.col(quantile_col_name(c, 0.5)) * F.lit(float(scale))).alias(c)
                for c in cols
            ],
        )
        return self._finish(renamed)

    def agg_all(self, stats: Sequence[str], **kwargs) -> DataFrame:
        """Several statistics in ONE aggregate pass / shuffle.

        Output columns ``{col}_{stat}``. The reference re-groups per
        statistic (SURVEY.md §3.2); here Catalyst fuses the shared moments
        (Σwx appears in mean and var) via common-subexpression elimination
        within a single exchange.
        """
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        bad = [s for s in stats if s not in _STATS]
        if bad:
            raise ValueError(f"unknown statistics: {bad}")
        exprs = [e for c in cols for e in _stat_exprs(self._wdf, c, stats, **kwargs)]
        return self._finish(self._grouped().agg(*map(F.expr, exprs)))

    def agg(self, spec) -> DataFrame:
        """pandas dict-style aggregation in ONE pass: ``agg({"price":
        ["mean", "std"], "qty": "sum"})`` → columns ``price_mean,
        price_std, qty_sum`` from a single fused aggregate (same
        kernel fusion as :meth:`agg_all`, per-column stat lists).
        A plain list/str spec applies to every numeric column
        (``agg_all`` semantics)."""
        if isinstance(spec, (str, list, tuple)):
            stats = [spec] if isinstance(spec, str) else list(spec)
            return self.agg_all(stats)
        if not isinstance(spec, dict) or not spec:
            raise ValueError(
                "agg spec must be a non-empty dict / list / str"
            )
        exprs = []
        for c, stats in spec.items():
            if c not in self._wdf.df.columns:
                raise KeyError(f"column {c!r} not in frame")
            stats = [stats] if isinstance(stats, str) else list(stats)
            bad = [st for st in stats if st not in _STATS]
            if bad:
                raise ValueError(f"unknown statistics: {bad}")
            exprs += _stat_exprs(self._wdf, c, stats)
        return self._finish(self._grouped().agg(*map(F.expr, exprs)))

    def describe(
        self,
        qs: Sequence[float] = (0.25, 0.5, 0.75),
        exact: bool = True,
        lo: Optional[float] = None,
        hi: Optional[float] = None,
        bins: int = 4096,
    ) -> DataFrame:
        """Per-group weighted summary — pandas ``describe`` over the
        weighted distribution: ``{col}_count/_mean/_std/_min``, one
        ``{col}_p{q}`` per requested quantile, and ``{col}_max``.

        Two passes joined on the group keys: the five moment/extremum
        statistics fuse into ONE aggregate (:meth:`agg_all`), and the
        quantiles ride the usual inverted-CDF window (``exact=False``
        switches to the binned approximation — the 100 TB default, see
        :meth:`quantile`). min/max use the quantile family's mass rule
        (rows with NULL/non-positive weight carry no mass).
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "describe is not defined for cube/rollup grouping sets"
            )
        qs = [float(q) for q in qs]
        moments = self.agg_all(["count", "mean", "std", "min", "max"])
        quants = self.quantile(qs, exact=exact, lo=lo, hi=hi, bins=bins)
        q = _stats.q
        from pandas_weights_spark.quantile import quantile_col_name

        # null-safe key join (dropna=False keeps NULL-key groups); the
        # quantile side's keys are renamed, so every name is one column
        renamed = quants.withColumnsRenamed(
            {k: f"__pw_dk{i}__" for i, k in enumerate(self._keys)}
        )
        cond = " AND ".join(
            f"({q(k)} <=> __pw_dk{i}__)" for i, k in enumerate(self._keys)
        )
        joined = moments.join(renamed, on=F.expr(cond), how="inner")
        order = list(self._keys)
        for c in self._value_cols():
            order += [f"{c}_{s}" for s in ("count", "mean", "std", "min")]
            order += [quantile_col_name(c, p) for p in qs]
            order.append(f"{c}_max")
        return joined.select(*[F.col(q(n)) for n in order])

    def cdf(self, bands: int = 256) -> DataFrame:
        """Per-row weighted CDF (percentile-rank) transform against the
        row's group: adds ``{col}_cdf`` for every selected numeric
        column — see :func:`pandas_weights_spark.quantile.weighted_cdf`
        (banded prefix sum; the transform counterpart of
        :meth:`quantile`)."""
        from pandas_weights_spark.quantile import weighted_cdf

        if self._mode != "groupby":
            raise NotImplementedError(
                "cdf is not defined for cube/rollup grouping sets"
            )
        wdf = self._kept()
        return weighted_cdf(
            wdf, subset=self._value_cols(), keys=self._keys, bands=bands
        )

    def pivot(
        self,
        columns: str,
        values: Optional[Sequence[str]] = None,
        stats: Sequence[str] = ("mean",),
        column_values: Optional[Sequence] = None,
    ) -> DataFrame:
        """Weighted pivot table: the group keys as index, ``columns``
        spread wide, cells = weighted stats — see
        :func:`pandas_weights_spark.pivot.weighted_pivot` (one hash
        aggregate; pass ``column_values`` at scale)."""
        from pandas_weights_spark.pivot import weighted_pivot

        if self._mode != "groupby":
            raise NotImplementedError(
                "pivot is not defined for cube/rollup grouping sets"
            )
        vals = list(values) if values is not None else [
            c for c in self._value_cols() if c != columns
        ]
        return weighted_pivot(
            self._wdf, self._keys, columns, vals, stats=stats,
            column_values=column_values,
        )

    def crosstab(
        self,
        columns: str,
        column_values=None,
        margins: bool = False,
        margins_name: str = "All",
        normalize=False,
    ) -> DataFrame:
        """Weighted contingency table: group keys as index, ``columns``
        spread wide, cells = weight mass — see
        :func:`pandas_weights_spark.pivot.weighted_crosstab`."""
        from pandas_weights_spark.pivot import weighted_crosstab

        if self._mode != "groupby":
            raise NotImplementedError(
                "crosstab is not defined for cube/rollup grouping sets"
            )
        return weighted_crosstab(
            self._wdf, self._keys, columns, column_values=column_values,
            margins=margins, margins_name=margins_name, normalize=normalize,
        )

    def qcut(
        self, col: str, q: int, bands: int = 256, keep_cdf: bool = False
    ) -> DataFrame:
        """Per-group equal-weight-mass discretization: adds
        ``{col}_qbin`` ∈ 0..q−1 against the row's group — see
        :func:`pandas_weights_spark.quantile.weighted_qcut`."""
        from pandas_weights_spark.quantile import weighted_qcut

        if self._mode != "groupby":
            raise NotImplementedError(
                "qcut is not defined for cube/rollup grouping sets"
            )
        wdf = self._kept()
        return weighted_qcut(
            wdf, col, q, keys=self._keys, bands=bands, keep_cdf=keep_cdf
        )

    def winsorize(
        self,
        subset=None,
        lower: float = 0.05,
        upper: float = 0.95,
        exact: bool = True,
        bands: int = 1000,
        range_bounds=None,
    ) -> DataFrame:
        """Clip every numeric column at its GROUP's weighted
        ``[lower, upper]`` quantiles: adds ``{col}_wins`` — see
        :func:`pandas_weights_spark.quantile.weighted_winsorize`."""
        from pandas_weights_spark.quantile import weighted_winsorize

        if self._mode != "groupby":
            raise NotImplementedError(
                "winsorize is not defined for cube/rollup grouping sets"
            )
        wdf = self._kept()
        return weighted_winsorize(
            wdf, subset=subset, keys=self._keys, lower=lower, upper=upper,
            exact=exact, bands=bands, range_bounds=range_bounds,
        )

    def robust_zscore(
        self,
        subset=None,
        exact: bool = True,
        bands: int = 1000,
        range_bounds=None,
    ) -> DataFrame:
        """Per-row robust standardization against the row's GROUP
        weighted median/IQR: adds ``{col}_rz`` — see
        :func:`pandas_weights_spark.quantile.weighted_robust_zscore`."""
        from pandas_weights_spark.quantile import weighted_robust_zscore

        if self._mode != "groupby":
            raise NotImplementedError(
                "robust_zscore is not defined for cube/rollup grouping sets"
            )
        wdf = self._kept()
        return weighted_robust_zscore(
            wdf, subset=subset, keys=self._keys, exact=exact, bands=bands,
            range_bounds=range_bounds,
        )

    def zscore(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        """Per-row standardization against the row's GROUP weighted
        moments: adds ``{col}_z = (x − μ_g) / σ_g`` for every numeric
        column (extension — the transform counterpart of the aggregates,
        pandas ``groupby.transform('zscore')``-style).

        Scale shape: ``groupBy(keys).agg(moment sums)`` produces one tiny
        row per group, which AQE broadcast-joins back onto the rows; the
        standardization is then a pure map. (A ``Window.partitionBy(keys)``
        formulation is numerically identical but shuffles the ENTIRE table
        into one task per distinct key — with 3 return flags that is 3
        tasks for 100 TB. The agg+join shape keeps the big side's
        partitioning untouched.) The moments are the same expressions the
        aggregate path uses, so the statistics agree exactly with
        :meth:`mean`/:meth:`std`. Degenerate groups (σ ≤ 0 or W ≤ ddof)
        yield NULL.
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "zscore is not defined for cube/rollup grouping sets"
            )
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to standardize")
        df = self._kept().df
        w = _stats.q(WEIGHT_COL)
        names = _stats.sums_read(("mean", "var"))
        aggs = []
        for c in cols:
            m = _stats.moment_sums(
                self._wdf._value_sql(c), w, skipna=skipna, names=names
            )
            aggs += [f"{m[k]} AS {_stats.q(f'__pw_z{k}_{c}__')}" for k in names]
        moments = _stats.aggregate(df, aggs, self._keys)
        joined = _join_group_stats(df, moments, self._keys)
        out_cols = [_stats.q(c) for c in df.columns]
        for c in cols:
            m = {k: _stats.q(f"__pw_z{k}_{c}__") for k in names}
            var = _stats.assemble("var", m, ddof=ddof)
            mu = _stats.assemble("mean", m)
            x = self._wdf._value_sql(c)
            out_cols.append(
                f"CASE WHEN ({var} > 0) THEN try_divide(({x} - {mu}), sqrt({var})) "
                f"END AS {_stats.q(f'{c}_z')}"
            )
        return joined.selectExpr(*out_cols)

    def impute(
        self,
        strategy: str = "mean",
        skipna: bool = True,
        **quantile_kwargs,
    ) -> DataFrame:
        """Fill each numeric column's NULLs with its GROUP's weighted
        statistic: adds ``{col}_imp = coalesce(x, stat_g)`` for every
        selected numeric column — the missing-value counterpart of
        :meth:`zscore` (pandas ``groupby.transform`` + ``fillna``).

        ``strategy``: ``"mean"`` (weighted mean), ``"median"``
        (weighted median via the grouped inverted-CDF quantile pass —
        ``**quantile_kwargs`` forwards ``exact``/``lo``/``hi``/``bins``
        for the binned 100 TB path) or ``"zero"``. Same scale shape as
        zscore: one small stat row per group, AQE-broadcast joined
        back, row-local coalesce — never a ``Window.partitionBy(keys)``
        funnel. An all-NULL group leaves its rows NULL (no global
        fallback — surface, don't invent data).
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "impute is not defined for cube/rollup grouping sets"
            )
        if strategy not in ("mean", "median", "zero"):
            raise ValueError(
                f"strategy must be 'mean', 'median' or 'zero', got "
                f"{strategy!r}"
            )
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to impute")
        df = self._kept().df
        if strategy == "zero":
            return df.select(
                *[F.col(c) for c in df.columns],
                *[
                    F.coalesce(
                        self._wdf._value(c).cast("double"), F.lit(0.0)
                    ).alias(f"{c}_imp")
                    for c in cols
                ],
            )
        if strategy == "median":
            from pandas_weights_spark.quantile import quantile_col_name

            med = self.quantile(0.5, **quantile_kwargs)
            stats = med.select(
                *self._keys,
                *[
                    F.col(quantile_col_name(c, 0.5)).alias(
                        f"__pw_imed_{c}__"
                    )
                    for c in cols
                ],
            )
            joined = _join_group_stats(df, stats, self._keys)
            out_cols = [F.col(c) for c in df.columns]
            for c in cols:
                x = self._wdf._value(c)
                out_cols.append(
                    F.coalesce(
                        x.cast("double"), F.col(f"__pw_imed_{c}__")
                    ).alias(f"{c}_imp")
                )
            return joined.select(*out_cols)
        w = _stats.q(WEIGHT_COL)
        names = _stats.sums_read(("mean",))
        aggs = []
        for c in cols:
            m = _stats.moment_sums(
                self._wdf._value_sql(c), w, skipna=skipna, names=names
            )
            aggs += [f"{m[k]} AS {_stats.q(f'__pw_i{k}_{c}__')}" for k in names]
        moments = _stats.aggregate(df, aggs, self._keys)
        joined = _join_group_stats(df, moments, self._keys)
        out_cols = [_stats.q(c) for c in df.columns]
        for c in cols:
            mu = _stats.assemble(
                "mean", {k: _stats.q(f"__pw_i{k}_{c}__") for k in names}
            )
            out_cols.append(
                f"coalesce({self._wdf._value_sql(c)}, {mu}) AS {_stats.q(f'{c}_imp')}"
            )
        return joined.selectExpr(*out_cols)

    def value_counts(
        self,
        k: Optional[int] = None,
        dropna_values: bool = True,
        normalize: bool = False,
    ) -> DataFrame:
        """Per-group weight mass per distinct value of the single
        selected column — the grouped analog of the frame-level
        ``value_counts`` (pandas ``groupby.value_counts``):
        ``(keys…, <col>, count[, share])``. ``k`` keeps only each
        group's top-k heaviest values (ties break to the smaller
        value) via :func:`~pandas_weights_spark.topk.partitioned_topk`
        — group-limit pushdown below the threshold, salted two-stage
        above it, never a full per-group sort of the value table.
        ``normalize=True`` adds each value's share of its group's mass.

        Narrow first (``grouped[["col"]].value_counts()``). One
        (keys, value) hash aggregate; the optional top-k and the share
        window run on the AGGREGATED table (groups × distinct values).
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "value_counts is not defined for cube/rollup"
            )
        cols = self._value_cols()
        if len(cols) != 1:
            raise ValueError(
                "value_counts needs exactly one value column; select "
                "with grouped[['col']]"
            )
        c = cols[0]
        # the output adds 'count' (and optionally 'share') columns —
        # a value/key column with one of those literal names would
        # produce duplicate columns and ambiguous references
        # downstream (ADVICE r5), so refuse up front
        reserved = {"count"} | ({"share"} if normalize else set())
        clash = reserved & ({c} | set(self._keys))
        if clash:
            raise ValueError(
                f"value_counts output reserves column name(s) "
                f"{sorted(clash)}; rename the input column(s) first"
            )
        df = self._kept().df
        x = self._wdf._value(c)
        if dropna_values:
            df = df.where(x.isNotNull())
        w = self._wdf.weights
        m = F.when(w > 0, w).otherwise(F.lit(0.0))
        agg = df.groupBy(*[F.col(kk) for kk in self._keys], x.alias(c)).agg(
            F.sum(m).alias("count")
        )
        if normalize:
            tot = Window.partitionBy(*[F.col(kk) for kk in self._keys])
            agg = agg.withColumn(
                "share", F.try_divide(F.col("count"), F.sum("count").over(tot))
            )
        if k is not None:
            from pandas_weights_spark.topk import partitioned_topk

            agg = partitioned_topk(
                agg,
                part_by=self._keys,
                order_by=[F.col("count").desc(), F.col(c).asc()],
                k=int(k),
                salt_by=[F.col(c)],
            ).drop("__pw_rank__")
        return self._finish(agg)

    def mode(self, dropna_values: bool = True) -> DataFrame:
        """Per-group weighted mode of the single selected value column:
        ``(keys…, <col>, count)`` where ``count`` is the winning value's
        weight mass. Ties break to the smallest value.

        Narrow first (``grouped[["col"]].mode()``). Two exchanges: the
        (keys, value) mass aggregate, then a per-key ``max_by`` argmax —
        an ordinary aggregation with map-side partials, NOT a
        ``Window.partitionBy(keys)``: with a low-cardinality key a window
        would funnel every distinct (key, value) row into a handful of
        sort tasks, while the argmax aggregate stays fully parallel (the
        same scale argument as :meth:`zscore`, groupby.py:345).
        """
        if self._mode != "groupby":
            raise NotImplementedError("mode is not defined for cube/rollup")
        cols = self._value_cols()
        if len(cols) != 1:
            raise ValueError(
                "mode needs exactly one value column; select with "
                "grouped[['col']]"
            )
        c = cols[0]
        df = self._kept().df
        if dropna_values:
            df = df.where(F.col(c).isNotNull())
        mass = df.groupBy(*self._keys, c).agg(
            F.coalesce(F.sum(self._wdf.weights), F.lit(0.0)).alias("count")
        )
        # argmax by (count desc, value asc): max_by over the lexicographic
        # (count, -value) struct. The cast-to-double tie-breaker keeps
        # bool/int columns orderable under unary minus.
        winner = F.max_by(
            F.struct(F.col(c).alias("value"), F.col("count").alias("count")),
            F.struct(
                F.col("count").alias("m"),
                (-F.col(c).cast("double")).alias("t"),
            ),
        )
        out = (
            mass.groupBy(*self._keys)
            .agg(winner.alias("__pw_win__"))
            .select(
                *self._keys,
                F.col("__pw_win__.value").alias(c),
                F.col("__pw_win__.count").alias("count"),
            )
        )
        return self._finish(out)

    def agg_all_salted(
        self, stats: Sequence[str], salt_buckets: int = 32, **kwargs
    ) -> DataFrame:
        """:meth:`agg_all` with explicit skew salting: identical output,
        two-stage execution.

        Stage 1 groups on ``(keys…, salt)`` where ``salt`` spreads each
        hot key over ``salt_buckets`` reducers and computes the *moment
        sums* the statistics read (:func:`_stats.moment_sums`). Stage 2
        re-groups on the keys alone — at most ``|groups| × salt_buckets``
        rows cross the second exchange — sums the moments (they are
        associative), and assembles the statistics. Use when a group key is so hot
        that AQE skew handling is not enough; for well-distributed keys
        prefer :meth:`agg_all` (one shuffle).

        Supports ``count/sum/mean/var/std/sem/skew/kurt``. The
        ``min_count`` guard needs the *global* valid count, which is
        carried as a moment, so semantics match :meth:`agg_all` exactly.
        """
        if self._mode != "groupby":
            raise NotImplementedError("salting applies to plain groupby only")
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        bad = [s for s in stats if s not in _stats.MOMENT_STATS]
        if bad:
            raise ValueError(
                f"salted aggregation supports {_stats.MOMENT_STATS}, got {bad}"
            )
        skipna = kwargs.get("skipna", True)
        ddof = kwargs.get("ddof", 1)
        min_count = kwargs.get("min_count", 0)
        names = _stats.sums_read(stats, min_count=min_count)

        df = self._kept().df
        w = _stats.q(WEIGHT_COL)
        salt = F.expr(f"pmod(monotonically_increasing_id(), {int(salt_buckets)})")

        # stage 1: per-(keys, salt) moment sums — map-side partials make
        # each hot key's load 1/salt_buckets of the rows per reducer
        partial = []
        for c in cols:
            m = _stats.moment_sums(
                self._wdf._value_sql(c), w, skipna=skipna, names=names
            )
            partial += [f"{m[k]} AS {_stats.q(f'__{c}_{k}')}" for k in names]
        stage1 = _stats.aggregate(
            df.withColumn("__salt__", salt), partial, [*self._keys, "__salt__"]
        )

        # stage 2: merge the sums per key (associative), then assemble
        sums = [_stats.q(f"__{c}_{k}") for c in cols for k in names]
        merged = _stats.aggregate(
            stage1, [f"sum({n}) AS {n}" for n in sums], self._keys
        )
        out_exprs = [
            _stats.assemble(
                s,
                {k: _stats.q(f"__{c}_{k}") for k in names},
                ddof=ddof,
                min_count=min_count,
            )
            + f" AS {_stats.q(f'{c}_{s}')}"
            for c in cols
            for s in stats
        ]
        return self._finish(
            merged.selectExpr(*[_stats.q(k) for k in self._keys], *out_exprs)
        )

    # -- correlation (frame.py:630-660) ----------------------------------------

    def corr(
        self,
        method: str = "pearson",
        min_periods: int = 1,
        ddof: int = 1,
    ) -> DataFrame:
        """Per-group pairwise weighted Pearson, long form
        ``(keys…, col_x, col_y, corr)``.

        Unlike the reference — which iterates groups on the driver
        (frame.py:645-651) — this is one distributed
        ``groupBy(keys).agg(<all pair moments>)`` followed by a JVM-side
        unpivot; group cardinality is unbounded.
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "corr is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.corr import _check_method, pair_matrix

        _check_method(method)
        return pair_matrix(
            self._wdf,
            self._keys,
            ("corr",),
            dropna=self._dropna,
            sort=self._sort,
            min_periods=min_periods,
            ddof=ddof,
        )

    def cov(self, min_periods: int = 1, ddof: int = 1) -> DataFrame:
        """Per-group pairwise weighted covariance, long form
        ``(keys…, col_x, col_y, cov)`` — extension beyond the reference
        (corr only); same single-shuffle plan as :meth:`corr`."""
        if self._mode != "groupby":
            raise NotImplementedError(
                "cov is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.corr import pair_matrix

        return pair_matrix(
            self._wdf,
            self._keys,
            ("cov",),
            dropna=self._dropna,
            sort=self._sort,
            min_periods=min_periods,
            ddof=ddof,
        )

    # -- apply (frame.py:662-679) -----------------------------------------------

    def apply(self, func, schema) -> DataFrame:
        """``applyInPandas`` over each group's *pre-weighted* rows."""
        if self._mode != "groupby":
            raise NotImplementedError(
                "apply is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.apply import grouped_apply

        return grouped_apply(self, func, schema)

    # -- iteration (frame.py:463-466) --------------------------------------------

    def __iter__(self):
        """Yield ``(key, WeightedDataFrame-of-group)`` pairs.

        Driver-side parity convenience (reference frame.py:463-466).
        Collects the DISTINCT KEYS only (not the data); each yielded group
        is a filtered lazy view. Documented small-cardinality only — at
        scale use ``agg_all``/``apply`` instead.
        """
        key_rows = (
            self._wdf.df.select(*self._keys).distinct().orderBy(*self._keys).collect()
        )
        for row in key_rows:
            if self._dropna and any(row[k] is None for k in self._keys):
                continue
            cond = None
            for k in self._keys:
                c = F.col(k).eqNullSafe(F.lit(row[k]))
                cond = c if cond is None else (cond & c)
            sub = self._wdf._with_df(self._wdf.df.where(cond))
            key = row[self._keys[0]] if len(self._keys) == 1 else tuple(row)
            yield key, sub
