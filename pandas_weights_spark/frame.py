"""WeightedDataFrame / WeightedSeries — the engine's core abstractions.

PySpark-native re-expression of the reference's accessors
(``/root/reference/src/pandas_weights/frame.py:47-367`` and
``series.py:44-264``). A ``WeightedDataFrame`` is a *logical* pair
``(DataFrame, weight Column)`` — no data is copied or materialized at bind
time; every statistic compiles to one ``df.agg(...)`` (a single
partial+final aggregate, no shuffle for global stats beyond the final
reduce) that Catalyst optimizes with full column pruning and predicate
pushdown intact.

Documented divergences from the reference (see SURVEY.md §7):

* Weights bind by **column name or Column expression only** — Spark has no
  row index, so positional array binding (frame.py:100-101) is out of scope.
* Results are DataFrames (1-row wide for global stats) instead of
  pandas Series; missing values are NULL instead of NaN.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandas_weights_spark import _stats

__all__ = ["wt", "WeightedDataFrame", "WeightedSeries", "WEIGHT_COL"]

#: Reserved internal name for the materialized weight expression.
WEIGHT_COL = "__pw_weight__"

_NUMERIC_TYPES = (T.NumericType, T.BooleanType)


def _is_numeric(field: T.StructField) -> bool:
    """Numeric-or-bool check mirroring ``select_dtypes(include=["number",
    "bool"])`` (frame.py:268, frame.py:496-503)."""
    return isinstance(field.dataType, _NUMERIC_TYPES)


def _is_float(field: T.StructField) -> bool:
    return isinstance(field.dataType, (T.FloatType, T.DoubleType))


def wt(
    df: DataFrame,
    weights: Union[str, Column],
    na_weight: Optional[float] = None,
    nan_as_null: bool = True,
) -> "WeightedDataFrame":
    """Bind a weight column to a DataFrame (reference ``df.wt(...)``,
    frame.py:80-109).

    Parameters
    ----------
    weights
        Column *name* within ``df`` (the column is then excluded from the
        data columns, frame.py:103-104) or an arbitrary Column expression.
    na_weight
        Fill value for NULL weights (frame.py:106-107).
    nan_as_null
        Normalize float NaN to NULL on weights and float data columns so
        that parity with pandas' NaN-skipping holds even for parquet files
        containing literal NaNs (``F.sum`` skips NULL, not NaN).
    """
    return WeightedDataFrame(df, weights, na_weight=na_weight, nan_as_null=nan_as_null)


def install_accessor() -> None:
    """Install ``DataFrame.wt(weights, na_weight=None)`` for call-site
    parity with the reference's pandas accessor
    (``@register_dataframe_accessor("wt")``, frame.py:46). Optional —
    the functional ``wt(df, ...)`` is the primary API; this just lets
    reference code move over verbatim::

        import pandas_weights_spark as pws
        pws.install_accessor()
        df.wt("weight_col").groupby("k").mean()
    """
    from pyspark.sql import DataFrame as _DF

    def _wt(self, weights, na_weight=None, nan_as_null=True):
        return wt(self, weights, na_weight=na_weight, nan_as_null=nan_as_null)

    _DF.wt = _wt


class WeightedDataFrame:
    """A DataFrame with a bound per-row weight (frame.py:47-78)."""

    def __init__(
        self,
        df: DataFrame,
        weights: Union[str, Column],
        na_weight: Optional[float] = None,
        nan_as_null: bool = True,
        _data_cols: Optional[list[str]] = None,
    ) -> None:
        if isinstance(weights, str):
            if weights not in df.columns:
                raise KeyError(f"weight column {weights!r} not in DataFrame")
            w = F.col(weights).cast("double")
            data_cols = [c for c in df.columns if c != weights]
        elif isinstance(weights, Column):
            w = weights.cast("double")
            data_cols = list(df.columns)
        else:
            raise TypeError(
                "weights must be a column name or Column expression; "
                "positional arrays are not supported on a distributed "
                "DataFrame (no row index — see README 'Divergences')"
            )
        if nan_as_null:
            w = F.nanvl(w, F.lit(None).cast("double"))
        if na_weight is not None:
            w = F.coalesce(w, F.lit(float(na_weight)))

        # Materialize the weight once under a reserved name; Catalyst prunes
        # it wherever unused, so this costs nothing at scan time.
        self._df = df.withColumn(WEIGHT_COL, w)
        self._nan_as_null = nan_as_null
        if _data_cols is not None:
            data_cols = _data_cols
        self._data_cols = [c for c in data_cols if c != WEIGHT_COL]

    # -- plumbing -----------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """Underlying DataFrame *including* the bound weight column."""
        return self._df

    @property
    def weights(self) -> Column:
        return F.col(WEIGHT_COL)

    @property
    def columns(self) -> list[str]:
        return list(self._data_cols)

    def _subset(self, cols: Sequence[str]) -> "WeightedDataFrame":
        missing = [c for c in cols if c not in self._data_cols]
        if missing:
            raise KeyError(f"columns not in data: {missing}")
        return self._with_df(self._df, cols)

    def _with_df(
        self, df: DataFrame, cols: Optional[Sequence[str]] = None
    ) -> "WeightedDataFrame":
        """This frame over ``df`` — a derivation of :attr:`df` that
        keeps the weight column — narrowed to ``cols`` if given."""
        out = object.__new__(WeightedDataFrame)
        out._df = df
        out._nan_as_null = self._nan_as_null
        out._data_cols = list(self._data_cols if cols is None else cols)
        return out

    def __getitem__(
        self, key: Union[str, Sequence[str]]
    ) -> Union["WeightedSeries", "WeightedDataFrame"]:
        """Project to one column (→ WeightedSeries) or a list of columns
        (→ WeightedDataFrame), weights carried along (frame.py:111-122)."""
        if isinstance(key, str):
            return WeightedSeries._from_weighted(self, key)
        return self._subset(list(key))

    def numeric_columns(self) -> list[str]:
        """Numeric/bool data columns (frame.py:496-503)."""
        by_name = {f.name: f for f in self._df.schema.fields}
        return [c for c in self._data_cols if _is_numeric(by_name[c])]

    def _value_sql(self, name: str) -> str:
        """SQL text of a data column normalized for weighted math: cast
        to double, NaN→NULL for float inputs (pandas treats NaN as
        missing; Spark aggregates skip only NULL)."""
        field = next(f for f in self._df.schema.fields if f.name == name)
        col = f"CAST({_stats.q(name)} AS DOUBLE)"
        if self._nan_as_null and _is_float(field):
            col = f"nanvl({col}, {_stats.num(None)})"
        return col

    def _value(self, name: str) -> Column:
        """:meth:`_value_sql` as a Column."""
        return F.expr(self._value_sql(name))

    def _agg_1row(
        self, stat: str, subset: Optional[Sequence[str]], **kwargs
    ) -> DataFrame:
        """One row: the aggregate ``stat`` (:func:`_stats.stat_sql`,
        ``kwargs`` its skipna/ddof/min_count) of every column."""
        cols = list(subset) if subset is not None else self.numeric_columns()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        w = _stats.q(WEIGHT_COL)
        return self._df.selectExpr(
            *[
                f"{_stats.stat_sql(stat, self._value_sql(c), w, **kwargs)} "
                f"AS {_stats.q(c)}"
                for c in cols
            ]
        )

    # -- row-wise (axis=1) statistics ----------------------------------------
    #
    # The reference delegates axis=1 to pandas (frame.py:189, 213): the
    # row's weight scales every cell, so e.g. row-sum = w·Σx over the
    # row's non-null cells. Here they are pure row-local expressions over
    # an array of the numeric columns — no aggregation, no shuffle.

    def _row_moments(self, subset: Optional[Sequence[str]], skipna: bool):
        """Row-local moments as SQL text: (n_valid, count, w·Σx, w·Σx²).

        ``n_valid`` counts cells that are valid in the *weighted* frame —
        i.e. 0 whenever the row's weight is NULL, matching pandas where a
        NaN weight poisons every cell of the row (frame.py:132).
        """
        cols = list(subset) if subset is not None else self.numeric_columns()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        vals = f"array({', '.join(self._value_sql(c) for c in cols)})"
        valid = f"filter({vals}, v -> (v IS NOT NULL))"
        w = _stats.q(WEIGHT_COL)
        n_valid = f"CAST(CASE WHEN ({w} IS NOT NULL) THEN size({valid}) ELSE 0 END AS DOUBLE)"
        n_all = _stats.num(len(cols))
        s = f"aggregate({valid}, {_stats.num(0.0)}, (acc, v) -> (acc + v))"
        ss = f"aggregate({valid}, {_stats.num(0.0)}, (acc, v) -> (acc + (v * v)))"
        cnt = f"(coalesce({w}, {_stats.num(0.0)}) * {n_valid if skipna else n_all})"
        return n_valid, cnt, f"({w} * {s})", f"({w} * {ss})"

    def _rowwise(self, stat: str, expr: str) -> DataFrame:
        return self._df.selectExpr(
            *[_stats.q(c) for c in self._data_cols], f"{expr} AS row_{stat}"
        )

    def row_count(
        self, skipna: bool = True, subset: Optional[Sequence[str]] = None
    ) -> DataFrame:
        _nv, cnt, _ws, _wss = self._row_moments(subset, skipna)
        return self._rowwise("count", cnt)

    def row_sum(
        self, min_count: int = 0, subset: Optional[Sequence[str]] = None
    ) -> DataFrame:
        n_valid, _cnt, ws, _wss = self._row_moments(subset, True)
        if min_count > 0:
            expr = f"CASE WHEN ({n_valid} >= {int(min_count)}) THEN {ws} END"
        else:
            expr = f"coalesce({ws}, {_stats.num(0.0)})"
        return self._rowwise("sum", expr)

    def row_mean(
        self, skipna: bool = True, subset: Optional[Sequence[str]] = None
    ) -> DataFrame:
        n_valid, cnt, ws, _wss = self._row_moments(subset, skipna)
        return self._rowwise(
            "mean", f"try_divide(CASE WHEN ({n_valid} >= 1) THEN {ws} END, {cnt})"
        )

    def row_var(
        self,
        ddof: int = 1,
        skipna: bool = True,
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        n_valid, cnt, ws, wss = self._row_moments(subset, skipna)
        expr = _stats.variance_from_weighted_moments(
            f"CASE WHEN ({n_valid} >= 1) THEN {ws} END",
            f"CASE WHEN ({n_valid} >= 1) THEN {wss} END",
            cnt,
            ddof=ddof,
        )
        return self._rowwise("var", expr)

    def row_std(
        self,
        ddof: int = 1,
        skipna: bool = True,
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        var_df = self.row_var(ddof=ddof, skipna=skipna, subset=subset)
        return var_df.selectExpr(
            *[_stats.q(c) for c in var_df.columns if c != "row_var"],
            "CASE WHEN (row_var >= 0) THEN sqrt(row_var) END AS row_std",
        )

    # -- quantiles ------------------------------------------------------------

    def quantile(
        self,
        q: Union[float, Sequence[float]] = 0.5,
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Weighted quantile(s) — inverted-CDF over cumulative weight
        (engine extension; see pandas_weights_spark.quantile). Global
        form is a total order: exact but single-task — prefer grouped
        quantiles at scale."""
        from pandas_weights_spark.quantile import weighted_quantiles

        return weighted_quantiles(self, q, subset=subset)

    def median(self, subset: Optional[Sequence[str]] = None) -> DataFrame:
        return self.quantile(0.5, subset=subset)

    def describe(
        self,
        qs: Sequence[float] = (0.25, 0.5, 0.75),
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Whole-table weighted summary — pandas ``describe`` over the
        weighted distribution: one row with ``{col}_count/_mean/_std/
        _min``, a ``{col}_p{q}`` per requested quantile, and
        ``{col}_max``. One fused aggregate pass for the five moment/
        extremum statistics plus the quantile pass (both 1-row frames,
        trivially cross-joined). Grouped variant:
        ``WeightedGroupBy.describe`` (with the binned 100 TB switch).
        """
        from pandas_weights_spark.groupby import _stat_exprs
        from pandas_weights_spark.quantile import (
            quantile_col_name,
            weighted_quantiles,
        )

        qs = [float(q) for q in qs]
        cols = list(subset) if subset is not None else self.numeric_columns()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        stats = ["count", "mean", "std", "min", "max"]
        moments = self._df.selectExpr(
            *[e for c in cols for e in _stat_exprs(self, c, stats)]
        )
        quants = weighted_quantiles(self, qs, subset=cols)
        joined = moments.crossJoin(quants)
        order = []
        for c in cols:
            for s in ("count", "mean", "std", "min"):
                order.append(f"{c}_{s}")
            for q in qs:
                order.append(quantile_col_name(c, q))
            order.append(f"{c}_max")
        return joined.select(*[F.col(_stats.q(n)) for n in order])

    def cdf(
        self, subset: Optional[Sequence[str]] = None, bands: int = 256
    ) -> DataFrame:
        """Whole-table per-row weighted CDF (percentile-rank) transform:
        adds ``{col}_cdf`` per selected column — see
        :func:`pandas_weights_spark.quantile.weighted_cdf`."""
        from pandas_weights_spark.quantile import weighted_cdf

        return weighted_cdf(self, subset=subset, bands=bands)

    def qcut(
        self, col: str, q: int, bands: int = 256, keep_cdf: bool = False
    ) -> DataFrame:
        """Equal-weight-mass discretization (pandas ``qcut`` under
        frequency weights): adds ``{col}_qbin`` ∈ 0..q−1 — see
        :func:`pandas_weights_spark.quantile.weighted_qcut`."""
        from pandas_weights_spark.quantile import weighted_qcut

        return weighted_qcut(self, col, q, bands=bands, keep_cdf=keep_cdf)

    def robust_zscore(
        self,
        subset: Optional[Sequence[str]] = None,
        exact: bool = True,
        bands: int = 1000,
        range_bounds=None,
    ) -> DataFrame:
        """Robust (median/IQR) standardization of numeric columns: adds
        ``{col}_rz`` — see
        :func:`pandas_weights_spark.quantile.weighted_robust_zscore`."""
        from pandas_weights_spark.quantile import weighted_robust_zscore

        return weighted_robust_zscore(
            self, subset=subset, exact=exact, bands=bands,
            range_bounds=range_bounds,
        )

    def winsorize(
        self,
        subset: Optional[Sequence[str]] = None,
        lower: float = 0.05,
        upper: float = 0.95,
        exact: bool = True,
        bands: int = 1000,
        range_bounds=None,
    ) -> DataFrame:
        """Clip numeric columns at the global weighted ``[lower,
        upper]`` quantiles: adds ``{col}_wins`` — see
        :func:`pandas_weights_spark.quantile.weighted_winsorize`."""
        from pandas_weights_spark.quantile import weighted_winsorize

        return weighted_winsorize(
            self, subset=subset, lower=lower, upper=upper, exact=exact,
            bands=bands, range_bounds=range_bounds,
        )

    def cut(
        self, col: str, edges: Sequence[float], right: bool = True
    ) -> DataFrame:
        """Fixed-edge discretization (pandas ``cut`` with explicit
        bins): adds ``{col}_bin``, NULL outside the edges — row-local,
        no shuffle."""
        from pandas_weights_spark.quantile import weighted_cut

        return weighted_cut(self, col, edges, right=right)

    # -- windowed statistics --------------------------------------------------

    def mad(
        self, scale: float = 1.0, subset: Optional[Sequence[str]] = None
    ) -> DataFrame:
        """Whole-table weighted median absolute deviation per column
        (extension): ``scale · median_w(|x − median_w(x)|)``. The 1-row
        median frame broadcast-crossjoins back onto the rows; see
        ``WeightedGroupBy.mad`` for the grouped variant.
        """
        from pandas_weights_spark.quantile import (
            quantile_col_name,
            weighted_quantiles,
        )

        cols = list(subset) if subset is not None else self.numeric_columns()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        med = weighted_quantiles(self, 0.5, subset=cols, keys=())
        dev = self._df.crossJoin(F.broadcast(med)).select(
            F.col(WEIGHT_COL),
            *[
                F.abs(self._value(c) - F.col(quantile_col_name(c, 0.5))).alias(c)
                for c in cols
            ],
        )
        out = weighted_quantiles(wt(dev, WEIGHT_COL), 0.5, subset=cols, keys=())
        return out.select(
            *[
                (F.col(quantile_col_name(c, 0.5)) * F.lit(float(scale))).alias(c)
                for c in cols
            ]
        )

    def rolling(
        self,
        window: int,
        order_by: Sequence[Union[str, Column]],
        partition_by: Sequence[Union[str, Column]] = (),
        min_periods: Optional[int] = None,
    ):
        """Weighted rolling-window statistics (the reference's named
        future-work area, reference README.md:315). ``window`` is a row
        count; ``order_by`` supplies the ordering the pandas index would.

        At scale always pass ``partition_by`` — an unpartitioned ordered
        window is a single-task sort in Spark.
        """
        from pandas_weights_spark.rolling import WeightedRolling

        return WeightedRolling(
            self, window, order_by, partition_by, min_periods=min_periods
        )

    def expanding(
        self,
        order_by: Sequence[Union[str, Column]],
        partition_by: Sequence[Union[str, Column]] = (),
        min_periods: int = 1,
    ):
        """Weighted expanding (cumulative) statistics — UNBOUNDED
        PRECEDING → CURRENT ROW frame."""
        from pandas_weights_spark.rolling import WeightedRolling

        return WeightedRolling(
            self, None, order_by, partition_by, min_periods=min_periods
        )

    def ewm(
        self,
        order_by: Sequence[Union[str, Column]] = (),
        partition_by: Sequence[str] = (),
        alpha: Optional[float] = None,
        com: Optional[float] = None,
        span: Optional[float] = None,
        halflife: Optional[float] = None,
        min_periods: int = 0,
        adjust: bool = True,
        ignore_na: bool = False,
        times=None,
    ):
        """Weighted exponentially-weighted statistics (pandas
        ``DataFrame.ewm`` generalized to per-row weights, all four
        ``adjust`` × ``ignore_na`` combinations — no reference analog;
        see ewm.py for the banded-rescale scale design: no unbounded
        ordered window, ONE exchange on the partition keys)."""
        from pandas_weights_spark.ewm import WeightedEWM

        return WeightedEWM(
            self,
            order_by,
            partition_by,
            alpha=alpha,
            com=com,
            span=span,
            halflife=halflife,
            min_periods=min_periods,
            adjust=adjust,
            ignore_na=ignore_na,
            times=times,
        )

    def ordered(
        self,
        order_by: Sequence[Union[str, Column]],
        partition_by: Sequence[Union[str, Column]] = (),
    ):
        """Grouped ordered per-row transforms (pandas
        ``groupby().shift/diff/pct_change/ffill/bfill`` + weighted
        cumulative stats) — see transforms.py: every transform shares
        one ``partitionBy(keys) orderBy(order)`` WindowExec."""
        from pandas_weights_spark.transforms import OrderedTransform

        return OrderedTransform(self, order_by, partition_by)

    def autocorr(
        self,
        col: str,
        lags: Sequence[int] = (1,),
        order_by: Sequence[str] = (),
        by: Optional[Sequence[str]] = None,
        ddof: int = 1,
        min_periods: int = 1,
    ) -> DataFrame:
        """Weighted autocorrelation of ``col`` at the given lags along
        ``order_by`` (per ``by`` group) — see corr.weighted_autocorr
        (one WindowExec for all lags + one fused moment aggregate)."""
        from pandas_weights_spark.corr import weighted_autocorr

        return weighted_autocorr(
            self, col, lags=lags, order_by=order_by, by=by, ddof=ddof,
            min_periods=min_periods,
        )

    def ttest(
        self,
        value: str,
        group_col: str,
        group_a,
        group_b,
        by: Optional[Sequence[str]] = None,
        ddof: int = 1,
    ) -> DataFrame:
        """Welch's weighted two-sample t statistic between two values
        of ``group_col`` — see inference.py (one masked moment
        aggregate; no p-value by design)."""
        from pandas_weights_spark.inference import weighted_ttest

        return weighted_ttest(
            self, value, group_col, group_a, group_b, by=by, ddof=ddof
        )

    def chi2(self, row_col: str, col_col: str) -> DataFrame:
        """χ² independence of two categoricals over the weighted
        contingency table — see inference.py (one grouping-sets pass)."""
        from pandas_weights_spark.inference import weighted_chi2

        return weighted_chi2(self, row_col, col_col)

    def anova(
        self,
        value: str,
        group_col: str,
        by: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """One-way weighted ANOVA F across the levels of ``group_col``
        — see inference.py (one moment pass, F algebra on k rows)."""
        from pandas_weights_spark.inference import weighted_anova

        return weighted_anova(self, value, group_col, by=by)

    def entropy(
        self,
        cat_col: str,
        by: Optional[Sequence[str]] = None,
        base: Optional[float] = None,
    ) -> DataFrame:
        """Shannon entropy of ``cat_col``'s weight-mass distribution —
        see inference.py (one mass pass + tiny re-aggregation)."""
        from pandas_weights_spark.inference import weighted_entropy

        return weighted_entropy(self, cat_col, by=by, base=base)

    def mutual_information(self, x_col: str, y_col: str) -> DataFrame:
        """Mutual information + entropies of two categoricals — see
        inference.py (same single grouping-sets scan as chi2)."""
        from pandas_weights_spark.inference import weighted_mutual_information

        return weighted_mutual_information(self, x_col, y_col)

    def gini(
        self, col: str, by: Optional[Sequence[str]] = None, bands: int = 256
    ) -> DataFrame:
        """Weighted Gini coefficient (mean-absolute-difference form) —
        see quantile.py (banded prefix collapse of the pairwise sum)."""
        from pandas_weights_spark.quantile import weighted_gini

        return weighted_gini(self, col, keys=list(by or []), bands=bands)

    def ks(
        self,
        col: str,
        group_col: str,
        group_a,
        group_b,
        by: Optional[Sequence[str]] = None,
        bands: int = 256,
    ) -> DataFrame:
        """Two-sample weighted Kolmogorov–Smirnov statistic — see
        quantile.py (banded dual-CDF, sup at data points, exact)."""
        from pandas_weights_spark.quantile import weighted_ks

        return weighted_ks(
            self, col, group_col, group_a, group_b,
            keys=list(by or []), bands=bands,
        )

    def mannwhitney(
        self,
        col: str,
        group_col: str,
        group_a,
        group_b,
        by: Optional[Sequence[str]] = None,
        bands: int = 256,
    ) -> DataFrame:
        """Weighted Mann–Whitney U / rank-sum statistic — see
        quantile.py (banded prefix collapse of the pairwise sum)."""
        from pandas_weights_spark.quantile import weighted_mannwhitney

        return weighted_mannwhitney(
            self, col, group_col, group_a, group_b,
            keys=list(by or []), bands=bands,
        )

    def linfit(
        self,
        x_col: str,
        y_col: str,
        by: Optional[Sequence[str]] = None,
        ddof: float = 2.0,
        min_periods: int = 2,
    ) -> DataFrame:
        """Weighted least-squares line fit ``y ≈ a + b·x`` per group /
        globally — see regression.py (one moment aggregate, no collect)."""
        from pandas_weights_spark.regression import weighted_linfit

        return weighted_linfit(
            self, x_col, y_col, by=by, ddof=ddof, min_periods=min_periods
        )

    def linfit_transform(
        self,
        x_col: str,
        y_col: str,
        by: Optional[Sequence[str]] = None,
        ddof: float = 2.0,
        min_periods: int = 2,
    ) -> DataFrame:
        """Per-row fitted/residual columns from the group's weighted
        line fit (regression.py; AQE-broadcast join-back)."""
        from pandas_weights_spark.regression import weighted_linfit_transform

        return weighted_linfit_transform(
            self, x_col, y_col, by=by, ddof=ddof, min_periods=min_periods
        )

    # -- the weighted view ----------------------------------------------------

    def weighted(self) -> DataFrame:
        """Numeric data columns multiplied by the weights (frame.py:124-132);
        non-numeric columns pass through unchanged (grouped semantics,
        frame.py:505-510)."""
        num = set(self.numeric_columns())
        exprs = [
            (self._value(c) * self.weights).alias(c) if c in num else F.col(c)
            for c in self._data_cols
        ]
        return self._df.select(*exprs)

    # -- whole-table aggregates (frame.py:189-251) ---------------------------

    def count(
        self, skipna: bool = True, subset: Optional[Sequence[str]] = None
    ) -> DataFrame:
        return self._agg_1row(
            "count", subset, skipna=skipna
        )

    def sum(
        self, min_count: int = 0, subset: Optional[Sequence[str]] = None
    ) -> DataFrame:
        return self._agg_1row(
            "sum", subset, min_count=min_count
        )

    def mean(
        self, skipna: bool = True, subset: Optional[Sequence[str]] = None
    ) -> DataFrame:
        return self._agg_1row(
            "mean", subset, skipna=skipna
        )

    def var(
        self,
        ddof: int = 1,
        skipna: bool = True,
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        return self._agg_1row(
            "var", subset, ddof=ddof, skipna=skipna
        )

    def std(
        self,
        ddof: int = 1,
        skipna: bool = True,
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        return self._agg_1row(
            "std", subset, ddof=ddof, skipna=skipna
        )

    def sem(
        self,
        ddof: int = 1,
        skipna: bool = True,
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Weighted standard error of the mean: ``std / sqrt(W)`` with
        the weighted count in the role pandas ``DataFrame.sem`` gives
        ``n`` (frequency-weights convention; unit weights reproduce
        pandas exactly)."""
        return self._agg_1row(
            "sem", subset, ddof=ddof, skipna=skipna
        )

    def gmean(self, subset: Optional[Sequence[str]] = None) -> DataFrame:
        """Weighted geometric mean over positive values/weights
        (extension; scipy gmean analog under frequency weights)."""
        return self._agg_1row("gmean", subset)

    def hmean(self, subset: Optional[Sequence[str]] = None) -> DataFrame:
        """Weighted harmonic mean over positive values/weights
        (extension; scipy hmean analog under frequency weights)."""
        return self._agg_1row("hmean", subset)

    def skew(
        self, skipna: bool = True, subset: Optional[Sequence[str]] = None
    ) -> DataFrame:
        """Weighted skewness (population definition; extension beyond the
        reference). Single aggregate pass via raw power sums."""
        return self._agg_1row(
            "skew", subset, skipna=skipna
        )

    def kurt(
        self, skipna: bool = True, subset: Optional[Sequence[str]] = None
    ) -> DataFrame:
        """Weighted excess kurtosis (population definition; extension
        beyond the reference)."""
        return self._agg_1row(
            "kurt", subset, skipna=skipna
        )

    def min(self, subset: Optional[Sequence[str]] = None) -> DataFrame:
        """Minimum over mass-carrying rows (the q→0⁺ weighted quantile;
        rows with NULL/non-positive weight are excluded)."""
        return self._agg_1row("min", subset)

    def max(self, subset: Optional[Sequence[str]] = None) -> DataFrame:
        """Maximum over mass-carrying rows (the q=1 weighted quantile)."""
        return self._agg_1row("max", subset)

    # -- correlation / grouping / resample / apply (separate modules) --------

    def corr(
        self,
        method: str = "pearson",
        min_periods: int = 1,
        ddof: int = 1,
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Pairwise weighted correlation matrix in long form
        ``(col_x, col_y, corr)`` — see :mod:`pandas_weights_spark.corr`.
        ``method="pearson"`` (default) or ``"spearman"`` (r5 extension
        beyond the reference, which raises: listwise-complete rank
        basis — :func:`~pandas_weights_spark.corr.spearman_matrix`)."""
        from pandas_weights_spark.corr import (
            _check_method,
            pair_matrix,
            spearman_matrix,
        )

        if method == "spearman":
            return spearman_matrix(
                self, subset=subset, min_periods=min_periods, ddof=ddof
            )
        _check_method(method)
        return pair_matrix(
            self, [], ("corr",), cols=subset, min_periods=min_periods, ddof=ddof
        )

    def corr_matrix(self, **kwargs):
        """Driver-side k×k pandas pivot of :meth:`corr` (small-k convenience,
        mirrors the reference's square output, frame.py:253-285)."""
        from pandas_weights_spark.corr import to_matrix

        return to_matrix(self.corr(**kwargs))

    def cov(
        self,
        min_periods: int = 1,
        ddof: int = 1,
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Pairwise weighted covariance matrix, long form
        ``(col_x, col_y, cov)`` — extension beyond the reference (corr
        only); same one-aggregate-pass plan."""
        from pandas_weights_spark.corr import pair_matrix

        return pair_matrix(
            self, [], ("cov",), cols=subset, min_periods=min_periods, ddof=ddof
        )

    def corr_cov(
        self,
        min_periods: int = 1,
        ddof: int = 1,
        subset: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Corr AND cov matrices in ONE aggregate pass, long form
        ``(col_x, col_y, corr, cov)`` — half the scans of calling
        :meth:`corr` + :meth:`cov` separately and joining."""
        from pandas_weights_spark.corr import pair_matrix

        return pair_matrix(
            self,
            [],
            ("corr", "cov"),
            cols=subset,
            min_periods=min_periods,
            ddof=ddof,
        )

    def groupby(self, *keys, dropna: bool = True, sort: bool = False):
        from pandas_weights_spark.groupby import WeightedGroupBy

        return WeightedGroupBy(self, list(keys), dropna=dropna, sort=sort)

    def cube(self, *keys, dropna: bool = True, sort: bool = False):
        """Weighted aggregates over grouping-set cubes — native compose
        (SURVEY.md §2.6: 'cheap win' beyond reference scope)."""
        from pandas_weights_spark.groupby import WeightedGroupBy

        return WeightedGroupBy(self, list(keys), dropna=dropna, sort=sort, mode="cube")

    def rollup(self, *keys, dropna: bool = True, sort: bool = False):
        from pandas_weights_spark.groupby import WeightedGroupBy

        return WeightedGroupBy(
            self, list(keys), dropna=dropna, sort=sort, mode="rollup"
        )

    def resample(
        self,
        rule: Union[str, dt.timedelta],
        on: str,
        origin: str = "start_day",
        offset: Optional[Union[str, dt.timedelta]] = None,
        closed: str = "left",
        label: str = "left",
    ):
        from pandas_weights_spark.resample import WeightedResampler

        return WeightedResampler(
            self, rule, on=on, origin=origin, offset=offset,
            closed=closed, label=label,
        )

    def apply(self, func, schema, axis: int = 0, max_rows: int = 10_000_000):
        """Apply an arbitrary Python function over the *pre-weighted* data
        (frame.py:287-367) — see :mod:`pandas_weights_spark.apply`.
        ``axis=1`` distributes via ``mapInPandas``; ``axis=0`` is a
        guarded single-task reduction (refuses > ``max_rows``)."""
        from pandas_weights_spark.apply import frame_apply

        return frame_apply(self, func, schema, axis=axis, max_rows=max_rows)


class WeightedSeries:
    """Single weighted column — ``(df, value_col, weight)`` triple
    (reference ``series.py:44-264``)."""

    def __init__(
        self,
        df: DataFrame,
        value: str,
        weights: Union[str, Column],
        na_weight: Optional[float] = None,
        nan_as_null: bool = True,
    ) -> None:
        self._wdf = WeightedDataFrame(
            df, weights, na_weight=na_weight, nan_as_null=nan_as_null
        )._subset([value])
        self._value_col = value

    @classmethod
    def _from_weighted(cls, wdf: WeightedDataFrame, value: str) -> "WeightedSeries":
        out = object.__new__(cls)
        out._wdf = wdf._subset([value])
        out._value_col = value
        return out

    @property
    def name(self) -> str:
        return self._value_col

    @property
    def df(self) -> DataFrame:
        return self._wdf.df

    @property
    def weights(self) -> Column:
        return self._wdf.weights

    def weighted(self) -> DataFrame:
        """value*weight as a 1-column DataFrame (series.py:99-107)."""
        return self._wdf.weighted().select(self._value_col)

    def _scalar(self, df1row: DataFrame) -> DataFrame:
        return df1row

    def count(self, skipna: bool = True) -> DataFrame:
        return self._wdf.count(skipna=skipna, subset=[self._value_col])

    def sum(self, min_count: int = 0) -> DataFrame:
        return self._wdf.sum(min_count=min_count, subset=[self._value_col])

    def mean(self, skipna: bool = True) -> DataFrame:
        return self._wdf.mean(skipna=skipna, subset=[self._value_col])

    def var(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._wdf.var(ddof=ddof, skipna=skipna, subset=[self._value_col])

    def std(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._wdf.std(ddof=ddof, skipna=skipna, subset=[self._value_col])

    def skew(self, skipna: bool = True) -> DataFrame:
        return self._wdf.skew(skipna=skipna, subset=[self._value_col])

    def kurt(self, skipna: bool = True) -> DataFrame:
        return self._wdf.kurt(skipna=skipna, subset=[self._value_col])

    def min(self) -> DataFrame:
        return self._wdf.min(subset=[self._value_col])

    def max(self) -> DataFrame:
        return self._wdf.max(subset=[self._value_col])

    def quantile(self, q: Union[float, Sequence[float]] = 0.5) -> DataFrame:
        return self._wdf.quantile(q, subset=[self._value_col])

    def median(self) -> DataFrame:
        return self._wdf.median(subset=[self._value_col])

    def mad(self, scale: float = 1.0) -> DataFrame:
        return self._wdf.mad(scale=scale, subset=[self._value_col])

    def describe(
        self, qs: Sequence[float] = (0.25, 0.5, 0.75)
    ) -> DataFrame:
        return self._wdf.describe(qs=qs, subset=[self._value_col])

    def value_counts(
        self,
        dropna: bool = True,
        sort: bool = True,
        ascending: bool = False,
    ) -> DataFrame:
        """Weight-mass per distinct value: ``(value, count)`` where
        ``count = Σw`` over the value's rows (extension beyond the
        reference — the weighted analog of ``Series.value_counts``).

        One hash aggregate; with ``sort`` the result is totally ordered
        by count — fine for the tail-inspection use case, but skip
        ``sort`` when feeding another operator at scale.
        """
        d = self._wdf.df
        v = F.col(self._value_col)
        if dropna:
            d = d.where(v.isNotNull())
        out = d.groupBy(v.alias(self._value_col)).agg(
            F.coalesce(F.sum(self._wdf.weights), F.lit(0.0)).alias("count")
        )
        if sort:
            out = out.orderBy(
                F.col("count").asc() if ascending else F.col("count").desc(),
                self._value_col,
            )
        return out

    def mode(self, dropna: bool = True) -> DataFrame:
        """The value with the largest weight mass: 1 row
        ``(value, count)``. Ties break to the smallest value
        (deterministic). Extension beyond the reference — the weighted
        analog of ``Series.mode`` collapsed to its first entry.

        TakeOrdered over the value-mass aggregate: one shuffle keyed on
        the distinct values, then a 1-row merge.
        """
        vc = self.value_counts(dropna=dropna, sort=False)
        return vc.orderBy(
            F.col("count").desc(), F.col(self._value_col).asc()
        ).limit(1)

    def histogram(self, lo: float, hi: float, bins: int) -> DataFrame:
        """Fixed-width weighted histogram over ``[lo, hi]``:
        ``(bin, bin_lo, count)`` with ``count = Σw`` per bucket.

        Single aggregate pass with explicit bounds (no pre-scan for
        min/max); values outside the range are dropped, and ``hi`` lands
        in the last bucket. The shuffle key space is ``bins``, not rows.
        """
        if bins <= 0:
            raise ValueError("bins must be positive")
        if not lo < hi:
            raise ValueError("need lo < hi")
        width = (hi - lo) / bins
        v = F.col(self._value_col).cast("double")
        b = F.least(
            F.lit(bins - 1),
            F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("int"),
        )
        d = self._wdf.df.where(v.isNotNull() & (v >= lo) & (v <= hi))
        return (
            d.groupBy(b.alias("bin"))
            .agg(F.coalesce(F.sum(self._wdf.weights), F.lit(0.0)).alias("count"))
            .select(
                "bin",
                (F.lit(float(lo)) + F.col("bin") * F.lit(width)).alias("bin_lo"),
                "count",
            )
        )

    def value(self, df1row: Optional[DataFrame] = None):
        """Collect a 1-row/1-col stat DataFrame to a Python scalar
        (testing convenience)."""
        row = (df1row if df1row is not None else self.mean()).collect()[0]
        return row[0]

    def groupby(self, *keys, dropna: bool = True, sort: bool = False):
        from pandas_weights_spark.groupby import WeightedGroupBy

        return WeightedGroupBy(self._wdf, list(keys), dropna=dropna, sort=sort)

    def resample(
        self,
        rule: Union[str, dt.timedelta],
        on: str,
        origin: str = "start_day",
        offset: Optional[Union[str, dt.timedelta]] = None,
        closed: str = "left",
        label: str = "left",
    ):
        from pandas_weights_spark.resample import WeightedResampler

        return WeightedResampler(
            self._wdf, rule, on=on, origin=origin, offset=offset,
            closed=closed, label=label,
        )

    def corr(
        self,
        other: DataFrame,
        other_value: str,
        on: Union[str, Sequence[str]],
        by: Optional[Sequence[str]] = None,
        method: str = "pearson",
        min_periods: Optional[int] = None,
        ddof: int = 1,
    ) -> DataFrame:
        """Weighted Pearson against another table's column, aligned by an
        explicit inner join on ``on`` (the Spark analog of pandas label
        alignment, series.py:238-239; duplicate keys fan out exactly like
        pandas duplicate-label cross-pairing, README.md:84-135)."""
        from pandas_weights_spark.corr import aligned_corr

        return aligned_corr(
            self._wdf.df,
            self._value_col,
            other,
            other_value,
            on=on,
            by=by,
            method=method,
            min_periods=min_periods,
            ddof=ddof,
        )

    def cov(
        self,
        other: DataFrame,
        other_value: str,
        on: Union[str, Sequence[str]],
        by: Optional[Sequence[str]] = None,
        min_periods: Optional[int] = None,
        ddof: int = 1,
    ) -> DataFrame:
        """Weighted covariance against another table's column, aligned by
        inner join on ``on`` — cov analog of :meth:`corr` (extension)."""
        from pandas_weights_spark.corr import aligned_cov

        return aligned_cov(
            self._wdf.df,
            self._value_col,
            other,
            other_value,
            on=on,
            by=by,
            min_periods=min_periods,
            ddof=ddof,
        )

    def apply(self, func, schema):
        from pandas_weights_spark.apply import series_apply

        return series_apply(self, func, schema)

    # -- windowed transforms (delegate to the narrowed frame: the value
    # column is the only data column, so the frame-level operators emit
    # exactly this series' transform) --------------------------------------

    def rolling(
        self,
        window: int,
        order_by: Sequence[Union[str, Column]],
        partition_by: Sequence[Union[str, Column]] = (),
        min_periods: Optional[int] = None,
    ):
        return self._wdf.rolling(
            window, order_by, partition_by, min_periods=min_periods
        )

    def expanding(
        self,
        order_by: Sequence[Union[str, Column]],
        partition_by: Sequence[Union[str, Column]] = (),
        min_periods: int = 1,
    ):
        return self._wdf.expanding(order_by, partition_by, min_periods=min_periods)

    def ewm(
        self,
        order_by: Sequence[Union[str, Column]] = (),
        partition_by: Sequence[str] = (),
        alpha: Optional[float] = None,
        com: Optional[float] = None,
        span: Optional[float] = None,
        halflife: Optional[float] = None,
        min_periods: int = 0,
        adjust: bool = True,
        ignore_na: bool = False,
        times=None,
    ):
        return self._wdf.ewm(
            order_by,
            partition_by,
            alpha=alpha,
            com=com,
            span=span,
            halflife=halflife,
            min_periods=min_periods,
            adjust=adjust,
            ignore_na=ignore_na,
            times=times,
        )

    def cdf(self, bands: int = 256) -> DataFrame:
        return self._wdf.cdf(subset=[self._value_col], bands=bands)
