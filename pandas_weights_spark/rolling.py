"""Weighted rolling / expanding window statistics.

The reference lists "weighted rolling and expanding window functions" as
its named future-contribution area (reference README.md:315); this module
supplies them Spark-natively. Each statistic is the same weighted-moment
algebra as the global kernels (_stats.py:14-33), evaluated over a
``Window.rowsBetween`` frame instead of a full-table aggregate — pure
JVM-side window aggregation, no UDFs, whole-stage codegen.

Scale notes
-----------
* ``partition_by`` keeps the window computation fully parallel: each
  partition key's rows sort locally after one hash shuffle. Always set it
  on large data.
* An *unpartitioned* ordered window collapses to a single task in Spark
  (WindowExec requires all rows of a partition on one node). Allowed for
  parity/small data, but ``rolling()`` warns in the docstring rather than
  silently shipping a 100 TB sort to one executor — at scale, callers
  bound it with a partition key (e.g. a date bucket).

Semantics (pandas ``Rolling``/``Expanding`` over the *weighted* frame):

* ``count`` = ``Σ w·1[x valid]`` over the frame; ``sum`` = ``Σ w·x``;
  ``mean`` = sum/count; ``var``/``std`` = moment form with ddof
  subtracted from the weighted count (frequency-weights convention,
  _stats.py:24-33).
* ``min_periods`` gates on the number of rows in the frame where both
  ``x`` and ``w`` are non-null (pandas counts observations, not weight
  mass). Rolling defaults to the window size, expanding to 1.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from pandas_weights_spark import _stats

__all__ = ["WeightedRolling"]

_ColRef = Union[str, Column]


def _cols(refs: Sequence[_ColRef]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in refs]


def _let(col: Column, body) -> Column:
    """LET-bind ``col`` so ``body`` (a Column→Column function) sees it
    as a lambda variable evaluated ONCE — the 1-element ``transform``
    binding (the html.py/quality.py interpreted-HOF LET discipline,
    r15/r16). Higher-order-function folds run interpreted with no
    common-subexpression elimination, so an expression referenced
    twice is otherwise computed twice."""
    return F.get(F.transform(F.array(col), body), 0)


class WeightedRolling:
    """Windowed weighted statistics over a ``WeightedDataFrame``.

    Built via ``WeightedDataFrame.rolling(...)`` / ``.expanding(...)``.
    ``window=None`` means an expanding frame (UNBOUNDED PRECEDING →
    CURRENT ROW).
    """

    def __init__(
        self,
        wdf,
        window: Optional[int],
        order_by: Sequence[_ColRef],
        partition_by: Sequence[_ColRef] = (),
        min_periods: Optional[int] = None,
    ) -> None:
        if window is not None and window < 1:
            raise ValueError("window must be >= 1")
        if not order_by:
            raise ValueError("rolling/expanding requires order_by columns")
        self._wdf = wdf
        self._window = window
        self._order_by = list(order_by)
        self._partition_by = list(partition_by)
        if min_periods is None:
            min_periods = window if window is not None else 1
        self._min_periods = int(min_periods)
        if not self._partition_by:
            import warnings

            warnings.warn(
                "rolling/expanding without partition_by runs the ordered "
                "window in a single partition (one task). Pass partition "
                "keys at scale.",
                stacklevel=2,
            )

    # -- plumbing -----------------------------------------------------------

    def _spec(self) -> WindowSpec:
        spec = Window.partitionBy(*_cols(self._partition_by)).orderBy(
            *_cols(self._order_by)
        )
        if self._window is None:
            return spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return spec.rowsBetween(-(self._window - 1), Window.currentRow)

    def _keys(self) -> list[str]:
        """Partition/order columns play the role of the pandas index: they
        are carried through as plain columns and excluded from the value
        set (mirroring groupby key exclusion, reference frame.py:486)."""
        return [r for r in self._partition_by if isinstance(r, str)] + [
            r for r in self._order_by if isinstance(r, str)
        ]

    def _expr(
        self, stat: str, column: str, ddof: int = 1, skipna: bool = True,
        q: float = 0.5,
    ) -> Column:
        """One windowed statistic of one value column: the weighted
        moment sums over the frame, assembled (``median`` / ``quantile``
        take the frame's weighted ``q`` quantile instead) and NULL until
        the frame holds ``min_periods`` valid observations."""
        wdf = self._wdf
        spec = self._spec()
        x = wdf._value(column)
        m = _stats.moment_sums(x, wdf.weights, skipna=skipna, over=spec)
        if stat in ("median", "quantile"):
            expr = self._quantile_expr(x, wdf.weights, spec, q)
        elif stat in _stats.MOMENT_STATS:
            expr = _stats.assemble(stat, m, ddof=ddof)
        else:
            raise ValueError(f"unknown rolling statistic {stat!r}")
        if self._min_periods > 0:
            expr = F.when(m["n"] >= F.lit(self._min_periods), expr)
        return expr

    def _select(self, named: list[tuple[str, Column]]) -> DataFrame:
        if not named:
            raise ValueError("no numeric value columns outside the window keys")
        return self._wdf.df.select(
            *self._keys(), *[e.alias(name) for name, e in named]
        )

    def _value_columns(self) -> list[str]:
        keys = self._keys()
        return [c for c in self._wdf.numeric_columns() if c not in keys]

    def _stat(self, stat: str, **kwargs) -> DataFrame:
        """One statistic for every numeric value column."""
        return self._select(
            [(c, self._expr(stat, c, **kwargs)) for c in self._value_columns()]
        )

    # -- statistics ---------------------------------------------------------

    def col(
        self, stat: str, column: str, ddof: int = 1, skipna: bool = True
    ) -> Column:
        """The windowed statistic for one value column as a bare
        ``Column`` — composable into a caller's own ``select``, so
        several window frames sharing one partition+order (e.g. a 3-row
        rolling mean AND an expanding variance) evaluate in a SINGLE
        WindowExec: one shuffle, one sort, instead of one pass per
        frame. Same min_periods gate as the DataFrame-returning stats.
        """
        return self._expr(stat, column, ddof, skipna)

    def agg_all(
        self, stats: Sequence[str], ddof: int = 1, skipna: bool = True
    ) -> DataFrame:
        """Several windowed statistics in ONE pass: all stats share the
        frame's WindowSpec, so they evaluate in a single WindowExec (one
        shuffle, one local sort) with columns ``{col}_{stat}``."""
        return self._select(
            [
                (f"{c}_{s}", self._expr(s, c, ddof, skipna))
                for c in self._value_columns()
                for s in stats
            ]
        )

    # -- pairwise statistics ------------------------------------------------

    def pair_col(
        self,
        stat: str,
        x: str,
        y: str,
        ddof: int = 1,
        min_periods: Optional[int] = None,
    ) -> Column:
        """Windowed weighted pairwise ``corr``/``cov`` between two value
        columns as a bare ``Column`` (pandas ``rolling().corr(other)`` /
        ``cov(other)`` over the weighted frame; the reference README
        names windowed functions as its contribution frontier,
        README.md:315).

        Pairwise NA rule: a row contributes mass only when ``x``, ``y``
        AND ``w`` are all non-null (reference _stats.py:36-73's aligned
        mask, applied per frame). All moment sums share this window's
        spec, so stacking several ``pair_col``/``col`` exprs in one
        select still evaluates in a SINGLE WindowExec — one shuffle,
        one sort. Guard chain (NULL on failure) follows the aggregate
        corr/cov: W ≤ ddof, non-positive variance, and fewer than
        ``min_periods`` pair-valid rows in the frame.
        """
        if stat not in ("corr", "cov"):
            raise ValueError(f"pairwise statistic must be corr/cov, got {stat!r}")
        wdf = self._wdf
        m = _stats.moment_sums(
            wdf._value(x), wdf.weights, y=wdf._value(y), over=self._spec()
        )
        mp = self._min_periods if min_periods is None else int(min_periods)
        return _stats.assemble(stat, m, ddof=ddof, min_periods=mp)

    def _pair_frame(self, stat, x, y, ddof, min_periods) -> DataFrame:
        expr = self.pair_col(stat, x, y, ddof=ddof, min_periods=min_periods)
        return self._select([(f"{x}_{y}_{stat}", expr)])

    def corr(
        self,
        x: str,
        y: str,
        ddof: int = 1,
        min_periods: Optional[int] = None,
    ) -> DataFrame:
        """Windowed weighted Pearson correlation of ``x`` vs ``y``;
        output column ``{x}_{y}_corr`` alongside the window keys."""
        return self._pair_frame("corr", x, y, ddof, min_periods)

    def cov(
        self,
        x: str,
        y: str,
        ddof: int = 1,
        min_periods: Optional[int] = None,
    ) -> DataFrame:
        """Windowed weighted covariance of ``x`` vs ``y``; output column
        ``{x}_{y}_cov`` alongside the window keys."""
        return self._pair_frame("cov", x, y, ddof, min_periods)

    @staticmethod
    def _quantile_expr(x: Column, w: Column, spec: WindowSpec, q: float) -> Column:
        """Inverted-CDF weighted quantile of the frame, as pure JVM
        array expressions: collect the frame's mass-carrying (x, w)
        pairs, sort by value, scan for the smallest value whose
        cumulative weight reaches ``q·W``. No Python — collect_list +
        sort_array + two higher-order ``aggregate`` folds, all inside
        the same WindowExec as the moment stats. Cost is O(frame²
        log frame) per partition in the worst case — bounded-window
        frames (rolling N) are the intended use; expanding over a huge
        partition belongs to the quantile/banded-CDF machinery instead.

        Follows the engine's quantile-family definition (ties merged,
        ``w ≤ 0``/NULL excluded), NOT pandas' linear interpolation —
        consistent with ``wt().quantile()``; documented divergence."""
        pair = F.when(
            x.isNotNull() & w.isNotNull() & (w > 0),
            F.struct(x.alias("x"), w.alias("w")),
        )

        # r16 LET discipline: the sorted frame array and the q·W
        # target are each bound ONCE. Unbound, the interpreted HOF
        # path re-sorted the collected frame per reference (tot fold,
        # scan fold, the size guard — 3 sorts per row) and re-ran the
        # whole tot fold PER SCAN ELEMENT (`target` was embedded in
        # the scan lambda's body), an O(frame²) term per row. Same
        # float operations in the same order — values bit-identical.
        def _with_arr(arr: Column) -> Column:
            tot = F.aggregate(
                arr, F.lit(0.0), lambda acc, s: acc + s["w"]
            )

            def _with_target(target: Column) -> Column:
                scan = F.aggregate(
                    arr,
                    F.struct(
                        F.lit(0.0).alias("cum"),
                        F.lit(None).cast("double").alias("ans"),
                    ),
                    lambda acc, s: F.struct(
                        (acc["cum"] + s["w"]).alias("cum"),
                        F.when(acc["ans"].isNotNull(), acc["ans"])
                        .when(
                            acc["cum"] + s["w"] >= target,
                            s["x"].cast("double"),
                        )
                        .alias("ans"),
                    ),
                )
                return F.when(F.size(arr) > 0, scan["ans"])

            return _let(F.lit(float(q)) * tot, _with_target)

        # collect_list drops NULLs, so excluded rows never enter the
        # frame; struct sort orders by x first
        return _let(
            F.sort_array(F.collect_list(pair).over(spec)), _with_arr
        )

    def quantile(self, q: float, skipna: bool = True) -> DataFrame:
        """Windowed weighted quantile (inverted CDF over the frame's
        mass) for every numeric column — see :meth:`_quantile_expr`."""
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile must be in (0, 1], got {q}")
        return self._stat("quantile", q=q)

    def median(self, skipna: bool = True) -> DataFrame:
        """Windowed weighted median (q=0.5)."""
        return self.quantile(0.5, skipna=skipna)

    def count(self, skipna: bool = True) -> DataFrame:
        return self._stat("count", skipna=skipna)

    def sum(self) -> DataFrame:
        return self._stat("sum")

    def mean(self, skipna: bool = True) -> DataFrame:
        return self._stat("mean", skipna=skipna)

    def var(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._stat("var", ddof=ddof, skipna=skipna)

    def std(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._stat("std", ddof=ddof, skipna=skipna)

    def skew(self, skipna: bool = True) -> DataFrame:
        """Windowed weighted skewness (population/biased m3/m2^1.5 —
        the frame-local analog of the aggregate skew)."""
        return self._stat("skew", skipna=skipna)

    def kurt(self, skipna: bool = True) -> DataFrame:
        """Windowed weighted excess kurtosis (population m4/m2^2 - 3)."""
        return self._stat("kurt", skipna=skipna)
