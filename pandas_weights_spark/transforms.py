"""Grouped ordered per-row transforms (pandas ``groupby().shift`` /
``diff`` / ``pct_change`` / ``ffill`` / ``bfill`` / cumulative stats).

The reference library has no transform surface (SURVEY.md §2.6); these
are engine extensions in the spirit of the per-row zscore/cdf
transforms, built for the shapes a training-data pipeline needs:
lag features, session deltas, gap fill, running mass totals.

Scale shape: every forward-looking transform is a window function over
ONE shared ``partitionBy(keys) orderBy(order)`` spec — selecting any
number of them in one ``assemble()`` call costs a single exchange +
sort. ``bfill`` scans the REVERSED order (incremental prefix frame, not
Spark's O(rows²)-per-partition unbounded-following frame), which adds
one extra SortExec over the SAME partitioning — still exactly one
exchange for any mix of forward and backward transforms (pinned by
test_transforms). Like rolling/ewm, a keyless transform warns: the
ordered window then runs in one task.

Weight semantics: ``shift``/``diff``/``pct_change``/``ffill``/``bfill``
are index-aligned pandas operations and ignore weights; the cumulative
statistics follow the engine's frequency-weight convention —
``cumsum`` is the running Σ w·x (the mass-weighted running total, the
prefix of ``wt().sum()``), ``cummax``/``cummin`` run over
mass-carrying rows only (``w > 0``, matching ``_stats.w_min/w_max``).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from pandas_weights_spark.topk import _ColRef, _cols

__all__ = ["OrderedTransform"]


#: transform kind → needs a frame ("cum" running, "back" following) or
#: a bare ordered spec (lag/lead family)
_KINDS = (
    "shift", "diff", "pct_change", "ffill", "bfill", "interpolate",
    "cumsum", "cummax", "cummin",
)


class OrderedTransform:
    """Per-row ordered transforms over a ``WeightedDataFrame`` — built
    via ``WeightedDataFrame.ordered(order_by=..., partition_by=...)``.

    ``col(name, kind, periods=...)`` returns a composable Column; the
    statement-style methods (``shift()``, ``diff()``, …) apply one kind
    to every numeric value column and return ``keys + transformed``.
    """

    def __init__(
        self,
        wdf,
        order_by: Sequence[_ColRef],
        partition_by: Sequence[_ColRef] = (),
    ) -> None:
        if not order_by:
            raise ValueError("ordered transforms require order_by columns")
        self._wdf = wdf
        self._order_by = list(order_by)
        self._partition_by = list(partition_by)
        if not self._partition_by:
            import warnings

            warnings.warn(
                "ordered transform without partition_by runs the window "
                "in a single partition (one task). Pass partition keys "
                "at scale.",
                stacklevel=2,
            )

    # -- plumbing -----------------------------------------------------------

    def _spec(self) -> WindowSpec:
        return Window.partitionBy(*_cols(self._partition_by)).orderBy(
            *_cols(self._order_by)
        )

    def _keys(self) -> list[str]:
        return [r for r in self._partition_by if isinstance(r, str)] + [
            r for r in self._order_by if isinstance(r, str)
        ]

    # -- composable column --------------------------------------------------

    def col(
        self,
        name: str,
        kind: str,
        periods: int = 1,
        fill_value: Optional[float] = None,
    ) -> Column:
        """One transform of column ``name`` as a composable Column.
        Any number of these selected together share one WindowExec
        (same partition/order spec)."""
        if kind not in _KINDS:
            raise ValueError(f"unknown transform {kind!r}; one of {_KINDS}")
        wdf = self._wdf
        x = wdf._value(name)
        w = wdf.weights
        spec = self._spec()
        run = spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        if kind in ("shift", "diff", "pct_change"):
            periods = int(periods)
            lagged = (
                F.lag(x, periods).over(spec)
                if periods >= 0
                else F.lead(x, -periods).over(spec)
            )
            if kind == "shift":
                out = lagged
                if fill_value is not None:
                    out = F.coalesce(out, F.lit(float(fill_value)))
                return out
            if kind == "diff":
                return x - lagged
            # pct_change: (x - prev) / prev with NULL (not error) at 0
            return F.try_divide(x - lagged, lagged)
        if kind == "ffill":
            return F.last(x, ignorenulls=True).over(run)
        if kind == "bfill":
            # next non-NULL = last non-NULL scanning the REVERSED order.
            # The naive frame (currentRow, unboundedFollowing) makes
            # Spark recompute the aggregate from scratch per row
            # (UnboundedFollowingWindowFunctionFrame) — O(rows²) per
            # partition, minutes at 200k rows/group. The reversed spec
            # runs the incremental O(rows) prefix frame instead; same
            # hash partitioning, so it adds one SortExec but NO second
            # exchange (pinned by test_assemble_single_exchange).
            rev = Window.partitionBy(*_cols(self._partition_by)).orderBy(
                *[c.desc() for c in _cols(self._order_by)]
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
            return F.last(x, ignorenulls=True).over(rev)
        if kind == "interpolate":
            # pandas groupby().interpolate('linear'): NULL runs fill
            # linearly in ROW POSITION between the surrounding non-NULL
            # values; trailing NULLs carry the last value forward
            # (pandas' limit_direction='forward' default), leading
            # NULLs stay NULL. Same spec + the bfill reversed sort —
            # still one exchange for any transform mix.
            rev = Window.partitionBy(*_cols(self._partition_by)).orderBy(
                *[c.desc() for c in _cols(self._order_by)]
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
            rn = F.row_number().over(spec)
            marked = F.when(x.isNotNull(), rn)
            prev_v = F.last(x, ignorenulls=True).over(run)
            next_v = F.last(x, ignorenulls=True).over(rev)
            prev_rn = F.last(marked, ignorenulls=True).over(run)
            next_rn = F.last(marked, ignorenulls=True).over(rev)
            frac = (rn - prev_rn).cast("double") / (
                next_rn - prev_rn
            ).cast("double")
            return (
                F.when(x.isNotNull(), x.cast("double"))
                .when(
                    prev_rn.isNotNull() & next_rn.isNotNull(),
                    prev_v.cast("double")
                    + (next_v.cast("double") - prev_v.cast("double")) * frac,
                )
                .when(prev_rn.isNotNull(), prev_v.cast("double"))
            )
        if kind == "cumsum":
            valid = x.isNotNull() & w.isNotNull()
            term = F.when(valid, w * x)
            return F.when(valid, F.sum(term).over(run))
        # cummax / cummin over mass-carrying rows (w > 0)
        carrier = F.when(w > 0, x)
        agg = F.max(carrier) if kind == "cummax" else F.min(carrier)
        return F.when(x.isNotNull(), agg.over(run))

    def rank_col(self, kind: str = "rank") -> Column:
        """Positional statistics along the ordered spec as a composable
        Column (pandas ``groupby().rank(method=...)`` /
        ``cumcount()`` analogs): ``rank`` (ties share the min rank),
        ``dense_rank``, ``percent_rank`` ((rank−1)/(n−1)),
        ``row_number`` (requires a TOTAL order to be deterministic),
        ``cumcount`` (row_number − 1), and ``cummass`` (running Σw —
        the weighted cumcount). All ride the same WindowExec as the
        value transforms of this spec."""
        spec = self._spec()
        if kind == "rank":
            return F.rank().over(spec)
        if kind == "dense_rank":
            return F.dense_rank().over(spec)
        if kind == "percent_rank":
            return F.percent_rank().over(spec)
        if kind == "row_number":
            return F.row_number().over(spec)
        if kind == "cumcount":
            return F.row_number().over(spec) - F.lit(1)
        if kind == "cummass":
            w = self._wdf.weights
            run = spec.rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            return F.sum(F.when(w > 0, w).otherwise(F.lit(0.0))).over(run)
        raise ValueError(
            f"unknown rank kind {kind!r}; one of rank/dense_rank/"
            "percent_rank/row_number/cumcount/cummass"
        )

    def rank(self, kind: str = "rank") -> DataFrame:
        """Statement form of :meth:`rank_col`: keys + one ``rank``
        column."""
        keys = self._keys()
        return self._wdf.df.select(
            *keys, self.rank_col(kind).alias("rank")
        )

    # -- statement-style surface -------------------------------------------

    def _apply_all(self, kind: str, **kw) -> DataFrame:
        wdf = self._wdf
        keys = self._keys()
        cols = [c for c in wdf.numeric_columns() if c not in keys]
        if not cols:
            raise ValueError("no numeric value columns outside the keys")
        return wdf.df.select(
            *keys, *[self.col(c, kind, **kw).alias(c) for c in cols]
        )

    def shift(
        self, periods: int = 1, fill_value: Optional[float] = None
    ) -> DataFrame:
        """Lag (``periods`` > 0) / lead (< 0) every numeric column."""
        return self._apply_all("shift", periods=periods, fill_value=fill_value)

    def diff(self, periods: int = 1) -> DataFrame:
        """Row delta ``x - x.shift(periods)``."""
        return self._apply_all("diff", periods=periods)

    def pct_change(self, periods: int = 1) -> DataFrame:
        """Relative change ``(x - prev) / prev``; NULL where the lagged
        value is 0 or missing."""
        return self._apply_all("pct_change", periods=periods)

    def ffill(self) -> DataFrame:
        """Carry the last non-NULL value forward within each group."""
        return self._apply_all("ffill")

    def bfill(self) -> DataFrame:
        """Carry the next non-NULL value backward within each group."""
        return self._apply_all("bfill")

    def interpolate(self) -> DataFrame:
        """Linear interpolation of NULL runs in row position (pandas
        ``groupby().interpolate('linear')``): trailing NULLs carry
        forward, leading NULLs stay NULL."""
        return self._apply_all("interpolate")

    def cumsum(self) -> DataFrame:
        """Running weighted mass total Σ w·x (prefix of ``sum()``);
        NULL rows output NULL without breaking the accumulation."""
        return self._apply_all("cumsum")

    def cummax(self) -> DataFrame:
        return self._apply_all("cummax")

    def cummin(self) -> DataFrame:
        return self._apply_all("cummin")

    def assemble(self, **named: Column) -> DataFrame:
        """Select the partition/order keys plus arbitrary composed
        transform Columns (from :meth:`col`) in one pass — one exchange
        for everything."""
        keys = self._keys()
        return self._wdf.df.select(
            *keys, *[c.alias(n) for n, c in named.items()]
        )
