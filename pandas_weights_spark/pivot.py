"""Weighted pivot table (pandas ``pivot_table`` with weighted kernels).

``weighted_pivot`` spreads one categorical column into output columns
and fills the cells with weighted statistics — the wide-format
counterpart of the grouped aggregates. The reference library has no
pivot surface (SURVEY.md §2.6); engine extension.

Scale shape: ONE hash aggregate with map-side partials — every
``(value column, pivot value, stat)`` cell is a conditionally-masked
weighted kernel in the same ``groupBy(index).agg(...)`` pass, so the
shuffle moves one combined row per index key regardless of how many
cells the table has. No ``Window``, no join, no Spark ``pivot()``
fallback path. Pass ``column_values`` explicitly at scale: without it
the pivot domain comes from a driver-side ``distinct().collect()``
(same contract as Spark's own ``pivot()``; a guard caps it).
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_weights_spark import _stats

__all__ = ["weighted_pivot", "weighted_crosstab"]

#: pivot-domain guard for the implicit distinct().collect() path
MAX_IMPLICIT_COLUMN_VALUES = 1000

_STATS = {
    "count": lambda x, w: _stats.w_count(x, w),
    "sum": lambda x, w: _stats.w_stat("sum", x, w),
    "mean": lambda x, w: _stats.w_stat("mean", x, w),
    "var": lambda x, w: _stats.w_stat("var", x, w),
    "std": lambda x, w: _stats.w_std(x, w),
    "min": lambda x, w: _stats.w_min(x, w),
    "max": lambda x, w: _stats.w_max(x, w),
}


def _slug(v) -> str:
    s = "NULL" if v is None else str(v)
    return re.sub(r"[^0-9A-Za-z_]", "_", s)


def weighted_pivot(
    wdf,
    index: Sequence[str],
    columns: str,
    values: Sequence[str],
    stats: Sequence[str] = ("mean",),
    column_values: Optional[Sequence] = None,
) -> DataFrame:
    """Wide weighted aggregate: one output row per ``index`` key, one
    output column ``{value}_{pivot value}[_{stat}]`` per cell.

    ``column_values`` fixes the pivot domain (and column order)
    without a scan; when omitted, the distinct values of ``columns``
    are collected to the driver (ordered, NULL last) — fine for a
    categorical, guarded at ``MAX_IMPLICIT_COLUMN_VALUES``. NULL is an
    ordinary pivot value (null-safe cell mask), matching the engine's
    ``dropna=False`` convention.
    """
    index = list(index)
    values = list(values)
    stats = list(stats)
    bad = [s for s in stats if s not in _STATS]
    if bad or not stats:
        raise ValueError(
            f"stats must be a non-empty subset of {sorted(_STATS)}, "
            f"got {stats!r}"
        )
    if not values:
        raise ValueError("values must name at least one column")
    for c in [columns, *index, *values]:
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    if column_values is None:
        rows = (
            wdf.df.select(columns)
            .distinct()
            .orderBy(F.col(columns).asc_nulls_last())
            .limit(MAX_IMPLICIT_COLUMN_VALUES + 1)
            .collect()
        )
        if len(rows) > MAX_IMPLICIT_COLUMN_VALUES:
            raise ValueError(
                f"pivot column {columns!r} has more than "
                f"{MAX_IMPLICIT_COLUMN_VALUES} distinct values; pass "
                "column_values= explicitly"
            )
        column_values = [r[0] for r in rows]
    w = wdf.weights
    aggs = []
    single = len(stats) == 1
    for v in column_values:
        cond = F.col(columns).eqNullSafe(F.lit(v))
        wv = F.when(cond, w)
        for c in values:
            xv = F.when(cond, wdf._value(c))
            for s in stats:
                name = (
                    f"{c}_{_slug(v)}" if single else f"{c}_{_slug(v)}_{s}"
                )
                aggs.append(_STATS[s](xv, wv).alias(name))
    return wdf.df.groupBy(*[F.col(k) for k in index]).agg(*aggs)


def weighted_crosstab(
    wdf,
    index: Sequence[str],
    columns: str,
    column_values: Optional[Sequence] = None,
    margins: bool = False,
    margins_name: str = "All",
    normalize=False,
) -> DataFrame:
    """Weighted contingency table (pandas ``crosstab`` with the row
    count replaced by weight mass): one row per ``index`` key, one
    column per value of ``columns``, cell = Σw of the matching rows.

    ``normalize``: ``False`` (raw masses), ``"index"`` (rows sum to 1),
    ``"columns"`` (columns sum to 1), ``"all"``/``True`` (grand total
    1). ``margins`` adds pandas' ``All`` totals following pandas'
    normalize interaction: the ``All`` row appears for ``index``/
    ``all``/``False``, the ``All`` column for ``columns``/``all``/
    ``False``. Index key columns are cast to string so the ``All`` row
    label shares their type.

    Scale shape: ONE hash aggregate over the raw rows (map-side
    partials; one combined row per index key in the shuffle) — margins
    and every normalization are derived from the AGGREGATED table (a
    re-aggregate of ``index-cardinality`` rows and a broadcast of the
    1-row totals), never a second raw scan.
    """
    index = list(index)
    if not index:
        raise ValueError("index must name at least one column")
    if normalize not in (False, True, "index", "columns", "all"):
        raise ValueError(f"bad normalize {normalize!r}")
    norm = "all" if normalize is True else normalize
    for c in [columns, *index]:
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    if column_values is None:
        rows = (
            wdf.df.select(columns)
            .distinct()
            .orderBy(F.col(columns).asc_nulls_last())
            .limit(MAX_IMPLICIT_COLUMN_VALUES + 1)
            .collect()
        )
        if len(rows) > MAX_IMPLICIT_COLUMN_VALUES:
            raise ValueError(
                f"crosstab column {columns!r} has more than "
                f"{MAX_IMPLICIT_COLUMN_VALUES} distinct values; pass "
                "column_values= explicitly"
            )
        column_values = [r[0] for r in rows]
    cells = [_slug(v) for v in column_values]
    dup = {c for c in cells if cells.count(c) > 1} | (set(cells) & set(index))
    if dup:
        raise ValueError(f"crosstab cell name collision: {sorted(dup)}")
    w = wdf.weights

    base = wdf.df.groupBy(
        *[F.col(k).cast("string").alias(k) for k in index]
    ).agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col(columns).eqNullSafe(F.lit(v)), w)),
                F.lit(0.0),
            ).alias(n)
            for v, n in zip(column_values, cells)
        ]
    )

    row_tot = sum((F.col(n) for n in cells[1:]), F.col(cells[0]))
    # 1-row totals frame, re-aggregated from `base` (index-cardinality
    # rows) — the grand/column totals never touch the raw data again
    tot = base.agg(
        *[F.sum(n).alias(f"__ct_{n}__") for n in cells]
    ).withColumn(
        "__ct_grand__",
        sum((F.col(f"__ct_{n}__") for n in cells[1:]),
            F.col(f"__ct_{cells[0]}__")),
    )

    want_all_row = margins and norm in (False, "index", "all")
    want_all_col = margins and norm in (False, "columns", "all")

    need_tot = norm in ("columns", "all") or want_all_row
    out = base.crossJoin(F.broadcast(tot)) if need_tot else base

    def cell_expr(n):
        c = F.col(n)
        if norm == "index":
            return F.try_divide(c, row_tot)
        if norm == "columns":
            return F.try_divide(c, F.col(f"__ct_{n}__"))
        if norm == "all":
            return F.try_divide(c, F.col("__ct_grand__"))
        return c

    sel = [*[F.col(k) for k in index],
           *[cell_expr(n).alias(n) for n in cells]]
    if want_all_col:
        mcol = (
            row_tot if norm is False
            else F.try_divide(row_tot, F.col("__ct_grand__"))
        )
        sel.append(mcol.alias(margins_name))
    out = out.select(*sel)

    if want_all_row:
        def tot_expr(n):
            c = F.col(f"__ct_{n}__")
            if norm in ("index", "all"):
                return F.try_divide(c, F.col("__ct_grand__"))
            return c

        rsel = [
            F.lit(margins_name).alias(index[0]),
            *[F.lit(None).cast("string").alias(k) for k in index[1:]],
            *[tot_expr(n).alias(n) for n in cells],
        ]
        if want_all_col:
            rsel.append(
                (F.lit(1.0) if norm == "all" else F.col("__ct_grand__"))
                .alias(margins_name)
            )
        out = out.unionByName(tot.select(*rsel))
    return out
