"""Weighted ``apply`` — the engine's arbitrary-Python extension point
(reference ``frame.py:287-367``, ``frame.py:662-679``, ``series.py:249-264``,
``series.py:470-481``).

The reference runs user functions over the *pre-weighted* data
(``self.weighted().apply(...)``, frame.py:357). Here:

* :func:`grouped_apply` — the canonical distributed path:
  ``groupBy(keys).applyInPandas`` over each group's weighted rows
  (Arrow-batched, one shuffle).
* :func:`series_apply` — elementwise over weighted values via
  ``mapInPandas`` (no shuffle at all).
* :func:`frame_apply` — whole-frame column-wise apply. An arbitrary
  column-wise Python reduction inherently needs the whole column in one
  place, so this routes through a single-group ``applyInPandas``
  (documented: small/aggregated data only; prefer the built-in moment
  statistics or ``grouped_apply`` at scale).

Spark cannot infer result schemas for Python functions, so all three take
an explicit ``schema`` (DDL string or StructType) — the one API addition
over the reference (SURVEY.md §2.3 row 29).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

    from pandas_weights_spark.frame import WeightedDataFrame, WeightedSeries
    from pandas_weights_spark.groupby import WeightedGroupBy

__all__ = ["frame_apply", "series_apply", "grouped_apply"]


def _normalize_result(res, columns=None) -> "pd.DataFrame":
    """Coerce a user function's scalar / Series / DataFrame result to a
    pandas DataFrame (pandas ``apply`` does the same shape inference)."""
    import pandas as pd

    if isinstance(res, pd.DataFrame):
        return res
    if isinstance(res, pd.Series):
        # A Series indexed by column name == one output row (reduction).
        return res.to_frame().T
    return pd.DataFrame([[res]], columns=columns or ["value"])


def _first_field_name(schema) -> str:
    if hasattr(schema, "fieldNames"):
        return schema.fieldNames()[0]
    return str(schema).split(",")[0].split()[0].strip("`")


def frame_apply(
    wdf: "WeightedDataFrame",
    func: Callable,
    schema,
    axis: int = 0,
    max_rows: int = 10_000_000,
) -> DataFrame:
    """``func`` over the pre-weighted frame, pandas-``apply`` style
    (frame.py:339-367).

    ``axis=1`` (row-wise ``func``) routes through ``mapInPandas`` —
    rows are independent, so it scales linearly with NO shuffle and one
    output row per input row (matching pandas' Series-per-row result).

    ``axis=0`` (column-wise reduction) inherently needs each whole
    column in one place, so it runs as a single Arrow-batched task.
    That task refuses frames larger than ``max_rows`` with a loud
    error instead of silently OOMing a 100 TB pipeline — raise the
    limit explicitly if a huge single-task reduction is really
    intended, or use the built-in moment statistics / grouped_apply.
    """
    import warnings

    if axis == 1:
        first = _first_field_name(schema)

        def _run_rows(batches):
            import pandas as pd

            for pdf in batches:
                res = pdf.apply(func, axis=1)
                if isinstance(res, pd.Series):
                    res = res.to_frame(first)
                yield res

        return wdf.weighted().mapInPandas(_run_rows, schema)

    warnings.warn(
        "frame_apply(axis=0) funnels the whole frame through ONE task "
        f"(arbitrary column-wise Python); it will refuse > {max_rows:,} "
        "rows. Prefer the built-in statistics or grouped_apply at scale.",
        stacklevel=2,
    )

    def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_rows:
            raise RuntimeError(
                f"frame_apply(axis=0) received {len(pdf):,} rows in its "
                f"single task (max_rows={max_rows:,}); this path cannot "
                "distribute — use grouped_apply / built-in statistics, or "
                "pass a higher max_rows to accept the single-task cost"
            )
        return _normalize_result(pdf.apply(func, axis=axis))

    weighted = wdf.weighted()
    return weighted.groupBy(F.lit(1).alias("__pw_g__")).applyInPandas(
        lambda pdf: _run(pdf.drop(columns="__pw_g__", errors="ignore")), schema
    )


def series_apply(ws: "WeightedSeries", func: Callable, schema) -> DataFrame:
    """Elementwise ``func`` over weighted values (series.py:249-264).

    Pure ``mapInPandas`` — Arrow batches, no shuffle, scales linearly.
    """
    name = ws.name

    def _run(batches):
        for pdf in batches:
            yield pdf.assign(**{name: pdf[name].apply(func)})

    return ws.weighted().mapInPandas(_run, schema)


def grouped_apply(gb: "WeightedGroupBy", func: Callable, schema) -> DataFrame:
    """``func`` per group over the group's pre-weighted rows
    (frame.py:662-679). Distributed: one shuffle on the group keys.

    The declared ``schema`` must lead with the group key columns; the
    wrapper injects the key values into each group's result (the Spark
    analog of the reference's group-keyed result index).
    """
    keys = gb._keys

    def _run(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        res = _normalize_result(func(pdf))
        for i, k in enumerate(keys):
            res.insert(i, k, key[i])
        return res

    # Weighted projection of keys + data columns (keys pass through intact,
    # numeric data gets multiplied — reference _weighted, frame.py:505-510).
    wdf = gb._kept()
    num = set(wdf.numeric_columns())
    data_cols = [c for c in wdf.columns if c not in keys]
    exprs = [F.col(k) for k in keys] + [
        (wdf._value(c) * wdf.weights).alias(c) if c in num else F.col(c)
        for c in data_cols
    ]
    df = wdf.df.select(*exprs)
    out = df.groupBy(*keys).applyInPandas(_run, schema)
    if gb._sort:
        out = out.orderBy(*keys)
    return out
