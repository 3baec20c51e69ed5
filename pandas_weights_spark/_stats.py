"""The weighted-moment algebra as SQL text: one builder, one assembler.

This is the numerical heart of the engine — the PySpark analog of the
reference's ``pandas_weights/_stats.py`` (lines 14-73). Every moment
statistic and every corr/cov — global, grouped, salted, resampled,
rolled up, windowed, streaming — is made of two pieces:

* :func:`moment_sums` names the *mergeable* moment sums a statistic
  reads, and only those (``W`` = masked weight sum, ``n`` = valid pair
  count, ``s1``..``s4`` = ``Σ w·xᵏ``; for a column pair the Pearson sums
  ``n, w, wx, wy, wxy, wxx, wyy`` under the joint validity mask), each
  as an aggregate or as a window over a given frame. Sums are
  associative, so salting, time rollups and windows merge them exactly.
* :func:`assemble` renders ``count/sum/mean/var/std/sem/skew/kurt`` or
  ``corr/cov`` over those named sums — the sums' own text, or the names
  of columns already holding them (a previous stage's merged sums).

Both emit SQL text, not Columns: a caller hands every statistic of a
call to Spark in one ``selectExpr`` / ``agg(F.expr(...))``, so building
a plan costs a handful of JVM round trips instead of thousands of
Column-API calls. Spark parses the text into the same expression trees
the Column API builds, so the optimized plan is unchanged and Catalyst
still compiles each statistic into one partial+final aggregate pass
(one shuffle per grouping) with whole-stage codegen — no Python in the
hot path.

Text rules — each keeps the parsed tree equal to the Column form:

* user column names are backquoted, a backtick inside a name doubled
  (:func:`q`), so any name — spaces, dots, a leading digit, a name equal
  to an internal sum — is one literal column;
* doubles are written ``1.0D`` (a bare ``1.0`` parses as DECIMAL), a
  double NULL ``CAST(NULL AS DOUBLE)``, infinity ``double('inf')``
  (:func:`num`); other Python values through :func:`lit`;
* every sub-expression is parenthesized where it is used, so operator
  precedence never regroups a product or a sum.

Semantics reproduced from the reference:

* ``count``  = sum of weights over non-null observations
  (frame.py:189-213): NULL weights always contribute 0.
* ``sum``    = sum of ``w * x`` with pandas ``min_count`` behavior
  (frame.py:215-220): with ``min_count=0`` an all-NULL column yields 0.0,
  with ``min_count>=1`` it yields NULL.
* ``mean``   = ``Σwx / count(skipna)`` (frame.py:222-229); ``Σwx`` is
  NULL when no row is valid, so no ``min_count`` guard is needed.
* ``var``    = moment form ``(Σwx² − (Σwx)²/W) / (W − ddof)`` where the
  ddof is subtracted from the *weighted count* — the frequency-weights
  convention (_stats.py:24-33). This forbids Spark's built-in
  ``var_samp``/``stddev`` (wrong ddof base).
* ``corr``   = weighted Pearson with the reference's guard chain
  (_stats.py:36-73): joint validity mask, ``min_periods``, ``W <= ddof``,
  non-positive variance — each guard yields NULL (reference yields NaN;
  we use NULL as the engine-wide missing value, see README).

Products keep one IEEE multiplication order everywhere (``x*w``,
``(x*x)*w``, ``((x*x)*x)*w``, ``(wv*x)*y``) — the SQL oracles replay it,
so results are bit-identical. Divide-by-zero is expressed with
``try_divide`` so the kernels behave identically under ANSI and legacy
SQL modes (Spark 4 defaults ANSI on).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from typing import Mapping, Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MOMENT_STATS",
    "q",
    "num",
    "lit",
    "sql",
    "aggregate",
    "moment_sums",
    "sums_read",
    "assemble",
    "stat_sql",
    "KERNELS",
    "w_stat",
    "w_count",
    "w_std",
    "w_sem",
    "variance_from_weighted_moments",
]

#: statistics :func:`assemble` builds from the univariate sums
MOMENT_STATS = ("count", "sum", "mean", "var", "std", "sem", "skew", "kurt")

_UNIVARIATE = ("W", "n", "s1", "s2", "s3", "s4")
_PAIR = ("n", "w", "wx", "wy", "wxy", "wxx", "wyy")


# -- text primitives ----------------------------------------------------------


def q(name: str) -> str:
    """``name`` as one backquoted SQL identifier (a backtick doubled)."""
    return "`" + name.replace("`", "``") + "`"


def num(v: Optional[float]) -> str:
    """A DOUBLE literal: ``1.0D``, ``double('inf')``, ``double('NaN')``
    or ``CAST(NULL AS DOUBLE)``."""
    if v is None:
        return "CAST(NULL AS DOUBLE)"
    v = float(v)
    if math.isnan(v):
        return "double('NaN')"
    if math.isinf(v):
        return "double('inf')" if v > 0 else "double('-inf')"
    return f"{v!r}D"


def lit(v) -> str:
    """``v`` as the SQL literal ``F.lit(v)`` builds: ``NULL``, a boolean,
    an INT/BIGINT, a DOUBLE, an escaped string, a DECIMAL, a DATE, a
    TIMESTAMP (the instant PySpark's own converter gives a naive
    datetime) or binary; a numpy scalar keeps its width (``3L`` for an
    int64)."""
    if type(v).__module__ == "numpy":  # a numpy scalar keeps its width
        kind, size = v.dtype.kind, v.dtype.itemsize
        if kind == "i":
            return f"{int(v)}{ {8: 'L', 4: '', 2: 'S', 1: 'Y'}[size]}"
        if kind == "f" and size == 4:
            return f"CAST({num(float(v))} AS FLOAT)"
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, decimal.Decimal):
        return f"{v}BD"
    if isinstance(v, dt.datetime):
        from pyspark.sql.types import TimestampType

        return f"timestamp_micros({TimestampType().toInternal(v)})"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    raise TypeError(f"no SQL literal for {type(v).__name__} value {v!r}")


def sql(c: Union[str, Column]) -> str:
    """The SQL text of ``c``: text passes through; a Column made by
    ``F.expr`` gives back its text, ``F.col(name)`` its quoted name, a
    sort order its key and direction. Any other Column raises — it has
    no faithful text form."""
    if isinstance(c, str):
        return c
    return _node_sql(c._jc.node(), c)


def _node_sql(node, c: Column) -> str:
    kind = node.getClass().getSimpleName()
    if kind == "SqlExpression":
        return f"({node.expression()})"
    if kind == "UnresolvedAttribute":
        parts = node.nameParts()
        return ".".join(q(parts.apply(i)) for i in range(parts.size()))
    if kind == "SortOrder":
        desc = "Desc" in node.sortDirection().getClass().getSimpleName()
        last = "Last" in node.nullOrdering().getClass().getSimpleName()
        return (
            f"{_node_sql(node.child(), c)} {'DESC' if desc else 'ASC'} "
            f"NULLS {'LAST' if last else 'FIRST'}"
        )
    raise TypeError(
        f"cannot render {c} as SQL text; pass a column name, SQL text, "
        "or a Column from F.col / F.expr"
    )


def aggregate(df: DataFrame, exprs, keys=()) -> DataFrame:
    """The aliased aggregate SQL ``exprs`` per group of the ``keys``
    columns, or as one row without keys (one ``selectExpr``)."""
    if not keys:
        return df.selectExpr(*exprs)
    return df.groupBy(*[F.col(q(k)) for k in keys]).agg(*[F.expr(e) for e in exprs])


# -- the algebra ----------------------------------------------------------------


def moment_sums(
    x: str,
    w: str,
    *,
    y: Optional[str] = None,
    skipna: bool = True,
    over: Optional[str] = None,
    names=None,
) -> dict[str, str]:
    """The mergeable weighted moment sums of ``x`` (or of the pair
    ``x, y``) named in ``names`` (default: all), as aggregate SQL — or
    window SQL over the frame text ``over`` (``PARTITION BY … ORDER BY
    … ROWS …``). ``x``, ``y`` and ``w`` are SQL text.

    Univariate names: ``W`` = ``Σ w·1[x IS NOT NULL]`` (``Σ w`` with
    ``skipna=False``), ``n`` = count of valid ``x·w``, and ``s1``..``s4``
    = ``Σ w·xᵏ`` with the power left-associated (``((x*x)*x)*w``).

    Pair names (``y`` given): ``n, w, wx, wy, wxy, wxx, wyy``, all under
    the joint mask ``x, y, w NOT NULL`` (_stats.py:44), so every pair is
    "pairwise complete" exactly like the reference.

    Every sum is NULL when no row is valid.
    """
    if y is not None:
        wv = (
            f"CASE WHEN ((({x}) IS NOT NULL AND ({y}) IS NOT NULL) "
            f"AND ({w}) IS NOT NULL) THEN ({w}) END"
        )
        body = {
            "n": f"count({wv})",
            "w": f"sum({wv})",
            "wx": f"sum((({wv}) * ({x})))",
            "wy": f"sum((({wv}) * ({y})))",
            "wxy": f"sum(((({wv}) * ({x})) * ({y})))",
            "wxx": f"sum(((({wv}) * ({x})) * ({x})))",
            "wyy": f"sum(((({wv}) * ({y})) * ({y})))",
        }
    else:
        mask = f"CASE WHEN ({x}) IS NOT NULL THEN ({w}) END" if skipna else w
        power = f"({x})"
        body = {"W": f"sum({mask})", "n": f"count((({x}) * ({w})))"}
        for k in range(1, 5):
            body[f"s{k}"] = f"sum(({power} * ({w})))"
            power = f"({power} * ({x}))"
    keys = body if names is None else names
    window = "" if over is None else f" OVER ({over})"
    return {k: f"({body[k]}{window})" for k in keys}


#: the sums each statistic reads in :func:`assemble`
_READS = {
    "count": ("W",),
    "sum": ("s1",),
    "mean": ("W", "s1"),
    "var": ("W", "s1", "s2"),
    "std": ("W", "s1", "s2"),
    "sem": ("W", "s1", "s2"),
    "skew": ("W", "s1", "s2", "s3"),
    "kurt": ("W", "s1", "s2", "s3", "s4"),
    "cov": ("n", "w", "wx", "wy", "wxy"),
    "corr": _PAIR,
}


def sums_read(stats, *, min_count: int = 0) -> list[str]:
    """The sums :func:`assemble` reads for ``stats`` — the state a merge
    stage (salting, rollup) must carry. ``n`` joins only when a ``sum``
    is gated by ``min_count``."""
    keys = {k for s in stats for k in _READS[s]}
    if min_count > 0 and "sum" in stats:
        keys.add("n")
    order = _PAIR if {"corr", "cov"} & set(stats) else _UNIVARIATE
    return [k for k in order if k in keys]


def _comoment(a: str, b: str, ab: str, w: str, ddof: int) -> str:
    """``(Σab − Σa·Σb/W) / (W − ddof)``: the variance (``a = b``) or
    covariance form of the moment sums."""
    return (
        f"try_divide((({ab}) - try_divide((({a}) * ({b})), ({w}))), "
        f"(({w}) - {num(ddof)}))"
    )


def variance_from_weighted_moments(ws: str, wss: str, wc: str, *, ddof: int = 1) -> str:
    """``(Σwx² − (Σwx)²/W) / (W − ddof)`` (_stats.py:24-33)."""
    return _comoment(ws, ws, wss, wc, ddof)


def assemble(
    stat: str,
    m: Mapping[str, str],
    *,
    ddof: int = 1,
    min_count: int = 0,
    min_periods: int = 1,
) -> str:
    """Render one statistic over the moment sums ``m`` — the dict
    :func:`moment_sums` returns, or the quoted names of columns holding
    those sums after a merge stage (any NULL-for-empty sum merges by
    plain ``sum``).

    * ``count`` = ``W`` (0.0 when empty); ``sum`` = ``s1`` with pandas
      ``min_count`` gated on ``n``; ``mean`` = ``s1 / W``.
    * ``var``/``std``/``sem``: the moment form with ddof subtracted from
      ``W``; a negative variance (cancellation) gives a NULL std, and
      ``sem = std / sqrt(W)``.
    * ``skew``/``kurt``: population (biased) ``m3 / m2^1.5`` and
      ``m4 / m2² − 3`` from the raw power sums — the frequency-weights
      analog of ``scipy.stats.skew/kurtosis(bias=True)``; NULL when
      ``W <= 0`` or ``m2 <= 0``.
    * ``corr``/``cov`` (pair sums): guard chain ``n < min_periods``,
      ``W`` NULL/NaN/±inf, ``W <= ddof``, and for corr non-positive
      variance — each failure yields NULL.
    """
    if stat in ("corr", "cov"):
        n, w = m["n"], m["w"]
        cov = _comoment(m["wx"], m["wy"], m["wxy"], w, ddof)
        ok = (
            f"((((({n}) >= {min_periods}) AND (({w}) IS NOT NULL)) "
            f"AND (NOT isnan({w}))) AND (abs({w}) != {num(math.inf)})) "
            f"AND (({w}) > {num(ddof)})"
        )
        if stat == "cov":
            return f"CASE WHEN {ok} THEN {cov} END"
        var_x = _comoment(m["wx"], m["wx"], m["wxx"], w, ddof)
        var_y = _comoment(m["wy"], m["wy"], m["wyy"], w, ddof)
        return (
            f"CASE WHEN ((({ok}) AND ({var_x} > 0)) AND ({var_y} > 0)) "
            f"THEN try_divide({cov}, sqrt(({var_x} * {var_y}))) END"
        )
    if stat not in MOMENT_STATS:
        raise ValueError(f"unknown moment statistic {stat!r}")
    if stat == "count":
        return f"coalesce({m['W']}, {num(0.0)})"
    s1 = m["s1"]
    if stat == "sum":
        total = f"coalesce({s1}, {num(0.0)})"
        if min_count > 0:
            return f"CASE WHEN (({m['n']}) >= {min_count}) THEN {total} END"
        return total
    W = m["W"]
    if stat == "mean":
        return f"try_divide({s1}, {W})"
    if stat in ("var", "std", "sem"):
        v = variance_from_weighted_moments(s1, m["s2"], W, ddof=ddof)
        if stat == "var":
            return v
        sd = f"CASE WHEN ({v} >= 0) THEN sqrt({v}) END"
        if stat == "std":
            return sd
        return f"CASE WHEN (({W}) > 0) THEN try_divide(({sd}), sqrt({W})) END"
    mu = f"try_divide({s1}, {W})"
    s2w = f"try_divide({m['s2']}, {W})"
    m2 = f"({s2w} - ({mu} * {mu}))"
    s3w = f"try_divide({m['s3']}, {W})"
    ok = f"((({W}) > 0) AND ({m2} > 0))"
    if stat == "skew":
        m3 = (
            f"(({s3w} - (({num(3.0)} * {mu}) * {s2w})) "
            f"+ ((({num(2.0)} * {mu}) * {mu}) * {mu}))"
        )
        return f"CASE WHEN {ok} THEN try_divide({m3}, ({m2} * sqrt({m2}))) END"
    s4w = f"try_divide({m['s4']}, {W})"
    m4 = (
        f"((({s4w} - (({num(4.0)} * {mu}) * {s3w})) "
        f"+ ((({num(6.0)} * {mu}) * {mu}) * {s2w})) "
        f"- (((({num(3.0)} * {mu}) * {mu}) * {mu}) * {mu}))"
    )
    return (
        f"CASE WHEN {ok} THEN "
        f"(try_divide({m4}, ({m2} * {m2})) - {num(3.0)}) END"
    )


def stat_sql(
    stat: str, x: str, w: str, *, skipna: bool = True, ddof: int = 1, min_count: int = 0
) -> str:
    """One aggregate statistic of ``x`` as SQL text: a mass-rule kernel
    (:data:`KERNELS`) or :func:`assemble` over the sums it reads."""
    if stat in KERNELS:
        return KERNELS[stat](x, w)
    m = moment_sums(x, w, skipna=skipna, names=sums_read((stat,), min_count=min_count))
    return assemble(stat, m, ddof=ddof, min_count=min_count)


def w_stat(
    stat: str,
    x: Union[str, Column],
    w: Union[str, Column],
    *,
    skipna: bool = True,
    ddof: int = 1,
    min_count: int = 0,
) -> Column:
    """One aggregate moment statistic of ``x`` as a Column: :func:`assemble`
    over :func:`moment_sums`. ``x`` and ``w`` are SQL text or Columns
    :func:`sql` can render. ``skipna=False`` counts every row's weight in
    ``W``; ``ddof`` applies to var/std/sem, ``min_count`` to sum."""
    return F.expr(
        stat_sql(stat, sql(x), sql(w), skipna=skipna, ddof=ddof, min_count=min_count)
    )


def w_count(x: Union[str, Column], w: Union[str, Column], *, skipna: bool = True) -> Column:
    """Weighted count ``Σ w · 1[x IS NOT NULL]`` (frame.py:189-213)."""
    return w_stat("count", x, w, skipna=skipna)


def w_std(
    x: Union[str, Column], w: Union[str, Column], *, ddof: int = 1, skipna: bool = True
) -> Column:
    """Weighted standard deviation = ``sqrt(var)`` (frame.py:243-251)."""
    return w_stat("std", x, w, ddof=ddof, skipna=skipna)


def w_sem(
    x: Union[str, Column], w: Union[str, Column], *, ddof: int = 1, skipna: bool = True
) -> Column:
    """Weighted standard error of the mean ``std / sqrt(W)`` (the
    ``DataFrame.sem`` analog; unit weights reproduce pandas)."""
    return w_stat("sem", x, w, ddof=ddof, skipna=skipna)


# -- the mass-rule kernels (SQL text over x, w) ---------------------------------


def w_min(x: str, w: str) -> str:
    """Minimum observed value carrying probability mass: rows with NULL
    ``x`` or NULL/non-positive weight are excluded — the same mass rule
    as the weighted-quantile family (quantile.py), of which min is the
    q→0⁺ limit. Extension beyond the reference (used by describe())."""
    return f"min(CASE WHEN ((({w}) IS NOT NULL) AND (({w}) > 0)) THEN ({x}) END)"


def w_max(x: str, w: str) -> str:
    """Maximum observed value carrying probability mass (the q=1
    weighted quantile); same mass rule as :func:`w_min`."""
    return f"max(CASE WHEN ((({w}) IS NOT NULL) AND (({w}) > 0)) THEN ({x}) END)"


def _positive_mass(x: str, w: str) -> str:
    return (
        f"CASE WHEN (((({x}) IS NOT NULL AND ({w}) IS NOT NULL) "
        f"AND (({x}) > 0)) AND (({w}) > 0)) THEN ({w}) END"
    )


def w_gmean(x: str, w: str) -> str:
    """Weighted geometric mean ``exp(Σ w·ln x / Σ w)`` over rows with
    positive value AND positive weight (the only domain where the
    geometric mean is defined; scipy ``gmean`` analog under frequency
    weights — unit weights reproduce it exactly). NULL when no mass
    qualifies."""
    m = _positive_mass(x, w)
    W = f"coalesce(sum({m}), {num(0.0)})"
    return f"CASE WHEN ({W} > 0) THEN exp(try_divide(sum((({m}) * ln({x}))), {W})) END"


def w_hmean(x: str, w: str) -> str:
    """Weighted harmonic mean ``Σw / Σ(w/x)`` over rows with positive
    value and weight (rates/speeds aggregation; scipy ``hmean`` analog
    under frequency weights). NULL when no mass qualifies."""
    m = _positive_mass(x, w)
    W = f"coalesce(sum({m}), {num(0.0)})"
    return f"CASE WHEN ({W} > 0) THEN try_divide({W}, sum((({m}) / ({x})))) END"


#: non-moment statistic name → SQL text builder ``(x, w)``
KERNELS = {"min": w_min, "max": w_max, "gmean": w_gmean, "hmean": w_hmean}
