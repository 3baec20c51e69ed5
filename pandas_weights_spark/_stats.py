"""The weighted-moment algebra: one builder, one assembler.

This is the numerical heart of the engine — the PySpark analog of the
reference's ``pandas_weights/_stats.py`` (lines 14-73). Every moment
statistic and every corr/cov — global, grouped, salted, resampled,
rolled up, windowed, streaming — is made of two pieces:

* :func:`moment_sums` builds the *mergeable* moment sums of a column
  (``W`` = masked weight sum, ``n`` = valid pair count, ``s1``..``s4``
  = ``Σ w·xᵏ``) or of a column pair (the seven Pearson sums
  ``n, w, wx, wy, wxy, wxx, wyy`` under the joint validity mask), as
  aggregate expressions or over a given ``WindowSpec``. Sums are
  associative, so salting, time rollups and windows merge them exactly.
* :func:`assemble` turns those sums — or columns already holding them,
  e.g. a previous stage's merged sums — into ``count/sum/mean/var/std/
  sem/skew/kurt`` or ``corr/cov``.

Everything stays a lazy Column expression, so Catalyst compiles each
statistic into one partial+final aggregate pass (one shuffle per
grouping) with whole-stage codegen — no Python in the hot path.

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
``F.try_divide`` so the kernels behave identically under ANSI and
legacy SQL modes (Spark 4 defaults ANSI on).
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

__all__ = [
    "MOMENT_STATS",
    "moment_sums",
    "sums_read",
    "assemble",
    "w_stat",
    "w_count",
    "w_std",
    "w_sem",
    "variance_from_weighted_moments",
]

_INF = float("inf")

#: statistics :func:`assemble` builds from the univariate sums
MOMENT_STATS = ("count", "sum", "mean", "var", "std", "sem", "skew", "kurt")


def moment_sums(
    x: Column,
    w: Column,
    *,
    y: Optional[Column] = None,
    skipna: bool = True,
    over: Optional[WindowSpec] = None,
) -> dict[str, Column]:
    """The mergeable weighted moment sums of ``x`` (or of the pair
    ``x, y``), as aggregate expressions — or window expressions over
    ``over``.

    Univariate keys: ``W`` = ``Σ w·1[x IS NOT NULL]`` (``Σ w`` with
    ``skipna=False``), ``n`` = count of valid ``x·w``, and ``s1``..``s4``
    = ``Σ w·xᵏ`` with the power left-associated (``((x*x)*x)*w``).

    Pair keys (``y`` given): ``n, w, wx, wy, wxy, wxx, wyy``, all under
    the joint mask ``x, y, w NOT NULL`` (_stats.py:44), so every pair is
    "pairwise complete" exactly like the reference.

    Every sum is NULL when no row is valid. The dict is lazy — only the
    sums a statistic references enter the plan.
    """
    if y is not None:
        wv = F.when(x.isNotNull() & y.isNotNull() & w.isNotNull(), w)
        sums = {
            "n": F.count(wv),
            "w": F.sum(wv),
            "wx": F.sum(wv * x),
            "wy": F.sum(wv * y),
            "wxy": F.sum(wv * x * y),
            "wxx": F.sum(wv * x * x),
            "wyy": F.sum(wv * y * y),
        }
    else:
        sums = {
            "W": F.sum(F.when(x.isNotNull(), w) if skipna else w),
            "n": F.count(x * w),
        }
        p = x
        for k in range(1, 5):
            sums[f"s{k}"] = F.sum(p * w)
            p = p * x
    if over is not None:
        sums = {k: v.over(over) for k, v in sums.items()}
    return sums


#: the univariate sums each statistic reads in :func:`assemble`
_READS = {
    "count": ("W",),
    "sum": ("s1",),
    "mean": ("W", "s1"),
    "var": ("W", "s1", "s2"),
    "std": ("W", "s1", "s2"),
    "sem": ("W", "s1", "s2"),
    "skew": ("W", "s1", "s2", "s3"),
    "kurt": ("W", "s1", "s2", "s3", "s4"),
}


def sums_read(stats, *, min_count: int = 0) -> list[str]:
    """The univariate sums :func:`assemble` reads for ``stats`` — the
    state a merge stage (salting, rollup) must carry. ``n`` joins only
    when a ``sum`` is gated by ``min_count``."""
    keys = {k for s in stats for k in _READS[s]}
    if min_count > 0 and "sum" in stats:
        keys.add("n")
    return [k for k in ("W", "n", "s1", "s2", "s3", "s4") if k in keys]


def variance_from_weighted_moments(
    ws: Column, wss: Column, wc: Column, *, ddof: int = 1
) -> Column:
    """``(Σwx² − (Σwx)²/W) / (W − ddof)`` (_stats.py:24-33)."""
    return F.try_divide(wss - F.try_divide(ws * ws, wc), wc - F.lit(float(ddof)))


def assemble(
    stat: str,
    m: Mapping[str, Column],
    *,
    ddof: int = 1,
    min_count: int = 0,
    min_periods: int = 1,
) -> Column:
    """Build one statistic from moment sums ``m`` — the dict
    :func:`moment_sums` returns, or Columns holding those sums after a
    merge stage (any NULL-for-empty sum merges by plain ``F.sum``).

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
        denom = w - F.lit(float(ddof))
        cov = F.try_divide(m["wxy"] - F.try_divide(m["wx"] * m["wy"], w), denom)
        ok = (
            (n >= F.lit(min_periods))
            & w.isNotNull()
            & ~F.isnan(w)
            & (F.abs(w) != F.lit(_INF))
            & (w > F.lit(float(ddof)))
        )
        if stat == "cov":
            return F.when(ok, cov)
        var_x = F.try_divide(m["wxx"] - F.try_divide(m["wx"] * m["wx"], w), denom)
        var_y = F.try_divide(m["wyy"] - F.try_divide(m["wy"] * m["wy"], w), denom)
        return F.when(
            ok & (var_x > 0) & (var_y > 0),
            F.try_divide(cov, F.sqrt(var_x * var_y)),
        )
    if stat not in MOMENT_STATS:
        raise ValueError(f"unknown moment statistic {stat!r}")
    if stat == "count":
        return F.coalesce(m["W"], F.lit(0.0))
    s1 = m["s1"]
    if stat == "sum":
        total = F.coalesce(s1, F.lit(0.0))
        if min_count > 0:
            return F.when(m["n"] >= F.lit(min_count), total)
        return total
    W = m["W"]
    if stat == "mean":
        return F.try_divide(s1, W)
    if stat in ("var", "std", "sem"):
        v = variance_from_weighted_moments(s1, m["s2"], W, ddof=ddof)
        if stat == "var":
            return v
        sd = F.when(v >= 0, F.sqrt(v))
        if stat == "std":
            return sd
        return F.when(W > 0, F.try_divide(sd, F.sqrt(W)))
    mu = F.try_divide(s1, W)
    s2w = F.try_divide(m["s2"], W)
    m2 = s2w - mu * mu
    s3w = F.try_divide(m["s3"], W)
    ok = (W > 0) & (m2 > 0)
    if stat == "skew":
        m3 = s3w - F.lit(3.0) * mu * s2w + F.lit(2.0) * mu * mu * mu
        return F.when(ok, F.try_divide(m3, m2 * F.sqrt(m2)))
    s4w = F.try_divide(m["s4"], W)
    m4 = (
        s4w
        - F.lit(4.0) * mu * s3w
        + F.lit(6.0) * mu * mu * s2w
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return F.when(ok, F.try_divide(m4, m2 * m2) - F.lit(3.0))


def w_stat(
    stat: str,
    x: Column,
    w: Column,
    *,
    skipna: bool = True,
    ddof: int = 1,
    min_count: int = 0,
) -> Column:
    """One aggregate moment statistic of ``x``: :func:`assemble` over
    :func:`moment_sums`. ``skipna=False`` counts every row's weight in
    ``W``; ``ddof`` applies to var/std/sem, ``min_count`` to sum."""
    return assemble(
        stat, moment_sums(x, w, skipna=skipna), ddof=ddof, min_count=min_count
    )


def w_count(x: Column, w: Column, *, skipna: bool = True) -> Column:
    """Weighted count ``Σ w · 1[x IS NOT NULL]`` (frame.py:189-213)."""
    return w_stat("count", x, w, skipna=skipna)


def w_std(x: Column, w: Column, *, ddof: int = 1, skipna: bool = True) -> Column:
    """Weighted standard deviation = ``sqrt(var)`` (frame.py:243-251)."""
    return w_stat("std", x, w, ddof=ddof, skipna=skipna)


def w_sem(x: Column, w: Column, *, ddof: int = 1, skipna: bool = True) -> Column:
    """Weighted standard error of the mean ``std / sqrt(W)`` (the
    ``DataFrame.sem`` analog; unit weights reproduce pandas)."""
    return w_stat("sem", x, w, ddof=ddof, skipna=skipna)


def w_min(x: Column, w: Column) -> Column:
    """Minimum observed value carrying probability mass: rows with NULL
    ``x`` or NULL/non-positive weight are excluded — the same mass rule
    as the weighted-quantile family (quantile.py), of which min is the
    q→0⁺ limit. Extension beyond the reference (used by describe())."""
    return F.min(F.when(w.isNotNull() & (w > 0), x))


def w_max(x: Column, w: Column) -> Column:
    """Maximum observed value carrying probability mass (the q=1
    weighted quantile); same mass rule as :func:`w_min`."""
    return F.max(F.when(w.isNotNull() & (w > 0), x))


def w_gmean(x: Column, w: Column) -> Column:
    """Weighted geometric mean ``exp(Σ w·ln x / Σ w)`` over rows with
    positive value AND positive weight (the only domain where the
    geometric mean is defined; scipy ``gmean`` analog under frequency
    weights — unit weights reproduce it exactly). NULL when no mass
    qualifies."""
    ok = x.isNotNull() & w.isNotNull() & (x > 0) & (w > 0)
    m = F.when(ok, w)
    W = F.coalesce(F.sum(m), F.lit(0.0))
    s = F.sum(m * F.log(x))
    return F.when(W > 0, F.exp(F.try_divide(s, W)))


def w_hmean(x: Column, w: Column) -> Column:
    """Weighted harmonic mean ``Σw / Σ(w/x)`` over rows with positive
    value and weight (rates/speeds aggregation; scipy ``hmean`` analog
    under frequency weights). NULL when no mass qualifies."""
    ok = x.isNotNull() & w.isNotNull() & (x > 0) & (w > 0)
    m = F.when(ok, w)
    W = F.coalesce(F.sum(m), F.lit(0.0))
    s = F.sum(m / x)
    return F.when(W > 0, F.try_divide(W, s))
