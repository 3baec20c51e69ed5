"""Weighted exponentially-weighted-moment (EWM) statistics.

``wdf.ewm(order_by=..., alpha=...)`` generalizes pandas
``DataFrame.ewm(adjust=True, ignore_na=False)`` to per-row weights: at
row ``i`` (position ``p_i`` within its partition in ``order_by`` order)

    mean_i = Σ_j ρ^(p_i−p_j) · w_j · x_j  /  Σ_j ρ^(p_i−p_j) · w_j

over valid rows ``j ≤ i`` (``x`` and ``w`` non-NULL), with ``ρ = 1−α``.
Invalid rows contribute no mass but still advance the decay clock —
exactly pandas ``ignore_na=False``. With unit weights this reproduces
``pandas.DataFrame.ewm(...).mean()/var()/std()`` bit-for-bit in exact
arithmetic (pinned by the differential tests). The reference library has
no EWM surface; pandas does, and recency-weighting a training corpus is
the weighted use case.

Scale design — banded rescale, not a per-row geometric sum
----------------------------------------------------------
The naive formulations both fail: a sliding window re-sums O(n·depth)
terms, and the classic prefix trick ``ρ^p · Σ ρ^(−p_j)·t_j`` overflows
``double`` once ``p·log10(1/ρ) > 308``. Instead rows are cut into bands
spanning at most 75 decades of decay, so every exponent that is ever
materialized stays within ±1e150 even for the squared-decay sum:

1. position ``p`` via ``row_number`` per partition;
2. in-band prefix sums of ``t_j · exp(k·r_j)`` (``r`` = offset in band)
   under a window partitioned by (keys, band);
3. the previous band's total via a RANGE frame over the band index on
   the same sort — no join, no extra exchange.

The whole plan has ONE exchange, on the bare partition keys (pinned by
test_ewm_one_exchange_bounded_windows): the ``row_number`` window needs
every row of a key in one task, so a single giant key is still one
sort task. What the (keys, band) sub-partitioning buys is *bounded
window-operator state* — each prefix-sum frame holds one band of rows,
so memory/spill per window partition is capped regardless of key size —
not extra task parallelism.

A row's value combines its in-band prefix with the previous band's
total decayed by one band (``≤ 1e-37`` for position bands, ``1e-75``
for log-decay bands); bands further back are dropped — their multiplier
is beneath double precision relative to the retained terms, so the
result equals the exact sum to machine precision. No unbounded ordered
window anywhere.

One builder, one assembler
--------------------------
Every statistic — mean/var/std under all four ``adjust × ignore_na``
flags, pairwise cov/corr, and the ``times=`` mean — runs through
:func:`_banded_totals` and :func:`_assemble`. A band group names a band
column, an in-band offset column ``r``, a rescale rate ``k``
(``up = exp(k·r)`` going in, ``down = exp(−k·r)`` coming out), the
one-band carry ``c1`` of a plain-decay term and ``c2`` of a
squared-decay term, and its mass terms. Each term has an order: 1 for
plain decay (``D = Σ w``, ``Σ w·x``, ``Σ w·x·y``, ...), 2 for squared
decay (``V = Σ ρ^(2(p_i−p_j)) · w_j²``, the pandas debias sum), 0 for
an undecayed count (``min_periods``). The builder emits one in-band
window and one carry window per group and a decayed total per term; the
assembler turns totals into a statistic with the pair algebra, a
univariate statistic being the pair with ``y = x`` (``var`` is
``cov(x, x)``, ``var(bias=False)`` the pandas debias factor
``D² / (D² − V)`` times the biased variance).

The callers differ only in how they build the clock and the mass:

* **Position bands** (default flags, pairwise stats, ``alpha == 1``):
  ``band = p div B`` with ``B = ⌊75 / log10(1/ρ)⌋``, ``k = ln(1/ρ)``,
  carries ``ρ^B`` and ``ρ^2B``; one band column shared by every value
  column. ``alpha == 1`` is ``k = 0`` with zero carry
  (``exp(0·r) = 1`` exactly): only the current row has mass.
* **Log-decay bands** (``times=``, ``ignore_na=True``,
  ``adjust=False``): a real-valued decay exponent ``L`` in decades,
  ``band = ⌊L/75⌋``, ``r = L − 75·band``, ``k = ln 10``, carries
  ``1e-75`` and ``1e-150``. ``times=`` shares one ``L`` (elapsed time)
  across columns; the variants build one ``L`` per column, because
  validity (and so the clock) is per column.

Reserved names: Spark resolves column names case-insensitively, so every
internal column is ``__pw_ewm_<family>[_<tag>][_<i>]__`` — families
(``p``, ``band``, ``r``, ``term``, ``pre``, ``carry``, ...) and term tags
(``D``, ``X``, ``Y``, ``XY``, ``XX``, ``YY``, ``V``, ``n``) are distinct
in any letter case, and ``i`` is an index, never a user column name, so
no internal column can shadow a user column or another internal one.
"""

from __future__ import annotations

import math
from typing import NamedTuple, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

__all__ = ["WeightedEWM"]

_ColRef = Union[str, Column]


def _name(*parts) -> str:
    """Reserved internal column name ``__pw_ewm_<parts joined by _>__``."""
    return "__pw_ewm_" + "_".join(map(str, parts)) + "__"


_P = _name("p")
_BAND = _name("band")
_R = _name("r")
_DEC = 75.0  # decades of decay per log-decay band
_LN10 = math.log(10.0)


def resolve_alpha(
    alpha: Optional[float] = None,
    com: Optional[float] = None,
    span: Optional[float] = None,
    halflife: Optional[float] = None,
) -> float:
    """pandas ewm decay parametrizations → alpha (exactly one given)."""
    given = [v is not None for v in (alpha, com, span, halflife)]
    if sum(given) != 1:
        raise ValueError("pass exactly one of alpha / com / span / halflife")
    if alpha is not None:
        a = float(alpha)
    elif com is not None:
        if com < 0:
            raise ValueError("com must be >= 0")
        a = 1.0 / (1.0 + float(com))
    elif span is not None:
        if span < 1:
            raise ValueError("span must be >= 1")
        a = 2.0 / (float(span) + 1.0)
    else:
        if halflife <= 0:
            raise ValueError("halflife must be > 0")
        a = 1.0 - math.exp(math.log(0.5) / float(halflife))
    if not 0.0 < a <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {a}")
    return a


class _Band(NamedTuple):
    """A band clock: band index and in-band offset columns, the rescale
    rate ``k`` and the one-band carries of a plain-decay (``c1``) and a
    squared-decay (``c2``) term."""

    band: str
    r: str
    k: float
    c1: float
    c2: float


def _banded_totals(
    df: DataFrame, pcols: list[Column], groups: dict
) -> tuple[DataFrame, dict]:
    """Decayed running totals of mass terms, as of each row.

    ``groups`` maps each :class:`_Band` to its terms
    ``{key: (mass, order)}`` (``key`` a tuple of name parts). Returns the
    frame carrying the prefix and carry columns and ``{key: total}``.
    """
    scaled, prefix, carry, totals = [], [], [], {}
    for (band, r, k, c1, c2), terms in groups.items():
        up = {
            1: F.exp(F.lit(k) * F.col(r)),
            2: F.exp(F.lit(2.0 * k) * F.col(r)),
        }
        down = F.exp(F.lit(-k) * F.col(r))
        in_band = (
            Window.partitionBy(*pcols, F.col(band))
            .orderBy(F.col(_P))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # The carry is a RANGE frame over the band index (band b−1 is
        # empty when a log-decay clock jumped past it), and the
        # (keys, band, p) sort of the in-band window already satisfies
        # its (keys, band) order: no exchange, no sort, no self-join.
        by_band = Window.partitionBy(*pcols).orderBy(F.col(band))
        for key, (mass, order) in terms.items():
            t, p, c = (_name(f, *key) for f in ("term", "pre", "carry"))
            scaled.append((mass * up[order] if order else mass).alias(t))
            prefix.append(F.sum(t).over(in_band).alias(p))
            if order:  # decayed: bands before b−1 are beneath precision
                frame, zero = by_band.rangeBetween(-1, -1), F.lit(0.0)
                tot = (F.col(p) + F.lit(c2 if order == 2 else c1) * F.col(c))
                tot = tot * down
                totals[key] = tot * down if order == 2 else tot
            else:  # counts don't decay: every earlier band, exactly
                frame = by_band.rangeBetween(Window.unboundedPreceding, -1)
                zero = F.lit(0)
                totals[key] = F.col(p) + F.col(c)
            carry.append(F.coalesce(F.sum(t).over(frame), zero).alias(c))
    staged = df.select("*", *scaled).select("*", *prefix)
    return staged.select("*", *carry), totals


def _assemble(kind: str, t: dict, bias: bool, min_periods: int) -> Column:
    """One statistic from its decayed totals ``t`` (tag → column): the
    pair algebra, with ``t["Y"] is t["X"]`` for a univariate statistic."""
    D = t["D"]
    mx = F.try_divide(t["X"], D)
    if kind == "mean":
        expr = mx
    else:
        my = F.try_divide(t["Y"], D)
        cov = F.try_divide(t["XY"], D) - mx * my
        if "V" in t:
            # D² − V is exactly 0 for a lone observation in exact math,
            # but the banded exp() rescale leaves ~1e-16 relative garbage
            # that the debias ratio then amplifies; a relative threshold
            # restores the pandas denominator <= 0 -> NaN behavior.
            denom = D * D - t["V"]
            factor = F.when(
                denom > F.lit(1e-10) * (D * D), F.try_divide(D * D, denom)
            )
        if kind == "corr":
            var_x = F.try_divide(t["XX"], D) - mx * mx
            var_y = F.try_divide(t["YY"], D) - my * my
            # the debias factor cancels in the ratio; its guard (a lone
            # effective observation) must still null the result
            expr = F.when(
                factor.isNotNull() & (var_x > 0) & (var_y > 0),
                F.try_divide(cov, F.sqrt(var_x * var_y)),
            )
        else:
            if not bias:
                cov = factor * cov
            expr = F.when(cov >= 0, F.sqrt(cov)) if kind == "std" else cov
    expr = F.when(D > 0, expr)
    if min_periods > 0:
        expr = F.when(t["n"] >= F.lit(min_periods), expr)
    return expr


class WeightedEWM:
    """EWM statistics over a ``WeightedDataFrame`` — built via
    ``WeightedDataFrame.ewm(...)``. Emits the partition/order key
    columns plus one transformed column per numeric value column
    (the same output shape as :class:`rolling.WeightedRolling`)."""

    def __init__(
        self,
        wdf,
        order_by: Sequence[_ColRef] = (),
        partition_by: Sequence[_ColRef] = (),
        alpha: Optional[float] = None,
        com: Optional[float] = None,
        span: Optional[float] = None,
        halflife=None,
        min_periods: int = 0,
        adjust: bool = True,
        ignore_na: bool = False,
        times: Optional[str] = None,
    ) -> None:
        if any(not isinstance(r, str) for r in partition_by):
            raise ValueError("ewm partition_by entries must be column names")
        self._wdf = wdf
        self._partition_by = list(partition_by)
        self._times = times
        if times is not None:
            # pandas times= semantics: decay by elapsed time; requires a
            # DURATION halflife, defaults, and (like pandas) mean() only
            if not (adjust and not ignore_na):
                raise NotImplementedError(
                    "times= supports adjust=True, ignore_na=False"
                )
            if halflife is None or any(
                v is not None for v in (alpha, com, span)
            ):
                raise ValueError(
                    "times= requires halflife= (a duration) and no other "
                    "decay parametrization"
                )
            import datetime as _dt

            if isinstance(halflife, _dt.timedelta):
                secs = halflife.total_seconds()
            elif isinstance(halflife, str):
                import pandas as _pd

                secs = _pd.Timedelta(halflife).total_seconds()
            else:
                secs = float(halflife)  # numeric: same units as `times`
            if secs <= 0:
                raise ValueError("halflife must be a positive duration")
            self._halflife_secs = secs
            self._alpha = None
            self._order_by = list(order_by) if order_by else [times]
        else:
            if not order_by:
                raise ValueError("ewm requires order_by columns")
            self._order_by = list(order_by)
            self._alpha = resolve_alpha(alpha, com, span, halflife)
        self._min_periods = int(min_periods)
        self._adjust = bool(adjust)
        self._ignore_na = bool(ignore_na)
        if not self._partition_by:
            import warnings

            warnings.warn(
                "ewm without partition_by assigns positions in a single "
                "global window partition (one task for the row_number "
                "pass). Pass partition keys at scale.",
                stacklevel=2,
            )

    # -- band clocks --------------------------------------------------------

    def _band_size(self, rho: float) -> int:
        if rho == 0.0:  # alpha == 1: only the current row matters
            return 1
        decades = -math.log10(rho)
        if decades <= 0:
            raise ValueError("alpha must be > 0")
        return max(1, int(75.0 / decades))

    def _key_cols(self) -> list[str]:
        keys = [r for r in self._partition_by if isinstance(r, str)] + [
            r for r in self._order_by if isinstance(r, str)
        ]
        if self._times is not None and self._times not in keys:
            keys.append(self._times)
        return keys

    def _pcols(self) -> list[Column]:
        return [F.col(c) for c in self._partition_by]

    def _pos_win(self) -> WindowSpec:
        ocols = [F.col(c) if isinstance(c, str) else c for c in self._order_by]
        return Window.partitionBy(*self._pcols()).orderBy(*ocols)

    def _positions(self, *more: Column) -> DataFrame:
        """The input plus position ``p`` (and ``more`` columns over the
        same partition/order) — the one exchange of every EWM plan."""
        return self._wdf.df.select(
            "*", (F.row_number().over(self._pos_win()) - 1).alias(_P), *more
        )

    def _position_bands(self) -> tuple[DataFrame, _Band]:
        """Integer bands of ``B`` positions, shared by every column."""
        rho = 1.0 - self._alpha
        B = self._band_size(rho)
        df = self._positions().select(
            "*",
            F.expr(f"`{_P}` div {B}").alias(_BAND),
            (F.col(_P) % F.lit(B)).cast("double").alias(_R),
        )
        # ln(1/rho)·r and ln(1/rho)·(B-1-r) both stay <= 75 decades
        k = math.log(1.0 / rho) if rho > 0.0 else 0.0
        return df, _Band(_BAND, _R, k, rho**B, rho ** (2 * B))

    def _time_bands(self) -> tuple[DataFrame, _Band]:
        """Time-decayed clock (pandas ``ewm(halflife=..., times=...)``
        generalized to per-row weights): weight of row j at row i is
        ``w_j · 0.5^((t_i − t_j)/halflife)`` — decay by ELAPSED TIME,
        so irregular sampling is handled exactly.

        The decay exponent in decades is the real-valued
        ``L_j = (t_j/halflife)·log10(2)``, banded on ``floor(L/75)``.
        Bands here bound the EXPONENT RANGE per band — a band holds
        whatever rows fall inside 75·halflife/log10(2) of time, so
        window-state is bounded by data density, not row count. Rows
        with NULL ``times`` carry no mass and output NULL (pandas raises
        on NaT instead).

        Divergence at extreme gaps: after ~250 halflives with no
        observations the carried mass is < 1e-75 of a unit weight and
        the banded sum underflows to NULL, where pandas would still
        echo the ancient mean — the weights there are far beneath
        double precision relative to any new observation.
        """
        # timestamp -> epoch seconds; numeric times pass through.
        # TIMESTAMP_NTZ / DATE cannot cast straight to double — route
        # through the session-zoned type (value-preserving under the
        # engine's pinned spark.sql.session.timeZone=UTC, same rule as
        # sources.load_stream).
        # Anchored to the partition minimum: constant offsets cancel in
        # N/D mathematically, but epoch-scale L (~1e7 decades) loses
        # ~7 digits in the in-band remainder L - 75*band — anchoring
        # keeps L at data-range scale so the remainder stays full
        # precision. The min rides the same exchange (unordered window).
        from pyspark.sql.types import DateType, TimestampNTZType

        tcol = self._times
        tsec = F.col(tcol)
        if isinstance(
            self._wdf.df.schema[tcol].dataType, (TimestampNTZType, DateType)
        ):
            tsec = tsec.cast("timestamp")
        tsec = tsec.cast("double")
        tmin = F.min(tsec).over(Window.partitionBy(*self._pcols()))
        L = (tsec - tmin) / F.lit(self._halflife_secs) * F.lit(
            math.log10(2.0)
        )
        df = self._positions().select(
            "*",
            F.floor(L / F.lit(_DEC)).cast("long").alias(_BAND),
            (L - F.lit(_DEC) * F.floor(L / F.lit(_DEC))).alias(_R),
        )
        return df, _Band(_BAND, _R, _LN10, 10.0**-_DEC, 10.0 ** (-2 * _DEC))

    def _decay_bands(
        self, valid: list[Column]
    ) -> tuple[DataFrame, list[tuple[_Band, Column]]]:
        """``ignore_na=True`` and/or ``adjust=False``: one log-decay clock
        and kernel mass per column (``valid[i]`` masks column ``i``).

        * ``ignore_na=True``: the decay clock ticks only on valid rows
          (pandas relative positions), so ``L_j = q_j·log10(1/ρ)`` with
          ``q`` = running count of valid rows — per column, because
          validity is per column.
        * ``adjust=False``: the pandas renormalizing recursion
          ``y_t = (o·W·y + α·w_t·x_t)/(o·W + α·w_t)``, ``W`` reset to
          ``w_t`` after each observation (unit weights reproduce pandas
          exactly), unrolls to the variable-decay kernel
          ``y_t = Σ_j g_j·x_j·10^(L_j−L_t)`` with
          ``g_j = α·w_j/(o_j·w_prev + α·w_j)`` (first valid row: 1) and
          ``L`` the running sum of ``log10(1/f_j)``,
          ``f_j = 1 − g_j``. The kernel weights telescope to 1, so the
          same ``N/D`` assembly applies with ``D ≈ 1``, and the
          ``bias=False`` debias factor ``D²/(D²−V)`` reduces to the
          pandas ``1/(1−Σc²)``. Requires strictly positive weights
          (rows with ``w ≤ 0`` are treated as invalid) — the recursion
          renormalizes by running weight mass, which must not vanish.

        Scale shape: still ONE exchange on the bare partition keys —
        the per-column in-band windows partition by (keys, band_i) and
        the carry windows by (keys), and hash partitioning on (keys)
        satisfies both clusterings, so Catalyst adds sorts, not
        shuffles: the variants cost O(#columns) sorts.
        """
        alpha = self._alpha
        w = self._wdf.weights
        d = -math.log10(1.0 - alpha)  # decades of decay per clock tick
        pos_win = self._pos_win()
        pos_cum = pos_win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pos_prev = pos_win.rowsBetween(Window.unboundedPreceding, -1)
        idx = range(len(valid))

        # layer 1: position + per-column valid-row clock (one WindowExec)
        if self._ignore_na:
            df = self._positions(
                *[
                    F.sum(v.cast("double")).over(pos_cum).alias(_name("q", i))
                    for i, v in enumerate(valid)
                ]
            )
            q = [F.col(_name("q", i)) for i in idx]
        else:
            df = self._positions()
            q = [F.col(_P) + F.lit(1.0) for _ in idx]

        if self._adjust:
            L = [qi * F.lit(d) for qi in q]
            g = [F.when(v, w).otherwise(F.lit(0.0)) for v in valid]
        else:
            # layer 2: previous valid row's weight and clock
            df = df.select(
                "*",
                *[
                    F.last(F.when(v, e), ignorenulls=True)
                    .over(pos_prev)
                    .alias(_name(fam, i))
                    for i, v in enumerate(valid)
                    for fam, e in (("wprev", w), ("qprev", q[i]))
                ],
            )
            # layer 3: per-row log-decay step + kernel mass g
            steps, g = [], []
            for i, v in enumerate(valid):
                pw = F.col(_name("wprev", i))
                gap = q[i] - F.col(_name("qprev", i))
                # z = log10(α·w / (ρ^gap · w_prev)); computed in log
                # space so century-long gaps can't underflow ρ^gap
                z = (
                    F.log10(F.when(w > 0, F.lit(alpha) * w))
                    - F.log10(F.when(pw > 0, pw))
                    + gap * F.lit(d)
                )
                zc = F.least(F.greatest(z, F.lit(-300.0)), F.lit(300.0))
                # log10(1/f) = log10(1 + 10^z), overflow-safe form
                step = F.greatest(z, F.lit(0.0)) + F.log10(
                    F.lit(1.0) + F.pow(F.lit(10.0), -F.abs(zc))
                )
                steps.append(
                    F.when(v & pw.isNotNull(), step)
                    .otherwise(F.lit(0.0))
                    .alias(_name("step", i))
                )
                g.append(
                    F.when(v & pw.isNull(), F.lit(1.0))
                    .when(
                        v,
                        F.try_divide(
                            F.lit(1.0),
                            F.lit(1.0) + F.pow(F.lit(10.0), -zc),
                        ),
                    )
                    .otherwise(F.lit(0.0))
                )
            # layer 4: L = running sum of the log-decay steps
            df = df.select("*", *steps).select(
                "*",
                *[
                    F.sum(_name("step", i)).over(pos_cum).alias(_name("L", i))
                    for i in idx
                ],
            )
            L = [F.col(_name("L", i)) for i in idx]

        # layer 5: band split (pure row-local math)
        split, clocks = [], []
        for i in idx:
            band = F.floor(L[i] / F.lit(_DEC)).cast("long")
            split += [
                band.alias(_name("band", i)),
                (L[i] - F.lit(_DEC) * band).alias(_name("r", i)),
            ]
            clock = _Band(_name("band", i), _name("r", i), _LN10,
                          10.0**-_DEC, 10.0 ** (-2 * _DEC))
            clocks.append((clock, g[i]))
        return df.select("*", *split), clocks

    # -- the one kernel -----------------------------------------------------

    def _ewm(self, outs: list[tuple[str, str, str, str]], bias: bool) -> DataFrame:
        """Statistics ``(alias, kind, x, y)`` — ``y == x`` for a
        univariate one — over the banded totals of their pair sums.
        Each (x, y) pair is masked pairwise-complete (x, y AND w
        non-null); masked rows still advance the decay clock unless
        ``ignore_na``."""
        wdf = self._wdf
        w = wdf.weights
        pairs = list(dict.fromkeys((x, y) for _, _, x, y in outs))
        valid = []
        for x, y in pairs:
            v = wdf._value(x).isNotNull()
            if y != x:
                v = v & wdf._value(y).isNotNull()
            valid.append(v & w.isNotNull())
        # alpha == 1 degenerates identically for every flag combination
        # (only the current row has mass), so the shared position bands
        # cover it.
        if (self._adjust and not self._ignore_na) or self._alpha == 1.0:
            if self._times is not None:
                valid = [v & F.col(self._times).isNotNull() for v in valid]
                df, band = self._time_bands()
            else:
                df, band = self._position_bands()
            clocks = [(band, F.when(v, w).otherwise(F.lit(0.0))) for v in valid]
        else:
            if not self._adjust:
                valid = [v & (w > 0) for v in valid]
            df, clocks = self._decay_bands(valid)

        groups: dict[_Band, dict] = {}
        for i, ((x, y), v, (band, m)) in enumerate(zip(pairs, valid, clocks)):
            kinds = {k for _, k, *xy in outs if tuple(xy) == (x, y)}
            # x with invalid rows zeroed, NOT left NULL — `m * x` is
            # 0 * NULL = NULL, and a NULL term makes the in-band prefix
            # sum NULL whenever every row so far in the band is invalid,
            # silently dropping the carried value at band starts.
            xz = F.when(v, wdf._value(x)).otherwise(F.lit(0.0))
            yz = xz if y == x else F.when(v, wdf._value(y)).otherwise(F.lit(0.0))
            terms = groups.setdefault(band, {})
            terms[("D", i)] = (m, 1)
            terms[("X", i)] = (m * xz, 1)
            if y != x:
                terms[("Y", i)] = (m * yz, 1)
            if kinds != {"mean"}:
                terms[("XY", i)] = (m * xz * yz, 1)
            if "corr" in kinds or (not bias and kinds != {"mean"}):
                terms[("V", i)] = (m * m, 2)
            if "corr" in kinds:
                terms[("XX", i)] = (m * xz * xz, 1)
                terms[("YY", i)] = (m * yz * yz, 1)
            if self._min_periods > 0:
                terms[("n", i)] = (v.cast("long"), 0)
        df, totals = _banded_totals(df, self._pcols(), groups)

        out_cols = []
        for alias, kind, x, y in outs:
            i = pairs.index((x, y))
            t = {tag: tot for (tag, j), tot in totals.items() if j == i}
            t.setdefault("Y", t["X"])
            out_cols.append(
                _assemble(kind, t, bias, self._min_periods).alias(alias)
            )
        return df.select(*self._key_cols(), *out_cols)

    def _stat(self, kind: str, bias: bool = False) -> DataFrame:
        if self._times is not None and kind != "mean":
            raise NotImplementedError(
                "times= supports mean() only (pandas restriction)"
            )
        keys = self._key_cols()
        cols = [c for c in self._wdf.numeric_columns() if c not in keys]
        if not cols:
            raise ValueError("no numeric value columns outside the ewm keys")
        return self._ewm([(c, kind, c, c) for c in cols], bias)

    # -- pairwise statistics ------------------------------------------------

    def pair_stats(
        self,
        x: str,
        y: str,
        stats: Sequence[str] = ("cov", "corr"),
        bias: bool = False,
    ) -> DataFrame:
        """EWM weighted pairwise cov/corr of two columns (pandas
        ``ewm().cov(other)`` / ``corr(other)`` generalized to per-row
        weights; default flags ``adjust=True, ignore_na=False``).
        Requesting several ``stats`` fuses them into ONE banded window
        pass — the cross-moment prefix sums are shared, only the final
        row-local algebra differs per statistic.

        Pairwise-complete mask (x, y AND w non-null — pandas aligns the
        pair before the recursion); masked rows still advance the decay
        clock. ``bias=False`` applies the pandas debias factor
        ``D²/(D²−V)`` to cov (it cancels in corr). ONE exchange on the
        partition keys, like every EWM statistic.
        """
        stats = tuple(stats)
        bad = [s for s in stats if s not in ("cov", "corr")]
        if bad or not stats:
            raise ValueError(
                f"pair stats must be a non-empty subset of cov/corr, "
                f"got {stats!r}"
            )
        if self._adjust is False or self._ignore_na or self._times is not None:
            raise NotImplementedError(
                "ewm pairwise cov/corr supports the default "
                "adjust=True, ignore_na=False flags (no times=)"
            )
        return self._ewm([(f"{x}_{y}_{k}", k, x, y) for k in stats], bias)

    def cov(self, x: str, y: str, bias: bool = False) -> DataFrame:
        """EWM weighted covariance of ``x`` vs ``y``; output column
        ``{x}_{y}_cov`` alongside the partition/order keys."""
        return self.pair_stats(x, y, stats=("cov",), bias=bias)

    def corr(self, x: str, y: str) -> DataFrame:
        """EWM weighted Pearson correlation of ``x`` vs ``y``; output
        column ``{x}_{y}_corr`` (the pandas debias factor cancels)."""
        return self.pair_stats(x, y, stats=("corr",), bias=False)

    # -- statistics ---------------------------------------------------------

    def mean(self) -> DataFrame:
        """EWM weighted mean per numeric column (pandas ``ewm().mean()``
        at unit weights)."""
        return self._stat("mean")

    def var(self, bias: bool = False) -> DataFrame:
        """EWM weighted variance; ``bias=False`` applies the pandas
        debias factor ``D²/(D²−V)``."""
        return self._stat("var", bias=bias)

    def std(self, bias: bool = False) -> DataFrame:
        return self._stat("std", bias=bias)
