"""Weighted time-bucketed aggregation (reference ``WeightedFrameResampler``,
``/root/reference/src/pandas_weights/frame.py:370-446``).

pandas ``resample(rule)`` with fixed-frequency rules maps to Spark's
tumbling ``F.window(ts, interval, startTime=...)``; calendar rules
(month/year starts) map to ``date_trunc``. Both are plain ``groupBy``
aggregations — a single shuffle keyed on the bucket, streaming-safe
partials (the same expressions run unchanged under Structured Streaming,
see :mod:`pandas_weights_spark.streaming`).

Origin semantics: pandas defaults to ``origin="start_day"`` (midnight of
the first timestamp). Spark windows are epoch-aligned; midnight is a
whole number of days past the epoch, so for a fixed rule whose period
divides a day (``"1D"``, ``"1h"``, ``"15min"``…) the window phase is just
the offset and ``start_day`` runs no job. Calendar rules and fixed
rules that don't divide a day (``"7min"``, ``"2D"``) cost one tiny
extra job — ``agg(min(ts))`` over a single pruned column — to anchor
on the first timestamp; ``origin="epoch"`` skips it for fixed rules.

Divergence (documented, SURVEY.md §3.3): only non-empty buckets are
emitted. pandas emits the full bucket range with NA rows; use
``complete=True`` on an aggregate to left-join a generated bucket spine
(``F.sequence`` + ``explode``) for pandas-shaped output.
"""

from __future__ import annotations

import datetime as dt
import re
from typing import TYPE_CHECKING, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandas_weights_spark import _stats
from pandas_weights_spark.frame import WEIGHT_COL

if TYPE_CHECKING:
    from pandas_weights_spark.frame import WeightedDataFrame

__all__ = ["WeightedResampler", "parse_rule", "fill_gaps", "seasonal_decompose"]

_FIXED_UNITS = {
    "w": 7 * 86400,
    "d": 86400,
    "h": 3600,
    "t": 60,
    "min": 60,
    "s": 1,
}
#: calendar unit → (anchor side, unit width in months).
#: Bare "m"/"q"/"y" are the deprecated pandas aliases of the END forms
#: ("M" ≡ "ME" since pandas 2.2).
_CALENDAR_UNITS = {
    "ms": ("start", 1),
    "qs": ("start", 3),
    "ys": ("start", 12),
    "as": ("start", 12),  # pandas legacy alias for YS
    "me": ("end", 1),
    "qe": ("end", 3),
    "ye": ("end", 12),
    "m": ("end", 1),
    "q": ("end", 3),
    "y": ("end", 12),
    "a": ("end", 12),
}

_RULE_RE = re.compile(r"^\s*(\d*)\s*([a-zA-Z]+)\s*$")


def parse_rule(
    rule: Union[str, dt.timedelta],
) -> tuple[str, Union[int, tuple[str, int, int]]]:
    """Parse a pandas-ish offset rule.

    Returns ``("fixed", seconds)`` for fixed-frequency rules
    (``"2D"``, ``"6H"``, ``"30min"``, ``timedelta``) or
    ``("cal", (anchor, unit_months, total_months))`` for calendar rules —
    ``"MS"``/``"3ME"``/``"2QS"``/``"YE"``… — where ``anchor`` is
    ``"start"`` or ``"end"``, ``unit_months`` the width of one unit
    (1/3/12 for month/quarter/year) and ``total_months = n · unit``.
    """
    if isinstance(rule, dt.timedelta):
        secs = int(rule.total_seconds())
        if secs <= 0:
            raise ValueError(f"rule must be positive, got {rule!r}")
        return "fixed", secs
    m = _RULE_RE.match(rule)
    if not m:
        raise ValueError(f"cannot parse resample rule {rule!r}")
    n = int(m.group(1) or 1)
    unit = m.group(2).lower()
    if n < 1:
        raise ValueError(f"rule must be positive, got {rule!r}")
    if unit in _FIXED_UNITS:
        return "fixed", n * _FIXED_UNITS[unit]
    if unit in _CALENDAR_UNITS:
        anchor, u = _CALENDAR_UNITS[unit]
        return "cal", (anchor, u, n * u)
    raise ValueError(f"unknown resample rule unit {unit!r} in {rule!r}")


def _as_seconds(value: Union[str, dt.timedelta]) -> int:
    if isinstance(value, dt.timedelta):
        return int(value.total_seconds())
    kind, secs = parse_rule(value)
    if kind != "fixed":
        raise ValueError(f"offset must be a fixed duration, got {value!r}")
    return secs


class WeightedResampler:
    """Lazy weighted resampler: stores the rule, derives the bucket per
    aggregate call (mirrors the reference's lazy design, frame.py:370-379).
    """

    def __init__(
        self,
        wdf: "WeightedDataFrame",
        rule: Union[str, dt.timedelta],
        on: str,
        origin: str = "start_day",
        offset: Optional[Union[str, dt.timedelta]] = None,
        closed: str = "left",
        label: str = "left",
    ) -> None:
        if on not in wdf.df.columns:
            raise KeyError(f"timestamp column {on!r} not in DataFrame")
        if closed not in ("left", "right") or label not in ("left", "right"):
            raise ValueError("closed/label must be 'left' or 'right'")
        self._wdf = wdf
        self._on = on
        self._kind, info = parse_rule(rule)
        if self._kind == "fixed":
            self._n = info
            self._cal: Optional[tuple[str, int, int]] = None
        else:
            self._n = 0
            self._cal = info
        self._origin = origin
        self._offset_secs = _as_seconds(offset) if offset is not None else 0
        self._closed = closed
        self._label = label

    # -- bucketing -------------------------------------------------------------

    def _start_time_seconds(self) -> int:
        """Window phase (seconds past epoch-alignment) for F.window."""
        # COORDINATE SYSTEM: Spark's TimeWindow buckets on the session-
        # local WALL CLOCK (verified: under America/New_York,
        # window(ts,'12 hours',startTime=0).start lands on local
        # midnight, not 19:00). Spark also collects timestamps as
        # session-tz-naive datetimes. So every anchor here is computed in
        # "naive local treated as UTC" coordinates — which IS the
        # wall-clock second count TimeWindow phases against. Converting
        # the anchor to true UTC epoch seconds (e.g. via
        # unix_timestamp(date_trunc('day', ts))) would be the actual
        # tz bug: it shifts the phase by the zone offset.
        # tests/test_resample.py::TestStartDayTimezone pins this.
        if self._origin == "epoch":
            base = 0
        elif self._origin == "start_day":
            if 86400 % self._n == 0:
                # midnight is a whole number of days, so a period that
                # divides a day puts it at phase 0: no probe needed
                return self._offset_secs % self._n
            # One extra tiny job: min over a single pruned column.
            first = self._wdf.df.agg(F.min(F.col(self._on))).collect()[0][0]
            if first is None:
                base = 0
            else:
                day = dt.datetime(
                    first.year, first.month, first.day, tzinfo=dt.timezone.utc
                )
                base = int(day.timestamp())
        else:
            # Naive origin = "in the data's clock" (pandas semantics);
            # naive-as-UTC is exactly the wall-clock coordinate above.
            ts = dt.datetime.fromisoformat(self._origin)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=dt.timezone.utc)
            base = int(ts.timestamp())
        return (base + self._offset_secs) % self._n

    def _anchor_month_index(self) -> int:
        """Month index (``year·12 + month − 1``) of the first timestamp —
        one tiny job over a single pruned column (pandas anchors calendar
        rules on the first observation; reference frame.py:163 accepts
        any pandas frequency)."""
        first = self._wdf.df.agg(F.min(F.col(self._on))).collect()[0][0]
        if first is None:
            return 0
        return first.year * 12 + first.month - 1

    def bucket(self) -> Column:
        """The bucket-label timestamp Column for the configured rule.

        Fixed rules: ``closed="right"`` makes intervals ``(lo, hi]`` —
        timestamps are microsecond-precision, so shifting by 1µs before
        bucketing moves exactly the boundary points into the preceding
        bucket; ``label="right"`` labels each bucket by its upper edge.

        Calendar rules (``"3ME"``, ``"2QS"``, ``"YE"``…) use pure
        month-index arithmetic — ``m = year·12 + month − 1`` — so the
        bucket is a row-local expression and the only extra cost is the
        one-row anchor job. Anchoring matches pandas: start-anchored
        rules (``MS/QS/YS``) floor the first timestamp to its unit start
        and bucket ``P + ⌊(m−P)/N⌋·N`` (label = first day); end-anchored
        rules (``ME/QE/YE``) anchor on the unit end ``A`` of the first
        timestamp and bucket ``A + ⌈(m−A)/N⌉·N`` (label = last day, so
        the first bucket may be a partial unit — pandas semantics,
        verified differentially). ``closed``/``label`` are fixed by the
        anchor side for calendar rules, as in pandas.
        """
        return F.expr(self._bucket_sql())

    def _bucket_sql(self) -> str:
        """:meth:`bucket` as SQL text."""
        ts = _stats.q(self._on)
        if self._kind == "fixed":
            if self._closed == "right":
                ts = f"({ts} - INTERVAL 1 MICROSECOND)"
            phase = self._start_time_seconds()
            n = f"'{self._n} seconds'"
            start = f"window({ts}, {n}, {n}, '{phase} seconds').start"
            if self._label == "right":
                start = f"({start} + INTERVAL {self._n} SECOND)"
            return start
        anchor, u, total = self._cal
        m_first = self._anchor_month_index()
        m = f"(((year({ts}) * 12) + month({ts})) - 1)"
        if anchor == "start":
            p = m_first - (m_first % u)
            lm = f"({p} + (CAST(floor((({m} - {p}) / {total})) AS BIGINT) * {total}))"
        else:
            a = m_first - (m_first % u) + (u - 1)
            lm = f"({a} + (CAST(ceil((({m} - {a}) / {total})) AS BIGINT) * {total}))"
        day = (
            f"make_date(CAST(floor(({lm} / 12)) AS INT), "
            f"CAST((pmod({lm}, 12) + 1) AS INT), 1)"
        )
        if anchor == "end":
            day = f"last_day({day})"
        return f"CAST({day} AS TIMESTAMP)"

    def _aggregated(self, exprs: Sequence[str], complete: bool) -> DataFrame:
        """``exprs`` (aliased aggregate SQL) per non-empty bucket, in
        bucket order; ``complete`` adds the empty buckets."""
        on = _stats.q(self._on)
        out = (
            self._wdf.df.where(f"{on} IS NOT NULL")
            .groupBy(F.expr(f"{self._bucket_sql()} AS {on}"))
            .agg(*[F.expr(e) for e in exprs])
        )
        if complete:
            out = self._complete(out)
        return out.orderBy(F.col(on))

    def _agg(self, stat: str, complete: bool = False, **kwargs) -> DataFrame:
        cols = [c for c in self._wdf.numeric_columns() if c != self._on]
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        w = _stats.q(WEIGHT_COL)
        return self._aggregated(
            [
                f"{_stats.stat_sql(stat, self._wdf._value_sql(c), w, **kwargs)}"
                f" AS {_stats.q(c)}"
                for c in cols
            ],
            complete,
        )

    def _complete(self, out: DataFrame) -> DataFrame:
        """Left-join against a generated bucket spine so empty buckets are
        emitted with NULLs (pandas full-range semantics, SURVEY.md §3.3)."""
        if self._kind == "fixed":
            step = F.expr(f"INTERVAL {self._n} SECOND")
            spine = out.agg(
                F.min(self._on).alias("lo"), F.max(self._on).alias("hi")
            ).select(
                F.explode(F.sequence(F.col("lo"), F.col("hi"), step)).alias(
                    self._on
                )
            )
        else:
            # Month-end labels don't step uniformly (Feb 29 → May 31…);
            # walk month STARTS by N months and map back to last_day for
            # end-anchored rules.
            anchor, _, total = self._cal
            step = F.expr(f"INTERVAL {total} MONTH")
            lab = F.explode(
                F.sequence(
                    F.date_trunc("month", F.col("lo")),
                    F.date_trunc("month", F.col("hi")),
                    step,
                )
            ).alias(self._on)
            spine = out.agg(
                F.min(self._on).alias("lo"), F.max(self._on).alias("hi")
            ).select(lab)
            if anchor == "end":
                spine = spine.select(
                    F.last_day(F.col(self._on))
                    .cast("timestamp")
                    .alias(self._on)
                )
        return spine.join(out, on=self._on, how="left")

    # -- statistics (frame.py:381-446) -------------------------------------------

    def count(self, skipna: bool = True, complete: bool = False) -> DataFrame:
        return self._agg("count", complete, skipna=skipna)

    def sum(self, min_count: int = 0, complete: bool = False) -> DataFrame:
        return self._agg("sum", complete, min_count=min_count)

    def mean(self, skipna: bool = True, complete: bool = False) -> DataFrame:
        return self._agg("mean", complete, skipna=skipna)

    def var(
        self, ddof: int = 1, skipna: bool = True, complete: bool = False
    ) -> DataFrame:
        return self._agg("var", complete, ddof=ddof, skipna=skipna)

    def std(
        self, ddof: int = 1, skipna: bool = True, complete: bool = False
    ) -> DataFrame:
        return self._agg("std", complete, ddof=ddof, skipna=skipna)

    def quantile(
        self,
        q: Union[float, Sequence[float]] = 0.5,
        exact: bool = True,
        lo: Optional[float] = None,
        hi: Optional[float] = None,
        bins: int = 4096,
    ) -> DataFrame:
        """Weighted quantile(s) per time bucket (extension — the
        reference resampler has count/sum/mean/var/std only,
        frame.py:381-446; pandas resamplers accept ``quantile``).

        The bucket label becomes the grouping key of the usual quantile
        machinery (quantile.py): the inverted-CDF window partitions on
        the bucket — buckets are naturally numerous on long ranges, and
        ``exact=False`` switches to the binned CDF (shuffle ∝ buckets ×
        bins) for short-range/huge-data shapes.
        """
        from pandas_weights_spark.quantile import (
            weighted_quantiles,
            weighted_quantiles_binned,
        )

        cols = [c for c in self._wdf.numeric_columns() if c != self._on]
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        staged = self._wdf._with_df(
            self._wdf.df.where(F.col(self._on).isNotNull()).withColumn(
                self._on, self.bucket()
            ),
            cols,
        )
        if exact:
            out = weighted_quantiles(
                staged, q, subset=cols, keys=[self._on]
            )
        else:
            if lo is None or hi is None:
                raise ValueError("exact=False needs explicit lo and hi")
            out = weighted_quantiles_binned(
                staged, q, lo=lo, hi=hi, bins=bins,
                subset=cols, keys=[self._on],
            )
        return out.orderBy(self._on)

    def median(self, **kwargs) -> DataFrame:
        return self.quantile(0.5, **kwargs)

    def agg_all(
        self, stats: Sequence[str], complete: bool = False, **kwargs
    ) -> DataFrame:
        """Several statistics in one bucket-keyed aggregate pass.
        ``complete=True`` joins the generated bucket spine so empty
        buckets appear (NULL statistics), like the single-stat paths."""
        from pandas_weights_spark.groupby import _STATS, _stat_exprs

        cols = [c for c in self._wdf.numeric_columns() if c != self._on]
        bad = [s for s in stats if s not in _STATS]
        if bad:
            raise ValueError(f"unknown statistics: {bad}")
        return self._aggregated(
            [e for c in cols for e in _stat_exprs(self._wdf, c, stats, **kwargs)],
            complete,
        )


def hypertable_rollup(
    df: DataFrame,
    weights,
    on: str,
    rules: Sequence[str],
    stats: Sequence[str] = ("count", "sum", "mean"),
    value_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Multi-resolution time rollup (continuous-aggregate style): the
    RAW data is scanned and aggregated ONCE at the finest grain; every
    coarser grain re-aggregates the previous level's weighted moment
    sums (Σw-valid, Σwx, Σwx², Σwx³, Σwx⁴ as needed) — which are
    associative, so each level is EXACT, not approximate, and its
    input is only ``#fine_buckets`` rows. At 100 TB this is the
    difference between one scan and ``len(rules)`` scans.

    ``rules`` must be ordered fine → coarse and NEST: fixed rules must
    divide the next fixed rule; a fixed rule feeding a calendar rule
    must divide one day (epoch-aligned sub-day buckets always align
    with calendar boundaries); calendar rules must be start-anchored
    (``MS``/``QS``/``YS``) with unit months dividing the next level's.
    Buckets are EPOCH/CALENDAR-anchored (a rollup has no single "first
    row" to anchor on — documented divergence from the batch
    resampler's pandas-style first-timestamp origin).

    Output: one unioned DataFrame ``(grain, bucket, {col}_{stat}…)``
    with a row per (rule, bucket). Supported stats: the
    ``_stats.MOMENT_STATS`` (all assembled from moment sums).
    """
    from pandas_weights_spark.frame import wt as _wt

    bad = [s for s in stats if s not in _stats.MOMENT_STATS]
    if bad:
        raise ValueError(f"unsupported rollup statistics: {bad}")
    names = _stats.sums_read(stats)
    parsed = [parse_rule(r) for r in rules]
    if not parsed:
        raise ValueError("need at least one rule")

    def _nests(fine, coarse):
        (fk, fi), (ck, ci) = fine, coarse
        if fk == "fixed" and ck == "fixed":
            return ci % fi == 0
        if fk == "fixed" and ck == "cal":
            return 86400 % fi == 0
        if fk == "cal" and ck == "cal":
            return (
                fi[0] == "start" and ci[0] == "start"
                and ci[2] % fi[2] == 0
            )
        return False  # calendar under fixed never nests

    for a, b in zip(parsed, parsed[1:]):
        if not _nests(a, b):
            raise ValueError(
                f"rule {rules[parsed.index(b)]!r} does not nest "
                f"{rules[parsed.index(a)]!r}; order rules fine -> coarse"
            )
    for k, info in parsed:
        if k == "cal" and info[0] != "start":
            raise ValueError(
                "rollup calendar rules must be start-anchored (MS/QS/YS)"
            )

    def _bucket(col: Column, kind, info) -> Column:
        if kind == "fixed":
            secs = int(info)
            # floor, not cast: cast truncates toward zero, which would
            # bucket pre-1970 (negative epoch) timestamps one slot high
            return F.timestamp_seconds(
                F.floor(F.unix_timestamp(col) / secs).cast("long") * secs
            )
        months = info[2]
        m = F.year(col) * 12 + F.month(col) - 1
        lm = F.floor(m / months).cast("long") * months
        return F.make_date(
            (lm / 12).cast("int"), (lm % 12 + 1).cast("int"), F.lit(1)
        ).cast("timestamp")

    wdf = _wt(df, weights)
    cols = value_cols or [c for c in wdf.numeric_columns() if c != on]
    if not cols:
        raise ValueError("no numeric columns to aggregate")
    w = _stats.q(WEIGHT_COL)

    # level 0: raw rows -> finest buckets, the weighted moment sums
    kind0, info0 = parsed[0]
    sums = []
    for c in cols:
        m = _stats.moment_sums(wdf._value_sql(c), w, names=names)
        sums += [F.expr(f"{m[k]} AS {_stats.q(f'__{k}_{c}__')}") for k in names]
    # persist the finest-level aggregate: every union branch (each
    # grain's _finalize, and each coarser level's re-aggregation)
    # re-derives its lineage, so without a cache boundary the RAW scan
    # would run once per grain — exactly the multiplication the one-scan
    # claim forbids. The cached table is only #fine_buckets rows.
    level = (
        wdf.df.where(F.col(on).isNotNull())
        .groupBy(_bucket(F.col(on), kind0, info0).alias("bucket"))
        .agg(*sums)
        .persist()
    )

    def _finalize(lv: DataFrame, grain: str) -> DataFrame:
        out = [f"{_stats.lit(grain)} AS grain", "bucket"]
        for c in cols:
            m = {k: _stats.q(f"__{k}_{c}__") for k in names}
            out += [
                f"{_stats.assemble(st, m)} AS {_stats.q(f'{c}_{st}')}"
                for st in stats
            ]
        return lv.selectExpr(*out)

    results = [_finalize(level, rules[0])]
    for rule, (kind, info) in zip(rules[1:], parsed[1:]):
        # roll the previous level's SUMS up to the coarser grain
        level = level.groupBy(
            _bucket(F.col("bucket"), kind, info).alias("bucket")
        ).agg(
            *[
                F.sum(f.name).alias(f.name)
                for f in level.schema.fields
                if f.name != "bucket"
            ]
        )
        results.append(_finalize(level, rule))
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def fill_gaps(
    out: DataFrame,
    on: str,
    method: str = "ffill",
    subset: Optional[Sequence[str]] = None,
    limit: Optional[int] = None,
) -> DataFrame:
    """Fill the NULL stats of empty buckets in a completed resample
    output (``complete=True``) — the upsampling step of pandas
    ``resample().ffill()`` / ``.interpolate()``.

    ``method="ffill"`` carries the last non-NULL bucket value forward
    (``limit`` bounds how many buckets); ``method="interpolate"``
    fills linearly between the neighboring non-NULL buckets by bucket
    TIME (irregular calendar buckets interpolate correctly), keeps
    leading NULLs and carries the last value into trailing NULLs —
    pandas ``interpolate('linear')`` semantics.

    Scale note: this runs one ordered window over the BUCKET table
    (one row per bucket, not per raw row), whose size is bounded by
    the resample range/rule — a century of hourly buckets is >1M rows;
    beyond that, window over a coarser key first. Original row values
    are never touched — only NULL (gap) buckets are filled.
    """
    if method not in ("ffill", "interpolate"):
        raise ValueError(f"method must be ffill/interpolate, got {method!r}")
    cols = [c for c in (subset or out.columns) if c != on]
    for c in cols:
        if c not in out.columns:
            raise KeyError(f"column {c!r} not in frame")
    if limit is not None and method == "interpolate":
        raise ValueError("limit= only applies to ffill")
    t = F.unix_timestamp(F.col(on)).cast("double")
    if method == "ffill":
        lo = Window.unboundedPreceding if limit is None else -int(limit)
        back = Window.orderBy(on).rowsBetween(lo, 0)
        sel = [
            F.last(F.col(c), ignorenulls=True).over(back).alias(c)
            if c in cols
            else F.col(c)
            for c in out.columns
        ]
        return out.select(*sel)
    back = Window.orderBy(on).rowsBetween(Window.unboundedPreceding, 0)
    fwd = Window.orderBy(on).rowsBetween(0, Window.unboundedFollowing)
    sel = []
    for c in out.columns:
        if c not in cols:
            sel.append(F.col(c))
            continue
        x = F.col(c)
        pv = F.last(x, ignorenulls=True).over(back)
        pt = F.last(F.when(x.isNotNull(), t), ignorenulls=True).over(back)
        nv = F.first(x, ignorenulls=True).over(fwd)
        nt = F.first(F.when(x.isNotNull(), t), ignorenulls=True).over(fwd)
        lin = pv + (nv - pv) * F.try_divide(t - pt, nt - pt)
        filled = (
            F.when(x.isNotNull(), x)
            .when(pv.isNull(), F.lit(None))          # leading gap: stay NULL
            .when(nv.isNull(), pv)                   # trailing gap: carry last
            .otherwise(lin)
        )
        sel.append(filled.alias(c))
    return out.select(*sel)


def seasonal_decompose(
    out: DataFrame,
    on: str,
    value: str,
    period: int,
) -> DataFrame:
    """Additive seasonal decomposition of a completed resample output:
    ``(on, observed, trend, seasonal, resid)`` — statsmodels
    ``seasonal_decompose(model='additive')`` semantics on the bucket
    series.

    * ``trend``: centered moving average over ``period`` buckets (the
      even-period case uses the standard 2×MA — half weight on the two
      outermost buckets); NULL within half a period of the edges.
    * ``seasonal``: phase means of the detrended series (bucket index
      mod ``period``), centered so the seasonal component sums to ~0
      over one cycle.
    * ``resid`` = observed − trend − seasonal.

    Runs on the BUCKET table (one row per bucket — bounded by the
    resample range), so the ordered windows and the tiny phase
    aggregate cost nothing at data scale; feed it
    ``resample(...).mean(complete=True)`` (gaps stay NULL and
    propagate NULL trend/resid, like statsmodels on NaN).
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    half = period // 2
    x = F.col(value)
    rn_w = Window.orderBy(on)
    base = out.select(
        F.col(on), x.alias("observed"),
        (F.row_number().over(rn_w) - 1).alias("__i__"),
    )
    if period % 2 == 1:
        frame = Window.orderBy("__i__").rowsBetween(-half, half)
        trend = F.avg("observed").over(frame)
        # NULL gaps poison the window mean only where pandas would NaN
        cnt = F.count("observed").over(frame)
        n_in = F.count(F.lit(1)).over(frame)
        trend = F.when((n_in == period) & (cnt == period), trend)
    else:
        # 2xMA: mean of the two period-length windows offset by one ==
        # half-weighted endpoints
        f1 = Window.orderBy("__i__").rowsBetween(-half, half - 1)
        f2 = Window.orderBy("__i__").rowsBetween(-half + 1, half)
        c1 = F.count("observed").over(f1)
        c2 = F.count("observed").over(f2)
        n1 = F.count(F.lit(1)).over(f1)
        n2 = F.count(F.lit(1)).over(f2)
        trend = F.when(
            (n1 == period) & (n2 == period)
            & (c1 == period) & (c2 == period),
            (F.avg("observed").over(f1) + F.avg("observed").over(f2))
            / F.lit(2.0),
        )
    t = base.select(
        on, "observed", "__i__", trend.alias("trend"),
        (F.col("__i__") % period).alias("__phase__"),
    )
    phase = t.groupBy("__phase__").agg(
        F.avg(F.col("observed") - F.col("trend")).alias("__pm__")
    )
    grand = phase.agg(F.avg("__pm__").alias("__gm__"))
    j = t.join(F.broadcast(phase), "__phase__", "left").crossJoin(
        F.broadcast(grand)
    )
    seasonal = F.col("__pm__") - F.col("__gm__")
    return j.select(
        F.col(on),
        F.col("observed"),
        F.col("trend"),
        seasonal.alias("seasonal"),
        (F.col("observed") - F.col("trend") - seasonal).alias("resid"),
    )
