"""The whole table is the group with no key, and a resample is a group on
its bucket.

Every frame and Series statistic must give the rows of the same
statistic of ``groupby`` over a constant key column, with the key
dropped; every resample statistic must give the rows of ``groupby`` on
a precomputed bucket column, sorted by it.
"""

import datetime as dt
import math
import warnings

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import wt

#: the constant key of the one-group groupby
ONE = "one_key"
VALUES = ["x", "y", "z"]


@pytest.fixture(scope="module")
def tables(spark):
    """NULL and NaN values, NULL and zero weights, an all-NULL column
    ``z``; a one-row table; a table whose weights are all NULL."""
    t0 = dt.datetime(2024, 1, 30, 5)
    rows = []
    for i in range(40):
        x = None if i % 7 == 3 else (math.nan if i % 11 == 4 else (i % 9) * 1.5 - 3.0)
        w = None if i % 13 == 2 else (0.0 if i % 10 == 7 else 0.5 + (i % 3))
        ts = None if i % 17 == 5 else t0 + dt.timedelta(hours=5 * i + i % 3)
        rows.append((ts, x, i % 5, None, w))
    schema = "ts timestamp, x double, y int, z double, w double"
    full = spark.createDataFrame(rows, schema)
    return {
        "full": full,
        "one_row": spark.createDataFrame([rows[1]], schema),
        "null_weights": full.withColumn("w", F.lit(None).cast("double")),
    }


def _rows(df):
    """Rows with floats compared bit for bit (NaN equal to NaN)."""
    return [
        tuple(
            ("nan" if math.isnan(v) else v.hex()) if isinstance(v, float) else v
            for v in r
        )
        for r in df.collect()
    ]


def _same(got, want):
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


#: statistic -> keyword arguments (the 12 aggregates, with their options)
AGGREGATES = {
    "count": {"skipna": False},
    "sum": {"min_count": 2},
    "mean": {},
    "var": {"ddof": 0},
    "std": {},
    "sem": {},
    "skew": {},
    "kurt": {"skipna": False},
    "min": {},
    "max": {},
    "gmean": {},
    "hmean": {},
}

#: statistic -> (frame call over ``subset``, the same call on a group)
CALLS = {
    **{
        s: (
            lambda f, subset, s=s, kw=kw: getattr(f, s)(subset=subset, **kw),
            lambda g, s=s, kw=kw: getattr(g, s)(**kw),
        )
        for s, kw in AGGREGATES.items()
    },
    "describe": (
        lambda f, subset: f.describe(qs=(0.1, 0.5), subset=subset),
        lambda g: g.describe(qs=(0.1, 0.5)),
    ),
    "mad": (
        lambda f, subset: f.mad(scale=1.5, subset=subset),
        lambda g: g.mad(scale=1.5),
    ),
    "quantile": (
        lambda f, subset: f.quantile([0.25, 0.5, 1.0], subset=subset),
        lambda g: g.quantile([0.25, 0.5, 1.0]),
    ),
}


def _one_group(t, cols):
    return (
        wt(t.withColumn(ONE, F.lit(1)), "w")[[*cols, ONE]].groupby(ONE)
    )


class TestWholeTableIsZeroKeyGroup:
    @pytest.mark.parametrize("table", ["full", "one_row", "null_weights"])
    @pytest.mark.parametrize("stat", sorted(CALLS))
    def test_frame(self, tables, table, stat):
        t = tables[table]
        frame_call, group_call = CALLS[stat]
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            got = frame_call(wt(t, "w"), VALUES)
            want = group_call(_one_group(t, VALUES)).drop(ONE)
            _same(got, want)
            # no subset: the numeric columns, in frame order
            got = frame_call(wt(t.drop("ts"), "w"), None)
            _same(got, want)

    @pytest.mark.parametrize("table", ["full", "one_row"])
    @pytest.mark.parametrize("stat", sorted(CALLS))
    def test_series(self, tables, table, stat):
        t = tables[table]
        _, group_call = CALLS[stat]
        series = wt(t, "w")["x"]
        kwargs = AGGREGATES.get(stat, {})
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            if stat in ("sem", "gmean", "hmean"):
                # Series has no such method; the frame's is the path
                got = getattr(wt(t, "w"), stat)(subset=["x"], **kwargs)
            elif stat == "describe":
                got = series.describe(qs=(0.1, 0.5))
            elif stat == "mad":
                got = series.mad(scale=1.5)
            elif stat == "quantile":
                got = series.quantile([0.25, 0.5, 1.0])
            else:
                got = getattr(series, stat)(**kwargs)
            want = group_call(_one_group(t, ["x"])).drop(ONE)
            _same(got, want)

    def test_subset_is_verbatim(self, tables):
        """A named column is aggregated, never dropped: the integer
        ``y`` and the all-NULL ``z`` both come back, in the named order."""
        out = wt(tables["full"], "w").mean(subset=["z", "y"])
        assert out.columns == ["z", "y"]

    def test_groupby_needs_a_key(self, tables):
        with pytest.raises(ValueError, match="at least one key"):
            wt(tables["full"], "w").groupby()


#: rule -> the bucket label of ``ts`` (start_day origin; each rule's
#: period divides a day or is a calendar month)
BUCKETS = {
    "1h": "window(ts, '1 hour').start",
    "6h": "window(ts, '6 hours').start",
    "1D": "window(ts, '1 day').start",
    "MS": "date_trunc('month', ts)",
}

RESAMPLE_CALLS = {
    "count": lambda r: r.count(skipna=False),
    "sum": lambda r: r.sum(min_count=1),
    "mean": lambda r: r.mean(),
    "var": lambda r: r.var(ddof=0),
    "std": lambda r: r.std(),
    "agg_all": lambda r: r.agg_all(["mean", "sem", "kurt", "max", "hmean"]),
    "quantile": lambda r: r.quantile([0.25, 0.75]),
    "quantile_binned": lambda r: r.quantile(0.5, exact=False, lo=-3.0, hi=9.0, bins=32),
    "median": lambda r: r.median(),
}


class TestResampleIsBucketGroup:
    @pytest.mark.parametrize("rule", sorted(BUCKETS))
    @pytest.mark.parametrize("stat", sorted(RESAMPLE_CALLS))
    def test_equals_group_on_bucket(self, tables, rule, stat):
        t = tables["full"]
        call = RESAMPLE_CALLS[stat]
        bucketed = t.where(F.col("ts").isNotNull()).withColumn("ts", F.expr(BUCKETS[rule]))
        got = call(wt(t, "w").resample(rule, on="ts"))
        want = call(wt(bucketed, "w").groupby("ts", sort=True))
        _same(got, want)
