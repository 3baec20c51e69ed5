"""Golden-value ports of the reference resample tests (FIXTURES.md §A3;
reference /root/reference/tests/test_frame.py:305-362)."""

import datetime as dt

import pytest

from pandas_weights_spark import wt
from pandas_weights_spark.resample import parse_rule
from tests.conftest import approx, count_jobs


@pytest.fixture(scope="module")
def timeseries(spark):
    # ts 2024-01-01..04 daily; Value 1, 2, NULL, 4; weights 1..4
    rows = [
        (dt.datetime(2024, 1, 1), 1.0, 1.0),
        (dt.datetime(2024, 1, 2), 2.0, 2.0),
        (dt.datetime(2024, 1, 3), None, 3.0),
        (dt.datetime(2024, 1, 4), 4.0, 4.0),
    ]
    return spark.createDataFrame(rows, "ts timestamp, Value double, weights double")


def by_bucket(df):
    return {r["ts"]: r.asDict() for r in df.collect()}


B1 = dt.datetime(2024, 1, 1)
B2 = dt.datetime(2024, 1, 3)


class TestParseRule:
    def test_fixed(self):
        assert parse_rule("2D") == ("fixed", 2 * 86400)
        assert parse_rule("6H") == ("fixed", 6 * 3600)
        assert parse_rule("30min") == ("fixed", 1800)
        assert parse_rule("90s") == ("fixed", 90)
        assert parse_rule(dt.timedelta(days=1)) == ("fixed", 86400)
        assert parse_rule("W") == ("fixed", 7 * 86400)

    def test_calendar(self):
        assert parse_rule("MS") == ("cal", ("start", 1, 1))
        assert parse_rule("YS") == ("cal", ("start", 12, 12))
        assert parse_rule("3ME") == ("cal", ("end", 1, 3))
        assert parse_rule("2QS") == ("cal", ("start", 3, 6))
        assert parse_rule("QE") == ("cal", ("end", 3, 3))
        assert parse_rule("M") == ("cal", ("end", 1, 1))

    def test_bad(self):
        with pytest.raises(ValueError):
            parse_rule("2X")
        with pytest.raises(ValueError):
            parse_rule("0D")


class TestResample:
    def test_sum(self, timeseries):
        g = by_bucket(wt(timeseries, "weights").resample("2D", on="ts").sum())
        assert set(g) == {B1, B2}
        assert g[B1]["Value"] == approx(5.0)   # 1*1 + 2*2
        assert g[B2]["Value"] == approx(16.0)  # 4*4

    def test_count(self, timeseries):
        g = by_bucket(wt(timeseries, "weights").resample("2D", on="ts").count())
        assert g[B1]["Value"] == approx(3.0)
        assert g[B2]["Value"] == approx(4.0)

    def test_count_no_skipna(self, timeseries):
        g = by_bucket(
            wt(timeseries, "weights").resample("2D", on="ts").count(skipna=False)
        )
        assert g[B1]["Value"] == approx(3.0)
        assert g[B2]["Value"] == approx(7.0)

    def test_mean(self, timeseries):
        g = by_bucket(wt(timeseries, "weights").resample("2D", on="ts").mean())
        assert g[B1]["Value"] == approx(5.0 / 3.0)
        assert g[B2]["Value"] == approx(4.0)

    def test_var(self, timeseries):
        # single-valid-row bucket → 0.0 falls out of the formula
        # (tests/test_frame.py:341-362 — do not special-case)
        g = by_bucket(wt(timeseries, "weights").resample("2D", on="ts").var())
        assert g[B1]["Value"] == approx(1.0 / 3.0)
        assert g[B2]["Value"] == approx(0.0)

    def test_std(self, timeseries):
        g = by_bucket(wt(timeseries, "weights").resample("2D", on="ts").std())
        assert g[B1]["Value"] == approx((1.0 / 3.0) ** 0.5)
        assert g[B2]["Value"] == approx(0.0)

    def test_start_day_origin_not_epoch_aligned(self, spark):
        # 2024-01-01 is an ODD number of days since epoch: without the
        # origin fix, 2-day windows would start 2023-12-31.
        rows = [
            (dt.datetime(2024, 1, 1, 5), 1.0, 1.0),
            (dt.datetime(2024, 1, 2, 5), 2.0, 1.0),
        ]
        df = spark.createDataFrame(rows, "ts timestamp, Value double, weights double")
        g = by_bucket(wt(df, "weights").resample("2D", on="ts").sum())
        assert set(g) == {dt.datetime(2024, 1, 1)}

    def test_epoch_origin(self, spark):
        rows = [(dt.datetime(2024, 1, 1, 5), 1.0, 1.0)]
        df = spark.createDataFrame(rows, "ts timestamp, Value double, weights double")
        g = by_bucket(
            wt(df, "weights").resample("2D", on="ts", origin="epoch").sum()
        )
        assert set(g) == {dt.datetime(2023, 12, 31)}

    def test_month_rule(self, spark):
        rows = [
            (dt.datetime(2024, 1, 15), 1.0, 2.0),
            (dt.datetime(2024, 2, 20), 3.0, 4.0),
            (dt.datetime(2024, 2, 25), 5.0, 1.0),
        ]
        df = spark.createDataFrame(rows, "ts timestamp, Value double, weights double")
        g = by_bucket(wt(df, "weights").resample("MS", on="ts").sum())
        assert g[dt.datetime(2024, 1, 1)]["Value"] == approx(2.0)
        assert g[dt.datetime(2024, 2, 1)]["Value"] == approx(17.0)

    def test_complete_spine_emits_empty_buckets(self, spark):
        rows = [
            (dt.datetime(2024, 1, 1), 1.0, 1.0),
            (dt.datetime(2024, 1, 5), 2.0, 1.0),
        ]
        df = spark.createDataFrame(rows, "ts timestamp, Value double, weights double")
        out = wt(df, "weights").resample("2D", on="ts").sum(complete=True).collect()
        assert [r["ts"] for r in out] == [
            dt.datetime(2024, 1, 1),
            dt.datetime(2024, 1, 3),
            dt.datetime(2024, 1, 5),
        ]
        assert out[1]["Value"] is None

    def test_agg_all(self, timeseries):
        g = by_bucket(
            wt(timeseries, "weights").resample("2D", on="ts").agg_all(["sum", "mean"])
        )
        assert g[B1]["Value_sum"] == approx(5.0)
        assert g[B1]["Value_mean"] == approx(5.0 / 3.0)


class TestClosedLabelRight:
    """Differential vs pandas resample closed/label semantics."""

    ROWS = [
        (dt.datetime(2024, 1, 1), 1.0, 1.0),
        (dt.datetime(2024, 1, 2), 2.0, 2.0),
        (dt.datetime(2024, 1, 3), 3.0, 3.0),
        (dt.datetime(2024, 1, 4), 4.0, 4.0),
        (dt.datetime(2024, 1, 5), 5.0, 1.0),
        (dt.datetime(2024, 1, 6, 12), 6.0, 2.0),
    ]

    def _pandas_expected(self, closed, label):
        import pandas as pd

        idx = pd.DatetimeIndex([r[0] for r in self.ROWS])
        vw = pd.Series(
            [v * w for _, v, w in self.ROWS], index=idx
        )
        exp = vw.resample(
            "2D", closed=closed, label=label, origin="epoch"
        ).sum()
        return {k.to_pydatetime(): v for k, v in exp.items() if v != 0}

    @pytest.mark.parametrize(
        "closed,label",
        [("left", "left"), ("right", "left"), ("right", "right"),
         ("left", "right")],
    )
    def test_matches_pandas(self, spark, closed, label):
        df = spark.createDataFrame(
            self.ROWS, "ts timestamp, Value double, weights double"
        )
        out = (
            wt(df, "weights")
            .resample("2D", on="ts", origin="epoch", closed=closed, label=label)
            .sum()
        )
        got = {r["ts"]: r["Value"] for r in out.collect()}
        assert got == self._pandas_expected(closed, label)

    def test_bad_closed_raises(self, spark):
        df = spark.createDataFrame(
            self.ROWS, "ts timestamp, Value double, weights double"
        )
        with pytest.raises(ValueError):
            wt(df, "weights").resample("2D", on="ts", closed="both")


class TestStartDayProbe:
    @pytest.mark.parametrize("rule", ["1D", "1h", "15min"])
    def test_period_dividing_a_day_plans_without_a_job(self, spark, rule):
        # midnight is a whole number of days past the epoch, so the
        # window phase needs no look at the data
        rows = [(dt.datetime(2024, 1, 1, 5, 7), 1.0, 1.0)]
        df = spark.createDataFrame(rows, "ts timestamp, Value double, weights double")
        _, jobs = count_jobs(
            spark,
            lambda: wt(df, "weights").resample(rule, on="ts", offset="10min").var(),
        )
        assert jobs == 0

    @pytest.mark.parametrize("rule", ["7min", "2D", "MS"])
    def test_other_rules_still_anchor_on_the_data(self, spark, rule):
        rows = [(dt.datetime(2024, 1, 1, 5, 7), 1.0, 1.0)]
        df = spark.createDataFrame(rows, "ts timestamp, Value double, weights double")
        _, jobs = count_jobs(
            spark, lambda: wt(df, "weights").resample(rule, on="ts").var()
        )
        assert jobs >= 1

    def test_offset_phase_matches_first_timestamp_anchor(self, spark):
        # 15min windows offset by 10min from the first day's midnight
        rows = [
            (dt.datetime(2024, 1, 2, 0, 9), 1.0, 1.0),
            (dt.datetime(2024, 1, 2, 0, 10), 2.0, 1.0),
            (dt.datetime(2024, 1, 2, 0, 24), 4.0, 1.0),
            (dt.datetime(2024, 1, 2, 0, 25), 8.0, 1.0),
        ]
        df = spark.createDataFrame(rows, "ts timestamp, Value double, weights double")
        g = by_bucket(
            wt(df, "weights").resample("15min", on="ts", offset="10min").sum()
        )
        assert {k: v["Value"] for k, v in g.items()} == {
            dt.datetime(2024, 1, 1, 23, 55): 1.0,
            dt.datetime(2024, 1, 2, 0, 10): 6.0,
            dt.datetime(2024, 1, 2, 0, 25): 8.0,
        }


class TestStartDayTimezone:
    def test_start_day_anchor_honors_session_timezone(self, spark):
        # Anchor must be midnight in the SESSION timezone, not UTC:
        # under America/New_York, UTC-midnight alignment would place the
        # 12H bucket edges at 19:00/07:00 local instead of 00:00/12:00.
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            rows = [
                (dt.datetime(2024, 1, 1, 1), 1.0, 1.0),
                (dt.datetime(2024, 1, 1, 13), 3.0, 1.0),
            ]
            df = spark.createDataFrame(
                rows, "ts timestamp, Value double, weights double"
            )
            g = by_bucket(wt(df, "weights").resample("12H", on="ts").sum())
            assert set(g) == {
                dt.datetime(2024, 1, 1, 0),
                dt.datetime(2024, 1, 1, 12),
            }
            assert g[dt.datetime(2024, 1, 1, 0)]["Value"] == approx(1.0)
            assert g[dt.datetime(2024, 1, 1, 12)]["Value"] == approx(3.0)
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)


class TestCalendarRules:
    """Differential vs pandas for multi-period calendar rules
    (reference rule surface: any pandas frequency, frame.py:163)."""

    @pytest.mark.parametrize(
        "rule",
        ["2MS", "3MS", "ME", "3ME", "QS", "2QS", "QE", "YE", "2YS"],
    )
    def test_weighted_sum_matches_pandas(self, spark, rule):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(7)
        n = 60
        ts = (
            pd.Timestamp("2023-02-07 13:00")
            + pd.to_timedelta(np.sort(rng.integers(0, 900, n)), unit="D")
            + pd.to_timedelta(rng.integers(0, 86400, n), unit="s")
        )
        v = rng.normal(10, 3, n)
        v[::7] = np.nan
        w = rng.integers(1, 5, n).astype(float)
        pdf = pd.DataFrame({"ts": ts, "v": v, "w": w})
        sdf = spark.createDataFrame(pdf)

        got = {
            r["ts"]: r["v"]
            for r in wt(sdf, "w").resample(rule, on="ts").sum().collect()
        }
        exp = (
            pdf.assign(wv=pdf.v * pdf.w).set_index("ts").resample(rule)["wv"].sum()
        )
        sizes = pdf.set_index("ts").resample(rule)["v"].size()
        nonempty = sizes[sizes > 0].index
        assert set(got) == {t.to_pydatetime() for t in nonempty}
        for t in nonempty:
            assert got[t.to_pydatetime()] == approx(exp[t]), (rule, t)

    def test_complete_emits_empty_calendar_buckets(self, spark):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime(["2024-01-10", "2024-11-20"]),
                "v": [1.0, 2.0],
                "w": [1.0, 1.0],
            }
        )
        out = (
            wt(spark.createDataFrame(pdf), "w")
            .resample("3ME", on="ts")
            .sum(complete=True)
            .collect()
        )
        labels = [r["ts"] for r in out]
        # anchored at Jan (first month end), stepping 3 months
        assert labels == [
            dt.datetime(2024, 1, 31),
            dt.datetime(2024, 4, 30),
            dt.datetime(2024, 7, 31),
            dt.datetime(2024, 10, 31),
            dt.datetime(2025, 1, 31),
        ]
        vals = {r["ts"]: r["v"] for r in out}
        assert vals[dt.datetime(2024, 4, 30)] is None


class TestResampleQuantile:
    def test_matches_grouped_quantile_on_bucket(self, spark):
        import numpy as np
        import pandas as pd

        from pandas_weights_spark import wt

        rng = np.random.default_rng(5)
        n = 200
        pdf = pd.DataFrame(
            {
                "ts": pd.Timestamp("2024-01-01")
                + pd.to_timedelta(rng.integers(0, 20, n), unit="D"),
                "v": rng.normal(10, 3, n).round(3),
                "w": rng.integers(1, 4, n).astype(float),
            }
        )
        sdf = spark.createDataFrame(pdf)
        wdf = wt(sdf, "w")
        got = {
            r["ts"]: r["v_p50"]
            for r in wdf.resample("5D", on="ts").quantile(0.5).collect()
        }
        # brute-force check per bucket via pandas inverted CDF
        bucket = (
            pdf.ts - pd.Timestamp("2024-01-01")
        ).dt.days // 5 * 5
        for b, grp in pdf.assign(b=bucket).groupby("b"):
            srt = grp.sort_values("v")
            cum = srt.w.cumsum()
            exp = srt.v[cum >= srt.w.sum() * 0.5].iloc[0]
            key = (pd.Timestamp("2024-01-01") + pd.Timedelta(days=b)).to_pydatetime()
            assert got[key] == exp, b

    def test_binned_close_to_exact(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [(f"2024-01-{d+1:02d}T00:00:00", float(v), 1.0)
             for d, v in enumerate(range(0, 30))],
            "ts string, v double, w double",
        ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["col"]).col("ts").cast("timestamp"))
        r = wt(df, "w").resample("10D", on="ts")
        exact = {x["ts"]: x["v_p50"] for x in r.quantile(0.5).collect()}
        binned = {
            x["ts"]: x["v_p50"]
            for x in r.quantile(0.5, exact=False, lo=0.0, hi=30.0, bins=3000).collect()
        }
        assert set(exact) == set(binned)
        for k in exact:
            assert abs(exact[k] - binned[k]) <= 0.011, k


class TestHypertableRollup:
    """Multi-resolution rollup: each grain must equal a direct
    single-level aggregation of the raw rows (moment sums are
    associative, so the rollup is exact up to summation order)."""

    def _pdf(self, seed=9, n=500):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(seed)
        secs = rng.integers(0, 90 * 86400, n)  # ~3 months
        ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, unit="s")
        x = rng.normal(size=n)
        x[rng.random(n) < 0.1] = np.nan
        return pd.DataFrame(
            {"ts": ts, "x": x, "w": rng.integers(1, 5, n).astype(float)}
        )

    def test_each_grain_matches_direct(self, spark):
        import numpy as np

        from pandas_weights_spark.resample import hypertable_rollup

        pdf = self._pdf()
        sdf = spark.createDataFrame(pdf)
        rules = ["6H", "1D", "MS"]
        out = hypertable_rollup(
            sdf, "w", on="ts", rules=rules,
            stats=("count", "sum", "mean", "var", "std"),
        ).toPandas()
        for rule in rules:
            direct = hypertable_rollup(
                sdf, "w", on="ts", rules=[rule],
                stats=("count", "sum", "mean", "var", "std"),
            ).toPandas().set_index("bucket").sort_index()
            rolled = (
                out[out["grain"] == rule]
                .set_index("bucket")
                .sort_index()
            )
            assert list(rolled.index) == list(direct.index), rule
            for col in ("x_count", "x_sum", "x_mean", "x_var", "x_std"):
                np.testing.assert_allclose(
                    rolled[col].to_numpy(dtype=float),
                    direct[col].to_numpy(dtype=float),
                    rtol=1e-12, equal_nan=True, err_msg=f"{rule}:{col}",
                )

    def test_pre_epoch_timestamps_bucket_by_floor(self, spark):
        # regression (round-3 advice): cast('long') truncates toward
        # zero, so negative-epoch timestamps bucketed one slot too high
        # — 1969-12-31 18:00 must land in the 12:00 6H bucket, not 18:00+
        import pandas as pd

        from pandas_weights_spark.resample import hypertable_rollup

        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    ["1969-12-31 17:59:00", "1969-12-31 13:00:00",
                     "1970-01-01 01:00:00"]
                ),
                "x": [1.0, 2.0, 4.0],
                "w": [1.0, 1.0, 1.0],
            }
        )
        out = hypertable_rollup(
            spark.createDataFrame(pdf), "w", on="ts", rules=["6H"],
            stats=("sum",),
        ).toPandas().set_index("bucket").sort_index()
        assert [str(b) for b in out.index] == [
            "1969-12-31 12:00:00", "1970-01-01 00:00:00",
        ]
        assert out["x_sum"].tolist() == [3.0, 4.0]

    def test_single_scan_plan(self, spark):
        from pandas_weights_spark import plans as P
        from pandas_weights_spark.resample import hypertable_rollup

        pdf = self._pdf(n=100)
        sdf = spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            "/tmp/_rollup_src"
        )
        src = spark.read.parquet("/tmp/_rollup_src")
        out = hypertable_rollup(
            src, "w", on="ts", rules=["1H", "1D", "MS"],
            stats=("count", "mean"),
        )
        plan = P.physical_plan(out)
        # three grains, ONE scan of the raw parquet: the finest-level
        # aggregate is persisted, so every union branch reads the cached
        # sums (InMemoryTableScan) and the raw scan appears only inside
        # the cache's build plan — the one-scan claim is pinned, not an
        # exchange-reuse accident
        assert plan.count("InMemoryTableScan") == 3, plan
        # no live raw scan: every FileScan in the printout sits inside a
        # cached-relation build subtree (the printer repeats the same
        # relation under each InMemoryTableScan), and none precede the
        # first cache read
        assert plan.split("InMemoryRelation")[0].count("Scan parquet") == 0, plan
        assert plan.count("FileScan parquet") <= plan.count("InMemoryRelation"), plan

    def test_bad_nesting_rejected(self, spark):
        from pandas_weights_spark.resample import hypertable_rollup

        sdf = spark.createDataFrame(self._pdf(n=20))
        with pytest.raises(ValueError, match="nest"):
            hypertable_rollup(sdf, "w", on="ts", rules=["7H", "1D"])
        with pytest.raises(ValueError, match="start-anchored"):
            hypertable_rollup(sdf, "w", on="ts", rules=["1D", "3ME"])
        with pytest.raises(ValueError, match="nest"):
            hypertable_rollup(sdf, "w", on="ts", rules=["2D", "MS"])

    def test_skew_kurt_rollup(self, spark):
        import numpy as np

        from pandas_weights_spark.resample import hypertable_rollup

        pdf = self._pdf(seed=11)
        sdf = spark.createDataFrame(pdf)
        out = hypertable_rollup(
            sdf, "w", on="ts", rules=["1D", "MS"], stats=("skew", "kurt")
        ).toPandas()
        direct = hypertable_rollup(
            sdf, "w", on="ts", rules=["MS"], stats=("skew", "kurt")
        ).toPandas().set_index("bucket").sort_index()
        rolled = (
            out[out["grain"] == "MS"].set_index("bucket").sort_index()
        )
        for col in ("x_skew", "x_kurt"):
            np.testing.assert_allclose(
                rolled[col].to_numpy(dtype=float),
                direct[col].to_numpy(dtype=float),
                rtol=1e-9, equal_nan=True,
            )


class TestFillGaps:
    """Upsampling fills (resample.fill_gaps) vs pandas semantics."""

    @staticmethod
    def _gappy(spark):
        import datetime as dt

        rows = [
            (dt.datetime(2024, 1, 1, 0), 10.0, 1.0),
            (dt.datetime(2024, 1, 1, 1), 20.0, 1.0),
            # gap: hours 2,3
            (dt.datetime(2024, 1, 1, 4), 50.0, 1.0),
            # gap: hour 5
            (dt.datetime(2024, 1, 1, 6), 80.0, 1.0),
        ]
        return spark.createDataFrame(rows, "ts timestamp, v double, w double")

    def test_ffill(self, spark):
        from pandas_weights_spark import wt
        from pandas_weights_spark.resample import fill_gaps

        out = wt(self._gappy(spark), "w").resample("1h", on="ts").mean(
            complete=True
        )
        filled = fill_gaps(out, "ts", "ffill")
        vals = [r["v"] for r in filled.orderBy("ts").collect()]
        assert vals == [10.0, 20.0, 20.0, 20.0, 50.0, 50.0, 80.0]

    def test_ffill_limit(self, spark):
        from pandas_weights_spark import wt
        from pandas_weights_spark.resample import fill_gaps

        out = wt(self._gappy(spark), "w").resample("1h", on="ts").mean(
            complete=True
        )
        filled = fill_gaps(out, "ts", "ffill", limit=1)
        vals = [r["v"] for r in filled.orderBy("ts").collect()]
        # only ONE bucket past each valid value gets filled
        assert vals == [10.0, 20.0, 20.0, None, 50.0, 50.0, 80.0]

    def test_interpolate_linear(self, spark):
        from pandas_weights_spark import wt
        from pandas_weights_spark.resample import fill_gaps

        out = wt(self._gappy(spark), "w").resample("1h", on="ts").mean(
            complete=True
        )
        filled = fill_gaps(out, "ts", "interpolate")
        vals = [r["v"] for r in filled.orderBy("ts").collect()]
        assert vals == [10.0, 20.0, 30.0, 40.0, 50.0, 65.0, 80.0]

    def test_interpolate_edges(self, spark):
        import datetime as dt

        from pandas_weights_spark import wt
        from pandas_weights_spark.resample import fill_gaps

        df = spark.createDataFrame(
            [
                (dt.datetime(2024, 1, 1, 0), None, 1.0),
                (dt.datetime(2024, 1, 1, 1), 5.0, 1.0),
                (dt.datetime(2024, 1, 1, 3), 9.0, 1.0),
            ],
            "ts timestamp, v double, w double",
        )
        out = wt(df, "w").resample("1h", on="ts").mean(complete=True)
        # append a trailing empty bucket by filtering nothing — bucket 2
        # is the interior gap; leading bucket 0 has a row whose v is
        # NULL -> mean NULL -> stays NULL (no earlier value)
        filled = fill_gaps(out, "ts", "interpolate")
        vals = [r["v"] for r in filled.orderBy("ts").collect()]
        assert vals[0] is None            # leading NULL stays
        assert vals[1] == 5.0
        assert vals[2] == pytest.approx(7.0)   # linear between 5 and 9
        assert vals[3] == 9.0

    def test_matches_pandas(self, spark):
        import pandas as pd

        from pandas_weights_spark import wt
        from pandas_weights_spark.resample import fill_gaps

        sdf = self._gappy(spark)
        out = wt(sdf, "w").resample("1h", on="ts").mean(complete=True)
        for method, pd_op in (
            ("ffill", lambda s: s.ffill()),
            ("interpolate", lambda s: s.interpolate("linear")),
        ):
            got = {
                r["ts"]: r["v"]
                for r in fill_gaps(out, "ts", method).collect()
            }
            pdf = sdf.toPandas().set_index("ts")["v"].resample("1h").mean()
            exp = pd_op(pdf)
            for ts, v in exp.items():
                g = got[ts.to_pydatetime()]
                if pd.isna(v):
                    assert g is None, ts
                else:
                    assert g == pytest.approx(v), ts


class TestSeasonalDecompose:
    """Additive decomposition vs statsmodels-convention reference
    computed in numpy (statsmodels itself is not in the container)."""

    @staticmethod
    def _series(spark, n=48, period=6):
        import datetime as dt
        import math

        rows = []
        base = dt.datetime(2024, 1, 1)
        for i in range(n):
            v = 10 + 0.1 * i + 3 * math.sin(2 * math.pi * i / period)
            rows.append((base + dt.timedelta(hours=i), v, 1.0))
        return spark.createDataFrame(rows, "ts timestamp, v double, w double")

    @staticmethod
    def _ref(vals, period):
        import numpy as np

        v = np.asarray(vals, float)
        n = len(v)
        half = period // 2
        trend = np.full(n, np.nan)
        for i in range(n):
            if period % 2 == 1:
                lo, hi = i - half, i + half
                if lo >= 0 and hi < n:
                    trend[i] = v[lo:hi + 1].mean()
            else:
                lo1, hi1 = i - half, i + half - 1
                lo2, hi2 = i - half + 1, i + half
                if lo1 >= 0 and hi2 < n:
                    trend[i] = (v[lo1:hi1 + 1].mean()
                                + v[lo2:hi2 + 1].mean()) / 2
        det = v - trend
        pm = np.array([np.nanmean(det[p::period]) for p in range(period)])
        pm = pm - pm.mean()
        seasonal = np.array([pm[i % period] for i in range(n)])
        resid = v - trend - seasonal
        return trend, seasonal, resid

    @pytest.mark.parametrize("period", [5, 6])
    def test_matches_reference(self, spark, period):
        import numpy as np

        from pandas_weights_spark import wt
        from pandas_weights_spark.resample import seasonal_decompose

        df = self._series(spark, period=6)
        out = wt(df, "w").resample("1h", on="ts").mean(complete=True)
        dec = seasonal_decompose(out, "ts", "v", period).orderBy("ts").collect()
        vals = [r["v"] for r in out.orderBy("ts").collect()]
        trend, seasonal, resid = self._ref(vals, period)
        for i, r in enumerate(dec):
            for name, exp in (("trend", trend[i]), ("seasonal", seasonal[i]),
                              ("resid", resid[i])):
                if np.isnan(exp):
                    assert r[name] is None, (i, name, r[name])
                else:
                    assert r[name] == pytest.approx(exp, rel=1e-9), (i, name)

    def test_seasonal_recovers_sine(self, spark):
        from pandas_weights_spark import wt
        from pandas_weights_spark.resample import seasonal_decompose

        df = self._series(spark, period=6)
        out = wt(df, "w").resample("1h", on="ts").mean(complete=True)
        dec = seasonal_decompose(out, "ts", "v", 6)
        import math

        rows = dec.orderBy("ts").collect()
        # interior points: seasonal ~ the sine component, resid ~ 0
        for i, r in enumerate(rows[6:-6], start=6):
            expect = 3 * math.sin(2 * math.pi * i / 6)
            assert r["seasonal"] == pytest.approx(expect, abs=0.15), i
            assert abs(r["resid"]) < 0.05

    def test_period_validation(self, spark):
        from pandas_weights_spark.resample import seasonal_decompose

        df = self._series(spark)
        with pytest.raises(ValueError, match="period"):
            seasonal_decompose(df, "ts", "v", 1)
