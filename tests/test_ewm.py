"""EWM: differential vs pandas ewm (unit weights), weighted semantics,
band-boundary exactness, and parametrization checks."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import wt
from pandas_weights_spark.ewm import resolve_alpha


def _pdf(seed=0, n=300, n_keys=3, nan_frac=0.15):
    rng = np.random.default_rng(seed)
    x = rng.normal(size=n)
    x[rng.random(n) < nan_frac] = np.nan
    return pd.DataFrame(
        {
            "g": rng.integers(0, n_keys, n),
            "i": np.arange(n),
            "x": x,
            "w": np.ones(n),
        }
    )


def _spark_ewm(spark, pdf, stat, weights="w", **ewm_kw):
    sdf = spark.createDataFrame(pdf)
    e = wt(sdf, weights).ewm(order_by=["i"], partition_by=["g"], **ewm_kw)
    out = getattr(e, stat[0])(**stat[1]).toPandas()
    return out.sort_values(["g", "i"]).reset_index(drop=True)["x"].to_numpy()


def _pandas_ewm(pdf, stat, alpha, adjust=True, ignore_na=False, col="x",
                min_periods=0):
    parts = []
    for g, grp in pdf.sort_values("i").groupby("g"):
        e = grp[col].ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na,
                         min_periods=min_periods)
        s = getattr(e, stat[0])(**{k: v for k, v in stat[1].items()})
        parts.append(pd.DataFrame({"g": g, "i": grp["i"], "x": s}))
    got = pd.concat(parts).sort_values(["g", "i"]).reset_index(drop=True)
    return got["x"].to_numpy()


@pytest.mark.parametrize("alpha", [0.9, 0.3, 0.05])
@pytest.mark.parametrize(
    "stat",
    [
        ("mean", {}),
        ("var", {"bias": True}),
        ("var", {"bias": False}),
        ("std", {"bias": False}),
    ],
    ids=["mean", "var_biased", "var", "std"],
)
def test_differential_vs_pandas(spark, alpha, stat):
    pdf = _pdf(seed=7)
    got = _spark_ewm(spark, pdf, stat, alpha=alpha)
    exp = _pandas_ewm(pdf, stat, alpha)
    np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


@pytest.mark.parametrize("adjust", [True, False], ids=["adj", "noadj"])
@pytest.mark.parametrize("ignore_na", [False, True], ids=["clock", "ignna"])
@pytest.mark.parametrize("alpha", [0.3, 0.9])
@pytest.mark.parametrize(
    "stat",
    [("mean", {}), ("var", {"bias": False}), ("std", {"bias": False})],
    ids=["mean", "var", "std"],
)
def test_flag_matrix_vs_pandas(spark, adjust, ignore_na, alpha, stat):
    # all four adjust × ignore_na combinations, with NaNs so the decay
    # clock / renormalization semantics actually differ between them
    pdf = _pdf(seed=21, n=200, n_keys=2, nan_frac=0.2)
    got = _spark_ewm(
        spark, pdf, stat, alpha=alpha, adjust=adjust, ignore_na=ignore_na
    )
    exp = _pandas_ewm(pdf, stat, alpha, adjust=adjust, ignore_na=ignore_na)
    np.testing.assert_allclose(got, exp, rtol=1e-8, atol=1e-11, equal_nan=True)


@pytest.mark.parametrize("adjust", [True, False], ids=["adj", "noadj"])
@pytest.mark.parametrize("ignore_na", [False, True], ids=["clock", "ignna"])
def test_flag_matrix_multi_band(spark, adjust, ignore_na):
    # alpha=0.99 -> band of ~37 decades-worth of rows; 300 rows span
    # many bands, so the variants' L-banding carry path is exercised
    pdf = _pdf(seed=22, n=300, n_keys=2, nan_frac=0.15)
    got = _spark_ewm(
        spark, pdf, ("mean", {}), alpha=0.99, adjust=adjust,
        ignore_na=ignore_na,
    )
    exp = _pandas_ewm(pdf, ("mean", {}), 0.99, adjust=adjust,
                      ignore_na=ignore_na)
    np.testing.assert_allclose(got, exp, rtol=1e-8, atol=1e-11, equal_nan=True)


def _pdf_two(seed=24, n=300, n_keys=2):
    # two value columns with independent NaN patterns: per-column
    # validity gives the variants one decay clock (band group) each
    pdf = _pdf(seed=seed, n=n, n_keys=n_keys, nan_frac=0.2)
    y = np.random.default_rng(seed + 1).normal(size=n)
    y[np.random.default_rng(seed + 2).random(n) < 0.1] = np.nan
    pdf["y"] = y
    return pdf


@pytest.mark.parametrize("adjust", [True, False], ids=["adj", "noadj"])
@pytest.mark.parametrize("ignore_na", [False, True], ids=["clock", "ignna"])
@pytest.mark.parametrize(
    "stat",
    [("mean", {}), ("var", {"bias": False}), ("std", {"bias": True})],
    ids=["mean", "var", "std_biased"],
)
def test_flag_matrix_two_columns_min_periods(spark, adjust, ignore_na, stat):
    # alpha=0.9 -> a band per 75 valid rows: ~150 rows per key cross a
    # band edge; min_periods=3 gates each column on its own count
    alpha = 0.9
    pdf = _pdf_two()
    sdf = spark.createDataFrame(pdf)
    e = wt(sdf, "w").ewm(
        order_by=["i"], partition_by=["g"], alpha=alpha, min_periods=3,
        adjust=adjust, ignore_na=ignore_na,
    )
    out = getattr(e, stat[0])(**stat[1]).toPandas()
    out = out.sort_values(["g", "i"]).reset_index(drop=True)
    for c in ("x", "y"):
        exp = _pandas_ewm(pdf, stat, alpha, adjust=adjust,
                          ignore_na=ignore_na, col=c, min_periods=3)
        np.testing.assert_allclose(
            out[c].to_numpy(dtype=float), exp, rtol=1e-8, atol=1e-11,
            equal_nan=True, err_msg=c,
        )


@pytest.mark.parametrize(
    "flags",
    [{}, {"adjust": False, "ignore_na": True}],
    ids=["default", "noadj_ignna"],
)
def test_value_columns_named_like_kernel_tags(spark, flags):
    # value columns named after the kernel's term tags (any case: Spark
    # resolves names case-insensitively) must give the same bits as
    # plain names
    pdf = _pdf_two(seed=25, n=120)
    pdf["z"] = pdf["x"] * 0.5 + 1.0
    pdf["u"] = pdf["y"] - 2.0
    tags = {"x": "X", "y": "D", "z": "V", "u": "n"}
    sdf = spark.createDataFrame(pdf)
    tagged = sdf.select("g", "i", "w", *[F.col(a).alias(b) for a, b in tags.items()])

    def run(frame, stat):
        e = wt(frame, "w").ewm(
            order_by=["i"], partition_by=["g"], alpha=0.3, min_periods=2,
            **flags,
        )
        out = stat(e).toPandas().sort_values(["g", "i"])
        return out.drop(columns=["g", "i"]).to_numpy(dtype=float)

    def var(e):
        return e.var(bias=False)

    np.testing.assert_array_equal(
        run(tagged, var), run(sdf.select("g", "i", "w", *tags), var)
    )
    if not flags:  # pairwise stats support the default flags only
        np.testing.assert_array_equal(
            run(tagged, lambda e: e.pair_stats("X", "D")),
            run(sdf, lambda e: e.pair_stats("x", "y")),
        )


def test_noadjust_weighted_recursion(spark):
    # per-row weights under adjust=False vs the defining recursion
    # y_t = (rho^gap * w_prev * y_prev + alpha * w_t * x_t)
    #       / (rho^gap * w_prev + alpha * w_t), W reset to w_t
    rng = np.random.default_rng(31)
    n, alpha = 80, 0.3
    rho = 1 - alpha
    x = rng.normal(size=n)
    x[rng.random(n) < 0.2] = np.nan
    w = rng.uniform(0.5, 3.0, size=n)
    pdf = pd.DataFrame({"g": 0, "i": np.arange(n), "x": x, "w": w})
    got = _spark_ewm(spark, pdf, ("mean", {}), alpha=alpha, adjust=False)
    exp = np.full(n, np.nan)
    y = None
    pw = None
    gap = 0
    for t in range(n):
        gap += 1
        if not np.isnan(x[t]):
            if y is None:
                y = x[t]
            else:
                o = rho**gap * pw
                a = alpha * w[t]
                y = (o * y + a * x[t]) / (o + a)
            pw = w[t]
            gap = 0
        if y is not None:
            exp[t] = y
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


def test_alpha_one_all_flags(spark):
    # alpha=1: current row only; every flag combination degenerates to
    # the same passthrough-with-carry
    pdf = _pdf(seed=23, n=60, n_keys=1, nan_frac=0.2)
    ref = _spark_ewm(spark, pdf, ("mean", {}), alpha=1.0)
    for adjust in (True, False):
        for ignore_na in (False, True):
            got = _spark_ewm(
                spark, pdf, ("mean", {}), alpha=1.0, adjust=adjust,
                ignore_na=ignore_na,
            )
            np.testing.assert_allclose(got, ref, rtol=0, equal_nan=True)


def test_band_boundaries_exact(spark):
    # alpha chosen so the band size is tiny (B = 75/decades); a series
    # much longer than B exercises in-band prefix + carry. Compare vs
    # pandas on a single partition. NOTE: alpha must be representable in
    # float64 — 1 - 1e-20 rounds to exactly 1.0 (1e-20 << ulp(1.0)),
    # which degenerates to the trivial passthrough and tests nothing.
    alpha = 1.0 - 1e-12  # rho = 1e-12 -> B = 75/12 = 6
    n = 100
    from pandas_weights_spark.ewm import WeightedEWM

    B = WeightedEWM._band_size(None, 1.0 - alpha)
    assert 1 < B < n, f"band size {B} must force multi-band carry (n={n})"
    pdf = _pdf(seed=3, n=n, n_keys=1, nan_frac=0.0)
    got = _spark_ewm(spark, pdf, ("mean", {}), alpha=alpha)
    exp = _pandas_ewm(pdf, ("mean", {}), alpha)
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


def test_multi_band_carry_mid_alpha(spark):
    # a directly-representable alpha whose band is still far smaller
    # than the series: rho = 0.01 -> B = 37, n = 300 spans ~9 bands per
    # key; nan rows keep advancing the decay clock across band edges.
    alpha = 0.99
    pdf = _pdf(seed=13, n=300, n_keys=2, nan_frac=0.1)
    got = _spark_ewm(spark, pdf, ("mean", {}), alpha=alpha)
    exp = _pandas_ewm(pdf, ("mean", {}), alpha)
    np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


def test_small_alpha_single_band(spark):
    alpha = 0.001  # B far larger than n: pure in-band path
    pdf = _pdf(seed=4, n=200, n_keys=2, nan_frac=0.1)
    got = _spark_ewm(spark, pdf, ("mean", {}), alpha=alpha)
    exp = _pandas_ewm(pdf, ("mean", {}), alpha)
    np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


def test_weights_scale_invariance(spark):
    # EWM mean is invariant to a global weight rescale
    pdf = _pdf(seed=5, nan_frac=0.0)
    pdf["w2"] = 7.5
    a = _spark_ewm(spark, pdf, ("mean", {}), weights="w", alpha=0.2)
    b = _spark_ewm(spark, pdf, ("mean", {}), weights="w2", alpha=0.2)
    np.testing.assert_allclose(a, b, rtol=1e-12, equal_nan=True)


def test_weighted_vs_handrolled(spark):
    # per-row weights against a direct O(n^2) computation
    rng = np.random.default_rng(11)
    n, alpha = 60, 0.25
    x = rng.normal(size=n)
    w = rng.uniform(0.5, 3.0, size=n)
    pdf = pd.DataFrame({"g": 0, "i": np.arange(n), "x": x, "w": w})
    got = _spark_ewm(spark, pdf, ("mean", {}), alpha=alpha)
    rho = 1 - alpha
    exp = np.array(
        [
            np.sum(rho ** (i - np.arange(i + 1)) * w[: i + 1] * x[: i + 1])
            / np.sum(rho ** (i - np.arange(i + 1)) * w[: i + 1])
            for i in range(n)
        ]
    )
    np.testing.assert_allclose(got, exp, rtol=1e-10)


def test_min_periods_gate(spark):
    pdf = _pdf(seed=6, n=50, n_keys=1, nan_frac=0.3)
    got = _spark_ewm(spark, pdf, ("mean", {}), alpha=0.3, min_periods=5)
    valid_so_far = (~np.isnan(pdf.sort_values("i")["x"].to_numpy())).cumsum()
    assert np.isnan(got[valid_so_far < 5]).all()
    assert not np.isnan(got[valid_so_far >= 5]).any()


def test_parametrizations():
    assert resolve_alpha(alpha=0.3) == 0.3
    assert resolve_alpha(com=3.0) == 0.25
    assert resolve_alpha(span=3.0) == 0.5
    hl = resolve_alpha(halflife=2.0)
    assert math.isclose((1 - hl) ** 2, 0.5)
    with pytest.raises(ValueError):
        resolve_alpha()
    with pytest.raises(ValueError):
        resolve_alpha(alpha=0.1, span=5)


def test_no_order_by_raises(spark):
    pdf = _pdf()
    sdf = spark.createDataFrame(pdf)
    with pytest.raises(ValueError):
        wt(sdf, "w").ewm(order_by=[], alpha=0.5)


def test_series_level_delegation(spark):
    pdf = _pdf(seed=8, n=100, n_keys=2, nan_frac=0.0)
    sdf = spark.createDataFrame(pdf)
    s = wt(sdf, "w")["x"]
    out = s.ewm(order_by=["i"], partition_by=["g"], alpha=0.3).mean()
    assert set(out.columns) == {"g", "i", "x"}
    assert out.count() == 100
    r = s.rolling(3, order_by=["i"], partition_by=["g"]).mean()
    assert set(r.columns) == {"g", "i", "x"}
    e = s.expanding(order_by=["i"], partition_by=["g"]).mean()
    assert e.count() == 100
    c = s.cdf()
    assert "x_cdf" in c.columns


class TestEwmPairwise:
    def _pdf(self, seed=41, n=150, n_keys=2, nan_frac=0.15):
        rng = np.random.default_rng(seed)
        x = rng.normal(size=n)
        y = 0.5 * x + rng.normal(scale=0.8, size=n)
        x[rng.random(n) < nan_frac] = np.nan
        y[rng.random(n) < nan_frac] = np.nan
        return pd.DataFrame(
            {
                "g": rng.integers(0, n_keys, n),
                "i": np.arange(n),
                "x": x,
                "y": y,
                "w": np.ones(n),
            }
        )

    def _pandas_pair(self, pdf, stat, alpha, bias=False):
        parts = []
        for g, grp in pdf.sort_values("i").groupby("g"):
            mask = grp["x"].notna() & grp["y"].notna()
            x = grp["x"].where(mask)
            y = grp["y"].where(mask)
            e = x.ewm(alpha=alpha, adjust=True, ignore_na=False)
            s = e.cov(y, bias=bias) if stat == "cov" else e.corr(y)
            parts.append(pd.DataFrame({"g": g, "i": grp["i"], "v": s}))
        out = pd.concat(parts).sort_values(["g", "i"]).reset_index(drop=True)
        return out["v"].to_numpy()

    @pytest.mark.parametrize("alpha", [0.3, 0.9])
    @pytest.mark.parametrize(
        "stat,kw", [("cov", {"bias": False}), ("cov", {"bias": True}),
                    ("corr", {})],
        ids=["cov", "cov_biased", "corr"],
    )
    def test_differential_vs_pandas(self, spark, alpha, stat, kw):
        pdf = self._pdf()
        sdf = spark.createDataFrame(pdf)
        e = wt(sdf, "w").ewm(order_by=["i"], partition_by=["g"], alpha=alpha)
        out = getattr(e, stat)("x", "y", **kw).toPandas()
        got = (
            out.sort_values(["g", "i"]).reset_index(drop=True)[
                f"x_y_{stat}"
            ].to_numpy()
        )
        exp = self._pandas_pair(pdf, stat, alpha,
                                bias=kw.get("bias", False))
        # pandas corr returns NaN where we emit NULL and 1-obs cases
        np.testing.assert_allclose(got, exp, rtol=1e-8, atol=1e-10,
                                   equal_nan=True)

    def test_multiband_pair(self, spark):
        # alpha=0.99 -> B=37: the carry path runs for the cross-moments
        pdf = self._pdf(seed=43, n=250, n_keys=1, nan_frac=0.1)
        sdf = spark.createDataFrame(pdf)
        e = wt(sdf, "w").ewm(order_by=["i"], partition_by=["g"], alpha=0.99)
        got = (
            e.cov("x", "y").toPandas().sort_values(["g", "i"])
            .reset_index(drop=True)["x_y_cov"].to_numpy()
        )
        exp = self._pandas_pair(pdf, "cov", 0.99)
        np.testing.assert_allclose(got, exp, rtol=1e-8, atol=1e-10,
                                   equal_nan=True)

    def test_variant_flags_rejected(self, spark):
        pdf = self._pdf(n=10)
        sdf = spark.createDataFrame(pdf)
        e = wt(sdf, "w").ewm(
            order_by=["i"], partition_by=["g"], alpha=0.5, adjust=False
        )
        with pytest.raises(NotImplementedError):
            e.cov("x", "y")


class TestEwmTimes:
    def _pdf(self, seed=51, n=200, n_keys=2, nan_frac=0.15):
        rng = np.random.default_rng(seed)
        x = rng.normal(size=n)
        x[rng.random(n) < nan_frac] = np.nan
        # irregular, sorted-per-group timestamps
        secs = np.sort(rng.integers(0, 5000, n))
        ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, unit="s")
        return pd.DataFrame(
            {
                "g": rng.integers(0, n_keys, n),
                "i": np.arange(n),
                "ts": ts,
                "x": x,
                "w": np.ones(n),
            }
        )

    def test_differential_vs_pandas_times(self, spark):
        pdf = self._pdf()
        sdf = spark.createDataFrame(pdf)
        out = (
            wt(sdf, "w")
            .ewm(
                order_by=["ts", "i"],
                partition_by=["g"],
                halflife="30 seconds",
                times="ts",
            )
            .mean()
            .toPandas()
        )
        got = (
            out.sort_values(["g", "i"]).reset_index(drop=True)["x"]
            .to_numpy()
        )
        parts = []
        for g, grp in pdf.sort_values(["ts", "i"]).groupby("g"):
            e = grp["x"].ewm(
                halflife=pd.Timedelta("30 seconds"), times=grp["ts"]
            )
            parts.append(
                pd.DataFrame({"g": g, "i": grp["i"], "x": e.mean()})
            )
        exp = (
            pd.concat(parts).sort_values(["g", "i"]).reset_index(drop=True)[
                "x"
            ].to_numpy()
        )
        np.testing.assert_allclose(got, exp, rtol=1e-8, atol=1e-11,
                                   equal_nan=True)

    def test_times_timestamp_ntz(self, spark):
        # parquet naive timestamps infer TIMESTAMP_NTZ, which cannot
        # cast straight to double — _stat_times must route through the
        # session-zoned type (UTC session => value-preserving)
        pdf = self._pdf(seed=57)
        sdf = spark.createDataFrame(pdf).withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        got = (
            wt(sdf, "w")
            .ewm(
                order_by=["ts", "i"],
                partition_by=["g"],
                halflife="30 seconds",
                times="ts",
            )
            .mean()
            .toPandas()
        )
        base = (
            wt(spark.createDataFrame(pdf), "w")
            .ewm(
                order_by=["ts", "i"],
                partition_by=["g"],
                halflife="30 seconds",
                times="ts",
            )
            .mean()
            .toPandas()
        )
        np.testing.assert_allclose(
            got.sort_values(["g", "i"])["x"].to_numpy(),
            base.sort_values(["g", "i"])["x"].to_numpy(),
            rtol=1e-12, equal_nan=True,
        )

    def test_weighted_times_handrolled(self, spark):
        # per-row weights: direct O(n^2) time-decay computation
        rng = np.random.default_rng(53)
        n = 50
        secs = np.sort(rng.uniform(0, 500, n))
        x = rng.normal(size=n)
        w = rng.uniform(0.5, 3.0, size=n)
        hl = 20.0
        pdf = pd.DataFrame(
            {"g": 0, "i": np.arange(n), "t": secs, "x": x, "w": w}
        )
        out = (
            wt(spark.createDataFrame(pdf), "w")
            .ewm(
                order_by=["t"],
                partition_by=["g"],
                halflife=hl,  # numeric halflife: same units as times
                times="t",
            )
            .mean()
            .toPandas()
            .sort_values("t")["x"]
            .to_numpy()
        )
        exp = np.array(
            [
                np.sum(
                    0.5 ** ((secs[i] - secs[: i + 1]) / hl)
                    * w[: i + 1]
                    * x[: i + 1]
                )
                / np.sum(0.5 ** ((secs[i] - secs[: i + 1]) / hl) * w[: i + 1])
                for i in range(n)
            ]
        )
        np.testing.assert_allclose(out, exp, rtol=1e-9)

    def test_times_restrictions(self, spark):
        pdf = self._pdf(n=10)
        sdf = spark.createDataFrame(pdf)
        with pytest.raises(ValueError, match="halflife"):
            wt(sdf, "w").ewm(times="ts", alpha=0.5, partition_by=["g"])
        e = wt(sdf, "w").ewm(
            times="ts", halflife="10s", partition_by=["g"]
        )
        with pytest.raises(NotImplementedError, match="mean"):
            e.var()
        with pytest.raises(NotImplementedError):
            wt(sdf, "w").ewm(
                times="ts", halflife="10s", adjust=False, partition_by=["g"]
            )
