"""Weighted hypothesis tests (inference.py): Welch t + χ² independence
vs numpy closed forms on expanded (frequency-replicated) data, guards,
grouping-sets plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import wt


def _welch(a, b, ddof=1):
    na, nb = len(a), len(b)
    ma, mb = np.mean(a), np.mean(b)
    va, vb = np.var(a, ddof=ddof), np.var(b, ddof=ddof)
    se2 = va / na + vb / nb
    t = (ma - mb) / np.sqrt(se2)
    df = se2 * se2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    return t, df


def _chi2(obs):
    obs = np.asarray(obs, float)
    rt = obs.sum(1, keepdims=True)
    ct = obs.sum(0, keepdims=True)
    g = obs.sum()
    e = rt @ ct / g
    chi2 = ((obs - e) ** 2 / e).sum()
    return chi2, (obs.shape[0] - 1) * (obs.shape[1] - 1), g


class TestTTest:
    def test_matches_expanded_welch(self, spark):
        rng = np.random.default_rng(2)
        rows = [
            (("x" if i % 2 else "y"), float(rng.normal(i % 2, 2.0)),
             int(rng.integers(1, 4)))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "grp string, v double, w int")
        out = wt(df, "w").ttest("v", "grp", "x", "y").collect()[0]
        # frequency weights = replication
        a = [v for g, v, w in rows if g == "x" for _ in range(w)]
        b = [v for g, v, w in rows if g == "y" for _ in range(w)]
        t, dof = _welch(a, b)
        assert out["t_stat"] == pytest.approx(t, rel=1e-9)
        assert out["df"] == pytest.approx(dof, rel=1e-9)
        assert out["n_a"] == len(a) and out["n_b"] == len(b)

    def test_by_groups(self, spark):
        rng = np.random.default_rng(4)
        rows = [
            (int(i % 2), ("x" if i % 3 else "y"), float(rng.normal()), 1.0)
            for i in range(120)
        ]
        df = spark.createDataFrame(rows, "k int, grp string, v double, w double")
        out = {r["k"]: r for r in
               wt(df, "w").ttest("v", "grp", "x", "y", by=["k"]).collect()}
        for k in (0, 1):
            a = [v for kk, g, v, _ in rows if kk == k and g == "x"]
            b = [v for kk, g, v, _ in rows if kk == k and g == "y"]
            t, dof = _welch(a, b)
            assert out[k]["t_stat"] == pytest.approx(t, rel=1e-9)
            assert out[k]["df"] == pytest.approx(dof, rel=1e-9)

    def test_empty_side_null(self, spark):
        df = spark.createDataFrame(
            [("x", 1.0, 1.0), ("x", 2.0, 1.0)], "grp string, v double, w double"
        )
        out = wt(df, "w").ttest("v", "grp", "x", "zzz").collect()[0]
        assert out["t_stat"] is None and out["df"] is None

    def test_null_group_value_is_matchable(self, spark):
        df = spark.createDataFrame(
            [(None, 1.0, 1.0), (None, 3.0, 1.0), (None, 5.0, 1.0),
             ("y", 2.0, 1.0), ("y", 6.0, 1.0), ("y", 7.0, 1.0)],
            "grp string, v double, w double",
        )
        out = wt(df, "w").ttest("v", "grp", None, "y").collect()[0]
        t, dof = _welch([1.0, 3.0, 5.0], [2.0, 6.0, 7.0])
        assert out["t_stat"] == pytest.approx(t, rel=1e-9)

    def test_missing_column_raises(self, spark):
        df = spark.createDataFrame([("x", 1.0, 1.0)], "g string, v double, w double")
        with pytest.raises(KeyError):
            wt(df, "w").ttest("nope", "g", "x", "y")


class TestChi2:
    def test_matches_numpy_contingency(self, spark):
        rng = np.random.default_rng(7)
        rows = [
            (rng.choice(["a", "b", "c"]).item(),
             rng.choice(["p", "q"]).item(),
             int(rng.integers(1, 5)))
            for _ in range(300)
        ]
        df = spark.createDataFrame(rows, "r string, c string, w int")
        out = wt(df, "w").chi2("r", "c").collect()[0]
        rs, cs = ["a", "b", "c"], ["p", "q"]
        obs = [[sum(w for r, c, w in rows if r == ri and c == ci)
                for ci in cs] for ri in rs]
        chi2, dof, g = _chi2(obs)
        assert out["chi2"] == pytest.approx(chi2, rel=1e-9)
        assert out["dof"] == dof
        assert out["n"] == g
        assert out["cramers_v"] == pytest.approx(
            np.sqrt(chi2 / (g * 1)), rel=1e-9
        )

    def test_empty_cells_still_contribute(self, spark):
        # (a,q) never observed: E>0 must still enter the sum
        rows = [("a", "p", 4.0), ("b", "p", 1.0), ("b", "q", 5.0)]
        df = spark.createDataFrame(rows, "r string, c string, w double")
        out = wt(df, "w").chi2("r", "c").collect()[0]
        chi2, dof, g = _chi2([[4.0, 0.0], [1.0, 5.0]])
        assert out["chi2"] == pytest.approx(chi2, rel=1e-9)
        assert out["dof"] == 1

    def test_null_category_is_a_bucket(self, spark):
        rows = [("a", "p", 1.0), ("a", None, 2.0), (None, "p", 3.0),
                (None, None, 4.0)]
        df = spark.createDataFrame(rows, "r string, c string, w double")
        out = wt(df, "w").chi2("r", "c").collect()[0]
        chi2, dof, g = _chi2([[1.0, 2.0], [3.0, 4.0]])
        assert out["chi2"] == pytest.approx(chi2, rel=1e-9)
        assert out["n"] == 10.0

    def test_independent_table_zero_chi2(self, spark):
        # perfectly proportional table -> chi2 == 0
        rows = [("a", "p", 2.0), ("a", "q", 4.0),
                ("b", "p", 3.0), ("b", "q", 6.0)]
        df = spark.createDataFrame(rows, "r string, c string, w double")
        out = wt(df, "w").chi2("r", "c").collect()[0]
        assert out["chi2"] == pytest.approx(0.0, abs=1e-12)

    @pytest.mark.parametrize("side", ["r", "c"])
    @pytest.mark.parametrize(
        "name", ["g", "m", "rt", "ct", "o", "_r", "_c", "G", "rk", "ck", "k", "nr"]
    )
    def test_category_named_like_an_intermediate(self, spark, name, side):
        # a category column named after an internal alias must give the
        # same answer as the plain r/c names (no AMBIGUOUS_REFERENCE)
        rows = [("a", "p", 1.0), ("a", "q", 2.0), ("b", "p", 3.0),
                ("b", "q", 7.0), ("c", None, 4.0), (None, "q", 5.0)]
        df = spark.createDataFrame(rows, "r string, c string, w double")
        ref = wt(df, "w").chi2("r", "c").collect()[0]
        renamed = df.withColumnRenamed(side, name)
        cols = [name if s == side else s for s in ("r", "c")]
        got = wt(renamed, "w").chi2(*cols).collect()[0]
        # partial sums may merge in another order: compare to 1e-12
        assert got.asDict() == pytest.approx(ref.asDict(), rel=1e-12)

    def test_null_and_zero_weights_and_a_zero_mass_row(self, spark):
        # (a, q) holds only a NULL weight: an empty cell; row z has zero
        # mass, so its E = 0 terms drop out, but it still counts in R
        rows = [("a", "p", 1.0), ("a", "q", None), ("b", "p", 3.0),
                ("b", "q", 0.0), ("b", "q", 2.0), ("z", "p", 0.0),
                ("z", "q", None)]
        df = spark.createDataFrame(rows, "r string, c string, w double")
        out = wt(df, "w").chi2("r", "c").collect()[0]
        chi2, _, g = _chi2([[1.0, 0.0], [3.0, 2.0]])
        assert out["chi2"] == pytest.approx(chi2, rel=1e-12)
        assert out["dof"] == 2
        assert out["n"] == g

    @pytest.mark.parametrize("keep", ["r = 'a'", "c = 'p'"])
    def test_single_category_has_zero_dof(self, spark, keep):
        rows = [("a", "p", 1.5), ("a", "q", 2.0), ("b", "p", 3.0),
                ("a", "p", 0.25)]
        df = spark.createDataFrame(rows, "r string, c string, w double")
        out = wt(df.where(keep), "w").chi2("r", "c").collect()[0]
        assert out["dof"] == 0
        assert out["chi2"] == pytest.approx(0.0, abs=1e-12)
        assert out["cramers_v"] is None

    def test_empty_input(self, spark):
        df = spark.createDataFrame(
            [("a", "p", 1.0)], "r string, c string, w double"
        ).where("false")
        out = wt(df, "w").chi2("r", "c").collect()
        assert len(out) == 1
        assert (out[0]["chi2"], out[0]["n"], out[0]["cramers_v"]) == (None,) * 3

    def test_one_scan_and_no_python(self, spark):
        import pandas_weights_spark.plans as P

        df = spark.createDataFrame(
            [("a", "p", 1.0)], "r string, c string, w double"
        )
        out = wt(df, "w").chi2("r", "c")
        assert not P.has_python_eval(out)


class TestGHMeans:
    def test_matches_scipy_definitions(self, spark):
        import numpy as np

        from pandas_weights_spark import wt

        rng = np.random.default_rng(6)
        x = np.abs(rng.lognormal(0, 0.5, 100)) + 0.1
        w = rng.integers(1, 5, 100).astype(float)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(x, w)],
            "x double, w double",
        )
        g = wt(df, "w").gmean().collect()[0]["x"]
        h = wt(df, "w").hmean().collect()[0]["x"]
        exp_g = float(np.exp((w * np.log(x)).sum() / w.sum()))
        exp_h = float(w.sum() / (w / x).sum())
        assert g == pytest.approx(exp_g, rel=1e-12)
        assert h == pytest.approx(exp_h, rel=1e-12)
        # AM >= GM >= HM
        am = wt(df, "w").mean().collect()[0]["x"]
        assert am >= g >= h

    def test_nonpositive_values_excluded(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [(2.0, 1.0), (8.0, 1.0), (-5.0, 1.0), (0.0, 3.0), (None, 2.0)],
            "x double, w double",
        )
        g = wt(df, "w").gmean().collect()[0]["x"]
        assert g == pytest.approx(4.0, rel=1e-12)  # sqrt(2*8)

    def test_grouped_and_agg_all(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [("a", 1.0, 1.0), ("a", 4.0, 1.0), ("b", 9.0, 2.0)],
            "g string, x double, w double",
        )
        out = {
            r["g"]: r["x"]
            for r in wt(df, "w")[["x"]].groupby("g").gmean().collect()
        }
        assert out["a"] == pytest.approx(2.0, rel=1e-12)
        assert out["b"] == pytest.approx(9.0, rel=1e-12)
        fused = wt(df, "w")[["x"]].groupby("g").agg_all(
            ["mean", "gmean", "hmean"]
        ).collect()
        row = {r["g"]: r for r in fused}
        assert row["a"]["x_gmean"] == pytest.approx(2.0)
        assert row["a"]["x_hmean"] == pytest.approx(1.6)  # 2/(1+1/4)
