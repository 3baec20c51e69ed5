"""Weighted quantiles (engine extension): inverted-CDF over cumulative
weight, ties merged, zero/NULL-weight rows carry no mass."""

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import wt
from pandas_weights_spark.plans import count_exchanges
from tests.conftest import approx


@pytest.fixture(scope="module")
def df(spark):
    # x: 1..4 with weights 1,1,1,1 → cum 1,2,3,4 of total 4
    return spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 1.0)],
        "x double, w double",
    )


def one(df, col):
    return df.collect()[0][col]


class TestGlobalQuantile:
    def test_median_even_mass(self, spark, df):
        # q*W = 2 → smallest x with cum ≥ 2 is 2.0 (inverted CDF, no interp)
        assert one(wt(df, "w").median(), "x_p50") == approx(2.0)

    def test_quartiles(self, spark, df):
        out = wt(df, "w").quantile([0.25, 0.75, 1.0])
        r = out.collect()[0]
        assert r["x_p25"] == approx(1.0)
        assert r["x_p75"] == approx(3.0)
        assert r["x_p100"] == approx(4.0)

    def test_weights_shift_the_median(self, spark):
        d = spark.createDataFrame(
            [(1.0, 10.0), (2.0, 1.0), (3.0, 1.0)], "x double, w double"
        )
        # total 12, q·W=6 → x=1 already holds mass 10
        assert one(wt(d, "w").median(), "x_p50") == approx(1.0)

    def test_ties_merge(self, spark):
        d = spark.createDataFrame(
            [(1.0, 1.0), (2.0, 1.0), (2.0, 1.0), (5.0, 1.0)],
            "x double, w double",
        )
        # cum at value 2 (both rows) = 3 ≥ 2 → median 2
        assert one(wt(d, "w").median(), "x_p50") == approx(2.0)

    def test_zero_and_null_weight_excluded(self, spark):
        d = spark.createDataFrame(
            [(0.5, 0.0), (1.0, None), (2.0, 1.0), (3.0, 1.0)],
            "x double, w double",
        )
        assert one(wt(d, "w").median(), "x_p50") == approx(2.0)

    def test_all_excluded_gives_null(self, spark):
        d = spark.createDataFrame(
            [(1.0, 0.0), (2.0, None)], "x double, w double"
        )
        assert one(wt(d, "w").median(), "x_p50") is None

    def test_invalid_q(self, df):
        with pytest.raises(ValueError):
            wt(df, "w").quantile(0.0)
        with pytest.raises(ValueError):
            wt(df, "w").quantile(1.5)


class TestGroupedQuantile:
    def test_per_group(self, spark):
        d = spark.createDataFrame(
            [("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 9.0, 5.0),
             ("b", 4.0, 1.0), ("b", 6.0, 1.0)],
            "g string, x double, w double",
        )
        rows = {
            r["g"]: r
            for r in wt(d, "w").groupby("g").quantile([0.5, 1.0]).collect()
        }
        # group a: total 7, q·W=3.5 → cum(1)=1, cum(2)=2, cum(9)=7 → 9
        assert rows["a"]["x_p50"] == approx(9.0)
        assert rows["a"]["x_p100"] == approx(9.0)
        assert rows["b"]["x_p50"] == approx(4.0)
        assert rows["b"]["x_p100"] == approx(6.0)

    def test_dropna_key(self, spark):
        d = spark.createDataFrame(
            [(None, 1.0, 1.0), ("b", 2.0, 1.0)], "g string, x double, w double"
        )
        out = wt(d, "w").groupby("g").median().collect()
        assert [r["g"] for r in out] == ["b"]
        out2 = wt(d, "w").groupby("g", dropna=False).median().collect()
        assert sorted([r["g"] for r in out2], key=str) == ["None", "b"] or len(out2) == 2

    def test_single_shuffle(self, spark):
        d = spark.createDataFrame(
            [("a", 1.0, 1.0), ("b", 2.0, 1.0)], "g string, x double, w double"
        )
        out = wt(d, "w").groupby("g").median()
        assert count_exchanges(out) == 1

    def test_cube_raises(self, spark):
        d = spark.createDataFrame(
            [("a", 1.0, 1.0)], "g string, x double, w double"
        )
        with pytest.raises(NotImplementedError):
            wt(d, "w").cube("g").quantile(0.5)


class TestBinnedQuantile:
    def test_error_bound_vs_exact(self, spark):
        from pandas_weights_spark.quantile import (
            weighted_quantiles,
            weighted_quantiles_binned,
        )

        rows = [(f"g{i%3}", float((i * 37) % 1000), 1.0 + i % 5)
                for i in range(3000)]
        wdf = wt(
            spark.createDataFrame(rows, "g string, x double, w double"), "w"
        )
        exact = {
            r["g"]: (r["x_p50"], r["x_p90"])
            for r in weighted_quantiles(wdf, [0.5, 0.9], ["x"], ["g"]).collect()
        }
        approx = {
            r["g"]: (r["x_p50"], r["x_p90"])
            for r in weighted_quantiles_binned(
                wdf, [0.5, 0.9], lo=0.0, hi=1000.0, bins=500,
                subset=["x"], keys=["g"],
            ).collect()
        }
        width = 1000.0 / 500
        for g in exact:
            for a, e in zip(approx[g], exact[g]):
                assert abs(a - e) <= width + 1e-9, (g, a, e)

    def test_global_and_validation(self, spark):
        from pandas_weights_spark.quantile import weighted_quantiles_binned

        rows = [(float(v), 1.0) for v in range(100)]
        wdf = wt(spark.createDataFrame(rows, "x double, w double"), "w")
        r = weighted_quantiles_binned(
            wdf, 0.5, lo=0.0, hi=99.0, bins=99, subset=["x"]
        ).collect()[0]
        assert abs(r["x_p50"] - 49.0) <= 1.01
        with pytest.raises(ValueError):
            weighted_quantiles_binned(wdf, 0.5, lo=5, hi=5, bins=10)


class TestMad:
    def test_matches_manual(self, spark):
        rows = [
            ("a", 1.0, 1.0), ("a", 2.0, 2.0), ("a", 9.0, 1.0),
            ("b", 5.0, 1.0), ("b", 6.0, 1.0), ("b", 7.0, 2.0),
        ]
        wdf = wt(
            spark.createDataFrame(rows, "g string, x double, w double"), "w"
        )

        def wmedian(vals, ws):
            order = sorted(zip(vals, ws))
            tot = sum(ws)
            cum = 0.0
            for v, w in order:
                cum += w
                if cum >= 0.5 * tot:
                    return v

        got = {r["g"]: r["x"] for r in wdf.groupby("g").mad().collect()}
        for g in ("a", "b"):
            sub = [(x, w) for gg, x, w in rows if gg == g]
            m = wmedian([x for x, _ in sub], [w for _, w in sub])
            mad = wmedian([abs(x - m) for x, _ in sub], [w for _, w in sub])
            assert got[g] == pytest.approx(mad, rel=1e-12), g

    def test_scale_factor(self, spark):
        rows = [("a", float(v), 1.0) for v in range(10)]
        wdf = wt(
            spark.createDataFrame(rows, "g string, x double, w double"), "w"
        )
        plain = wdf.groupby("g").mad().collect()[0]["x"]
        scaled = wdf.groupby("g").mad(scale=1.4826).collect()[0]["x"]
        assert scaled == pytest.approx(plain * 1.4826, rel=1e-12)

    def test_constant_group_zero(self, spark):
        rows = [("a", 4.0, 1.0), ("a", 4.0, 3.0)]
        wdf = wt(
            spark.createDataFrame(rows, "g string, x double, w double"), "w"
        )
        assert wdf.groupby("g").mad().collect()[0]["x"] == 0.0

    def test_global_mad(self, spark):
        rows = [(1.0, 1.0), (2.0, 2.0), (9.0, 1.0), (3.0, 1.0)]
        wdf = wt(spark.createDataFrame(rows, "x double, w double"), "w")
        # weighted median = 2 (cum 1,3 of 5 >= 2.5); |x-2| = 1,0,7,1 with
        # w 1,2,1,1 → sorted (0,2),(1,1),(1,1),(7,1): cum 2,3 >= 2.5 → 1
        got = wdf.mad().collect()[0]["x"]
        assert got == pytest.approx(1.0)


class TestBinnedMode:
    """exact=False routing on the groupby surface (quantile + mad)."""

    def test_quantile_binned_close_to_exact(self, spark):
        import numpy as np

        rng = np.random.default_rng(17)
        rows = [
            ("a" if i % 2 else "b", float(v), float(rng.integers(1, 4)))
            for i, v in enumerate(rng.uniform(0, 100, 400))
        ]
        wdf = wt(
            spark.createDataFrame(rows, "g string, x double, w double"), "w"
        )
        exact = {
            r["g"]: r["x_p50"]
            for r in wdf.groupby("g").quantile(0.5).collect()
        }
        approx_q = {
            r["g"]: r["x_p50"]
            for r in wdf.groupby("g")
            .quantile(0.5, exact=False, lo=0.0, hi=100.0, bins=1000)
            .collect()
        }
        for g in ("a", "b"):
            assert abs(approx_q[g] - exact[g]) <= 100.0 / 1000 + 1e-9, g

    def test_mad_binned_close_to_exact(self, spark):
        import numpy as np

        rng = np.random.default_rng(23)
        rows = [
            ("a" if i % 2 else "b", float(v), float(rng.integers(1, 4)))
            for i, v in enumerate(rng.uniform(0, 100, 400))
        ]
        wdf = wt(
            spark.createDataFrame(rows, "g string, x double, w double"), "w"
        )
        exact = {r["g"]: r["x"] for r in wdf.groupby("g").mad().collect()}
        binned = {
            r["g"]: r["x"]
            for r in wdf.groupby("g")
            .mad(exact=False, lo=0.0, hi=100.0, bins=1000)
            .collect()
        }
        # both medians binned: error bound is twice one bucket width
        for g in ("a", "b"):
            assert abs(binned[g] - exact[g]) <= 2 * 100.0 / 1000 + 1e-9, g

    def test_binned_requires_bounds(self, spark):
        rows = [("a", 1.0, 1.0)]
        wdf = wt(
            spark.createDataFrame(rows, "g string, x double, w double"), "w"
        )
        with pytest.raises(ValueError):
            wdf.groupby("g").quantile(0.5, exact=False)
        with pytest.raises(ValueError):
            wdf.groupby("g").mad(exact=False, lo=0.0)


def test_series_quantile_describe(spark):
    from pandas_weights_spark.frame import WeightedSeries

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (3.0, 1.0)], "v double, w double"
    )
    s = WeightedSeries(df, "v", "w")
    assert s.median().collect()[0]["v_p50"] == 2.0
    d = s.describe(qs=[0.5]).collect()[0].asDict()
    assert d["v_count"] == 4.0 and d["v_min"] == 1.0 and d["v_max"] == 3.0
    assert d["v_p50"] == 2.0


class TestWeightedCdf:
    def test_brute_force_small(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [("A", 1.0, 1.0), ("A", 2.0, 2.0), ("A", 3.0, 1.0),
             ("B", 5.0, 4.0), ("B", 7.0, 1.0), ("B", None, 9.0),
             ("B", 6.0, 0.0)],
            "g string, v double, w double",
        )
        out = {
            (r["g"], r["v"]): r["v_cdf"]
            for r in wt(df, "w").groupby("g").cdf().collect()
        }
        # group A: masses 1,2,1 (total 4) -> cdf 0.25, 0.75, 1.0
        assert out[("A", 1.0)] == 0.25
        assert out[("A", 2.0)] == 0.75
        assert out[("A", 3.0)] == 1.0
        # group B: only v=5 (w=4) and v=7 (w=1) carry mass
        assert out[("B", 5.0)] == 0.8
        assert out[("B", 7.0)] == 1.0
        # zero-weight row keeps a defined position (mass <= 6.0 = 4/5)
        assert out[("B", 6.0)] == 0.8
        # NULL value -> NULL cdf, row retained
        assert out[("B", None)] is None

    def test_quantile_inverse_invariant(self, spark):
        import numpy as np

        from pandas_weights_spark import wt

        rng = np.random.default_rng(11)
        rows = [
            (int(i % 3), float(rng.normal(50, 10)), float(rng.integers(1, 5)))
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "g int, v double, w double")
        g = wt(df, "w").groupby("g")
        cdf = {
            (r["g"], r["v"]): r["v_cdf"] for r in g.cdf().collect()
        }
        for q in (0.25, 0.5, 0.9):
            qv = {r["g"]: r[f"v_p{int(q*100)}"] for r in g.quantile(q).collect()}
            for grp, x in qv.items():
                # the q-quantile is the SMALLEST value whose cdf >= q
                assert cdf[(grp, x)] >= q
                below = [
                    c for (gg, vv), c in cdf.items()
                    if gg == grp and vv is not None and vv < x and c is not None
                ]
                assert all(c < q for c in below), (grp, q)

    def test_global_cdf(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [(1.0, 1.0), (2.0, 1.0), (3.0, 2.0)], "v double, w double"
        )
        out = {r["v"]: r["v_cdf"] for r in wt(df, "w").cdf().collect()}
        assert out[1.0] == 0.25 and out[2.0] == 0.5 and out[3.0] == 1.0

    def test_qcut_equal_mass(self, spark):
        import numpy as np

        from pandas_weights_spark import wt

        rng = np.random.default_rng(13)
        rows = [
            (int(i % 2), float(rng.normal(0, 1)), float(rng.integers(1, 4)))
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "g int, v double, w double")
        out = wt(df, "w").groupby("g").qcut("v", 4).collect()
        # each bin holds ~1/4 of the group's mass (ties can shift a
        # little; continuous data here, so exact splits at the sample)
        from collections import defaultdict

        mass = defaultdict(float)
        tot = defaultdict(float)
        for r in out:
            assert 0 <= r["v_qbin"] <= 3
            mass[(r["g"], r["v_qbin"])] += r["w"]
            tot[r["g"]] += r["w"]
        for (g, _b), m in mass.items():
            assert 0.15 <= m / tot[g] <= 0.35

    def test_qcut_matches_quantile_edges(self, spark):
        # bin boundary consistency: rows at/below the q-quantile value
        # land in bins < i+1 and the quantile value itself closes bin i
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [("a", float(v), 1.0) for v in range(1, 11)],
            "g string, v double, w double",
        )
        out = {
            r["v"]: r["v_qbin"]
            for r in wt(df, "w").groupby("g").qcut("v", 2).collect()
        }
        # mass 10, F(5)=0.5 -> bin 0; F(6)=0.6 -> bin 1
        assert out[5.0] == 0 and out[6.0] == 1

    def test_qcut_null_and_zero_weight(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [("a", 1.0, 1.0), ("a", None, 1.0), ("a", 0.5, 0.0)],
            "g string, v double, w double",
        )
        rows = {
            r["v"]: r["v_qbin"]
            for r in wt(df, "w").groupby("g").qcut("v", 2).collect()
        }
        assert rows[None] is None
        # zero-weight row below all mass: cdf 0 -> clamped to bin 0
        assert rows[0.5] == 0

    def test_cut_explicit_edges(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [(0.5, 1.0), (1.0, 1.0), (1.5, 1.0), (2.0, 1.0), (3.5, 1.0),
             (None, 1.0)],
            "v double, w double",
        )
        wdf = wt(df, "w")
        right = {
            r["v"]: r["v_bin"]
            for r in wdf.cut("v", [1.0, 2.0, 3.0]).collect()
        }
        # right-closed: (1,2] -> 0, (2,3] -> 1; 1.0 and 3.5 outside
        assert right[1.0] is None and right[1.5] == 0 and right[2.0] == 0
        assert right[3.5] is None and right[None] is None
        left = {
            r["v"]: r["v_bin"]
            for r in wdf.cut("v", [1.0, 2.0, 3.0], right=False).collect()
        }
        assert left[1.0] == 0 and left[2.0] == 1 and left[1.5] == 0

    def test_cut_bad_edges(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame([(1.0, 1.0)], "v double, w double")
        import pytest as _pt

        with _pt.raises(ValueError, match="strictly increasing"):
            wt(df, "w").cut("v", [2.0, 1.0])

    def test_banded_plan(self, spark):
        import pandas_weights_spark.plans as P
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [(1, float(i), 1.0) for i in range(50)], "g int, v double, w double"
        )
        plan = P.physical_plan(wt(df, "w").groupby("g").cdf())
        import re

        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs
        for spec in specs:
            assert "__band__" in spec, spec


class TestRobustZscore:
    def test_matches_manual(self, spark):
        from pandas_weights_spark import wt
        from pandas_weights_spark.quantile import weighted_robust_zscore

        rows = [("a", float(v), 1.0) for v in range(1, 101)] + [
            ("a", 1e9, 1.0)  # outlier barely moves median/IQR
        ]
        df = spark.createDataFrame(rows, "g string, x double, w double")
        out = weighted_robust_zscore(
            wt(df, "w"), subset=["x"], keys=["g"]
        )
        got = {r["x"]: r["x_rz"] for r in out.collect()}
        # weighted inverted-CDF quartiles of 1..100 (+outlier): q1=26,
        # q2=51, q3=76 (cum mass first reaches q*101)
        q1, q2, q3 = 26.0, 51.0, 76.0
        for v in (1.0, 51.0, 100.0):
            assert got[v] == pytest.approx((v - q2) / (q3 - q1)), v
        assert got[1e9] > 1e7  # outlier flagged, not absorbed

    def test_zero_iqr_null(self, spark):
        from pandas_weights_spark import wt
        from pandas_weights_spark.quantile import weighted_robust_zscore

        df = spark.createDataFrame(
            [(5.0, 10.0), (5.0, 10.0), (7.0, 0.5)], "x double, w double"
        )
        out = weighted_robust_zscore(wt(df, "w"), subset=["x"]).collect()
        assert all(r["x_rz"] is None for r in out)

    def test_null_passthrough_and_plan(self, spark):
        from pandas_weights_spark import wt
        from pandas_weights_spark.quantile import weighted_robust_zscore

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        out = weighted_robust_zscore(
            wt(li, "l_quantity"), subset=["l_extendedprice"],
            keys=["l_returnflag"],
        )
        assert out.where(
            F.col("l_extendedprice").isNull()
            & F.col("l_extendedprice_rz").isNotNull()
        ).count() == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan


class TestBandedKernel:
    """The CDF/rank family's one banded prefix-sum kernel
    (``quantile._banded_cums``)."""

    def test_multi_column_cdf_equals_single_column(self, spark):
        # one kernel pass over several columns must give every column
        # the exact doubles its own single-column pass gives: NULL x,
        # NULL and zero weights, a single-row group, a constant
        # (hi == lo) group and a NULL-key group
        rows = [
            (0, "a", 1.0, 5.0, 1.0),
            (1, "a", 2.0, None, 2.0),
            (2, "a", None, 3.0, 1.5),
            (3, "a", 2.0, 3.0, None),
            (4, "a", 7.5, 1.0, 0.0),
            (5, "a", 0.25, 4.0, 3.0),
            (6, "one", 4.0, 4.0, 2.0),
            (7, "k", 3.0, 3.0, 1.0),
            (8, "k", 3.0, 3.0, 2.0),
            (9, "k", 3.0, None, 0.0),
            (10, None, 1.0, 2.0, 1.0),
            (11, None, 6.0, -2.0, 4.0),
        ]
        df = spark.createDataFrame(
            rows, "id int, g string, x double, y double, w double"
        )
        wdf = wt(df, "w")

        def cdfs(frame, col):
            return {r["id"]: r[f"{col}_cdf"] for r in frame.collect()}

        for grouped in (
            wdf.groupby("g", dropna=False),
            wdf.groupby("g"),
        ):
            multi = grouped[["x", "y"]].cdf(bands=4)
            for c in ("x", "y"):
                assert cdfs(multi, c) == cdfs(grouped[[c]].cdf(bands=4), c)
        multi = wdf[["x", "y"]].cdf()
        for c in ("x", "y"):
            assert cdfs(multi, c) == cdfs(wdf[[c]].cdf(), c)
        got = cdfs(wdf.groupby("g", dropna=False)[["x", "y"]].cdf(), "x")
        assert got[2] is None  # NULL value keeps a NULL cdf
        assert got[6] == 1.0  # single-row group
        assert got[7] == got[8] == got[9] == 1.0  # constant group

    def test_plan_independent_of_scan_partitions(self, spark, tmp_path):
        # gini/ks plan the same over a many-partition scan as over a
        # one-partition scan: no lineage cut (ExistingRDD), no extra
        # exchange, window, sort or join
        import re

        import pandas_weights_spark.plans as P
        from pandas_weights_spark.quantile import weighted_gini, weighted_ks

        data = spark.range(4000).select(
            (F.col("id") % 7).alias("g"),
            (F.col("id") % 97).cast("double").alias("x"),
            (F.col("id") % 2).alias("s"),
            ((F.col("id") % 5) + 1).cast("double").alias("w"),
        )
        data.coalesce(1).write.parquet(str(tmp_path / "one"))
        data.repartition(20).write.parquet(str(tmp_path / "many"))
        nodes = {
            "exchange": r"Exchange (?:hash|range|SinglePartition)",
            "window": r"\bWindow \[",
            "sort": r"\bSort \[",
            "join": r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin|CartesianProduct)",
        }

        def shape(df):
            plan = P.physical_plan(df)
            assert "ExistingRDD" not in plan, plan
            return {n: len(re.findall(p, plan)) for n, p in nodes.items()}

        # 20 files -> 20 scan partitions; no size-estimate broadcasts,
        # so the larger file footprint of the 20-file table cannot
        # switch a join strategy
        confs = {
            "spark.sql.files.minPartitionNum": "20",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            shapes = {}
            for name in ("one", "many"):
                t = spark.read.parquet(str(tmp_path / name))
                assert (t.rdd.getNumPartitions() >= 16) == (name == "many")
                wdf = wt(t, "w")
                shapes[name] = (
                    shape(weighted_gini(wdf, "x", keys=["g"])),
                    shape(weighted_ks(wdf, "x", "s", 0, 1, keys=["g"])),
                )
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert shapes["many"] == shapes["one"]
