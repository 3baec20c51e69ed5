"""groupby first/last/nth (ordered picks): pandas differential, NULL
skipping, negative nth, single-aggregate plan."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import wt


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(31)
    n = 200
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c"], n),
            "o": rng.permutation(n),
            "x": rng.normal(0, 1, n),
            "y": rng.normal(5, 2, n),
            "w": np.ones(n),
        }
    )
    pdf.loc[pdf.sample(40, random_state=0).index, "x"] = np.nan
    return pdf


@pytest.fixture(scope="module")
def sdf(spark, data):
    return spark.createDataFrame(data)


class TestFirstLast:
    @pytest.mark.parametrize("which", ["first", "last"])
    def test_matches_pandas(self, sdf, data, which):
        got = {
            r["g"]: r
            for r in getattr(wt(sdf, "w").groupby("g"), which)(
                order_by=["o"]
            ).collect()
        }
        want = getattr(
            data.sort_values("o").groupby("g")[["x", "y"]], which
        )()
        for g, row in want.iterrows():
            for c in ("x", "y"):
                if pd.isna(row[c]):
                    assert got[g][c] is None
                else:
                    assert got[g][c] == pytest.approx(row[c]), (g, c)

    def test_skips_nulls_per_column(self, spark):
        df = spark.createDataFrame(
            [("a", 1, None, 10.0), ("a", 2, 5.0, None), ("a", 3, 7.0, 30.0)],
            "g string, o int, x double, y double",
        )
        first = wt(df, F.lit(1.0)).groupby("g").first(order_by=["o"]).collect()[0]
        last = wt(df, F.lit(1.0)).groupby("g").last(order_by=["o"]).collect()[0]
        assert first["x"] == 5.0 and first["y"] == 10.0
        assert last["x"] == 7.0 and last["y"] == 30.0

    def test_requires_order(self, sdf):
        with pytest.raises(ValueError, match="order_by"):
            wt(sdf, "w").groupby("g").first(order_by=[])

    @pytest.mark.parametrize("which", ["first", "last"])
    def test_no_value_column_left(self, sdf, which):
        """Ordering by every value column leaves nothing to pick."""
        grouped = wt(sdf, "w")[["g", "o", "x"]].groupby("g")
        with pytest.raises(ValueError, match="no numeric columns to aggregate"):
            getattr(grouped, which)(order_by=["o", "x"])

    def test_one_aggregate_no_window(self, sdf):
        import pandas_weights_spark.plans as P

        out = wt(sdf, "w").groupby("g").first(order_by=["o"])
        plan = P.physical_plan(out)
        assert "Window" not in plan
        assert P.count_exchanges(out) == 1, plan


class TestNth:
    @pytest.mark.parametrize("n", [0, 2, -1, -3])
    def test_matches_pandas(self, sdf, data, n):
        got = {
            r["g"]: r
            for r in wt(sdf, "w").groupby("g").nth(n, order_by=["o"]).collect()
        }
        want = data.sort_values("o").groupby("g").nth(n)
        assert len(got) == len(want)
        for _, row in want.iterrows():
            g = row["g"]
            assert got[g]["o"] == row["o"]
            for c in ("x", "y"):
                if pd.isna(row[c]):
                    # nth returns the raw row: a pandas-side NaN stays
                    # NaN (nth does not value-normalize, unlike kernels)
                    assert got[g][c] is None or np.isnan(got[g][c])
                else:
                    assert got[g][c] == pytest.approx(row[c])

    def test_out_of_range_empty(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 1.0)], "g string, o int, w double"
        )
        assert wt(df, "w").groupby("g").nth(5, order_by=["o"]).count() == 0
