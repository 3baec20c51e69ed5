"""Degenerate-path guards: single-task shapes (keyless windows, global
exact quantiles, whole-frame apply) must WARN loudly, keyed calls must
stay silent, and frame_apply must refuse oversized single-task input
instead of silently OOMing."""

import warnings

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import wt
from pandas_weights_spark.functions.asof import asof_join


def test_frame_apply_axis0_warns_and_guards(spark):
    df = spark.createDataFrame([(1.0, 1.0), (2.0, 1.0)], "x double, w double")
    with pytest.warns(UserWarning, match="ONE task"):
        out = wt(df, "w").apply(lambda c: c.max(), "x double")
    assert out.collect()[0]["x"] == 2.0
    with pytest.warns(UserWarning):
        guarded = wt(df, "w").apply(lambda c: c.max(), "x double", max_rows=1)
    with pytest.raises(Exception) as e:
        guarded.collect()
    assert "max_rows" in str(e.value)


def test_frame_apply_axis1_distributes(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 1.0), (3.0, 4.0, 1.0)], "a double, b double, w double"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # axis=1 must NOT warn
        out = wt(df, "w").apply(lambda r: r["a"] + r["b"], "s double", axis=1)
    assert sorted(v["s"] for v in out.collect()) == [3.0, 7.0]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # mapInPandas: no shuffle anywhere


def test_frame_apply_axis1_series_result(spark):
    # func returning a Series per row expands to multiple columns
    import pandas as pd

    df = spark.createDataFrame([(1.0, 1.0)], "a double, w double")
    out = wt(df, "w").apply(
        lambda r: pd.Series({"lo": r["a"] - 1, "hi": r["a"] + 1}),
        "lo double, hi double",
        axis=1,
    )
    row = out.collect()[0]
    assert (row["lo"], row["hi"]) == (0.0, 2.0)


def test_keyless_single_task_warnings(spark):
    df = spark.createDataFrame([(1, 1.0, 1.0)], "t int, x double, w double")
    w = wt(df, "w")
    with pytest.warns(UserWarning, match="single partition"):
        w.rolling(2, order_by=["t"])
    with pytest.warns(UserWarning, match="single"):
        w.ewm(order_by=["t"], alpha=0.5)
    with pytest.warns(UserWarning, match="SINGLE window partition"):
        w[["x"]].quantile(0.5)
    right = df.select("t", F.col("x").alias("y"))
    with pytest.warns(UserWarning, match="single global"):
        asof_join(df.drop("w"), right, on="t")


def test_keyed_calls_do_not_warn(spark):
    df = spark.createDataFrame(
        [("a", 1, 1.0, 1.0)], "g string, t int, x double, w double"
    )
    w = wt(df, "w")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        w.rolling(2, order_by=["t"], partition_by=["g"])
        w.ewm(order_by=["t"], partition_by=["g"], alpha=0.5)
        w.groupby("g")[["x"]].quantile(0.5)
        asof_join(
            df.drop("w"),
            df.select("g", "t", F.col("x").alias("y")),
            on="t",
            by=["g"],
        )


class TestPlanAuditGate:
    """r14: the plan-audit gate must FAIL a real large×large cross
    join — bnl-cross lost its unconditional exemption; every
    legitimate cross is now an explicit ALLOW entry with a
    1-row-broadcast / capped-table rationale."""

    def _audit(self):
        import importlib.util

        from pathlib import Path

        spec = importlib.util.spec_from_file_location(
            "plan_audit",
            Path(__file__).resolve().parents[1] / "tools" / "plan_audit.py",
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_injected_cross_join_fails_gate(self, spark):
        mod = self._audit()
        a = spark.range(1000).select(F.col("id").alias("x"))
        b = spark.range(1000).select(F.col("id").alias("y"))
        crossed = a.crossJoin(b)
        plan = crossed._jdf.queryExecution().executedPlan().toString()
        risks = mod.audit_plan(plan)
        # a data×data cross shows up as one of the two cross tags
        assert risks & {"bnl-cross", "cartesian"}, plan
        # ... and no hypothetical unlisted query may pass it
        assert mod.unallowed_risks("some_new_query", risks)

    def test_allowed_queries_still_pass_their_tags(self):
        mod = self._audit()
        assert not mod.unallowed_risks("class_tfidf", {"bnl-cross"})
        assert not mod.unallowed_risks(
            "pq_topk", {"arrow", "bnl-cross"}
        )
        # but an allowed query does NOT get a free pass on other tags
        assert mod.unallowed_risks("class_tfidf", {"python-eval"})
