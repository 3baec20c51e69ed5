"""The moment algebra as SQL text: plan-build round trips and column-name
hygiene.

Every statistic of a public call reaches Spark as SQL text in a handful
of ``selectExpr`` / ``F.expr`` calls, so building a plan costs tens of
py4j round trips, not thousands. User column names are backquoted into
that text, so any name — a backtick, a space, a dot, a leading digit, a
name equal to an internal sum — must give the same numbers as the same
data under plain names.
"""

import datetime as dt
import warnings

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import _stats, wt
from tests.conftest import count_jobs, count_jvm_calls


@pytest.fixture(scope="module")
def fact(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                i % 3,
                1 + i % 2,
                f"c{i % 4}",
                t0 + dt.timedelta(hours=7 * i),
                None if i % 11 == 0 else float(i % 7) - 2.5,
                float((i * 7) % 13) / 3.0,
                None if i % 9 == 0 else float(i % 5),
                None if i % 13 == 0 else 0.5 + (i % 4),
            )
        )
    return spark.createDataFrame(
        rows,
        "rid long, key0 int, grp int, cat string, tstamp timestamp, "
        "val0 double, val1 double, val2 double, w double",
    )


# -- build round trips ----------------------------------------------------------


#: ceilings on the py4j round trips to build each plan (about 1.3× the
#: text form's count); the Column-API form took about 5,500 (corr_cov),
#: 1,100 (agg_all), 630 (frame.mean), 400 (resample var) and 1,400
#: (ttest) on the benchmark's fact table
BUILDS = {
    "corr_cov": (lambda t: wt(t, "w")[["val0", "val1", "val2"]].corr_cov(), 130),
    "agg_all": (
        lambda t: wt(t, "w")[["key0", "val0", "val1", "val2"]]
        .groupby("key0")
        .agg_all(["mean", "var", "std", "count"]),
        150,
    ),
    "frame.mean": (lambda t: wt(t, "w")[["val0", "val1", "val2"]].mean(), 70),
    "resample.var": (
        lambda t: wt(t.select("tstamp", "val0", "w"), "w")
        .resample("1h", on="tstamp")
        .var(),
        130,
    ),
    "ttest": (lambda t: wt(t, "w").ttest("val0", "grp", 1, 2), 90),
}


class TestBuildRoundTrips:
    @pytest.mark.parametrize("name", sorted(BUILDS))
    def test_round_trip_ceiling(self, spark, fact, name):
        build, ceiling = BUILDS[name]
        build(fact)  # warm the session's caches (schema, functions)
        _, calls = count_jvm_calls(spark, lambda: build(fact))
        assert calls <= ceiling, f"{name}: {calls} py4j calls to build"

    @pytest.mark.parametrize("name", sorted(BUILDS))
    def test_build_runs_no_job(self, spark, fact, name):
        build, _ = BUILDS[name]
        out, jobs = count_jobs(spark, lambda: build(fact))
        assert jobs == 0
        assert out.collect()


# -- column-name hygiene ---------------------------------------------------------


#: plain name -> an awkward one: a backtick, a space, a dot, a leading
#: digit, the names of the internal sums
WEIRD = {
    "rid": "r.id",
    "key0": "k`ey",
    "grp": "1grp",
    "cat": "c a.t",
    "tstamp": "t`s.1",
    "val0": "n",
    "val1": "a b.c`d",
    "val2": "s1",
}


def _weird_name(name: str) -> str:
    for plain, weird in WEIRD.items():
        name = name.replace(plain, weird)
    return name


def _rows(df, rename=None):
    cols = [rename(c) for c in df.columns] if rename else df.columns
    out = []
    for r in df.collect():
        out.append(
            tuple(_weird_name(v) if rename and isinstance(v, str) else v for v in r)
        )
    return cols, sorted(out, key=repr)


def _select(t, *names):
    return t.select(*[F.col(_stats.q(c)) for c in names])


CALLS = {
    "frame.moments": lambda t, n: wt(t, "w")[[n["val0"], n["val1"], n["val2"]]]
    .describe(qs=(0.5,)),
    "frame.skew": lambda t, n: wt(t, "w")[[n["val0"], n["val1"]]].skew(),
    "frame.sum": lambda t, n: wt(t, "w")[[n["val0"], n["val2"]]].sum(min_count=3),
    "frame.gmean": lambda t, n: wt(t, "w")[[n["val1"]]].gmean(),
    "row.std": lambda t, n: wt(t, "w")[[n["val0"], n["val1"]]].row_std(),
    "groupby.agg_all": lambda t, n: wt(t, "w")[[n["key0"], n["val0"], n["val1"]]]
    .groupby(n["key0"], sort=True)
    .agg_all(["count", "mean", "var", "std", "sem", "min", "max", "kurt"]),
    "groupby.describe": lambda t, n: wt(t, "w")[[n["key0"], n["val1"]]]
    .groupby(n["key0"])
    .describe(),
    "groupby.salted": lambda t, n: wt(t, "w")[[n["key0"], n["val0"]]]
    .groupby(n["key0"])
    .agg_all_salted(["sum", "var"], salt_buckets=2, min_count=1),
    "groupby.zscore": lambda t, n: wt(t, "w")[[n["key0"], n["rid"], n["val2"]]]
    .groupby(n["key0"])
    .zscore(),
    "groupby.quantile": lambda t, n: wt(t, "w")[[n["key0"], n["val0"]]]
    .groupby(n["key0"])
    .quantile([0.25, 0.5]),
    "corr_cov": lambda t, n: wt(t, "w")[[n["val0"], n["val1"], n["val2"]]].corr_cov(),
    "groupby.corr": lambda t, n: wt(t, "w")[[n["key0"], n["val0"], n["val1"]]]
    .groupby(n["key0"])
    .corr(),
    "resample.var": lambda t, n: wt(_select(t, n["tstamp"], n["val0"], "w"), "w")
    .resample("1D", on=n["tstamp"])
    .agg_all(["mean", "var"]),
    "rolling.mean": lambda t, n: wt(_select(t, n["key0"], n["rid"], n["val1"], "w"), "w")
    .rolling(3, order_by=[n["rid"]], partition_by=[n["key0"]], min_periods=1)
    .agg_all(["mean", "std"]),
    "rolling.corr": lambda t, n: wt(t, "w")
    .rolling(4, order_by=[n["rid"]], partition_by=[n["key0"]])
    .corr(n["val0"], n["val1"], min_periods=2),
    "ttest": lambda t, n: wt(t, "w").ttest(n["val0"], n["grp"], 1, 2, by=[n["key0"]]),
    "chi2": lambda t, n: wt(t, "w").chi2(n["key0"], n["cat"]),
    "pivot": lambda t, n: wt(t, "w")[[n["key0"], n["cat"], n["val2"]]]
    .groupby(n["key0"])
    .pivot(n["cat"], values=[n["val2"]], stats=["mean", "count"]),
    "crosstab": lambda t, n: wt(t, "w")
    .groupby(n["key0"])
    .crosstab(n["cat"], margins=True, normalize="index"),
    # the rank and count paths, keyed on the dotted ``c a.t``
    "groupby.impute_median": lambda t, n: wt(t, "w")[[n["cat"], n["val0"], n["val1"]]]
    .groupby(n["cat"])
    .impute("median"),
    "groupby.mad": lambda t, n: wt(t, "w")[[n["cat"], n["val0"], n["val1"]]]
    .groupby(n["cat"])
    .mad(),
    "groupby.cdf": lambda t, n: wt(t, "w")[[n["cat"], n["val1"], n["val2"]]]
    .groupby(n["cat"])
    .cdf(),
    "groupby.qcut": lambda t, n: wt(t, "w").groupby(n["cat"]).qcut(n["val1"], 3),
    "groupby.winsorize": lambda t, n: wt(t, "w")[[n["cat"], n["val1"]]]
    .groupby(n["cat"])
    .winsorize(lower=0.1, upper=0.9),
    "groupby.robust_zscore": lambda t, n: wt(t, "w")[[n["cat"], n["val1"]]]
    .groupby(n["cat"])
    .robust_zscore(),
    "groupby.value_counts": lambda t, n: wt(t, "w")[[n["cat"], n["grp"]]]
    .groupby(n["cat"])
    .value_counts(k=1, normalize=True),
    "groupby.mode": lambda t, n: wt(t, "w")[[n["cat"], n["val1"]]]
    .groupby(n["cat"])
    .mode(),
    "groupby.nth": lambda t, n: wt(t, "w").groupby(n["cat"]).nth(1, order_by=[n["rid"]]),
    "frame.mad": lambda t, n: wt(t, "w")[[n["val0"], n["val1"]]].mad(),
    "frame.cdf": lambda t, n: wt(t, "w").cdf(subset=[n["val1"], n["val2"]]),
    "frame.qcut": lambda t, n: wt(t, "w").qcut(n["val1"], 4),
    "series.value_counts": lambda t, n: wt(t, "w")[n["val1"]].value_counts(),
    "series.mode": lambda t, n: wt(t, "w")[n["val1"]].mode(),
    "series.histogram": lambda t, n: wt(t, "w")[n["val1"]].histogram(0.0, 4.5, 9),
    # the resample origin probes and the empty-bucket spine
    "resample.probe": lambda t, n: wt(_select(t, n["tstamp"], n["val0"], "w"), "w")
    .resample("7h", on=n["tstamp"])
    .mean(),
    "resample.calendar": lambda t, n: wt(_select(t, n["tstamp"], n["val0"], "w"), "w")
    .resample("MS", on=n["tstamp"])
    .count(complete=True),
}


class TestColumnNameHygiene:
    """Each statistic over awkward names equals the same data under
    plain names, output names renamed the same way."""

    @pytest.mark.parametrize("call", sorted(CALLS))
    def test_same_numbers_under_awkward_names(self, fact, call):
        plain = {c: c for c in WEIRD}
        weird = fact.toDF(*[WEIRD.get(c, c) for c in fact.columns])
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            want_cols, want = _rows(CALLS[call](fact, plain), rename=_weird_name)
            got_cols, got = _rows(CALLS[call](weird, WEIRD))
        assert got_cols == want_cols
        assert got == want


class TestTextPrimitives:
    def test_quoting_and_literals(self):
        assert _stats.q("a`b") == "`a``b`"
        assert _stats.num(1) == "1.0D"
        assert _stats.num(None) == "CAST(NULL AS DOUBLE)"
        assert _stats.num(float("inf")) == "double('inf')"
        assert _stats.lit("it's \\ ok") == "'it\\'s \\\\ ok'"
        assert _stats.lit(None) == "NULL"
        assert _stats.lit(True) == "true"
        with pytest.raises(TypeError, match="no SQL literal"):
            _stats.lit(object())

    def test_literals_parse_to_the_column_api_values(self, spark):
        import numpy as np

        vals = [None, True, 7, 2**40, -1.5, "it's \\ 'q'", dt.date(2024, 2, 29)]
        vals += [np.int64(3), np.int32(-2), np.int16(5), np.int8(-1)]
        vals += [np.float64(0.25), np.float32(1.5), np.bool_(True)]
        got = spark.range(1).selectExpr(
            *[f"{_stats.lit(v)} AS c{i}" for i, v in enumerate(vals)]
        )
        want = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(vals)])
        assert got.schema == want.schema
        assert got.collect() == want.collect()

    def test_sql_of_columns(self):
        assert _stats.sql(F.col("a.b")) == "`a`.`b`"
        assert _stats.sql(F.col("`a.b`")) == "`a.b`"
        assert _stats.sql(F.expr("x + 1")) == "(x + 1)"
        assert _stats.sql(F.col("x").desc()) == "`x` DESC NULLS LAST"
        with pytest.raises(TypeError, match="cannot render"):
            _stats.sql(F.col("x") + 1)
