"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, compared against DuckDB at sf0.01 (row count + schema +
order-insensitive value hash). Column names are aliased identically on
both sides (driver sorts columns by name before hashing).

NULL-semantics note: both sides express missing as NULL (Spark
``try_divide`` ↔ DuckDB ``/0 → NULL``); no NaN can appear in any result.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_weights_spark import wt
from pandas_weights_spark.sources import fan_out, load_table

SF001 = "/root/testdata/sf0.001"


def _li(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: quantity-weighted average price per return flag
    (SURVEY.md §7 minimum end-to-end slice)."""
    wdf = wt(_li(spark, SF001), "l_quantity")
    return wdf.groupby("l_returnflag", sort=True).mean()


# --------------------------------------------------------------------------
# queries: name -> callable(spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------

# Oracle building blocks (FIXTURES.md §B): weighted count / sum / mean / var
# as plain SQL over the same parquet, NULL-safe, matching reference
# semantics (ddof subtracted from the *weighted* count).
_W = "l_quantity"


def _q_global_stats(spark, sf_dir):
    # whole-frame weighted sum / mean / var / std in one driver row
    # (reference frame.py:215-251) — each stat is a one-row aggregate;
    # the crossJoins only zip three scalar rows on the driver side.
    wdf = wt(_li(spark, sf_dir), _W)
    s = wdf.sum(subset=["l_extendedprice", "l_discount", "l_tax"]).select(
        F.col("l_extendedprice").alias("sum_price"),
        F.col("l_discount").alias("sum_disc"),
        F.col("l_tax").alias("sum_tax"),
    )
    m = wdf.mean(subset=["l_extendedprice", "l_discount"]).select(
        F.col("l_extendedprice").alias("mean_price"),
        F.col("l_discount").alias("mean_disc"),
    )
    v = wdf.var(subset=["l_extendedprice"]).select(
        F.col("l_extendedprice").alias("var_price")
    )
    d = wdf.std(subset=["l_extendedprice"]).select(
        F.col("l_extendedprice").alias("std_price")
    )
    e = wdf.sem(subset=["l_extendedprice"]).select(
        F.col("l_extendedprice").alias("sem_price")
    )
    # r5: geometric/harmonic means ride the same row (positive-domain
    # masks; ROUND 6 absorbs the ln/exp libm ulps)
    gm = wdf.gmean(subset=["l_extendedprice"]).select(
        F.round(F.col("l_extendedprice"), 6).alias("gmean_price")
    )
    hm = wdf.hmean(subset=["l_extendedprice"]).select(
        F.round(F.col("l_extendedprice"), 6).alias("hmean_price")
    )
    return (
        s.crossJoin(m).crossJoin(v).crossJoin(d).crossJoin(e)
        .crossJoin(gm).crossJoin(hm)
    )


def _q_null_semantics(spark, sf_dir):
    # NA-channel semantics in one row: skipna count on a derived
    # NULL-bearing column (price NULL where tax==0 — raw testdata has no
    # NULLs), plus min_count: satisfied on a real column, NULL on an
    # all-NULL column (reference tests/test_frame.py:80-87).
    df = (
        _li(spark, sf_dir)
        .withColumn(
            "price_n", F.when(F.col("l_tax") > 0, F.col("l_extendedprice"))
        )
        .withColumn("all_null", F.lit(None).cast("double"))
    )
    wdf = wt(df, _W)
    a = wdf.count(subset=["price_n"]).select(F.col("price_n").alias("cnt_skipna"))
    b = wdf.count(skipna=False, subset=["price_n"]).select(
        F.col("price_n").alias("cnt_noskip")
    )
    c = wdf.sum(min_count=1, subset=["l_extendedprice", "all_null"]).select(
        F.col("l_extendedprice").alias("sum_price"),
        F.col("all_null").alias("sum_none"),
    )
    return a.crossJoin(b).crossJoin(c)


def _q_group_mean(spark, sf_dir):
    return (
        wt(_li(spark, sf_dir), _W)
        .groupby("l_returnflag", "l_linestatus")[["l_extendedprice", "l_discount"]]
        .mean()
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("l_extendedprice").alias("mean_price"),
            F.col("l_discount").alias("mean_disc"),
        )
    )


def _q_group_var(spark, sf_dir):
    # TWO aggregation paths in one tagged union (folded from r2's
    # group_var + group_var_salted to free a driver row — coverage
    # unchanged): `exact` is the single-stage agg_all pass with raw
    # bit-exact sums; `salted` is the skew-salted two-stage path
    # (groupby.agg_all_salted, hot keys spread over 16 reducers).
    # Salted cells are rounded to 4 — the moment-merge summation order
    # differs from the single-stage plan, so bit-exactness is not
    # expected there; mean/std (~1e4) at 4 decimals is ~1e9x the
    # worst-case order-of-summation noise. Raw sums (~1e10) stay on the
    # exact path only.
    exact = (
        wt(_li(spark, sf_dir), _W)
        .groupby("l_returnflag")[["l_extendedprice"]]
        .agg_all(["count", "sum", "mean", "var", "std"])
        .select(
            F.lit("exact").alias("path"),
            "l_returnflag",
            F.col("l_extendedprice_count").alias("w_count"),
            F.col("l_extendedprice_sum").alias("w_sum"),
            F.col("l_extendedprice_mean").alias("w_mean"),
            F.col("l_extendedprice_var").alias("w_var"),
            F.col("l_extendedprice_std").alias("w_std"),
        )
    )
    salted = (
        wt(_li(spark, sf_dir), _W)
        .groupby("l_returnflag")[["l_extendedprice"]]
        .agg_all_salted(["count", "mean", "std"], salt_buckets=16)
        .select(
            F.lit("salted").alias("path"),
            "l_returnflag",
            F.round(F.col("l_extendedprice_count"), 4).alias("w_count"),
            F.lit(None).cast("double").alias("w_sum"),
            F.round(F.col("l_extendedprice_mean"), 4).alias("w_mean"),
            F.lit(None).cast("double").alias("w_var"),
            F.round(F.col("l_extendedprice_std"), 4).alias("w_std"),
        )
    )
    return exact.unionByName(salted)


def _q_group_mode(spark, sf_dir):
    # folded into group_mad's tagged rows for the driver gate; kept
    # standalone for the bench's per-operator timing
    return (
        wt(_li(spark, sf_dir), _W)
        .groupby("l_returnflag")[["l_linenumber"]]
        .mode()
        .select("l_returnflag", "l_linenumber", F.col("count").alias("mass"))
    )


def _q_group_mean_customer(spark, sf_dir):
    # weights with sign variety (c_acctbal can be negative)
    cust = load_table(spark, sf_dir, "customer")
    return (
        wt(cust, "c_acctbal")
        .groupby("c_mktsegment")[["c_custkey"]]
        .agg_all(["count", "sum"])
        .select(
            "c_mktsegment",
            F.col("c_custkey_count").alias("w_count"),
            F.col("c_custkey_sum").alias("w_sum"),
        )
    )


def _q_resample_2d(spark, sf_dir):
    # 2-day tumbling buckets on l_shipdate, origin=start_day (pandas
    # parity), both interval closures — closed/label "left" ([lo, hi),
    # default) and "right" ((lo, hi] labeled by the upper edge, 1µs
    # pre-shift + label shift, resample.py) — in ONE scan: each row
    # explodes to its two (edge, bucket) labels and a single tagged
    # groupBy aggregates both closures (resample.agg_all and weighted
    # groupby share the same _KERNELS, so values are identical to the
    # per-closure passes the query previously unioned).
    wdf = wt(_li(spark, sf_dir), _W)[["l_extendedprice", "l_discount"]]
    buckets = [
        F.struct(
            F.lit(edge).alias("edge"),
            wdf.resample("2D", on="l_shipdate", closed=edge, label=edge)
            .bucket()
            .alias("bucket"),
        )
        for edge in ("left", "right")
    ]
    tagged = (
        wdf.df.where(F.col("l_shipdate").isNotNull())
        .select(
            F.explode(F.array(*buckets)).alias("eb"),
            "l_extendedprice",
            "l_discount",
            F.col(_W).alias("__w__"),
        )
        .select("eb.edge", "eb.bucket", "l_extendedprice", "l_discount", "__w__")
    )
    return (
        wt(tagged, "__w__")[["l_extendedprice", "l_discount"]]
        .groupby("edge", "bucket")
        .agg_all(["sum", "mean"])
        .select(
            "edge",
            "bucket",
            F.col("l_extendedprice_sum").alias("sum_price"),
            F.col("l_extendedprice_mean").alias("mean_price"),
            F.col("l_discount_sum").alias("sum_disc"),
        )
    )


def _q_resample_rules(spark, sf_dir):
    # both resample rule KINDS in one tagged union (folded from r2's
    # resample_6h_events + resample_3m to free a driver row — coverage
    # unchanged): a fixed-frequency 6-hour rule over events, and the
    # multi-period calendar rule "3ME" (month-index arithmetic, end
    # anchored on the first timestamp's month, pandas semantics,
    # resample.py bucket()) over lineitem (~7 years -> ~28 quarterly
    # buckets). The oracle mirrors the ceil arithmetic.
    ev = load_table(spark, sf_dir, "events")
    wexpr = (F.col("user_id") % 7 + 1).cast("double")
    fixed = (
        wt(ev, wexpr)[["value"]]
        .resample("6H", on="ts")
        .agg_all(["count", "sum", "mean"])
        .select(
            F.lit("6H").alias("rule"),
            F.col("ts").alias("bucket"),
            F.col("value_count").alias("w_count"),
            F.col("value_sum").alias("w_sum"),
            F.col("value_mean").alias("w_mean"),
        )
    )
    cal = (
        wt(_li(spark, sf_dir), _W)[["l_extendedprice"]]
        .resample("3ME", on="l_shipdate")
        .agg_all(["count", "sum", "mean"])
        .select(
            F.lit("3ME").alias("rule"),
            F.col("l_shipdate").alias("bucket"),
            F.col("l_extendedprice_count").alias("w_count"),
            F.col("l_extendedprice_sum").alias("w_sum"),
            F.col("l_extendedprice_mean").alias("w_mean"),
        )
    )
    # hypertable rollup rows (new in r3): epoch-aligned 6H level scanned
    # once, the 1D level DERIVED from the 6H moment sums (associative
    # rollup, resample.hypertable_rollup). Counts are integer-mass
    # exact; means round to 2 — the rollup's partial-then-total
    # summation order differs from the oracle's direct pass, so
    # bit-exactness is not expected for the float means. w_sum rides as
    # NULL (raw sums at ~1e6 would need coarser rounding than the
    # column's exact rows deserve).
    from pandas_weights_spark.resample import hypertable_rollup

    roll = hypertable_rollup(
        ev, wexpr, on="ts", rules=["6H", "1D"],
        stats=("count", "mean"), value_cols=["value"],
    ).select(
        F.concat(F.lit("roll:"), F.col("grain")).alias("rule"),
        F.col("bucket"),
        F.col("value_count").alias("w_count"),
        F.lit(None).cast("double").alias("w_sum"),
        F.round(F.col("value_mean"), 2).alias("w_mean"),
    )
    # r4: complete=True spine rows — day-of-month filter guarantees gap
    # days, which must surface as buckets with NULL statistics (the
    # generated-spine left join, resample._complete)
    ev_gap = ev.where(F.dayofmonth(F.col("ts")) % 3 == 0)
    cmp = (
        wt(ev_gap, wexpr)[["value"]]
        .resample("1D", on="ts")
        .agg_all(["count", "sum", "mean"], complete=True)
        .select(
            F.lit("cmp:1D").alias("rule"),
            F.col("ts").alias("bucket"),
            F.col("value_count").alias("w_count"),
            F.col("value_sum").alias("w_sum"),
            F.col("value_mean").alias("w_mean"),
        )
    )
    # r4: upsampling fills over the same gap-filtered 1D spine —
    # ffill carries the last bucket mean forward, interpolate fills
    # linearly by bucket time (resample.fill_gaps; pandas
    # resample().ffill()/.interpolate() semantics, differential-tested)
    from pandas_weights_spark.resample import fill_gaps

    base = (
        wt(ev_gap, wexpr)[["value"]]
        .resample("1D", on="ts")
        .agg_all(["mean"], complete=True)
    )

    def _fill_rows(method, tag):
        return fill_gaps(base, "ts", method).select(
            F.lit(tag).alias("rule"),
            F.col("ts").alias("bucket"),
            F.lit(None).cast("double").alias("w_count"),
            F.lit(None).cast("double").alias("w_sum"),
            F.col("value_mean").alias("w_mean"),
        )

    out = fixed.unionByName(cal).unionByName(roll).unionByName(cmp)
    out = out.unionByName(_fill_rows("ffill", "fill:ff")).unionByName(
        _fill_rows("interpolate", "fill:li")
    )
    # r4: additive seasonal decomposition of the 6H weighted-mean
    # series, period 4 (= the diurnal cycle in 6-hour buckets) —
    # resample.seasonal_decompose (2xMA trend, centered phase means)
    from pandas_weights_spark.resample import seasonal_decompose

    series = (
        wt(ev, wexpr)[["value"]]
        .resample("6H", on="ts")
        .mean(complete=True)
    )
    dec = seasonal_decompose(series, "ts", "value", 4)
    dec_rows = dec.select(
        F.col("ts").alias("bucket"),
        F.expr(
            "stack(3, 'dec:trend', trend, 'dec:seas', seasonal, "
            "'dec:resid', resid) AS (rule, w_mean)"
        ),
    ).select(
        "rule", "bucket",
        F.lit(None).cast("double").alias("w_count"),
        F.lit(None).cast("double").alias("w_sum"),
        F.round(F.col("w_mean"), 6).alias("w_mean"),
    )
    return out.unionByName(dec_rows)


def _corr_pair_df(spark, sf_dir):
    # pairwise-complete mask really exercised: discount NULLed where
    # tax<0.02. r7: corr_pair computes ONLY this cell's 7 moments —
    # bit-identical to the filtered 2-column matrix it replaced (same
    # moment expressions + kernel; the matrix path stays covered by
    # corr_cov_matrix / group_corr) but ~3x less aggregate work.
    from pandas_weights_spark.corr import corr_pair

    df = _li(spark, sf_dir).withColumn(
        "disc_n", F.when(F.col("l_tax") >= 0.02, F.col("l_discount"))
    )
    wdf = wt(df, _W)
    return corr_pair(wdf, "l_extendedprice", "disc_n").select(
        F.round(F.col("corr"), 6).alias("corr")
    )


def _q_corr_cov_matrix(spark, sf_dir):
    # weighted correlation matrix (reference frame.py:253-285) and the
    # covariance-matrix extension, FUSED: the cov moments are a subset of
    # corr's, so both stats come out of ONE aggregate pass over the pair
    # moments (corr.py pair_matrix) — one scan, no join.
    wdf = wt(_li(spark, sf_dir), _W)
    cols = ["l_extendedprice", "l_discount", "l_tax"]
    return wdf.corr_cov(subset=cols).select(
        "col_x",
        "col_y",
        F.round(F.col("corr"), 6).alias("corr"),
        F.round(F.col("cov"), 6).alias("cov"),
    )


def _q_group_skew_kurt(spark, sf_dir):
    # weighted skewness/kurtosis fused with mean in ONE aggregate pass
    # (agg_all) — higher-moment extension beyond the reference
    out = (
        wt(_li(spark, sf_dir), _W)
        .groupby("l_returnflag")[["l_extendedprice"]]
        .agg_all(["skew", "kurt"])
    )
    return out.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice_skew"), 6).alias("skew"),
        F.round(F.col("l_extendedprice_kurt"), 6).alias("kurt"),
    )


def _q_value_counts(spark, sf_dir):
    # TWO mass-per-bucket kernels in one tagged union (folded from r3's
    # value_counts + histogram to free a driver row — coverage
    # unchanged): `vc` is weight-mass per distinct value (weighted
    # value_counts); `hist` is the fixed-width weighted histogram
    # (explicit bounds, single agg pass), its integer bin rendered as
    # the shared label column and its bin lower bound kept numeric.
    from pandas_weights_spark.frame import WeightedSeries

    li = _li(spark, sf_dir)
    vc = (
        WeightedSeries(li, "l_returnflag", F.col("l_quantity"))
        .value_counts(sort=False)
        .select(
            F.lit("vc").alias("kind"),
            F.col("l_returnflag").alias("label"),
            F.lit(None).cast("double").alias("bin_lo"),
            F.col("count").alias("mass"),
        )
    )
    hist = (
        WeightedSeries(li, "l_extendedprice", F.col("l_quantity"))
        .histogram(0.0, 60000.0, 12)
        .select(
            F.lit("hist").alias("kind"),
            F.col("bin").cast("string").alias("label"),
            F.col("bin_lo"),
            F.col("count").alias("mass"),
        )
    )
    # r5: GROUPED value_counts top-k rides along (groupby.value_counts
    # — one (keys, value) hash aggregate + partitioned top-k on the
    # aggregated table): top-3 heaviest quantities per returnflag with
    # group-mass shares; integral masses, one division
    gvc = (
        wt(li, _W)[["l_linenumber"]]
        .groupby("l_returnflag")
        .value_counts(k=3, normalize=True)
        .select(
            F.lit("gvc").alias("kind"),
            F.concat_ws(
                "|", "l_returnflag",
                F.col("l_linenumber").cast("long").cast("string"),
            ).alias("label"),
            F.col("share").alias("bin_lo"),
            F.col("count").alias("mass"),
        )
    )
    return vc.unionByName(hist).unionByName(gvc)


def _q_group_corr(spark, sf_dir):
    return (
        wt(_li(spark, sf_dir), _W)[
            ["l_returnflag", "l_extendedprice", "l_discount"]
        ]
        .groupby("l_returnflag")
        .corr()
        .where(F.col("col_x") < F.col("col_y"))
        .select(
            "l_returnflag", "col_x", "col_y",
            F.round(F.col("corr"), 6).alias("corr"),
        )
    )


def _q_spearman_corr(spark, sf_dir):
    # weighted Spearman per return flag: average-tie ranks over the
    # pairwise-complete mask (distinct-value cumulative counts joined
    # back), then the weighted Pearson kernel on ranks (corr.py:
    # spearman_corr). Ranks are half-integers and weights integral, so
    # the moment sums are exact and the oracle matches bit-for-bit
    # before the ROUND.
    from pandas_weights_spark.corr import spearman_corr

    out = spearman_corr(
        wt(_li(spark, sf_dir), _W),
        "l_extendedprice",
        "l_discount",
        by=["l_returnflag"],
    )
    sp = out.select(
        F.lit("spearman").alias("kind"), "l_returnflag",
        F.round(F.col("corr"), 6).alias("corr"),
    )
    # r5: the k-column Spearman MATRIX (corr.spearman_matrix —
    # listwise-complete ranks, one grouping-sets band pass, one fused
    # moment aggregate) rides the same query: 9 tagged rows with the
    # pair names in the key slot
    from pandas_weights_spark.corr import spearman_matrix

    mat = spearman_matrix(
        wt(_li(spark, sf_dir), _W),
        subset=["l_extendedprice", "l_discount", "l_tax"],
    ).select(
        F.lit("mat").alias("kind"),
        F.concat_ws("|", "col_x", "col_y").alias("l_returnflag"),
        F.round(F.col("corr"), 6).alias("corr"),
    )
    # r4: weighted autocorrelation folded in (corr.weighted_autocorr):
    # lag-1 and lag-3 self-correlation of the price along the total
    # shipdate order, pair weighted by the current row's quantity. ONE
    # WindowExec for both lags + one fused moment aggregate.
    acf = wt(_li(spark, sf_dir), _W).autocorr(
        "l_extendedprice", lags=[1, 3],
        order_by=["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"],
        by=["l_returnflag"],
    ).select(
        F.concat(F.lit("acf:"), F.col("lag").cast("string")).alias("kind"),
        "l_returnflag",
        F.round(F.col("corr"), 6).alias("corr"),
    )
    return sp.unionByName(acf).unionByName(mat)


def _q_aligned_corr_cov(spark, sf_dir):
    # orders.o_totalprice vs customer.c_acctbal aligned on custkey,
    # weighted by a derived orders-side weight, per order status
    # (reference series.py:222-247 corr-with-other, plus the cov analog);
    # corr and cov share ONE alignment join + aggregate (aligned_corr_cov).
    from pandas_weights_spark.corr import aligned_corr_cov

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    left = wt(orders, (F.col("o_orderkey") % 10 + 1).cast("double")).df
    aligned = aligned_corr_cov(
        left, "o_totalprice", cust, "c_acctbal",
        on="o_custkey", by=["o_orderstatus"],
    ).select(
        "o_orderstatus",
        F.round(F.col("corr"), 6).alias("corr"),
        F.round(F.col("cov"), 4).alias("cov"),
    )
    # r2's standalone corr_pair row folded in (frees a driver row,
    # coverage unchanged): the global pairwise-complete lineitem corr
    # rides along as a tagged row with NULL cov.
    pair = _corr_pair_df(spark, sf_dir).select(
        F.lit("pairwise_global").alias("o_orderstatus"),
        F.col("corr"),
        F.lit(None).cast("double").alias("cov"),
    )
    return aligned.unionByName(pair)


def _q_grouping_sets(spark, sf_dir):
    # grouping-set paths in one tagged union: CUBE and ROLLUP over
    # (returnflag, linestatus), weighted sum + mean each — one Expand +
    # single agg pass per mode, no extra shuffle.
    wdf = wt(_li(spark, sf_dir), _W)
    parts = []
    for mode in ("cube", "rollup"):
        g = getattr(wdf, mode)("l_returnflag", "l_linestatus")
        parts.append(
            g[["l_extendedprice"]]
            .agg_all(["sum", "mean"])
            .select(
                F.lit(mode).alias("mode"),
                "l_returnflag", "l_linestatus",
                F.col("l_extendedprice_sum").alias("w_sum"),
                F.col("l_extendedprice_mean").alias("w_mean"),
            )
        )
    return parts[0].unionByName(parts[1])


def _q_group_quantile_binned(spark, sf_dir):
    # approximate weighted quantile via fixed binning — the 100 TB path:
    # shuffle volume is groups x bins, not rows; error <= (hi-lo)/bins.
    # l_quantity weights are integral doubles, so bucket masses are exact
    # and the check is value-exact despite the two-stage summation.
    from pandas_weights_spark.quantile import weighted_quantiles_binned

    out = weighted_quantiles_binned(
        wt(_li(spark, sf_dir), _W),
        [0.5, 0.9],
        lo=0.0, hi=60000.0, bins=1024,
        subset=["l_extendedprice"], keys=["l_returnflag"],
    )
    return out.select(
        "l_returnflag",
        F.col("l_extendedprice_p50").alias("price_p50"),
        F.col("l_extendedprice_p90").alias("price_p90"),
    )


def _q_group_zscore(spark, sf_dir):
    # THREE per-row transforms in one driver row (r4 fold: the old
    # standalone row_stats row retired to free a slot; winsorize is
    # new): group z-score (moment agg + AQE-broadcast join-back),
    # winsorize at the group's weighted [5%, 95%] quantile bounds
    # (bounds are data values selected by exact integer-mass
    # comparisons, clip is least/greatest -> bit-exact, no rounding),
    # and axis=1 weighted row std (pure row-local). Only z rounds
    # (division + sqrt).
    li = _li(spark, sf_dir).withColumn(
        "price_n", F.when(F.col("l_tax") > 0, F.col("l_extendedprice"))
    )
    z = wt(li, _W).groupby("l_returnflag")[["l_extendedprice"]].zscore()
    wz = wt(z, _W).groupby("l_returnflag").winsorize(
        ["l_extendedprice"], lower=0.05, upper=0.95
    )
    # r5: weighted-mean imputation of the NULL-bearing derived column
    # rides the same chain (groupby.impute — zscore's agg+join-back
    # shape with a coalesce instead of a standardization)
    im = wt(wz, _W)[["price_n"]].groupby("l_returnflag").impute()
    rs = wt(im, _W).row_std(
        subset=["l_extendedprice", "l_discount", "l_tax"]
    )
    return rs.select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("l_extendedprice_z"), 6).alias("z"),
        F.col("l_extendedprice_wins").alias("wins"),
        F.round(F.col("price_n_imp"), 6).alias("imp"),
        "l_extendedprice", "l_discount", "l_tax", "row_std",
    )


def _q_group_mad(spark, sf_dir):
    # robust spread: weighted median of |x - weighted median(x)| per
    # group, in BOTH modes — exact (inverted-CDF windows) and binned
    # (the 100 TB path: two groups x bins aggregates; integral weights
    # make bucket masses exact, so the check is value-exact).
    def g():
        return wt(_li(spark, sf_dir), _W).groupby("l_returnflag")[
            ["l_extendedprice"]
        ]

    exact = g().mad().select(
        F.lit("mad:exact").alias("kind"),
        "l_returnflag",
        F.col("l_extendedprice").alias("val"),
    )
    binned = g().mad(exact=False, lo=0.0, hi=60000.0, bins=1024).select(
        F.lit("mad:binned").alias("kind"),
        "l_returnflag",
        F.col("l_extendedprice").alias("val"),
    )
    # weighted mode folded in (freed a driver row for pivot_table —
    # coverage unchanged): the argmax value and its mass as two tagged
    # rows in the shared (kind, key, val) schema
    mode = (
        wt(_li(spark, sf_dir), _W)
        .groupby("l_returnflag")[["l_linenumber"]]
        .mode()
    )
    mode_rows = mode.select(
        "l_returnflag",
        F.explode(
            F.array(
                F.struct(
                    F.lit("mode:value").alias("kind"),
                    F.col("l_linenumber").cast("double").alias("val"),
                ),
                F.struct(
                    F.lit("mode:mass").alias("kind"),
                    F.col("count").alias("val"),
                ),
            )
        ).alias("p"),
    ).select("p.kind", "l_returnflag", F.col("p.val").alias("val"))
    # r4: ordered picks folded in (ONE min_by/max_by aggregate each, no
    # window) — first/last non-NULL price along the total shipdate
    # order; picks are data values, exact
    ordering = ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"]
    fl = wt(_li(spark, sf_dir), _W).groupby("l_returnflag")
    first_rows = fl.first(order_by=ordering).select(
        F.lit("first:price").alias("kind"), "l_returnflag",
        F.col("l_extendedprice").alias("val"),
    )
    last_rows = fl.last(order_by=ordering).select(
        F.lit("last:price").alias("kind"), "l_returnflag",
        F.col("l_extendedprice").alias("val"),
    )
    return (
        exact.unionByName(binned).unionByName(mode_rows)
        .unionByName(first_rows).unionByName(last_rows)
    )


def _q_group_quantile(spark, sf_dir):
    # full weighted describe() per group: the five moment/extremum stats
    # fuse into one aggregate pass (agg_all), the median/p90 ride the
    # inverted-CDF window (quantile.py), joined on the key — exercises
    # the describe surface end-to-end under the oracle
    return (
        wt(_li(spark, sf_dir), _W)
        .groupby("l_returnflag")[["l_extendedprice"]]
        .describe(qs=[0.5, 0.9])
        .select(
            "l_returnflag",
            F.col("l_extendedprice_count").alias("w_count"),
            F.col("l_extendedprice_mean").alias("w_mean"),
            F.col("l_extendedprice_std").alias("w_std"),
            F.col("l_extendedprice_min").alias("x_min"),
            F.col("l_extendedprice_p50").alias("price_p50"),
            F.col("l_extendedprice_p90").alias("price_p90"),
            F.col("l_extendedprice_max").alias("x_max"),
        )
    )


def _q_weighted_sample(spark, sf_dir):
    # TWO πps designs in one tagged union (folded from r3's
    # weighted_sample + poisson_sample to free a driver row — coverage
    # unchanged): `pips` is sequential Poisson sampling (deterministic
    # md5 uniform / weight, TakeOrdered top-n); `poisson` is Poisson
    # πps (include with prob min(1, n*w/Σw) — pure map after a 1-row
    # total; Σ l_quantity is an exact integral double). Both oracles
    # mirror the hash arithmetic term-for-term, so the selected sets
    # are bit-identical.
    from pandas_weights_spark.sample import (
        poisson_sample,
        stratified_sample,
        weighted_sample,
    )

    def _norm(df, method):
        # unified tagged schema across designs/tables:
        # (method, key long, sub string, w double)
        k, s, wcol = {
            "pips": ("l_orderkey", "l_linenumber", "l_quantity"),
            "poisson": ("l_orderkey", "l_linenumber", "l_quantity"),
            "strat": ("o_orderkey", "o_orderstatus", "o_totalprice"),
        }[method]
        return df.select(
            F.lit(method).alias("method"),
            F.col(k).cast("long").alias("key"),
            F.col(s).cast("string").alias("sub"),
            F.col(wcol).cast("double").alias("w"),
        )

    pips = _norm(
        weighted_sample(
            _li(spark, sf_dir), F.col("l_quantity"), 1000,
            ["l_orderkey", "l_linenumber"], seed=42,
        ),
        "pips",
    )
    pois = _norm(
        poisson_sample(
            _li(spark, sf_dir), F.col("l_quantity"), 500,
            ["l_orderkey", "l_linenumber"], seed=42,
        ),
        "poisson",
    )
    # r4 fold: the standalone stratified_sample row retired to free a
    # driver slot (bench still times it standalone) — same selected
    # set, tagged `strat`
    strat = _norm(
        stratified_sample(
            load_table(spark, sf_dir, "orders"), F.col("o_totalprice"), 200,
            by=["o_orderstatus"], key_cols=["o_orderkey"], seed=42,
        ),
        "strat",
    )
    # r5: temperature-rebalanced sampling over the documents table
    # (sample.temperature_sample, α=0.5 over lang) — deterministic md5
    # uniform + closed-form per-group rates, so the selected set is
    # bit-identical in the oracle
    from pandas_weights_spark.sample import temperature_sample

    temp = temperature_sample(
        _docs(spark, sf_dir), "lang", 150, ["doc_id"],
        alpha=0.5, seed=42,
    ).select(
        F.lit("temp").alias("method"),
        F.col("doc_id").cast("long").alias("key"),
        F.col("lang").cast("string").alias("sub"),
        F.col("n_chars").cast("double").alias("w"),
    )
    return (
        pips.unionByName(pois).unionByName(strat).unionByName(temp)
    )


def _q_stratified_sample(spark, sf_dir):
    # per-stratum weighted quota (one window shuffle on the strata keys)
    from pandas_weights_spark.sample import stratified_sample

    orders = load_table(spark, sf_dir, "orders")
    return stratified_sample(
        orders, F.col("o_totalprice"), 200,
        by=["o_orderstatus"], key_cols=["o_orderkey"], seed=42,
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


def _q_hash_split(spark, sf_dir):
    # deterministic train/val/test assignment (pure map, no shuffle),
    # verified via per-split row count and character mass
    from pandas_weights_spark.sample import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(
            docs, {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"],
            seed=42,
        )
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


def _q_pack_sequences(spark, sf_dir):
    # concat-and-chunk token packing: md5-deterministic buckets, one
    # window shuffle; oracle mirrors the hash + running-sum arithmetic
    from pandas_weights_spark.functions.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, F.col("n_chars"), budget=4096, key_cols=["doc_id"],
        n_buckets=8, seed=42,
    ).select("doc_id", "bucket", "pack_id", "pack_offset", "tokens")


def _q_tfidf_top_terms(spark, sf_dir):
    # inverted-index TF-IDF, top-3 terms per document, all JVM built-ins
    from pandas_weights_spark.functions.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    tf = tfidf_top_terms(docs, "text", "doc_id", k=3).select(
        F.lit("tfidf").alias("kind"), "doc_id", "term",
        F.col("tfidf").alias("v1"),
        F.col("rank").cast("double").alias("v2"),
    )
    # r4 fold: top-50 corpus vocabulary with deterministic ids
    # (functions/vocab.py — n_chars-weighted masses exercise the
    # weight= path; ids rank by mass desc then term)
    from pandas_weights_spark.functions.vocab import build_vocabulary

    vocab = build_vocabulary(
        docs, "text", max_size=50, weight=F.col("n_chars").cast("double")
    ).select(
        F.lit("vocab").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        "term",
        F.col("mass").alias("v1"),
        F.col("term_id").cast("double").alias("v2"),
    )
    # r5 fold: the BPE per-round KERNEL (vocab.bpe_pair_counts over the
    # char-split word table, docs < 40) — top-40 adjacent-pair masses
    # with deterministic ranks. The iterative merge LOOP (train_bpe)
    # is data-dependent and not static-SQL-expressible; it is pinned by
    # the pure-Python differential in tests/test_bpe.py, while these
    # rows oracle-check the aggregate the loop runs every round.
    from pandas_weights_spark.functions.vocab import (
        bpe_pair_counts,
        bpe_word_table,
    )
    from pyspark.sql import Window as _W40

    wtab = bpe_word_table(docs.where(F.col("doc_id") < 40), "text")
    # TakeOrdered cut FIRST (per-partition heaps), then the rank window
    # runs over the 40-row result — never a global window on the full
    # pair table (plan-audit pinned)
    top40 = (
        bpe_pair_counts(wtab)
        .orderBy(F.col("freq").desc(), "left", "right")
        .limit(40)
    )
    rk = F.row_number().over(
        _W40.orderBy(F.col("freq").desc(), "left", "right")
    )
    bpe = top40.select(
        "left", "right", "freq", rk.alias("rk")
    ).select(
        F.lit("bpe").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.concat_ws(" ", "left", "right").alias("term"),
        F.col("freq").alias("v1"),
        F.col("rk").cast("double").alias("v2"),
    )
    # r6: the unigram-LM TOKENIZER seed kernel (vocab.unigram_seed_
    # table — capped word table → row-local substring fan-out → one
    # piece-mass aggregate): top-40 substring masses with
    # deterministic ranks. The EM/prune loop (train_unigram_lm) is
    # driver-side over capped tables and pinned by the enumeration
    # differential in tests/test_vocab.py; these rows oracle-check the
    # distributed aggregate that feeds it.
    from pandas_weights_spark.functions.vocab import unigram_seed_table

    usd40 = unigram_seed_table(
        docs.where(F.col("doc_id") < 40), "text",
        max_piece_len=4, seed_size=40,
    )
    urk = F.row_number().over(
        _W40.orderBy(F.col("mass").desc(), "piece")
    )
    usd = usd40.select("piece", "mass", urk.alias("rk")).select(
        F.lit("usd").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("piece").alias("term"),
        F.col("mass").alias("v1"),
        F.col("rk").cast("double").alias("v2"),
    )
    # r5 fold: CCNet-style unigram LM perplexity scores (text.unigram_
    # lm_score): top-5000 unweighted vocab over the whole corpus, docs
    # < 50 scored; the α-smoothed log-prob algebra is mirrored
    # term-for-term in SQL, ROUND 6 absorbs avg/exp ulps.
    from pandas_weights_spark.functions.text import unigram_lm_score

    lmvocab = build_vocabulary(docs, "text", max_size=5000)
    lm = unigram_lm_score(
        docs.where(F.col("doc_id") < 50), "text", "doc_id", lmvocab,
        alpha=0.5,
    ).select(
        F.lit("lm").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.round(F.col("logprob_mean"), 6).alias("v1"),
        F.round(F.col("ppl"), 6).alias("v2"),
    )
    # r6: interpolated BIGRAM LM rides along (text.bigram_lm_score —
    # capped corpus bigram table + marginals, broadcast joins, same
    # log/exp algebra one order up; ROUND 6 absorbs the ulps)
    from pandas_weights_spark.functions.text import (
        bigram_counts,
        bigram_lm_score,
    )

    bgt = bigram_counts(docs, "text", max_bigrams=5000)
    lm2 = bigram_lm_score(
        docs.where(F.col("doc_id") < 50), "text", "doc_id", lmvocab,
        bgt, alpha=0.5, interp=0.7,
    ).select(
        F.lit("lm2").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.round(F.col("logprob_mean"), 6).alias("v1"),
        F.round(F.col("ppl"), 6).alias("v2"),
    )
    # r7: interpolated TRIGRAM LM (text.trigram_lm_score — one more
    # order up the CCNet ladder: p(w3|w1w2) = 0.6·trigram +
    # 0.3·bigram + 0.1·unigram over capped tables with context
    # marginals; discriminates triples where the bigram order is
    # provably blind — pytest-pinned)
    from pandas_weights_spark.functions.text import (
        trigram_counts,
        trigram_lm_score,
    )

    tgt = trigram_counts(docs, "text", max_trigrams=5000)
    lm3 = trigram_lm_score(
        docs.where(F.col("doc_id") < 50), "text", "doc_id", lmvocab,
        bgt, tgt, alpha=0.5, lambda3=0.6, lambda2=0.3,
    ).select(
        F.lit("lm3").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.round(F.col("logprob_mean"), 6).alias("v1"),
        F.round(F.col("ppl"), 6).alias("v2"),
    )
    # r8: GENERAL-ORDER interpolated LM at KenLM order 5 (text.
    # ngram_lm_score over the NON-CONSECUTIVE order set {5, 2} — a
    # valid Jelinek-Mercer model; the fixed-order bigram/trigram
    # functions are parity-pinned specializations in pytest):
    # p = 0.5*p5 + (0.3*p2 + (1-(0.3+0.5))*p_uni), capped quintuple
    # table with w1..w4 context marginals, same smoothed floor.
    from pandas_weights_spark.functions.text import (
        ngram_counts,
        ngram_lm_score,
    )

    qgt = ngram_counts(docs, "text", 5, max_ngrams=5000)
    lm5 = ngram_lm_score(
        docs.where(F.col("doc_id") < 50), "text", "doc_id", lmvocab,
        {5: qgt, 2: bgt}, {5: 0.5, 2: 0.3}, alpha=0.5,
    ).select(
        F.lit("lm5").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.round(F.col("logprob_mean"), 6).alias("v1"),
        F.round(F.col("ppl"), 6).alias("v2"),
    )
    # r10: Kneser-Ney rows (text.ngram_lm_score smoothing='kn' at
    # orders {2,3} — the CCNet/KenLM smoother: discounted raw counts
    # at the top order, CONTINUATION counts below, alpha-pooled
    # continuation-unigram base; the oracle replays the fold
    # num3 + bw3*(num2 + bw2*base) with the same capped tables)
    lmkn = ngram_lm_score(
        docs.where(F.col("doc_id") < 50), "text", "doc_id", None,
        {2: bgt, 3: tgt}, None, alpha=0.5, smoothing="kn",
        discount=0.75,
    ).select(
        F.lit("lmkn").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.round(F.col("logprob_mean"), 6).alias("v1"),
        F.round(F.col("ppl"), 6).alias("v2"),
    )
    # r10: MODIFIED Kneser-Ney rows (smoothing='mkn' — KenLM's actual
    # default: count-bucketed D1/D2/D3+ discounts with the 3-term
    # backoff weight (D1·N1 + D2·N2 + D3·N3+)/c(ctx)).  Discounts are
    # EXPLICIT here because the tables are top-k capped (a cap cuts
    # the count-1 tail, so count-of-counts estimation would raise —
    # the documented at-scale usage is text.mkn_discounts on the
    # uncapped aggregation); distinct values per order catch any
    # cross-order wiring mistake.
    lmmkn = ngram_lm_score(
        docs.where(F.col("doc_id") < 50), "text", "doc_id", None,
        {2: bgt, 3: tgt}, None, alpha=0.5, smoothing="mkn",
        discounts={2: (0.4, 1.1, 1.9), 3: (0.5, 1.3, 2.2)},
    ).select(
        F.lit("lmmkn").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.round(F.col("logprob_mean"), 6).alias("v1"),
        F.round(F.col("ppl"), 6).alias("v2"),
    )
    return (
        tf.unionByName(vocab).unionByName(bpe).unionByName(usd)
        .unionByName(lm).unionByName(lm2).unionByName(lm3)
        .unionByName(lm5).unionByName(lmkn).unionByName(lmmkn)
    )


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _q_mixture_sample(spark, sf_dir):
    # r6: DoReMi-style static domain re-mixing (sample.mixture_
    # materialize): absolute mass targets per l_returnflag domain over
    # the l_quantity token proxy — A upsamples across epochs, N/R
    # thin. Fully deterministic (md5 uniform keyed on (orderkey,
    # linenumber, epoch)), so the oracle replays the whole
    # materialization row-for-row: per-domain mass agg → repeat factor
    # → epoch fan-out → hash filter. Quantities are integral doubles,
    # so the mass sums are summation-order-exact across engines.
    from pandas_weights_spark.sample import mixture_materialize

    li = _li(spark, sf_dir)
    out = mixture_materialize(
        li, "l_returnflag",
        {"A": 1_000_000.0, "N": 150_000.0, "R": 75_000.0},
        ["l_orderkey", "l_linenumber"],
        weight=F.col("l_quantity"),
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").alias("dom"),
        F.col("epoch").cast("long").alias("epoch"),
    )


def _q_quality_classifier(spark, sf_dir):
    # r6: hashed-feature logistic-regression quality classifier
    # (functions/classifier.py — the fastText/CCNet-style filter
    # trainer). The iteration-0 gradient kernel is exact algebra over
    # md5-hashed bucket counts — grad0[f] = Σ_docs (σ(0) − y)·count
    # with y = doc_id % 2 — so it gets oracle rows: top-40 features by
    # (|grad| desc, feature asc), the bucket ids replayed digit-for-
    # digit via the uniform_hash BIGINT digit sum. The GD loop and
    # scoring reuse these exact margins and are pinned by the numpy
    # differential in tests/test_classifier.py.
    from pyspark.sql import Window as _Wg

    from pandas_weights_spark.functions.classifier import (
        hashed_token_features,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    nf = 4096
    feats = docs.select(
        (F.col("doc_id") % 2).cast("double").alias("y"),
        F.explode(
            hashed_token_features(F.col("text"), n_features=nf)
        ).alias("feature"),
    )
    grad = feats.groupBy("feature").agg(
        F.sum(F.lit(0.5) - F.col("y")).alias("g")
    )
    # TakeOrdered cut FIRST, then the rank window over the 40-row
    # result (the bpe/usd plan shape — never a global window)
    top = grad.orderBy(
        F.abs(F.col("g")).desc(), F.col("feature")
    ).limit(40)
    rk = F.row_number().over(
        _Wg.orderBy(F.abs(F.col("g")).desc(), F.col("feature"))
    )
    return top.select(
        "feature",
        F.round(F.col("g"), 6).alias("grad"),
        rk.cast("long").alias("rk"),
    )


def _q_dsir_select(spark, sf_dir, portable=True):
    # r6: DSIR data selection (functions/dsir.py — Xie et al. 2023
    # importance resampling). Target = the src0/src1 slice of the
    # corpus; raw = everything. The whole chain is oracle-replayed:
    # md5 bucket counts (the classifier's digit-sum BIGINT mirror),
    # Laplace-smoothed log p_t/p_r per bucket (exact integer counts →
    # bit-exact IEEE algebra), per-doc log-importance (rounded 6 dp to
    # absorb sum-order ulps), then Gumbel top-60 WITHOUT replacement
    # on the md5 uniform — the selected SET, its rounded scores, and
    # the rounded Gumbel keys must all match DuckDB exactly.
    from pandas_weights_spark.functions.dsir import (
        dsir_doc_bucket_counts,
        dsir_gumbel_topk,
        dsir_log_ratio_sliced,
        dsir_score,
    )

    # tokenize-once: target is a SLICE of raw, so per-doc bucket
    # counts (persisted) feed the twin-agg ratio table AND the
    # scoring join — one explode+md5 pass instead of three
    nb = 1024
    # fan_out: the md5 featurization is the compute-bound row-local
    # pass; a one-file scan would run it on one core
    docs = fan_out(_docs(spark, sf_dir)).select(
        "doc_id", "text", "source"
    )
    db = dsir_doc_bucket_counts(
        docs, "text", ["doc_id", "source"], n_buckets=nb,
        portable=portable,
    ).persist()
    lr = dsir_log_ratio_sliced(
        db, F.col("source").isin("src0", "src1"), nb
    )
    scored = dsir_score(
        docs, "text", lr, ["doc_id"], n_buckets=nb,
        doc_counts=db.drop("source"),
    )
    rounded = scored.select(
        "doc_id", F.round("log_importance", 6).alias("lw_r")
    )
    picked = dsir_gumbel_topk(
        rounded, F.col("lw_r"), 60, ["doc_id"], seed=123
    )
    return picked.select(
        "doc_id", "lw_r", F.round("gumbel_key", 6).alias("gkey_r")
    )


def _q_semdedup(spark, sf_dir):
    # r6: SemDeDup semantic dedup (functions/similarity.py
    # `semantic_dedup`) oracle-pinned via the ivf trick — a single
    # explicit centroid makes clustering irrelevant (every vector in
    # cell 0), so the cell-local kernel degenerates to the exact
    # brute cosine + min-id-survivor rule DuckDB can replay; the
    # k-means path is pinned separately by the n_cells=1 numpy parity
    # and cell-local contract tests. Synthetic variants (the
    # dedup_exact pattern): scaled copies (cosine exactly 1 → loser),
    # negated copies (cosine −1 → survivor), constant-shifted copies
    # (mid-range cosine — exercises the 6-dp round-then-threshold
    # boundary rule).
    from pandas_weights_spark.functions.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    variants = base.where(F.col("vec_id") < 60).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.when(
            F.col("vec_id") % 3 == 0,
            F.transform("v", lambda x: x * F.lit(1.5)),
        )
        .when(
            F.col("vec_id") % 3 == 1,
            F.transform("v", lambda x: -x),
        )
        .otherwise(F.transform("v", lambda x: x + F.lit(2.0)))
        .alias("v"),
    )
    allv = base.unionByName(variants)
    out = semantic_dedup(
        allv, "v", "vec_id", threshold=0.9, centroids=[[1.0] * 64]
    )
    return out.select(
        "vec_id", F.col("cell").cast("long").alias("cell"), "is_survivor"
    )


def _pq_codebooks(m=4, k=4, dsub=16, seed=13):
    # deterministic literal codebooks (the semdedup explicit-centroid
    # trick): the oracle replays ENCODING + ADC exactly; the k-means
    # trainer is pinned by the numpy differential in tests/test_pq.py
    import random as _random

    rng = _random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dsub)] for _ in range(k)]
        for _ in range(m)
    ]


def _pq_centroids(n=4, d=64, seed=14):
    # deterministic coarse IVF centroids shared by the query AND the
    # SQL generator (the residual rows replay cell assignment exactly)
    import random as _random

    rng = _random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(d)] for _ in range(n)
    ]


def _opq_rotation(d=64, seed=15):
    # r14: deterministic literal orthonormal rotation (the explicit-
    # codebook trick): the OPQ TRAINER (train_opq_rotation — PCA
    # eigh + eigenvalue allocation) is pinned by tests/test_pq.py's
    # numpy differential and recall inequality; the oracle replays
    # rotation → encode → ADC closed-form against this literal.
    # Generated in-process, so the engine query and the SQL embed the
    # SAME floats by construction.
    import numpy as _np

    rng = _np.random.default_rng(seed)
    q, _ = _np.linalg.qr(rng.normal(size=(d, d)))
    s = _np.sign(_np.diag(q))
    s[s == 0] = 1.0
    q = q * s[None, :]
    return [[float(x) for x in row] for row in q.T]


def _q_pq_topk(spark, sf_dir):
    # r6: product quantization (functions/pq.py — Jégou et al. 2011).
    # Tagged union: `enc` rows pin the per-subspace argmin code of
    # every corpus vector (portable Column path — the same sequential
    # (x−c)² fold the SQL replays); `adc` rows pin the asymmetric-
    # distance top-5 of 4 float queries against the coded corpus
    # (distance = Σ_s table[s][code_s], 6-dp rounded, neighbor ties).
    from pandas_weights_spark.functions.pq import pq_encode, topk_pq_adc

    cbs = _pq_codebooks()
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    codes = pq_encode(emb, "embedding", cbs, arrow=False)
    enc = codes.select(
        F.lit("enc").alias("part"),
        F.col("vec_id").alias("a"),
        F.posexplode("pq_code").alias("b", "i"),
    ).select(
        "part", "a", F.col("b").cast("long").alias("b"),
        F.col("i").cast("long").alias("i"),
        F.lit(None).cast("double").alias("d"),
    )
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adc = topk_pq_adc(queries, codes, cbs, k=5, arrow=False).select(
        F.lit("adc").alias("part"),
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.col("rank").cast("long").alias("i"),
        F.col("dist").alias("d"),
    )
    # `ivq` rows: the composed IVFPQ read path probed at nprobe ==
    # n_cells, which must reproduce the full ADC ranking EXACTLY (the
    # IVF family's correctness anchor — cell assignment cannot change
    # the answer when every cell is probed); the oracle therefore
    # re-emits the adc rows under the ivq tag and any pruning bug
    # (lost candidate, duplicated pair, changed distance) hash-fails
    from pandas_weights_spark.functions.pq import topk_ivfpq
    from pandas_weights_spark.functions.similarity import (
        assign_cells_arrow,
        nearest_cell,
    )

    cents = _pq_centroids()
    indexed = assign_cells_arrow(codes, "embedding", cents)
    ivq = topk_ivfpq(
        queries, indexed, cbs, cents, k=5, nprobe=4, arrow=False
    ).select(
        F.lit("ivq").alias("part"),
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.col("rank").cast("long").alias("i"),
        F.col("dist").alias("d"),
    )
    # `renc`/`rvq` rows (r7): the IVFADC residual path — coarse cells
    # from the PORTABLE nearest_cell (SQL-exact dot chains + the
    # larger-index tie rule), codes quantize x − centroid(cell), and
    # probe-all residual IVFPQ scores every corpus row with its own
    # cell's per-query distance table — the closed-form anchor the
    # oracle replays row for row; recall(residual) ≥ recall(raw) is
    # pytest-pinned (tests/test_pq.py TestResidual)
    celled = emb.withColumn(
        "cell", nearest_cell(F.col("embedding"), cents)
    )
    rcodes = pq_encode(
        celled, "embedding", cbs, arrow=False, centroids=cents
    )
    renc = rcodes.select(
        F.lit("renc").alias("part"),
        F.col("vec_id").alias("a"),
        F.posexplode("pq_code").alias("b", "i"),
    ).select(
        "part", "a", F.col("b").cast("long").alias("b"),
        F.col("i").cast("long").alias("i"),
        F.lit(None).cast("double").alias("d"),
    )
    rvq = topk_ivfpq(
        queries, rcodes.drop("embedding"), cbs, cents, k=5,
        nprobe=4, arrow=False, residual=True,
    ).select(
        F.lit("rvq").alias("part"),
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.col("rank").cast("long").alias("i"),
        F.col("dist").alias("d"),
    )
    # `rfn` rows (r7): the FAISS refine stage — probe-all + a refine
    # factor covering the corpus makes the exact re-rank EQUAL
    # brute-force squared-L2 top-5 (the oracle replays plain L2; any
    # candidate lost in the ADC stage or any inexact distance fails).
    # The anchor runs on a 500-vector SUB-corpus: the identity is
    # scale-free, and a corpus-covering exact refine over the full
    # table would re-rank everything (k·r = |corpus|) — real callers
    # use small refine factors, which this cost-bounds the bench to.
    from pandas_weights_spark.functions.pq import topk_ivfpq_refined

    sub = indexed.where(F.col("vec_id") < 500)
    subemb = emb.where(F.col("vec_id") < 500)
    rfn = topk_ivfpq_refined(
        queries, sub, subemb, cbs, cents, k=5,
        refine_factor=100, nprobe=4, arrow=False,
    ).select(
        F.lit("rfn").alias("part"),
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.col("rank").cast("long").alias("i"),
        F.col("dist").alias("d"),
    )
    # `opq`/`oad` rows (r14): the OPQ pipeline — rotate by the
    # deterministic literal orthonormal matrix (the portable
    # zip_with/fold dot chain), encode the ROTATED vectors with the
    # same codebooks, ADC-rank 4 rotated queries against the rotated
    # codes. Bounded to the 500-vector sub-corpus (the rfn cost rule:
    # the interpreted 64×64 rotation fold prices per row). The
    # trained rotation (train_opq_rotation: PCA eigh + eigenvalue
    # allocation) is pytest-pinned — recall(OPQ) ≥ recall(PQ),
    # isometry, numpy parity (tests/test_pq.py TestOPQ).
    from pandas_weights_spark.functions.pq import opq_rotate

    rotv = opq_rotate(
        subemb, "embedding", _opq_rotation(), out_col="rv",
        arrow=False,
    ).select("vec_id", F.col("rv").alias("embedding"))
    ocodes = pq_encode(rotv, "embedding", cbs, arrow=False)
    oenc = ocodes.select(
        F.lit("opq").alias("part"),
        F.col("vec_id").alias("a"),
        F.posexplode("pq_code").alias("b", "i"),
    ).select(
        "part", "a", F.col("b").cast("long").alias("b"),
        F.col("i").cast("long").alias("i"),
        F.lit(None).cast("double").alias("d"),
    )
    oqueries = rotv.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    oad = topk_pq_adc(oqueries, ocodes, cbs, k=5, arrow=False).select(
        F.lit("oad").alias("part"),
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.col("rank").cast("long").alias("i"),
        F.col("dist").alias("d"),
    )
    return (
        enc.unionByName(adc).unionByName(ivq)
        .unionByName(renc).unionByName(rvq).unionByName(rfn)
        .unionByName(oenc).unionByName(oad)
    )


def _q_rp_project(spark, sf_dir):
    # r6: Johnson–Lindenstrauss random projection (functions/pca.py
    # `random_project`, portable Column path) — every embedding's
    # 64→6 projection against the seeded deterministic matrix,
    # replayed in DuckDB as the same left-to-right dot chains; the
    # arrow batched-matmul twin and the JL distance-preservation
    # guarantee are pytest-pinned (tests/test_pca.py).
    from pandas_weights_spark.functions.pca import random_project

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    out = random_project(
        emb.select("vec_id", "embedding"), "embedding", 6, seed=7,
        arrow=False,
    )
    return out.select(
        "vec_id",
        F.posexplode(F.transform("rp", lambda x: F.round(x, 6))).alias(
            "dim", "val"
        ),
    ).select("vec_id", F.col("dim").cast("long").alias("dim"), "val")


def _rp_sql() -> str:
    from pandas_weights_spark.functions.pca import jl_projection_matrix

    mat = jl_projection_matrix(64, 6, seed=7)
    parts = []
    for j, row in enumerate(mat):
        dot = " + ".join(
            f"CAST(embedding[{t + 1}] AS DOUBLE) * ({c!r})"
            for t, c in enumerate(row)
        )
        parts.append(
            f"SELECT vec_id, CAST({j} AS BIGINT) AS dim, "
            f"round({dot}, 6) AS val FROM e"
        )
    body = "\n      UNION ALL\n      ".join(parts)
    return f"""
    -- r6: JL random projection replay — same seeded matrix literals,
    -- same left-to-right dot-chain order as the engine's fold
    WITH e AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
    )
    {body}
"""


def _q_pagerank(spark, sf_dir):
    # r6: weighted PageRank (functions/graph.py) over a synthesized
    # domain link graph — source domain links to 'src{(doc_id*7+3)%25}'
    # per doc (multi-edges fold to weights; domains 20-24 have no
    # out-edges, exercising the dangling-mass redistribution). The
    # oracle unrolls 3 power iterations as chained CTEs — the
    # recurrence itself is pinned; convergence/guard behavior is
    # pytest-pinned against numpy power iteration.
    from pandas_weights_spark.functions.graph import pagerank

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    edges = (
        docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                ((F.col("doc_id") * 7 + 3) % 25).cast("string"),
            ).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    pr = pagerank(edges, weight=F.col("w"), damping=0.85, iters=3)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def _q_web_hygiene(spark, sf_dir):
    # r6: URL canonicalization + blocked-domain filtering
    # (functions/text.py canonicalize_url / domain_suffixes /
    # filter_blocked_domains — the CCNet/RefinedWeb URL-hygiene pass).
    # URLs are synthesized deterministically per doc to exercise the
    # interesting paths: uppercase scheme/host (lowercased), default
    # :443 and :80 ports (dropped), tracking params utm_*/fbclid
    # (dropped) interleaved with kept params (order preserved),
    # fragments (dropped). The oracle derives the canonical form and
    # the suffix-match blocklist decision in closed form — an
    # INDEPENDENT spec of the same rules (the multimodal ph:* style);
    # the algorithmic edge cases (non-default ports, foreign schemes,
    # single-label hosts, max_labels bound) are pytest-pinned.
    from pandas_weights_spark.functions.text import (
        canonicalize_url,
        filter_blocked_domains,
        url_domain,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."), F.upper("source"),
            F.lit(".Example.COM:443/d/"), F.col("doc_id").cast("string"),
            F.lit("?utm_source=bench&id="),
            (F.col("doc_id") % 7).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("&fbclid=zz"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 2 == 0, F.lit("#frag"))
            .otherwise(F.lit("")),
        ).alias("url"),
        F.concat(
            F.lit("HTTP://"), F.upper("source"), F.lit(".ORG:80/p/"),
            F.col("doc_id").cast("string"), F.lit("?b=2&a=1"),
        ).alias("url2"),
        # r7: SPA-style fragment-embedded '?' (odd docs: fragment-only
        # "query" that must vanish wholesale; even docs: a real query
        # AND a '?' inside the fragment) — the r6 verdict bug fixture
        F.concat(
            F.lit("https://APP."), F.upper("source"),
            F.lit(".Example.NET/view"),
            F.when(
                F.col("doc_id") % 2 == 1,
                F.concat(F.lit("#/route?sessionid="),
                         F.col("doc_id").cast("string")),
            ).otherwise(
                F.concat(F.lit("?id="), (F.col("doc_id") % 5).cast("string"),
                         F.lit("#tab?utm_x=1")),
            ),
        ).alias("url3"),
    )
    canon = raw.select(
        "doc_id",
        canonicalize_url(F.col("url")).alias("curl"),
        canonicalize_url(F.col("url2")).alias("curl2"),
        canonicalize_url(F.col("url3")).alias("curl3"),
    )
    hosted = canon.withColumn("host", url_domain(F.col("curl")))
    bl = spark.createDataFrame(
        [("src1.example.com",), ("www.src4.example.com",),
         ("src7.example.com",)],
        "domain string",
    )
    return filter_blocked_domains(
        hosted, F.col("host"), bl, how="flag"
    ).select("doc_id", "curl", "curl2", "curl3", "host", "is_blocked")


def _q_bm25(spark, sf_dir):
    # r7: BM25 ranked retrieval (functions/search.py — Okapi BM25 with
    # the Lucene idf, pure inverted-index join). Queries are the first
    # 3 tokens of docs 0..7's own text (guaranteed hits + cross-doc
    # competition); the oracle replays postings, document lengths,
    # idf, the saturation formula, and the per-query rank closed-form.
    from pandas_weights_spark.functions.search import bm25_topk
    from pandas_weights_spark.functions.text import tokens as _tk

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    queries = docs.where(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("qid"),
        F.concat_ws(" ", F.slice(_tk(F.col("text")), 1, 3)).alias(
            "qtext"
        ),
    )
    return bm25_topk(
        docs, "text", "doc_id", queries, "qid", "qtext", k=10
    ).select(
        "query_id", "doc_id", "score",
        F.col("rank").cast("long").alias("rank"),
    )


def _q_edit_join(spark, sf_dir):
    # r7: exact edit-distance join (functions/fuzzy.py — Gravano 2001
    # q-gram filters + Ed-Join prefix filter + levenshtein verify).
    # Right side carries deterministic typos of part names (delete the
    # 4th char / substitute it with '#' / identity by key%3); the
    # oracle is a BRUTE-FORCE DuckDB cross join with levenshtein —
    # any missed pair, false pair, or wrong distance hash-fails, so
    # the whole filter chain's exactness is driver-checked.
    from pandas_weights_spark.functions.fuzzy import edit_distance_join

    part = load_table(spark, sf_dir, "part").where(
        F.col("p_partkey") <= 200
    )
    left = part.select(
        F.col("p_partkey").alias("lid"), F.col("p_name").alias("name")
    )
    key = F.col("p_partkey")
    tail = F.expr("substring(p_name, 5)")
    head = F.expr("substring(p_name, 1, 3)")
    typo = (
        F.when(key % 3 == 0, F.concat(head, tail))
        .when(key % 3 == 1, F.concat(head, F.lit("#"), tail))
        .otherwise(F.col("p_name"))
    )
    right = part.select(
        (key + 1000).alias("rid"), typo.alias("name")
    )
    return edit_distance_join(
        left, right, "lid", "name", "rid", "name", max_dist=2
    ).select("lid", "rid", F.col("dist").cast("long").alias("dist"))


def _q_dedup_exact(spark, sf_dir):
    # exact dedup with synthetic duplicates: shifted exact copies must all
    # fold back onto the originals (min-id survivor policy)
    from pandas_weights_spark.functions.dedup import exact_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    with_dups = docs.unionByName(
        docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    survivors = exact_dedup(with_dups, "text", "doc_id").select(
        F.lit("survivor").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("fp"),
    )
    # r4 fold: the md5-derived SimHash fingerprint rows ride the same
    # query (freed a driver slot for calibration — coverage unchanged;
    # _simhash_sql still mirrors the bits digit-for-digit)
    from pandas_weights_spark.functions.dedup import simhash

    fps = docs.where(F.col("doc_id") < 100).select(
        F.lit("simhash").alias("kind"),
        "doc_id",
        simhash(F.col("text"), 32).alias("fp"),
    )
    # r5: per-doc 8-gram NOVELTY rides along (dedup.ngram_novelty —
    # corpus document-frequency aggregate, no quadratic term); counts
    # are integral, packed into the fp slot as 'n_shingles:n_novel'
    from pandas_weights_spark.functions.dedup import ngram_novelty

    nov = ngram_novelty(
        docs.where(F.col("doc_id") < 80), "text", "doc_id", n=8
    ).select(
        F.lit("novel").alias("kind"),
        "doc_id",
        F.concat_ws(
            ":", F.col("n_shingles").cast("string"),
            F.col("n_novel").cast("string"),
        ).alias("fp"),
    )
    # r6: repeated-span REMOVAL (dedup.remove_duplicate_spans) over the
    # same padded-copy fixture _q_chunk_neardup pins: per-doc rebuilt
    # text md5 + chunk/drop counts — the full pipeline (chunk pairs →
    # numeric-min-id losers → owned-span rebuild) replayed in SQL
    from pandas_weights_spark.functions.dedup import remove_duplicate_spans
    from pandas_weights_spark.functions.text import tokens as _tk

    sdocs = docs.where(F.col("doc_id") < 60)
    pad = F.repeat(
        F.concat(F.lit("pad"), F.col("doc_id").cast("string"), F.lit(" ")),
        50,
    )
    prefix = F.concat_ws(" ", F.slice(_tk(F.col("text")), 1, 120))
    scopies = sdocs.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(pad, prefix).alias("text"),
    )
    span = remove_duplicate_spans(
        sdocs.unionByName(scopies), "text", "doc_id",
        chunk_tokens=64, overlap=16, threshold=0.5,
    ).select(
        F.lit("span").alias("kind"),
        "doc_id",
        F.concat_ws(
            ":", F.md5("text"), F.col("n_chunks").cast("string"),
            F.col("n_dropped").cast("string"),
        ).alias("fp"),
    )
    # r7: TOKEN-EXACT span removal rows (remove_duplicate_ngram_spans,
    # the Lee-et-al exact-substring posting-list pass): 17 pad tokens
    # misalign the copied 40-token prefix against ANY chunk grid — the
    # straddle case chunk-granular removal provably misses. Per-doc
    # rebuilt-text md5 + token/removed counts; the full chain (window
    # fingerprints → global first occurrence → coverage → rebuild) is
    # replayed in SQL (_xspan_sql).
    from pandas_weights_spark.functions.dedup import (
        remove_duplicate_ngram_spans,
    )

    # two-step select: the output alias also being named doc_id makes
    # a one-step select ambiguous (lateral-alias resolution grabbed
    # the +30000 value for the pad) — rename the input id first
    xpad = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(16)),
            lambda i: F.concat(
                F.lit("xp"), F.col("__orig__").cast("string"),
                F.lit("n"), i.cast("string"),
            ),
        ),
    )
    xprefix = F.concat_ws(" ", F.slice(_tk(F.col("text")), 1, 40))
    xcopies = sdocs.select(
        F.col("doc_id").alias("__orig__"), "text"
    ).select(
        (F.col("__orig__") + 30000).alias("doc_id"),
        F.concat_ws(" ", xpad, xprefix).alias("text"),
    )
    xspan = remove_duplicate_ngram_spans(
        sdocs.unionByName(xcopies), "text", "doc_id", min_tokens=20
    ).select(
        F.lit("xspan").alias("kind"),
        "doc_id",
        F.concat_ws(
            ":", F.md5("text"), F.col("n_tokens").cast("string"),
            F.col("n_removed").cast("string"),
        ).alias("fp"),
    )
    # r7: CORPUS-level line dedup rows (text.remove_corpus_duplicate_
    # lines — CCNet paragraph dedup + boilerplate removal): docs < 40
    # wrapped with an injected nav line (every doc) and a footer
    # shared by each doc_id%3 class; `clinef` = first-occurrence mode
    # (repeats survive only at the numerically-first (doc, pos)),
    # `clineb` = boilerplate mode (lines in >= 3 distinct docs drop
    # everywhere). Full chain replayed in SQL (_cline_sql).
    from pandas_weights_spark.functions.text import (
        remove_corpus_duplicate_lines,
    )

    csrc = docs.where(F.col("doc_id") < 40).select(
        "doc_id",
        F.concat(
            F.lit("NAV | BAR\n"), F.col("text"),
            F.lit("\nfooter "), (F.col("doc_id") % 3).cast("string"),
            # r11: a line planted in EXACTLY 3 docs (1, 2, 3) — drops
            # under unscoped boilerplate (nd=3 ≥ min_docs) but
            # survives under scope=doc_id%2 (nd per scope is 2 and 1),
            # discriminating the scoped path from the global one
            F.when(
                F.col("doc_id").isin(1, 2, 3),
                F.lit("\nPROMO BANNER"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )

    def _cline_rows(kind, **kw):
        return remove_corpus_duplicate_lines(
            csrc, "text", "doc_id", **kw
        ).select(
            F.lit(kind).alias("kind"),
            "doc_id",
            F.concat_ws(
                ":", F.md5("text"), F.col("n_lines").cast("string"),
                F.col("n_removed").cast("string"),
            ).alias("fp"),
        )

    clinef = _cline_rows("clinef", mode="first")
    clineb = _cline_rows("clineb", mode="boilerplate", min_docs=3)
    # r11: SCOPED boilerplate (scope= names the grouping column —
    # per-host in production: two sites sharing a footer must not
    # dedup against each other). Scope here is doc_id%2; the PROMO
    # line planted in docs 1/2/3 survives scoped, drops unscoped.
    clines = remove_corpus_duplicate_lines(
        csrc.withColumn(
            "__scope__", (F.col("doc_id") % 2).cast("string")
        ),
        "text", "doc_id", mode="boilerplate", min_docs=3,
        scope="__scope__",
    ).select(
        F.lit("clines").alias("kind"),
        "doc_id",
        F.concat_ws(
            ":", F.md5("text"), F.col("n_lines").cast("string"),
            F.col("n_removed").cast("string"),
        ).alias("fp"),
    )
    # r7: QUALITY-survivor rows — exact_dedup(keep=) picks the
    # max-score member per duplicate family (ties → min id) instead
    # of min-id; score doc_id % 7 makes the shifted copy win for most
    # families, discriminating the policy from the default
    qsurv = exact_dedup(
        with_dups, "text", "doc_id",
        keep=(F.col("doc_id") % 7).cast("double"),
    ).select(
        F.lit("qsurv").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("fp"),
    )
    # r7: CCNet-normalized dedup keys — copies noised with case flips,
    # appended punctuation, and a Latin-accented prefix must fold back
    # onto their originals under normalize='ccnet' (lower+trim alone
    # provably cannot: the `survivor` rows keep those copies apart)
    ncopies = sdocs.select(
        (F.col("doc_id") + 40000).alias("doc_id"),
        F.concat(
            F.lit("Thé: "), F.upper("text"), F.lit(" ... !!!")
        ).alias("text"),
    )
    norigs = sdocs.select(
        "doc_id",
        F.concat(F.lit("the "), F.col("text")).alias("text"),
    )
    nsurv = exact_dedup(
        norigs.unionByName(ncopies), "text", "doc_id",
        normalize="ccnet",
    ).select(
        F.lit("nsurv").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("fp"),
    )
    # r11: UNICODE-normalized dedup keys (normalize='ccnet_nfkc', the
    # Arrow NFKC pass) — fullwidth/ideographic-space copies (+50000)
    # must fold back onto their ASCII originals. NFKC itself has no
    # SQL analog, but its action on THIS fixture's alphabet is an
    # exact character map, so the oracle replays it with the inverse
    # translate (closed form, no assumption about key collisions).
    ucopies = sdocs.select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.translate("text", _FW_ASCII, _FW_WIDE).alias("text"),
    )
    usurv = exact_dedup(
        sdocs.unionByName(ucopies), "text", "doc_id",
        normalize="ccnet_nfkc",
    ).select(
        F.lit("usurv").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("fp"),
    )
    return (
        survivors.unionByName(fps).unionByName(nov).unionByName(span)
        .unionByName(xspan).unionByName(clinef).unionByName(clineb)
        .unionByName(clines)
        .unionByName(qsurv).unionByName(nsurv).unionByName(usurv)
    )


#: printable ASCII ↔ fullwidth forms (U+FF01–U+FF5E) + space ↔
#: ideographic space — the exact character map NFKC applies on this
#: restricted alphabet (both the Spark fixture builder and the DuckDB
#: inverse-translate replay read these, so they cannot drift)
_FW_ASCII = "".join(chr(c) for c in range(0x21, 0x7F)) + " "
_FW_WIDE = (
    "".join(chr(c - 0x21 + 0xFF01) for c in range(0x21, 0x7F))
    + "　"
)


def _q_text_metrics(spark, sf_dir):
    # full text-analysis surface in one row-local pass: whitespace +
    # BPE-ish regex token counts, n-gram language id, quality score,
    # content fingerprint — all JVM Column expressions, no UDF.
    # r4 fold: the Gopher repetition panel + rule-filter keep flag
    # (functions/quality.py) ride the same scan — duplicate-line
    # fractions, heaviest/duplicated n-gram character mass, and the
    # 7-rule conjunction. All integer masses over single divisions, so
    # the oracle matches bit-for-bit un-rounded.
    from pandas_weights_spark.functions import text as TX
    from pandas_weights_spark.functions.quality import (
        dup_ngram_char_frac,
        duplicate_item_stats,
        quality_flags,
        top_ngram_char_frac,
    )

    t = F.col("text")
    # r5 fuse: token + line arrays materialize ONCE (producer
    # projection survives CollapseProject — non-cheap, multi-ref) and
    # feed every panel kernel; values unchanged, oracle still bit-exact
    toks, lns = F.col("__toks__"), F.col("__lines__")
    lines = duplicate_item_stats(lns)
    # r4: PII/URL surface rides the same row — the raw docs carry no
    # PII, so a deterministic synthetic contact line is appended and
    # counted/redacted (redaction pinned via md5 of the scrubbed text)
    aug = F.concat(
        t,
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com via https://s"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.org/p x"),
    )
    aug2 = F.concat(
        t,
        F.lit(
            " pay 4111 1111 1111 1111 bogus 4111-1111-1111-1112"
        ),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit(" amex 378282246310005")
        ).otherwise(F.lit("")),
        F.lit(" end"),
    )
    return _docs(spark, sf_dir).withColumns(
        {"__toks__": TX.tokens(t), "__lines__": F.split(t, "\n")}
    ).select(
        "doc_id",
        F.when(F.length(F.trim(t)) == 0, F.lit(0))
        .otherwise(F.size(toks)).cast("long").alias("n_tokens"),
        TX.bpe_token_count(t).cast("long").alias("bpe_tokens"),
        TX.lang_id(t).alias("lang_pred"),
        TX.quality_score(t).alias("quality"),
        TX.fingerprint(t).alias("fp"),
        lines["dup_frac"].alias("dup_line_frac"),
        lines["dup_char_frac"].alias("dup_line_char_frac"),
        top_ngram_char_frac(t, 2, toks=toks).alias("top2_char_frac"),
        top_ngram_char_frac(t, 3, toks=toks).alias("top3_char_frac"),
        dup_ngram_char_frac(t, 5, toks=toks).alias("dup5_char_frac"),
        quality_flags(t, toks=toks, lines=lns)["keep"].alias("keep"),
        TX.pii_counts(aug)["n_email"].cast("long").alias("n_email"),
        F.size(TX.extract_urls(aug)).cast("long").alias("n_urls"),
        F.md5(TX.redact_pii(aug)).alias("red_fp"),
        # r11: Luhn-gated credit-card PII — one standard valid PAN on
        # every doc, a checksum-invalid near-miss that must NOT count,
        # and a second valid (Amex) on even docs; redaction folds
        # exact replaces over the SORTED valid matches
        F.size(TX.credit_card_numbers(aug2)).cast("long").alias(
            "n_cc"
        ),
        F.md5(TX.redact_credit_cards(aug2)).alias("cc_fp"),
        # r5: intra-document duplicate-line removal, md5-pinned over
        # text with an injected duplicated line (first stays, blanks
        # exempt)
        F.md5(
            TX.remove_duplicate_lines(
                F.concat(
                    t,
                    F.lit("\n<<dup>> line\nmid "),
                    F.col("doc_id").cast("string"),
                    F.lit("\n<<dup>> line"),
                )
            )
        ).alias("ddl_fp"),
    )


def _q_doc_weighted_stats(spark, sf_dir):
    # §2 weighted kernels applied to the documents table: n_chars-weighted
    # token-count stats per language
    from pandas_weights_spark.functions.text import token_count

    docs = _docs(spark, sf_dir).withColumn(
        "tok_n", token_count(F.col("text"))
    )
    langs = (
        wt(docs, "n_chars")
        .groupby("lang")[["tok_n"]]
        .agg_all(["count", "mean", "var"])
        .select(
            F.lit("lang").alias("kind"),
            F.col("lang").alias("key"),
            F.col("tok_n_count").alias("a"),
            F.col("tok_n_mean").alias("b"),
            F.col("tok_n_var").alias("c"),
        )
    )
    # r4 fold: per-domain corpus stats (text.domain_stats — explode of
    # extracted URL domains + one aggregate) over the same synthetic
    # contact line text_metrics appends; weight = n_chars
    from pandas_weights_spark.functions.text import domain_stats

    aug_docs = _docs(spark, sf_dir).select(
        "n_chars",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com via https://s"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/p x"),
        ).alias("text"),
    )
    domains = domain_stats(aug_docs, "text", F.col("n_chars")).select(
        F.lit("domain").alias("kind"),
        F.col("domain").alias("key"),
        F.col("n_docs").cast("double").alias("a"),
        F.col("n_urls").cast("double").alias("b"),
        F.col("weight_mass").alias("c"),
    )
    # r5 fold: term-distribution divergence between the even- and
    # odd-doc_id halves of the corpus (vocab.term_divergence —
    # union-vocab additive smoothing, plain-division densities so the
    # SQL replays the algebra exactly; ROUND 6 absorbs sum-order ulps)
    from pandas_weights_spark.functions.vocab import (
        build_vocabulary,
        term_divergence,
    )

    dsrc = _docs(spark, sf_dir)
    va = build_vocabulary(dsrc.where(F.col("doc_id") % 2 == 0), "text")
    vb = build_vocabulary(dsrc.where(F.col("doc_id") % 2 == 1), "text")
    div = term_divergence(va, vb, alpha=0.5).select(
        F.lit("div").alias("kind"),
        F.lit("parity").alias("key"),
        F.round(F.col("kl_ab"), 6).alias("a"),
        F.round(F.col("kl_ba"), 6).alias("b"),
        F.round(F.col("js"), 6).alias("c"),
    )
    # r5 fold: the distinct-counts EXACT path (functions/distinct.py —
    # the approximate HLL paths stay tests-only by nature) gets an
    # oracle row per lang
    from pandas_weights_spark.functions.distinct import distinct_counts

    dct = distinct_counts(
        dsrc, ["source", "doc_id", "n_chars"], by=["lang"], exact=True
    ).select(
        F.lit("dct").alias("kind"),
        F.col("lang").alias("key"),
        F.col("source_distinct").cast("double").alias("a"),
        F.col("doc_id_distinct").cast("double").alias("b"),
        F.col("n_chars_distinct").cast("double").alias("c"),
    )
    return langs.unionByName(domains).unionByName(div).unionByName(dct)


def _q_minhash_neardup(spark, sf_dir):
    # full MinHash→LSH→Jaccard pipeline over documents + mutated copies
    # (first word dropped) — the mutated pair must surface as a near-dup
    from pandas_weights_spark.functions.dedup import minhash_near_duplicates

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200).select(
        "doc_id", "text"
    )
    mutated = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    base = docs.unionByName(mutated)
    return minhash_near_duplicates(
        base, "text", "doc_id", threshold=0.4, num_hashes=16, bands=4,
        shingle_size=3,
    )


def _q_ngram_jaccard(spark, sf_dir):
    # exact n-gram Jaccard near-dup via the distributed shingle inverted
    # index (dedup.py): recall-1.0 complement to the MinHash pipeline
    from pandas_weights_spark.functions.dedup import (
        ngram_jaccard_near_duplicates,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 150).select(
        "doc_id", "text"
    )
    mutated = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    return ngram_jaccard_near_duplicates(
        docs.unionByName(mutated), "text", "doc_id", n=3, threshold=0.5
    )


def _q_simhash_neardup(spark, sf_dir):
    # md5-derived SimHash bits (dedup.simhash) — engine-portable, so the
    # DuckDB oracle (_simhash_sql) reproduces the fingerprint exactly
    from pandas_weights_spark.functions.dedup import simhash

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100).select(
        "doc_id", "text"
    )
    return docs.select(
        "doc_id", simhash(F.col("text"), 32).alias("simhash")
    )


def _q_embedding_neardup(spark, sf_dir):
    # embedding-cosine near-dup: hyperplane-LSH candidate buckets + exact
    # cosine verify. The hyperplanes are deterministic plan literals
    # (similarity._hyperplanes), so the oracle reproduces the identical
    # bucketing and the check is exact, not rows-only.
    from pandas_weights_spark.functions.dedup import embedding_near_duplicates

    # fan_out: one-file scan → parallelize the row-local bucket hashing;
    # pair cosines are per-row array folds, partitioning-invariant
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.3, bucket_planes=4, seed=42
    )


def _q_ann_topk(spark, sf_dir):
    # THREE ANN strategies in one tagged union (folded from r3's
    # ann_topk + ann_topk_ivf + ann_topk_lsh to free two driver rows —
    # coverage unchanged): `bf` is exact brute-force (broadcast
    # queries); `ivf` probes every cell (nprobe == n_cells), which must
    # reproduce brute-force exactly; `lsh` is the hyperplane-bucketed
    # path, approximate but fully deterministic (the hyperplane literals
    # derive from the seed, so the DuckDB oracle reproduces buckets,
    # candidates, and ranks digit-for-digit).
    from pandas_weights_spark.functions.similarity import (
        topk_bruteforce,
        topk_ivf,
        topk_lsh,
        topk_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    bf = topk_bruteforce(queries, emb, k=5)
    ivf = topk_ivf(queries, emb, k=5, n_cells=8, nprobe=8, iters=1,
                   corpus_id="vec_id")
    lsh = topk_lsh(queries, emb, k=5, planes=4)
    # r4: `q8` = int8 scalar-quantized corpus (quantize→dequantize→
    # exact rerank; deterministic double arithmetic, so the oracle
    # reproduces codes and ranks)
    q8 = topk_quantized(queries, emb, k=5)
    return (
        bf.select(F.lit("bf").alias("method"), *cols)
        .unionByName(ivf.select(F.lit("ivf").alias("method"), *cols))
        .unionByName(lsh.select(F.lit("lsh").alias("method"), *cols))
        .unionByName(q8.select(F.lit("q8").alias("method"), *cols))
    )


def _q_range_join(spark, sf_dir):
    # bucketized interval join (functions/range_join.py): price-band
    # assignment per order status, how="left". The bands overlap by
    # 10k so ~40% of orders match two intervals; ~1/11 of the points
    # are NULL (kept, NULL payload); ~1/3 of the left rows carry a NULL
    # `note` payload — the r3 NULL-duplicate regression surface (a
    # matched NULL-bearing left row must appear exactly once per
    # matching interval).
    from pandas_weights_spark.functions.range_join import range_join

    orders = load_table(spark, sf_dir, "orders")
    left = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 11 != 0, F.col("o_totalprice")).alias(
            "price"
        ),
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_orderpriority")).alias(
            "note"
        ),
    )
    bands = (
        orders.select("o_orderstatus")
        .distinct()
        .crossJoin(spark.range(20).select(F.col("id").alias("band_id")))
        .select(
            "o_orderstatus",
            "band_id",
            (F.col("band_id") * 25000.0).alias("lo"),
            (F.col("band_id") * 25000.0 + 35000.0).alias("hi"),
        )
    )
    return range_join(
        left, bands, point="price", lower="lo", upper="hi",
        by=["o_orderstatus"], how="left", bucket_width=25000.0,
    ).select(
        "o_orderkey", "o_orderstatus", "price", "note", "band_id", "lo",
        "hi",
    )


def _q_weighted_cms(spark, sf_dir):
    # weighted count-min sketch (functions/sketch.py) with the
    # engine-portable md5 bucket, probed for every part key < 64: the
    # estimate is min over depth of the bucket Σ l_quantity masses.
    # width=128 << 2000 distinct keys forces real collisions, so the
    # one-sided overestimate path is exercised; quantities are integral
    # doubles, so the bucket sums are order-independent and bit-exact.
    from pandas_weights_spark.functions.sketch import cms_lookup, weighted_cms

    li = _li(spark, sf_dir)
    sk = weighted_cms(
        li, "l_partkey", "l_quantity", depth=3, width=128, seed=7,
        portable_hash=True,
    )
    probe = li.select("l_partkey").where(F.col("l_partkey") < 64).distinct()
    return cms_lookup(
        sk, probe, "l_partkey", depth=3, width=128, seed=7,
        portable_hash=True,
    ).select("l_partkey", "est_mass")


def _q_ewm_pair(spark, sf_dir):
    # THREE EWM variants beyond the plain mean, one tagged union on the
    # events table (ewm.py): `cov`/`corr` are the banded pairwise
    # cross-moment path (pairwise-complete mask: masked rows still
    # advance the decay clock; pandas debias D²/(D²−V) on cov, cancels
    # in corr); `tmean` is the time-decayed mean (halflife=1 hour over
    # the event timestamp — irregular sampling, real-valued L banding,
    # ~3 bands over the 30-day span). The oracle (_ewm_pair_sql)
    # replicates the banded algebra with the engine's exact float
    # constants; residual cross-engine noise is exp()/summation at
    # ~1e-13 relative, absorbed by the per-stat rounding.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.when(F.col("event_id") % 13 != 0, F.col("value")).alias("x"),
        (F.col("event_id") % 97).cast("double").alias("y"),
        (F.col("event_id") % 7 + 1).cast("double").alias("w"),
    )
    wdf = wt(ev, "w")
    e = wdf.ewm(
        order_by=["ts", "event_id"], partition_by=["event_type"], alpha=0.2
    )
    keys = ["event_type", "ts", "event_id"]
    # cov+corr fused into ONE banded window pass (pair_stats shares the
    # cross-moment prefix sums); the tagged rows come from an explode of
    # the fused row, not a second pipeline
    pair = e.pair_stats("x", "y").select(
        *keys,
        F.explode(
            F.array(
                F.struct(
                    F.lit("cov").alias("stat"),
                    F.round(F.col("x_y_cov"), 2).alias("val"),
                ),
                F.struct(
                    F.lit("corr").alias("stat"),
                    F.round(F.col("x_y_corr"), 5).alias("val"),
                ),
            )
        ).alias("p"),
    ).select("p.stat", *keys, F.col("p.val").alias("val"))
    tm = (
        # (r15 note: sharing ONE exchange across the union via
        # ReuseExchange was attempted — projecting y into this branch
        # to make the pre-exchange subtrees canonically identical —
        # and does not work: column pruning strips the unused y-mean
        # window expression and then y itself, so the subtrees always
        # differ. Two narrow per-branch shuffles is the honest shape.)
        wdf[["x"]]
        .ewm(
            order_by=["ts", "event_id"], partition_by=["event_type"],
            halflife="1 hour", times="ts",
        )
        .mean()
        .select(
            F.lit("tmean").alias("stat"), *keys,
            F.round(F.col("x"), 3).alias("val"),
        )
    )
    return pair.unionByName(tm)


def _q_zipf_stats(spark, sf_dir):
    # r12: Zipf/type-token lexical-health block (functions/
    # datasheet.py zipf_stats — Zipf 1949): exact top-50 head by
    # (freq desc, token) via the capped top-k (never a vocab-sized
    # global sort), corpus type/token/hapax scalars from one 1-row
    # aggregate over the count table, and the ln-ln least-squares
    # head slope from four regression sums over the <=50-row head
    # (bounded window + bounded aggregate — the classifier_eval
    # discipline). The oracle replays tokenization (trim + \\s+ on
    # lowercase), the counts, the rank, and the closed-form slope;
    # ROUND 6 on the ratios and slope.
    from pandas_weights_spark.functions.datasheet import zipf_stats

    return zipf_stats(
        _docs(spark, sf_dir).select("text"), "text", top_k=50
    )


_ORACLE_ZIPF = """
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
             AS token
      FROM documents
    ), tok2 AS (
      SELECT token FROM tok WHERE length(token) > 0
    ), counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM tok2 GROUP BY token
    ), scalars AS (
      SELECT CAST(sum(freq) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hapax
      FROM counts
    ), head AS (
      SELECT token, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, token)
                  AS BIGINT) AS rank
      FROM counts
      ORDER BY freq DESC, token LIMIT 50
    ), reg AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(ln(CAST(rank AS DOUBLE))) AS sx,
             sum(ln(CAST(freq AS DOUBLE))) AS sy,
             sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)))
               AS sxx,
             sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE)))
               AS sxy
      FROM head
    )
    SELECT rank, token, freq, n_tokens, n_types,
           round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE),
                 6) AS type_token_ratio,
           round(CAST(hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
             AS hapax_frac,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS zipf_slope
    FROM head CROSS JOIN scalars CROSS JOIN reg
"""


_PHRASE_LIST = ("the", "and the", "scunthorpe", "data point")


def _q_phrase_hits(spark, sf_dir):
    # r12: multi-phrase blocklist/taxonomy matching (functions/
    # text.py phrase_hits) — per-doc non-overlapping occurrence
    # counts over a phrase list, in BOTH modes: substring (the
    # replace-length trick) and ASCII word-boundary (the
    # Scunthorpe-safe c4 'word' rule). Every 3rd doc gains a planted
    # 'Scunthorpe' tail that must hit as a substring of nothing and
    # as its own word; 'the' exercises high-count embedding ('the'
    # inside 'other' counts in substring mode only). The oracle
    # replays the same normalized list with the same two formulas.
    # The arrow=True twin (compiled per-phrase C loop, the real
    # blocklist scale path) is pinned byte-equal in tests; the query
    # rides the JVM fold DuckDB replays.
    from pandas_weights_spark.functions.text import phrase_hits

    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(" The Scunthorpe data point case."),
            ).otherwise(F.lit("")),
        ).alias("__t__"),
    )
    a = phrase_hits(aug, "__t__", "doc_id", list(_PHRASE_LIST))
    b = phrase_hits(
        aug, "__t__", "doc_id", list(_PHRASE_LIST),
        word_boundary=True,
    ).select(
        F.col("doc_id"),
        F.col("n_hits").alias("wb_n_hits"),
        F.col("n_matched").alias("wb_n_matched"),
        F.array_join("hits", ",").alias("wb_hits"),
    )
    return (
        a.select(
            "doc_id", "n_hits", "n_matched",
            F.array_join("hits", ",").alias("hits"),
        )
        .join(b, "doc_id")
    )


def _phrase_hits_sql() -> str:
    from pandas_weights_spark.functions.text import phrase_hits_sql

    sub = phrase_hits_sql("t", list(_PHRASE_LIST))
    wb = phrase_hits_sql(
        "t", list(_PHRASE_LIST), word_boundary=True
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
        text || CASE WHEN doc_id % 3 = 0
          THEN ' The Scunthorpe data point case.' ELSE '' END AS t
      FROM documents
    )
    -- coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    -- array_join([]) is ''
    SELECT doc_id,
      {sub['n_hits']} AS n_hits,
      {sub['n_matched']} AS n_matched,
      coalesce(array_to_string({sub['hits']}, ','), '') AS hits,
      {wb['n_hits']} AS wb_n_hits,
      {wb['n_matched']} AS wb_n_matched,
      coalesce(array_to_string({wb['hits']}, ','), '') AS wb_hits
    FROM d
"""


def _q_punkt_abbrevs(spark, sf_dir):
    # r12: punkt-style TRAINED abbreviation detection (functions/
    # text.py train_sentence_abbreviations — Kiss & Strunk 2006, the
    # NLTK type-score formulation: Dunning LLR x exp(-len) x
    # internal-period boost x bare-occurrence penalty). Each doc
    # gains a tail planting the evidence classes: a short title
    # ("dr."), an internal-period type ("e.g."), a mid-length type
    # ("dept."), a long type below the length bar ("approx."), and a
    # bare/dotted AMBIGUOUS word ("dog"/"dog.") the penalty must
    # zero. One explode + one type-keyed aggregate + a 1-row totals
    # broadcast; n_dot >= 20 keeps the output the deterministic
    # planted-plus-frequent set (the 1e6 cap never binds). ROUND 6 on
    # the score; is_abbrev compares the UNROUNDED score in both
    # engines.
    from pandas_weights_spark.functions.text import (
        train_sentence_abbreviations,
    )

    tail = (
        " The dept. team and Dr. Lee met at the dept. office with"
        " approx. forty e.g. cases while the dog ran and the dog"
        " slept and a dog. barked near more dogs today."
    )
    aug = _docs(spark, sf_dir).select(
        F.concat(F.col("text"), F.lit(tail)).alias("text")
    )
    m = train_sentence_abbreviations(
        aug, "text", min_count=2, threshold=0.3, max_abbrevs=1_000_000
    )
    return m.where(F.col("n_dot") >= 20).select(
        "abbrev", "n_dot", "n_bare", "score", "is_abbrev"
    )


def _punkt_abbrevs_sql() -> str:
    tail = (
        " The dept. team and Dr. Lee met at the dept. office with"
        " approx. forty e.g. cases while the dog ran and the dog"
        " slept and a dog. barked near more dogs today."
    )
    cand = "regexp_matches(w, '^[A-Za-z][A-Za-z.]*\\.$')"
    return f"""
    WITH aug AS (
      SELECT text || '{tail}' AS text FROM documents
    ), tok AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM aug
    ), tok2 AS (
      SELECT w FROM tok WHERE length(w) > 0
    ), totals AS (
      SELECT CAST(count(*) AS DOUBLE) AS N,
             CAST(sum(CASE WHEN w LIKE '%.' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS nper
      FROM tok2
    ), typed AS (
      SELECT CASE WHEN {cand}
                  THEN lower(substr(w, 1, length(w) - 1))
                  ELSE lower(w) END AS abbrev,
             CASE WHEN {cand} THEN 1 ELSE 0 END AS isdot
      FROM tok2
    ), counts AS (
      SELECT abbrev,
             CAST(sum(isdot) AS BIGINT) AS n_dot,
             CAST(sum(1 - isdot) AS BIGINT) AS n_bare
      FROM typed GROUP BY abbrev
      HAVING sum(isdot) >= 2
         AND regexp_matches(abbrev, '^[a-z][a-z.]*$')
    ), scored AS (
      SELECT abbrev, n_dot, n_bare,
        (-2.0 * (
           (CAST(n_dot AS DOUBLE) * ln(least(greatest(nper / N, 1e-9),
                                             1.0 - 1e-9))
            + CAST(n_bare AS DOUBLE)
              * ln(1.0 - least(greatest(nper / N, 1e-9), 1.0 - 1e-9)))
         - (CAST(n_dot AS DOUBLE) * ln(0.99)
            + CAST(n_bare AS DOUBLE) * ln(1.0 - 0.99))
        ))
        * exp(-(CAST(length(abbrev)
                     - (length(abbrev)
                        - length(replace(abbrev, '.', '')))
                     + 1 AS DOUBLE)))
        * CAST((length(abbrev) - length(replace(abbrev, '.', '')))
               + 1 AS DOUBLE)
        * power(CAST(length(abbrev)
                     - (length(abbrev)
                        - length(replace(abbrev, '.', '')))
                     + 1 AS DOUBLE),
                -CAST(n_bare AS DOUBLE)) AS score
      FROM counts CROSS JOIN totals
    )
    SELECT abbrev, n_dot, n_bare,
           round(score, 6) + 0.0 AS score,
           score >= 0.3 AS is_abbrev
    FROM scored WHERE n_dot >= 20
"""


_PUNKT_CTX_TAIL = (
    " We filed No. 5 and No. 7 again and then rested."
    " Then we began. The dept. budget held. Then we slept."
)


def _q_punkt_context(spark, sf_dir):
    # r13: Punkt stage 2 (functions/text.py train_sentence_
    # collocations + train_sentence_starters — Kiss & Strunk 2006
    # token-level heuristics): planted "No. 5" ordinals must flag as
    # collocations (the period is NOT a boundary), planted "Then"
    # openers as frequent sentence starters (a period BEFORE them IS
    # a boundary even after the "dept" abbreviation, which the
    # boundary proxy excludes), with the orthographic tallies
    # (capitalized-at-boundary vs lowercase-internal) in the starter
    # rows. One tagged union; DuckDB replays both Dunning LLRs
    # closed-form. Generic count columns per kind: colloc =
    # (n_pair, n_w1, n_w2, 0); starter = (n_start, n_total,
    # n_cap_internal, n_low_internal).
    from pandas_weights_spark.functions.text import (
        train_sentence_collocations,
        train_sentence_starters,
    )

    aug = _docs(spark, sf_dir).select(
        F.concat(F.col("text"), F.lit(_PUNKT_CTX_TAIL)).alias("text")
    )
    co = (
        train_sentence_collocations(aug, "text", max_pairs=1_000_000)
        .where(F.col("n_pair") >= 20)
        .select(
            F.lit("colloc").alias("kind"),
            "w1",
            "w2",
            F.col("n_pair").alias("c1"),
            F.col("n_w1").alias("c2"),
            F.col("n_w2").alias("c3"),
            F.lit(0).cast("long").alias("c4"),
            "score",
            F.col("is_collocation").alias("flag"),
        )
    )
    st = (
        train_sentence_starters(
            aug, "text", abbrevs=("dept",), max_starters=1_000_000
        )
        .where(F.col("n_start") >= 20)
        .select(
            F.lit("starter").alias("kind"),
            F.lit("").alias("w1"),
            F.col("starter").alias("w2"),
            F.col("n_start").alias("c1"),
            F.col("n_total").alias("c2"),
            F.col("n_cap_internal").alias("c3"),
            F.col("n_low_internal").alias("c4"),
            "score",
            F.col("is_starter").alias("flag"),
        )
    )
    return co.unionByName(st)


def _punkt_context_sql() -> str:
    typ_a = "lower(regexp_replace(a, '[.!?]+$', ''))"
    typ_b = "lower(regexp_replace(b, '[.!?]+$', ''))"
    bnd = (
        "(regexp_matches(a, '[.!?]$') AND NOT "
        f"(a LIKE '%.' AND {typ_a} IN ('dept')))"
    )

    def llr(nab: str, na: str, nb: str) -> str:
        # the engine's _dunning_col_llr, same clamps ([1e-9, 1-1e-9]
        # probabilities, >=1 denominators), over doubles
        def cl(x: str) -> str:
            return f"least(greatest({x}, 1e-9), 1.0 - 1e-9)"

        p = cl(f"{nb} / greatest(N, 1.0)")
        p1 = cl(f"{nab} / greatest({na}, 1.0)")
        p2 = cl(f"({nb} - {nab}) / greatest(N - {na}, 1.0)")
        return (
            f"(-2.0 * (({nab} * ln({p}) "
            f"+ ({na} - {nab}) * ln(1.0 - {p})) "
            f"+ (({nb} - {nab}) * ln({p}) "
            f"+ (N - {na} - {nb} + {nab}) * ln(1.0 - {p})) "
            f"- ({nab} * ln({p1}) "
            f"+ ({na} - {nab}) * ln(1.0 - {p1})) "
            f"- (({nb} - {nab}) * ln({p2}) "
            f"+ (N - {na} - {nb} + {nab}) * ln(1.0 - {p2}))))"
        )

    co_llr = llr(
        "CAST(n_pair AS DOUBLE)",
        "CAST(n_w1 AS DOUBLE)",
        "CAST(n_w2 AS DOUBLE)",
    )
    st_llr = llr(
        "CAST(n_start AS DOUBLE)", "nb", "CAST(n_total AS DOUBLE)"
    )
    return f"""
    WITH aug AS (
      SELECT text || '{_PUNKT_CTX_TAIL}' AS text FROM documents
    ), tok0 AS (
      SELECT string_split_regex(trim(text), '\\s+') AS w FROM aug
    ), tok AS (
      SELECT unnest(w) AS x FROM tok0
    ), tok2 AS (
      SELECT x FROM tok WHERE length(x) > 0
    ), totals AS (
      SELECT CAST(count(*) AS DOUBLE) AS N FROM tok2
    ), tcounts AS (
      SELECT lower(regexp_replace(x, '[.!?]+$', '')) AS t,
             CAST(count(*) AS BIGINT) AS n_t
      FROM tok2
      WHERE lower(regexp_replace(x, '[.!?]+$', '')) != ''
      GROUP BY 1
    ), pairsrc AS (
      SELECT unnest(w[1:len(w)-1]) AS a, unnest(w[2:len(w)]) AS b
      FROM tok0
    ), pc AS (
      SELECT {typ_a} AS w1, {typ_b} AS w2,
             CAST(count(*) AS BIGINT) AS n_pair
      FROM pairsrc
      WHERE a LIKE '%.' AND {typ_a} != '' AND {typ_b} != ''
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), co AS (
      SELECT w1, w2, n_pair,
             t1.n_t AS n_w1, t2.n_t AS n_w2, N
      FROM pc
      JOIN tcounts t1 ON t1.t = pc.w1
      JOIN tcounts t2 ON t2.t = pc.w2
      CROSS JOIN totals
    ), pstsrc AS (
      SELECT {typ_b} AS starter, {bnd} AS bnd,
             regexp_matches(b, '^[A-Z]') AS cap,
             regexp_matches(b, '^[a-z]') AS low
      FROM pairsrc WHERE {typ_b} != ''
    ), pst AS (
      SELECT starter,
             CAST(sum(CASE WHEN bnd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_start,
             CAST(sum(CASE WHEN NOT bnd AND cap THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_cap_internal,
             CAST(sum(CASE WHEN NOT bnd AND low THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_low_internal
      FROM pstsrc GROUP BY 1
      HAVING sum(CASE WHEN bnd THEN 1 ELSE 0 END) >= 2
    ), nbound AS (
      SELECT CAST(sum(CASE WHEN bnd THEN 1 ELSE 0 END) AS DOUBLE)
               AS nb
      FROM pstsrc
    ), st AS (
      SELECT starter, n_start, n_cap_internal, n_low_internal,
             t.n_t AS n_total, N, nb
      FROM pst
      JOIN tcounts t ON t.t = pst.starter
      CROSS JOIN totals CROSS JOIN nbound
    )
    SELECT 'colloc' AS kind, w1, w2,
           n_pair AS c1, n_w1 AS c2, n_w2 AS c3,
           CAST(0 AS BIGINT) AS c4,
           round({co_llr}, 6) + 0.0 AS score,
           {co_llr} >= 7.88 AS flag
    FROM co WHERE n_pair >= 20
    UNION ALL
    SELECT 'starter', '', starter,
           n_start, n_total, n_cap_internal, n_low_internal,
           round({st_llr}, 6) + 0.0,
           {st_llr} >= 30.0
    FROM st WHERE n_start >= 20
"""


def _q_class_tfidf(spark, sf_dir):
    # r13: c-TF-IDF (functions/text.py class_tfidf — Grootendorst
    # 2022, the BERTopic class-based TF-IDF): top-15 DISTINCTIVE
    # terms per `source` class over the documents corpus — the
    # domain-signature report. Closed-form: tokenize, (class, term)
    # counts, term totals, the 1-row average-tokens-per-class A,
    # score = tf * ln(1 + A/f), round-6, per-class row_number by
    # (score desc, term) — every step replays verbatim in DuckDB.
    from pandas_weights_spark.functions.text import class_tfidf

    docs = _docs(spark, sf_dir).select("source", "text")
    return class_tfidf(docs, "text", "source", k=15)


def _q_sitemap_parse(spark, sf_dir):
    # r13: sitemaps.org XML parsing (functions/robots.py
    # sitemap_entries — the crawl-frontier discovery step pairing
    # with robots_directives' Sitemap: URLs). Every 3rd doc is a
    # <sitemapindex> (pointer entries with date-only lastmod), the
    # rest are <urlset> pages exercising: entity-decoded loc with
    # query string, W3C datetime lastmod (leading-date parse),
    # INVALID gated date (2024-99-99 → NULL, never an ANSI error),
    # changefreq case-folding, parseable and junk priority, a
    # whitespace-padded loc, and an empty-loc entry that must drop.
    # r14: CDATA rows — a Google-News-style <![CDATA[...]]> loc whose
    # &amp; must stay LITERAL (CDATA content is never entity-decoded),
    # a bracket-whitespace-trimmed CDATA loc, a CDATA lastmod, and an
    # empty-CDATA loc that drops like an empty plain loc.
    # Row-local regex + HOF algebra; DuckDB replays via the emitted
    # sitemap_entries_sql twin.
    from pandas_weights_spark.functions.robots import sitemap_entries

    did = F.col("doc_id")
    ids = did.cast("string")
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>https://h'),
        ids,
        F.lit(".ex/a?p=1&amp;q="),
        ids,
        F.lit("</loc><lastmod>2024-03-05T10:00:00Z</lastmod>"
              "<changefreq>WEEKLY</changefreq><priority>0."),
        (did % 10).cast("string"),
        F.lit("</priority></url><url><loc> https://h"),
        ids,
        F.lit(".ex/b </loc><lastmod>2024-99-99</lastmod>"
              "<priority>high</priority></url>"
              "<url><loc></loc><priority>1.0</priority></url>"
              "<url><loc><![CDATA[https://h"),
        ids,
        F.lit(".ex/n?a=1&amp;b=2]]></loc>"
              "<lastmod><![CDATA[2024-05-06]]></lastmod></url>"
              "<url><loc> <![CDATA[ https://h"),
        ids,
        F.lit(".ex/t ]]> </loc></url>"
              "<url><loc><![CDATA[]]></loc></url>"
              "</urlset>"),
    )
    smidx = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://h"),
        ids,
        F.lit(".ex/s1.xml.gz</loc><lastmod>2024-01-"),
        F.lpad(((did % 28) + 1).cast("string"), 2, "0"),
        F.lit("</lastmod></sitemap><sitemap><loc>https://h"),
        ids,
        F.lit(".ex/s2.xml.gz</loc></sitemap></sitemapindex>"),
    )
    xml = F.when(did % 3 == 0, smidx).otherwise(urlset)
    docs = _docs(spark, sf_dir).select("doc_id", xml.alias("__x__"))
    return docs.select(
        "doc_id",
        F.explode(sitemap_entries(F.col("__x__"))).alias("e"),
    ).select(
        "doc_id",
        F.col("e.kind").alias("kind"),
        F.col("e.loc").alias("loc"),
        F.col("e.lastmod_raw").alias("lastmod_raw"),
        F.col("e.lastmod_date").alias("lastmod_date"),
        F.col("e.changefreq").alias("changefreq"),
        F.col("e.priority").alias("priority"),
    )


def _sitemap_parse_sql() -> str:
    from pandas_weights_spark.functions.robots import (
        sitemap_entries_sql,
    )

    return f"""
    WITH page AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN
          '<sitemapindex><sitemap><loc>https://h'
          || CAST(doc_id AS VARCHAR)
          || '.ex/s1.xml.gz</loc><lastmod>2024-01-'
          || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
          || '</lastmod></sitemap><sitemap><loc>https://h'
          || CAST(doc_id AS VARCHAR)
          || '.ex/s2.xml.gz</loc></sitemap></sitemapindex>'
        ELSE
          '<?xml version="1.0"?><urlset><url><loc>https://h'
          || CAST(doc_id AS VARCHAR) || '.ex/a?p=1&amp;q='
          || CAST(doc_id AS VARCHAR)
          || '</loc><lastmod>2024-03-05T10:00:00Z</lastmod>'
          || '<changefreq>WEEKLY</changefreq><priority>0.'
          || CAST(doc_id % 10 AS VARCHAR)
          || '</priority></url><url><loc> https://h'
          || CAST(doc_id AS VARCHAR)
          || '.ex/b </loc><lastmod>2024-99-99</lastmod>'
          || '<priority>high</priority></url>'
          || '<url><loc></loc><priority>1.0</priority></url>'
          || '<url><loc><![CDATA[https://h'
          || CAST(doc_id AS VARCHAR)
          || '.ex/n?a=1&amp;b=2]]></loc>'
          || '<lastmod><![CDATA[2024-05-06]]></lastmod></url>'
          || '<url><loc> <![CDATA[ https://h'
          || CAST(doc_id AS VARCHAR)
          || '.ex/t ]]> </loc></url>'
          || '<url><loc><![CDATA[]]></loc></url>'
          || '</urlset>'
        END AS x
      FROM documents
    ), ent AS (
      SELECT doc_id,
             unnest({sitemap_entries_sql('x')}, recursive := true)
      FROM page
    )
    SELECT doc_id, kind, loc, lastmod_raw, lastmod_date,
           changefreq, priority
    FROM ent
"""


def _q_semdedup_incremental(spark, sf_dir):
    # r13: snapshot-incremental SEMANTIC dedup (functions/dedup.py
    # semantic_dedup_incremental — the embedding analog of
    # neardup_incremental): two crawl batches through the stateful
    # kernel in one query, pinned via the semdedup explicit-centroid
    # trick (one centroid → every vector in cell 0, so the cell-local
    # verify degenerates to the exact brute cosine DuckDB replays).
    # Batch 1 plants in-batch scaled copies (+10000, ×1.5 — cosine
    # exactly 1, higher id loses); batch 2 plants near-dups OF
    # HISTORY (+20000, ×2.0 copies of batch-1 docs including ones
    # whose twin LOST — losers stay in state) and exact re-crawls
    # (+30000) that must suppress. Output: (batch, vec_id) survivors.
    from pandas_weights_spark.functions.dedup import (
        semantic_dedup_incremental,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def scaled(lo, hi, off, k):
        return base.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).select(
            (F.col("vec_id") + off).alias("vec_id"),
            F.transform("v", lambda x: x * F.lit(k)).alias("v"),
        )

    b1 = base.where(F.col("vec_id") < 150).unionByName(
        scaled(0, 30, 10000, 1.5)
    )
    b2 = (
        base.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 300))
        .unionByName(scaled(0, 30, 20000, 2.0))
        .unionByName(scaled(30, 60, 30000, 1.0))
    )
    cents = [[1.0] * 64]
    s1, st1 = semantic_dedup_incremental(
        b1, "v", "vec_id", centroids=cents, threshold=0.9
    )
    s2, _st2 = semantic_dedup_incremental(
        b2, "v", "vec_id", centroids=cents, state=st1, threshold=0.9
    )
    return (
        s1.select(F.lit(1).alias("batch"), "vec_id")
        .unionByName(s2.select(F.lit(2).alias("batch"), "vec_id"))
        .select(
            F.col("batch").cast("long").alias("batch"),
            F.col("vec_id").cast("long").alias("vec_id"),
        )
    )


def _semdedup_incremental_sql() -> str:
    # closed-form two-stage replay: with ONE cell, state after batch
    # 1 is EVERY b1 doc (losers included) and every verify is a plain
    # cosine join; 6-dp round-then-threshold mirrors the engine rule
    cos = "round(list_cosine_similarity({a}.v, {b}.v), 6) >= 0.9"
    return f"""
    WITH e0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ), b1 AS (
      SELECT vec_id, v FROM e0 WHERE vec_id < 150
      UNION ALL
      SELECT vec_id + 10000, list_transform(v, x -> x * 1.5)
      FROM e0 WHERE vec_id < 30
    ), b2 AS (
      SELECT vec_id, v FROM e0
      WHERE vec_id >= 150 AND vec_id < 300
      UNION ALL
      SELECT vec_id + 20000, list_transform(v, x -> x * 2.0)
      FROM e0 WHERE vec_id < 30
      UNION ALL
      SELECT vec_id + 30000, list_transform(v, x -> x * 1.0)
      FROM e0 WHERE vec_id >= 30 AND vec_id < 60
    ), losers1 AS (
      SELECT DISTINCT b.vec_id
      FROM b1 a JOIN b1 b ON a.vec_id < b.vec_id
      WHERE {cos.format(a='a', b='b')}
    ), surv1 AS (
      SELECT vec_id FROM b1
      WHERE vec_id NOT IN (SELECT vec_id FROM losers1)
    ), histdups AS (
      SELECT DISTINCT n.vec_id
      FROM b2 n JOIN b1 o ON {cos.format(a='n', b='o')}
    ), fresh2 AS (
      SELECT vec_id FROM b2
      WHERE vec_id NOT IN (SELECT vec_id FROM histdups)
    ), losers2 AS (
      SELECT DISTINCT b.vec_id
      FROM b2 a JOIN b2 b ON a.vec_id < b.vec_id
      WHERE a.vec_id IN (SELECT vec_id FROM fresh2)
        AND b.vec_id IN (SELECT vec_id FROM fresh2)
        AND {cos.format(a='a', b='b')}
    )
    SELECT CAST(1 AS BIGINT) AS batch, CAST(vec_id AS BIGINT) AS vec_id
    FROM surv1
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(vec_id AS BIGINT) FROM fresh2
    WHERE vec_id NOT IN (SELECT vec_id FROM losers2)
"""


def _q_neardup_incremental(spark, sf_dir):
    # r12: snapshot-incremental NEAR-dup (functions/dedup.py
    # minhash_dedup_incremental — the MinHash analog of the exact
    # digest-state dedup): two crawl batches run through the stateful
    # kernel inside one query. Batch 1 carries planted in-batch
    # near-dups (first-word-stripped copies, +10000 ids); batch 2
    # carries near-dups OF HISTORY (+20000 mutated copies of batch-1
    # docs — including ones whose batch-1 twin LOST, proving losers
    # stay in state) and exact re-crawls (+30000) that must suppress.
    # Portable md5 MinHash family (16 hashes / 4 bands / 3-shingles,
    # the neardup_pairs constants) so DuckDB replays both stages —
    # signatures, band joins, exact-Jaccard verifies, min-id drops —
    # closed-form. Output: (batch, doc_id) survivors of each stage.
    from pandas_weights_spark.functions.dedup import (
        minhash_dedup_incremental,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    strip1 = F.regexp_replace(F.col("text"), r"^\S+\s+", "")
    b1 = docs.where(F.col("doc_id") < 120).unionByName(
        docs.where(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            strip1.alias("text"),
        )
    )
    b2 = (
        docs.where((F.col("doc_id") >= 120) & (F.col("doc_id") < 240))
        .unionByName(
            docs.where(F.col("doc_id") < 40).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                strip1.alias("text"),
            )
        )
        .unionByName(
            docs.where(
                (F.col("doc_id") >= 40) & (F.col("doc_id") < 60)
            ).select(
                (F.col("doc_id") + 30000).alias("doc_id"), F.col("text")
            )
        )
    )
    s1, st1 = minhash_dedup_incremental(
        b1, "text", "doc_id", threshold=0.4
    )
    s2, _st2 = minhash_dedup_incremental(
        b2, "text", "doc_id", state=st1, threshold=0.4
    )
    return (
        s1.select(F.lit(1).alias("batch"), "doc_id")
        .unionByName(s2.select(F.lit(2).alias("batch"), "doc_id"))
        .select(
            F.col("batch").cast("long").alias("batch"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
    )


def _neardup_incremental_sql() -> str:
    # closed-form two-stage replay of minhash_dedup_incremental over
    # the same fixture — the _minhash_sql machinery (md5 signature
    # mins, 4-band keys, exact-Jaccard verify) applied per batch.
    # r13: the verify runs over 16-char md5-prefix shingle DIGESTS
    # (the engine's digest-only state schema), not raw shingles
    sig = ", ".join(
        f"list_min(list_transform(s, x -> md5('{i} ' || x)))"
        for i in range(16)
    )
    bands = ", ".join(
        f"md5(array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '|')) AS b{b}"
        for b in range(4)
    )
    band_or = " OR ".join(f"a.b{b} = b.b{b}" for b in range(4))
    cross_or = " OR ".join(f"n.b{b} = o.b{b}" for b in range(4))
    jac = (
        "round(CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
        " / CAST(len(list_distinct(list_concat({a}, {b})))"
        " AS DOUBLE), 6)"
    )

    def stage(src: str, name: str) -> str:
        return f"""
    {name}_tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM {src}
    ), {name}_sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN [array_to_string(w[i:i+2], ' ')
                        for i in range(1, len(w)-1)]
                  ELSE [array_to_string(w, ' ')] END AS s
      FROM {name}_tok
    ), {name}_band AS (
      SELECT doc_id,
             list_distinct(
               list_transform(s, x -> substr(md5(x), 1, 16))
             ) AS sd, {bands}
      FROM (SELECT doc_id, s, [{sig}] AS sig FROM {name}_sh)
    )"""

    return f"""
    WITH b1 AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 120
      UNION ALL
      SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
      FROM documents WHERE doc_id < 40
    ), b2 AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id >= 120 AND doc_id < 240
      UNION ALL
      SELECT doc_id + 20000, regexp_replace(text, '^\\S+\\s+', '')
      FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 30000, text FROM documents
      WHERE doc_id >= 40 AND doc_id < 60
    ), {stage('b1', 's1')}, {stage('b2', 's2')},
    losers1 AS (
      SELECT DISTINCT b.doc_id
      FROM s1_band a JOIN s1_band b
        ON a.doc_id < b.doc_id AND ({band_or})
      WHERE {jac.format(a='a.sd', b='b.sd')} >= 0.4
    ), surv1 AS (
      SELECT doc_id FROM b1
      WHERE doc_id NOT IN (SELECT doc_id FROM losers1)
    ), histdups AS (
      -- state after batch 1 is EVERY b1 doc (losers included)
      SELECT DISTINCT n.doc_id
      FROM s2_band n JOIN s1_band o ON ({cross_or})
      WHERE {jac.format(a='n.sd', b='o.sd')} >= 0.4
    ), fresh2 AS (
      SELECT doc_id FROM b2
      WHERE doc_id NOT IN (SELECT doc_id FROM histdups)
    ), losers2 AS (
      SELECT DISTINCT b.doc_id
      FROM s2_band a JOIN s2_band b
        ON a.doc_id < b.doc_id AND ({band_or})
      WHERE a.doc_id IN (SELECT doc_id FROM fresh2)
        AND b.doc_id IN (SELECT doc_id FROM fresh2)
        AND {jac.format(a='a.sd', b='b.sd')} >= 0.4
    )
    SELECT CAST(1 AS BIGINT) AS batch, CAST(doc_id AS BIGINT) AS doc_id
    FROM surv1
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(doc_id AS BIGINT) FROM fresh2
    WHERE doc_id NOT IN (SELECT doc_id FROM losers2)
"""


def _q_neardup_pairs(spark, sf_dir):
    # THREE near-dup pair pipelines in one tagged union (folded from
    # r3's minhash_neardup + ngram_jaccard + embedding_neardup to free
    # two driver rows — coverage unchanged; the bench still times each
    # method standalone): `minhash` is the banded-LSH + exact-verify
    # path, `ngram` the exact shingle inverted index, `embed` the
    # hyperplane-bucketed cosine path.
    mh = _q_minhash_neardup(spark, sf_dir).select(
        F.lit("minhash").alias("method"), "id_a", "id_b",
        F.col("jaccard").alias("sim"),
    )
    ng = _q_ngram_jaccard(spark, sf_dir).select(
        F.lit("ngram").alias("method"), "id_a", "id_b",
        F.col("jaccard").alias("sim"),
    )
    em = _q_embedding_neardup(spark, sf_dir).select(
        F.lit("embed").alias("method"), "id_a", "id_b",
        F.col("cosine").alias("sim"),
    )
    # r5: chunk-level repeated-span detection (dedup.chunk_near_
    # duplicates — chunk_documents ∘ MinHash banding): docs < 60 plus
    # synthetic span-copy docs (deterministic pad + the doc's first 120
    # tokens), so a copied paragraph inside otherwise-different
    # documents must surface as a chunk pair. Composite chunk identity
    # re-encodes to doc*100000+chunk for the long id columns.
    ck = _q_chunk_neardup(spark, sf_dir).select(
        F.lit("chunk").alias("method"),
        (F.col("doc_a").cast("long") * 100000 + F.col("chunk_a")).alias(
            "id_a"
        ),
        (F.col("doc_b").cast("long") * 100000 + F.col("chunk_b")).alias(
            "id_b"
        ),
        F.col("jaccard").alias("sim"),
    )
    # r5: cross-TABLE fuzzy join (dedup.minhash_join — corpus docs<100
    # vs a probes table of first-word-dropped docs<40, ids +30000):
    # every probe must fuzzy-match its source document
    from pandas_weights_spark.functions.dedup import minhash_join

    corpus = _docs(spark, sf_dir).where(F.col("doc_id") < 100).select(
        "doc_id", "text"
    )
    probes = _docs(spark, sf_dir).where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 30000).alias("probe_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    xj = minhash_join(
        corpus, probes, "text", "text", "doc_id", "probe_id",
        threshold=0.4,
    ).select(
        F.lit("xjoin").alias("method"),
        F.col("doc_id").alias("id_a"),
        F.col("probe_id").alias("id_b"),
        F.col("jaccard").alias("sim"),
    )
    # r5: cross-table EMBEDDING join (dedup.embedding_join — the vector
    # analog of xjoin): probes = vec_id<30 with the first coordinate
    # nudged +0.1 (ids +40000), so each probe cosine-matches its source
    from pandas_weights_spark.functions.dedup import embedding_join

    embt = load_table(spark, sf_dir, "embeddings")
    eprobes = embt.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 40000).alias("probe_id"),
        F.concat(
            F.array(F.col("embedding")[0].cast("double") + F.lit(0.1)),
            F.slice(F.col("embedding").cast("array<double>"), 2, 63),
        ).alias("embedding"),
    )
    xe = embedding_join(
        embt, eprobes, "vec_id", "probe_id",
        threshold=0.8, bucket_planes=4, seed=42,
    ).select(
        F.lit("xembed").alias("method"),
        F.col("vec_id").alias("id_a"),
        F.col("probe_id").alias("id_b"),
        F.col("cosine").alias("sim"),
    )
    return (
        mh.unionByName(ng).unionByName(em).unionByName(ck)
        .unionByName(xj).unionByName(xe)
    )


def _q_chunk_neardup(spark, sf_dir):
    # base: documents < 60 + span-copy partners (id + 20000): 50 tokens
    # of deterministic pad, then the source doc's first 120 tokens —
    # every engine-side string op (repeat/slice/concat_ws) has an exact
    # DuckDB twin, so the chunk texts match byte-for-byte
    from pandas_weights_spark.functions.dedup import chunk_near_duplicates
    from pandas_weights_spark.functions.text import tokens

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 60).select(
        "doc_id", "text"
    )
    pad = F.repeat(
        F.concat(F.lit("pad"), F.col("doc_id").cast("string"), F.lit(" ")),
        50,
    )
    prefix = F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 120))
    copies = docs.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(pad, prefix).alias("text"),
    )
    return chunk_near_duplicates(
        docs.unionByName(copies), "text", "doc_id",
        chunk_tokens=64, overlap=16, threshold=0.5,
        num_hashes=16, bands=4, shingle_size=3,
    )


def _q_weighted_tests(spark, sf_dir):
    # weighted inferential stats (inference.py), long format: Welch's
    # two-sample t (price: returnflag A vs R, one masked moment
    # aggregate) + chi-square independence of returnflag x linestatus
    # (one grouping-sets pass, full-grid expected masses). Masses are
    # integral so the moment sums are exact; the statistic algebra is
    # mirrored term-for-term in the oracle and ROUND 6 absorbs the
    # engines' summation-order ulps in the 6-term chi2 sum.
    li = _li(spark, sf_dir)
    t = wt(li, _W).ttest("l_extendedprice", "l_returnflag", "A", "R")
    c = wt(li, _W).chi2("l_returnflag", "l_linestatus")
    tl = t.select(
        F.lit("ttest").alias("test"),
        F.expr(
            "stack(8, 'n_a', n_a, 'mean_a', mean_a, 'var_a', var_a, "
            "'n_b', n_b, 'mean_b', mean_b, 'var_b', var_b, "
            "'t_stat', t_stat, 'df', df) AS (metric, value)"
        ),
    )
    cl = c.select(
        F.lit("chi2").alias("test"),
        F.expr(
            "stack(4, 'chi2', chi2, 'dof', CAST(dof AS DOUBLE), "
            "'n', n, 'cramers_v', cramers_v) AS (metric, value)"
        ),
    )
    # r4: the rest of the inferential/information panel folds into the
    # same tagged shape — one-way ANOVA F, weight-mass entropy, mutual
    # information (grouping-sets single scan), Gini (banded pairwise-
    # difference collapse), two-sample KS (banded dual-CDF sup).
    from pandas_weights_spark.inference import (
        weighted_anova,
        weighted_entropy,
        weighted_mutual_information,
    )
    from pandas_weights_spark.quantile import weighted_gini, weighted_ks

    al = weighted_anova(wt(li, _W), "l_extendedprice", "l_returnflag").select(
        F.lit("anova").alias("test"),
        F.expr(
            "stack(5, 'f_stat', f_stat, 'df_between', df_between, "
            "'df_within', df_within, 'n', n, 'k', CAST(k AS DOUBLE)) "
            "AS (metric, value)"
        ),
    )
    el = weighted_entropy(wt(li, _W), "l_returnflag").select(
        F.lit("entropy").alias("test"),
        F.expr(
            "stack(3, 'entropy', entropy, 'n_categories', "
            "CAST(n_categories AS DOUBLE), 'n', n) AS (metric, value)"
        ),
    )
    ml = weighted_mutual_information(
        wt(li, _W), "l_returnflag", "l_linestatus"
    ).select(
        F.lit("mi").alias("test"),
        F.expr(
            "stack(6, 'mi', mi, 'nmi', nmi, 'h_x', h_x, 'h_y', h_y, "
            "'h_xy', h_xy, 'n', n) AS (metric, value)"
        ),
    )
    gl = weighted_gini(wt(li, _W), "l_extendedprice").select(
        F.lit("gini").alias("test"),
        F.expr("stack(2, 'gini', gini, 'n', n) AS (metric, value)"),
    )
    kl = weighted_ks(
        wt(li, _W), "l_extendedprice", "l_returnflag", "A", "R"
    ).select(
        F.lit("ks").alias("test"),
        F.expr(
            "stack(3, 'ks_stat', ks_stat, 'n_a', n_a, 'n_b', n_b) "
            "AS (metric, value)"
        ),
    )
    # Mann–Whitney U reported as the AUC effect size u/(n_a·n_b):
    # the raw U is ~1e11 at sf0.01, where summation-order ulps exceed
    # ROUND 6's absolute tolerance; the normalized form (and z, whose
    # denominator absorbs the fuzz) compare cleanly
    from pandas_weights_spark.quantile import weighted_mannwhitney

    mw = weighted_mannwhitney(
        wt(li, _W), "l_extendedprice", "l_returnflag", "A", "R"
    ).select(
        F.lit("mwu").alias("test"),
        F.expr(
            "stack(4, 'auc', u_stat / (n_a * n_b), 'z_stat', z_stat, "
            "'n_a', n_a, 'n_b', n_b) AS (metric, value)"
        ),
    )
    # r5: the t-digest's EXACT components (total mass, min, max — sums
    # and extremes, not sketched) get oracle rows per returnflag; the
    # centroid layout stays approximate-by-design (tests pin the rank
    # bound). This upgrades functions/tdigest.py from tests-only to
    # partially oracle-checked.
    from pandas_weights_spark.functions.tdigest import tdigest_aggregate

    td = tdigest_aggregate(
        li, "l_extendedprice", F.col("l_quantity").cast("double"),
        by=["l_returnflag"], delta=100,
    ).select(
        F.lit("td").alias("test"),
        F.expr(
            "stack(3, concat('n:', l_returnflag), td_total, "
            "concat('lo:', l_returnflag), td_min, "
            "concat('hi:', l_returnflag), td_max) AS (metric, value)"
        ),
    )
    out = tl.unionByName(cl)
    for part in (al, el, ml, gl, kl, mw, td):
        out = out.unionByName(part)
    return out.select(
        "test", "metric", F.round(F.col("value"), 6).alias("value")
    )


def _q_crosstab(spark, sf_dir):
    # weighted contingency table (pivot.weighted_crosstab): raw masses
    # + margins AND row-normalized shares in one tagged union. Masses
    # are integral (l_quantity) so every cell, margin, and row-share
    # division is bit-exact — no rounding. Margins/normalization are
    # derived from the aggregated table (one raw-scan hash aggregate
    # per variant), never a second raw scan.
    g = wt(_li(spark, sf_dir), _W).groupby("l_returnflag")
    vals = ["F", "O"]
    raw = g.crosstab(
        "l_linestatus", column_values=vals, margins=True
    ).select(F.lit("mass").alias("kind"), "l_returnflag", "F", "O", "All")
    shares = g.crosstab(
        "l_linestatus", column_values=vals, margins=True, normalize="index"
    ).select(
        F.lit("share").alias("kind"), "l_returnflag", "F", "O",
        F.lit(None).cast("double").alias("All"),
    )
    return raw.unionByName(shares)


def _q_neardup_clusters(spark, sf_dir):
    # near-dup CLUSTERING — the stage after pair detection: minhash+LSH
    # pairs → alternating large-star/small-star connected components
    # (functions/graph.py, O(log) shuffle rounds, no driver-side edges)
    # → (doc_id, cluster, is_survivor). cluster = MIN doc id of the
    # component (deterministic), so DuckDB replays the transitive
    # closure as a recursive reachability CTE over the same pair SQL.
    from pandas_weights_spark.functions.graph import neardup_clusters

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200).select(
        "doc_id", "text"
    )
    mutated = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    base = docs.unionByName(mutated)
    return neardup_clusters(
        base, "text", "doc_id", threshold=0.4, num_hashes=16, bands=4,
        shingle_size=3,
    )


def _q_linfit(spark, sf_dir):
    # weighted least-squares line fit per return flag (regression.py):
    # price ~ discount under quantity weights, one moment aggregate.
    # Closed-form algebra over the Pearson moment sums; ROUND 6 absorbs
    # the division/sqrt ulps (sums are single-partition-deterministic
    # at sf0.01).
    out = wt(_li(spark, sf_dir), _W).linfit(
        "l_discount", "l_extendedprice", by=["l_returnflag"]
    )
    one = out.select(
        F.lit("fit1").alias("kind"),
        F.col("l_returnflag").alias("key"),
        F.expr(
            "stack(6, 'n', CAST(n AS DOUBLE), 'sum_w', sum_w, "
            "'slope', slope, 'intercept', intercept, 'r2', r2, "
            "'rmse', rmse) AS (metric, value)"
        ),
    )
    # r4: multiple WLS folded in (regression.weighted_linreg): price ~
    # discount + tax, normal equations from one aggregate, numpy solve
    # on the per-group moment rows; the oracle solves the same 3x3
    # system by Cramer's rule (ROUND 5 absorbs LU-vs-Cramer ulps)
    from pandas_weights_spark.regression import weighted_linreg

    multi = weighted_linreg(
        wt(_li(spark, sf_dir), _W), ["l_discount", "l_tax"],
        "l_extendedprice", by=["l_returnflag"],
    ).select(
        F.lit("fit2").alias("kind"),
        F.col("l_returnflag").alias("key"),
        F.expr(
            "stack(5, 'intercept', intercept, 'b_discount', coef[0], "
            "'b_tax', coef[1], 'r2', r2, 'n', n) AS (metric, value)"
        ),
    )
    # fit2 rounds coarser: LU (numpy) vs Cramer (oracle) agree to
    # ~1e-4 absolute on the ~1e4-magnitude coefficients
    return one.unionByName(multi).select(
        "kind", "key", "metric",
        F.when(F.col("kind") == "fit2", F.round(F.col("value"), 3))
        .otherwise(F.round(F.col("value"), 5))
        .alias("value"),
    )


def _q_bloom_semi_join(spark, sf_dir):
    # Bloom-pruned semi join (functions/bloom.py): line items of
    # high-value orders. The bitmap is built distributed (word-indexed
    # bit_or aggregate), broadcast as one map row, probed MAP-SIDE on
    # the big table before anything shuffles; exact=True then makes
    # the result row-for-row the plain left_semi join, independent of
    # the bloom's false-positive rate — which is what the IN-subquery
    # oracle checks.
    from pandas_weights_spark.functions.bloom import bloom_semi_join

    li = _li(spark, sf_dir)
    hi = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000.0)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return bloom_semi_join(
        li, hi, "l_orderkey", expected_items=1024, fpp=0.01
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


def _q_pivot_table(spark, sf_dir):
    # weighted pivot table (pivot.py): return flag as index, line
    # status spread wide, weighted mean+sum cells for two value
    # columns — all 8 cells in ONE hash aggregate (conditionally
    # masked kernels; no Spark pivot() fallback, no second pass).
    # Sums/means are single-partition-deterministic at sf0.01 ->
    # bit-exact, no rounding.
    return (
        wt(_li(spark, sf_dir), _W)
        .groupby("l_returnflag")
        .pivot(
            "l_linestatus",
            values=["l_extendedprice", "l_discount"],
            stats=("mean", "sum"),
            column_values=["F", "O"],
        )
    )


def _q_qcut(spark, sf_dir):
    # weighted discretization (quantile.py): fixed-edge cut (row-local
    # CASE) + per-group equal-mass qcut (rides the CDF transform's
    # banded machinery). Integer masses -> the cdf division and the
    # ceil bin arithmetic are bit-exact, no rounding.
    li = _li(spark, sf_dir)
    cutdf = wt(li, _W).cut(
        "l_extendedprice", [0.0, 10000.0, 30000.0, 60000.0]
    )
    # keep_cdf: the qbin rides the CDF transform, so the F(x) column is
    # free — this row also carries the per-row weighted CDF coverage
    # (folded from r3's standalone group_cdf row to free a driver slot;
    # the bench still times group_cdf standalone). cw/tw is a division
    # of exact integer-mass sums — bit-exact, no rounding.
    out = wt(cutdf, _W).groupby("l_returnflag").qcut(
        "l_extendedprice", 4, keep_cdf=True
    )
    return out.select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice",
        F.col("l_extendedprice_bin").alias("cut_bin"),
        F.col("l_extendedprice_qbin").alias("qbin"),
        F.col("l_extendedprice_cdf").alias("cdf"),
    )


def _q_group_transforms(spark, sf_dir):
    # grouped ordered transforms (transforms.py): lag/delta/relative
    # change on the price, gap fill both directions on a NULL-bearing
    # derived column, and the running weighted mass total — SIX
    # transforms sharing ONE WindowExec (pinned by test_transforms).
    # lag/ffill pick values (exact) and pct_change is one IEEE division
    # on identical operands — bit-exact. The running sum is NOT
    # order-stable across engines (DuckDB's segment-tree vs Spark's
    # sequential accumulation), so the mass rides an integral cents
    # column: integer sums are exact in any order.
    li = (
        _li(spark, sf_dir)
        .withColumn(
            "price_n", F.when(F.col("l_tax") > 0, F.col("l_extendedprice"))
        )
        .withColumn("price_c", F.round(F.col("l_extendedprice") * 100))
    )
    t = wt(li, _W).ordered(
        order_by=["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"],
        partition_by=["l_returnflag"],
    )
    # r4: rank family rides along — rank/dense/percent over the TIED
    # shipdate order (tie semantics deterministic in any engine),
    # row_number/cumcount/cummass over the total order (cummass on the
    # integral quantity: exact running sums in any order)
    tied = wt(li, _W).ordered(
        order_by=["l_shipdate"], partition_by=["l_returnflag"]
    )
    return t.assemble(
        lag_price=t.col("l_extendedprice", "shift"),
        diff_price=t.col("l_extendedprice", "diff"),
        pct_price=t.col("l_extendedprice", "pct_change"),
        ffill_price=t.col("price_n", "ffill"),
        bfill_price=t.col("price_n", "bfill"),
        cum_mass=t.col("price_c", "cumsum"),
        # r5: linear row-position interpolation of the NULL runs —
        # prev + (next−prev)·frac is one IEEE expression on picked
        # values, replayed operand-for-operand in the oracle
        itp=t.col("price_n", "interpolate"),
        rk=tied.rank_col("rank").cast("long"),
        drk=tied.rank_col("dense_rank").cast("long"),
        prk=tied.rank_col("percent_rank"),
        rn=t.rank_col("row_number").cast("long"),
        cmass=t.rank_col("cummass"),
    )


def _q_weighted_centroids(spark, sf_dir):
    from pandas_weights_spark.functions.similarity import weighted_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    out = weighted_centroids(
        emb, "embedding", (F.col("vec_id") % 7 + 1).cast("double"), ["label"]
    )
    cents = out.select(
        # string label so the pca:* tagged rows union cleanly
        F.col("label").cast("string").alias("label"),
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("centroid"), 6).alias("centroid"),
    )
    # r5 fold: the PCA fit's moment path (functions/pca.py
    # _embedding_moments — mapInPandas partition partials + driver sum)
    # is EXACT sums, so it gets oracle rows: mean (16 dims) +
    # n-normalized Gram upper triangle (12x12 → 78 rows; /n keeps
    # values O(1) so ROUND 6 sits far above the cross-engine
    # summation-order ulps). The eigh/projection stage is pinned by
    # numpy differentials (tests/test_pca.py) — eigenvectors have no
    # SQL analog.
    from pandas_weights_spark.functions.pca import _embedding_moments

    n, s, g = _embedding_moments(emb, "embedding")
    rows = [("pca:mean", i, round(float(s[i] / n), 6)) for i in range(16)]
    rows += [
        ("pca:gram", i * 100 + j, round(float(g[i][j] / n), 6))
        for i in range(12)
        for j in range(i, 12)
    ]
    pca = spark.createDataFrame(rows, "label string, dim long, centroid double")
    return cents.unionByName(pca)


def _q_star_join_mean(spark, sf_dir):
    # weighted agg over a star join: lineitem ⋈ orders ⋈ customer,
    # quantity-weighted mean price per market segment. customer is tiny →
    # explicit broadcast; orders joins shuffle-side.
    li = _li(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    star = (
        wt(joined, _W)
        .groupby("c_mktsegment")[["l_extendedprice"]]
        .agg_all(["count", "mean"])
        .select(
            F.lit("star").alias("kind"),
            "c_mktsegment",
            F.col("l_extendedprice_count").alias("w_count"),
            F.col("l_extendedprice_mean").alias("val"),
        )
    )
    # customer-weights aggregate folded in (freed a driver row for
    # bloom_semi_join — coverage unchanged): weights with sign variety
    # (c_acctbal can be negative), sum statistic in the shared schema
    cust_agg = (
        wt(load_table(spark, sf_dir, "customer"), "c_acctbal")
        .groupby("c_mktsegment")[["c_custkey"]]
        .agg_all(["count", "sum"])
        .select(
            F.lit("cust").alias("kind"),
            "c_mktsegment",
            F.col("c_custkey_count").alias("w_count"),
            F.col("c_custkey_sum").alias("val"),
        )
    )
    return star.unionByName(cust_agg)


def _q_grouped_apply(spark, sf_dir):
    # arbitrary-Python extension point (reference frame.py:662-679):
    # per-group spread of the weighted price, via applyInPandas
    import pandas as pd

    def spread(pdf: "pd.DataFrame") -> "pd.Series":
        return pd.Series({"spread": pdf["l_extendedprice"].max()
                          - pdf["l_extendedprice"].min()})

    ap = (
        wt(_li(spark, sf_dir), _W)[["l_returnflag", "l_extendedprice"]]
        .groupby("l_returnflag")
        .apply(spread, "l_returnflag string, spread double")
        .select(
            F.lit("apply").alias("kind"),
            F.col("l_returnflag").alias("key"),
            F.lit("spread").alias("stat"),
            F.col("spread").alias("val"),
        )
    )
    # r4 fold: the events-table grouped agg_all row melts into the same
    # tagged shape (freed a driver row for decontam — coverage
    # unchanged: same kernels, same events source)
    ev = _q_events_group(spark, sf_dir).select(
        F.lit("events").alias("kind"),
        F.col("event_type").alias("key"),
        F.expr(
            "stack(5, 'count', w_count, 'sum', w_sum, 'mean', w_mean,"
            " 'var', w_var, 'std', w_std) AS (stat, val)"
        ),
    ).select("kind", "key", "stat", "val")
    # r4 fold: the elementwise mapInPandas series apply rides along as
    # keyless tagged rows (multiset value compare needs no row id;
    # freed a driver slot for chunk_docs — coverage unchanged)
    se = _q_series_apply(spark, sf_dir).select(
        F.lit("series").alias("kind"),
        F.lit(None).cast("string").alias("key"),
        F.lit("plus2").alias("stat"),
        F.col("wprice_plus2").alias("val"),
    )
    # r4: cohort retention triangle over events (cohort.py — unordered
    # first-seen window + one (cohort, period) aggregate); integral
    # masses and counts, bit-exact
    from pandas_weights_spark.cohort import cohort_retention

    # r5: fold user_id % 13 == 0 into one NULL pseudo-user so the
    # NULL-user n_users contract (VERDICT r4 item 1) is oracle-pinned;
    # weight derives from the ORIGINAL id so mass stays deterministic
    evt = load_table(spark, sf_dir, "events").withColumn(
        "w_ret", (F.col("user_id") % 7 + 1).cast("double")
    ).withColumn(
        "u_ret",
        F.when(F.col("user_id") % 13 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id")),
    )
    # r5: the ordered-event FUNNEL rides along (cohort.funnel — one
    # groupBy(user) with per-step sorted (t, w) arrays + a row-local
    # qualifying chain): view → click → purchase over the events table.
    # r6 (VERDICT r5 item 1): the funnel weight VARIES within a user
    # (a ts-derived term on top of the per-user base) so the pinned
    # mass contract — the QUALIFYING event's weight, not MAX/first/mean
    # of the user's weights — is actually discriminated by the oracle.
    from pandas_weights_spark.cohort import funnel

    evt_f = evt.withColumn(
        "w_fun",
        F.col("w_ret")
        + (F.unix_timestamp(F.col("ts")) % 5).cast("double") * 0.125,
    )
    fun = funnel(
        evt_f, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], weight=F.col("w_fun"),
    ).select(
        F.lit("fun").alias("kind"),
        F.col("step").alias("key"),
        F.expr(
            "stack(3, 'n', CAST(n_users AS DOUBLE), 'm', mass, "
            "'c', conversion) AS (stat, val)"
        ),
    ).select(
        "kind", "key",
        F.concat(F.col("stat"), F.lit(":"),
                 F.col("key")).alias("stat"),
        F.round(F.col("val"), 6).alias("val"),
    ).select("kind", "key", "stat", "val")
    ret = cohort_retention(
        evt, "u_ret", "ts", "1d", weight=F.col("w_ret"),
    ).select(
        F.lit("ret").alias("kind"),
        F.unix_timestamp("cohort").cast("string").alias("key"),
        F.expr(
            "stack(2, concat('u:', CAST(period AS STRING)), "
            "CAST(n_users AS DOUBLE), "
            "concat('m:', CAST(period AS STRING)), mass) AS (stat, val)"
        ),
    )
    return (
        ap.unionByName(ev).unionByName(se).unionByName(ret)
        .unionByName(fun)
    )


def _q_series_apply(spark, sf_dir):
    # elementwise apply over weighted values via mapInPandas
    ws = wt(_li(spark, sf_dir), _W)["l_extendedprice"]
    return ws.apply(lambda x: x + 2.0, "l_extendedprice double").select(
        F.col("l_extendedprice").alias("wprice_plus2")
    )


def _q_events_group(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        wt(ev, (F.col("user_id") % 7 + 1).cast("double"))[["value"]]
        .groupby("event_type")
        .agg_all(["count", "sum", "mean", "var", "std"])
        .select(
            "event_type",
            F.col("value_count").alias("w_count"),
            F.col("value_sum").alias("w_sum"),
            F.col("value_mean").alias("w_mean"),
            F.col("value_var").alias("w_var"),
            F.col("value_std").alias("w_std"),
        )
    )


def _q_calibration(spark, sf_dir):
    # survey-weight raking (calibration.py): calibrate l_quantity to
    # fixed returnflag x linestatus margins (Σ targets agree across
    # dims: 4000), 3 sequential IPF sweeps, tol=0 so the iteration
    # count is deterministic for the unrolled oracle. Output: per-cell
    # calibrated masses + Kish diagnostics of the calibrated weights,
    # tagged long format; ROUND 6 absorbs driver-side dict-sum vs SQL
    # SUM ordering ulps.
    from pandas_weights_spark.calibration import (
        rake_weights,
        weight_diagnostics,
    )

    li = _li(spark, sf_dir)
    margins = {
        "l_returnflag": {"A": 1000.0, "N": 2000.0, "R": 1000.0},
        "l_linestatus": {"F": 1500.0, "O": 2500.0},
    }
    out, _info = rake_weights(
        li, "l_quantity", margins, max_iter=3, tol=0.0
    )
    cells = out.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("weight_cal").alias("val")
    ).select(
        F.lit("cell").alias("kind"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        "val",
    )
    diag = weight_diagnostics(out, "weight_cal").select(
        F.lit("diag").alias("kind"),
        F.expr(
            "stack(5, 'n', CAST(n AS DOUBLE), 'sum_w', sum_w, "
            "'n_eff', n_eff, 'deff', deff, 'cv_w', cv_w) AS (k1, val)"
        ),
    ).select("kind", "k1", F.lit(None).cast("string").alias("k2"), "val")
    # r4: Poisson-bootstrap SE of the quantity-weighted mean price
    # (calibration.bootstrap_se — replicate-exploded md5 draws, B+1
    # hash-agg groups); deterministic, so the oracle replays the draws
    from pandas_weights_spark.calibration import bootstrap_se

    boot = bootstrap_se(
        li, "l_quantity", "l_extendedprice",
        ["l_orderkey", "l_linenumber"], n_replicates=20, seed=42,
        portable=True,
    ).select(
        F.lit("boot").alias("kind"),
        F.expr(
            "stack(2, 'estimate', estimate, 'se_boot', se_boot) "
            "AS (k1, val)"
        ),
    ).select("kind", "k1", F.lit(None).cast("string").alias("k2"), "val")
    # r5: weight TRIMMING rows (calibration.trim_weights — cap at the
    # weights' own p90 under unit mass, redistribute to the original
    # total). l_quantity is integral, so bound / sums / rescale ratio
    # are exact and the replay is bit-for-bit.
    # r11 (VERDICT r10 "What's wrong" #3): ride the BINNED quantile —
    # the 100 TB path; the exact default serialized the p90 into one
    # global window partition. With integral l_quantity ∈ [1, 50] and
    # a binary bin width (64/4096 = 2^-6), every value sits exactly on
    # a bin lower edge, so the binned bound EQUALS the exact inverted-
    # CDF value bit-for-bit and the unchanged _TRIM_SQL replay (the
    # exact-path formulation) still states the same numbers.
    from pandas_weights_spark.calibration import trim_weights

    trimmed = trim_weights(
        li, "l_quantity", upper_q=0.9, rescale=True,
        exact=False, lo=0.0, hi=64.0, bins=4096,
    )
    tw = F.col("weight_trimmed")
    trim = trimmed.agg(
        F.sum(tw).alias("__m__"),
        F.max(tw).alias("__mx__"),
        F.min(tw).alias("__mn__"),
        F.count(F.lit(1)).cast("double").alias("__n__"),
    ).select(
        F.lit("trim").alias("kind"),
        F.expr(
            "stack(4, 'mass', __m__, 'max', __mx__, 'min', __mn__, "
            "'n', __n__) AS (k1, val)"
        ),
    ).select("kind", "k1", F.lit(None).cast("string").alias("k2"), "val")
    return cells.unionByName(diag).unionByName(boot).unionByName(
        trim
    ).select(
        "kind", "k1", "k2", F.round(F.col("val"), 6).alias("val")
    )


def _q_chunk_docs(spark, sf_dir):
    # sliding-window document chunking (packing.chunk_documents):
    # 16-token chunks, 4-token overlap — complete coverage, chunk_id
    # derived from the start offset. The chunk text is pinned via md5
    # so the oracle checks content, not just counts.
    from pandas_weights_spark.functions.packing import chunk_documents

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return chunk_documents(
        docs, "text", "doc_id", chunk_tokens=16, overlap=4
    ).select(
        "doc_id", "chunk_id", "n_tokens", F.md5(F.col("chunk_text")).alias("fp")
    )


def _q_decontam(spark, sf_dir):
    # benchmark decontamination (functions/decontam.py): 13-gram
    # containment of every document against a synthetic "benchmark"
    # built from every 20th doc (exact copies -> frac 1.0) plus the
    # first-word-dropped mutation of the doc_id%20==1 docs (partial
    # overlap: all shingles but the word-1-anchored ones hit). String
    # shingles so DuckDB replays the join exactly; overlap_frac is one
    # int/int division — bit-exact.
    from pandas_weights_spark.functions.decontam import ngram_overlap

    # fan_out: one-file scan → spread rows so shingle construction
    # (the compute-heavy map side) parallelizes; results are integer
    # counts, partitioning-invariant
    docs = fan_out(_docs(spark, sf_dir)).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0).select("text").unionByName(
        docs.where(F.col("doc_id") % 20 == 1).select(
            F.regexp_replace("text", r"^\S+\s+", "").alias("text")
        )
    )
    return ngram_overlap(
        docs, "text", "doc_id", bench,
        n=13, threshold=0.5, hash_shingles=False,
    )


def _q_session_agg(spark, sf_dir):
    # session windows (gap-based) with weighted aggregates — native
    # F.session_window; identical code path serves Structured Streaming
    # (streaming/__init__.py:weighted_session_stream)
    from pandas_weights_spark.streaming import weighted_session_stream

    ev = load_table(spark, sf_dir, "events")
    out = weighted_session_stream(
        ev,
        weights=(F.col("user_id") % 7 + 1).cast("double"),
        keys=["user_id"],
        on="ts",
        gap="1 hour",
        stats=("count", "sum", "mean"),
        value_cols=["value"],
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        F.col("value_count").alias("w_count"),
        F.col("value_sum").alias("w_sum"),
        F.col("value_mean").alias("w_mean"),
    )


def _q_stream_resample(spark, sf_dir):
    # Structured Streaming path through the SAME weighted kernels
    # (streaming/__init__.py:weighted_resample_stream): events replayed
    # as a file stream, 6-hour epoch-aligned tumbling windows, one
    # availableNow pass into a memory sink. Output mode "complete" emits
    # every window at termination, so the batch SQL oracle checks the
    # streaming result exactly (batch/stream kernel parity).
    from pandas_weights_spark.sources import load_table_stream
    from pandas_weights_spark.streaming import weighted_resample_stream

    stream = load_table_stream(spark, sf_dir, "events")
    agg = weighted_resample_stream(
        stream,
        weights=(F.col("user_id") % 7 + 1).cast("double"),
        on="ts",
        rule="6H",
        stats=("count", "sum", "mean"),
        value_cols=["value"],
    )
    out = agg.select(
        F.col("window_start").alias("bucket"),
        F.col("value_count").alias("w_count"),
        F.col("value_sum").alias("w_sum"),
        F.col("value_mean").alias("w_mean"),
    )
    sink = "stream_resample_sink"
    for q in spark.streams.active:
        if q.name == sink:
            q.stop()
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def _q_asof_join(spark, sf_dir):
    # distributed as-of join (functions/asof.py): each purchase event
    # picks up the latest at-or-before view event of the same user —
    # union + ordered-carry window, ONE shuffle on user_id. The right
    # side is pre-aggregated to unique (user_id, ts) so the tie rule is
    # deterministic; DuckDB's native ASOF LEFT JOIN is the oracle (an
    # independent implementation of the same semantics).
    from pandas_weights_spark.functions.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(purchases, views, on="ts", by=["user_id"])
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("ts_right").alias("view_ts"),
        "view_value",
    )


def _q_multimodal_features(spark, sf_dir):
    # multimodal plumbing end-to-end: documents → binary payload + media
    # struct → Arrow-batched decode (deterministic sha256 fake) →
    # per-lang weighted centroid of the features. The oracle reproduces
    # the sha256 expansion exactly (ASCII counter suffix, u/2^31 - 1).
    from pandas_weights_spark.functions.multimodal import (
        decode_features,
        media_struct,
    )
    from pandas_weights_spark.functions.similarity import weighted_centroids

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    media = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        media_struct(
            F.encode(F.col("text"), "utf-8"), F.lit("fake/doc")
        ).alias("media"),
    )
    feats = decode_features(media, "media", dim=8, on_error="null")
    cents = weighted_centroids(
        feats, "features", F.col("n_chars").cast("double"), ["lang"]
    ).select("lang", "dim", F.round(F.col("centroid"), 6).alias("centroid"))
    # r5 fold: perceptual-hash image near-dup rides the same query.
    # Procedural 16x16 PNGs (pixel = integer fn of (x, y, doc_id)) are
    # REAL payloads — encode_png on the driver, decoded + resampled +
    # dHashed by the engine's actual pixel path — while the oracle
    # replays the whole hash in closed-form integer SQL (the nearest-
    # neighbor sample indices and luminance sums are literal
    # arithmetic). Each doc < 40 gets a near-copy partner (+500) with
    # one blemished pixel at a SAMPLED coordinate, so every (d, d+500)
    # pair must surface with hamming <= 1; tagged as
    # (lang='ph:<id_a>', dim=id_b, centroid=hamming).
    ph = _q_image_neardup(spark).select(
        F.concat(F.lit("ph:"), F.col("id_a").cast("string")).alias("lang"),
        F.col("id_b").cast("int").alias("dim"),
        F.col("hamming").cast("double").alias("centroid"),
    )
    return cents.unionByName(ph)


def _image_pixel(px, py, d, blem):
    # the x-coefficient varies with d so hashes DIFFER across docs
    # (dHash is invariant to uniform brightness shifts — a d-only term
    # would make every doc hash identical); same-class docs (d % 11)
    # still legitimately collide, which the oracle replays too
    if blem and px == 0 and py == 0:
        return (255, 0, 0)
    v = (px * (19 + 2 * (d % 11)) + py * 11 + d * 53) % 256
    return (v, v, v)


def _q_image_neardup(spark):
    from pandas_weights_spark.functions import _codecs as C
    from pandas_weights_spark.functions.multimodal import (
        image_near_duplicates,
        media_struct,
    )

    rows = []
    for d in range(40):
        for blem, off in ((False, 0), (True, 500)):
            px = bytearray()
            for py in range(16):
                for pxx in range(16):
                    px.extend(_image_pixel(pxx, py, d, blem))
            rows.append(
                (d + off, bytearray(C.encode_png(C.ImageData(16, 16, 3, bytes(px)))))
            )
    df = spark.createDataFrame(rows, "img long, payload binary").select(
        "img",
        media_struct(F.col("payload"), F.lit("image/png")).alias("media"),
    )
    return image_near_duplicates(
        df, "media", "img", max_distance=7, bands=8
    )


def _q_row_stats(spark, sf_dir):
    # axis=1 statistics (reference frame.py:189-251): quantity-weighted
    # row variance/std over three price columns. Pure row-local
    # expressions — no shuffle, whole-stage codegen end to end.
    wdf = wt(_li(spark, sf_dir), _W)[["l_extendedprice", "l_discount", "l_tax"]]
    var_df = wdf.row_std()
    return var_df.select(
        "l_extendedprice", "l_discount", "l_tax", "row_std"
    )


def _q_window_stats(spark, sf_dir):
    # weighted ordered-window transforms (rolling.py): 3-row rolling mean
    # and expanding (cumulative) variance per order. Both frames share the
    # SAME partition+order, so exposing them as Columns (rolling.col)
    # lets one WindowExec evaluate both after a single shuffle + local
    # sort — previously each stat re-scanned, re-shuffled and re-sorted.
    # stack() unpivots to the tagged-union shape.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_quantity"
    )
    # l_linenumber alone is not unique in the synthetic data — tie-break
    # to a total order so the frames are deterministic
    order = [
        "l_linenumber",
        F.col("l_partkey"),
        F.col("l_suppkey"),
        F.col("l_extendedprice"),
    ]
    wdf = wt(li, "l_quantity")
    roll = wdf.rolling(3, order_by=order, partition_by=["l_orderkey"])
    exp = wdf.expanding(order_by=order, partition_by=["l_orderkey"])
    both = wdf.df.select(
        "l_orderkey",
        "l_linenumber",
        roll.col("mean", "l_partkey").alias("__roll__"),
        exp.col("var", "l_partkey").alias("__exp__"),
        # pairwise windowed corr (rolling.pair_col) shares the SAME
        # spec, so all three stats still run in one WindowExec; rounded
        # to 6 like the global corr oracle (sqrt float fidelity)
        F.round(
            roll.pair_col("corr", "l_partkey", "l_extendedprice"), 6
        ).alias("__rc__"),
        # r4: windowed weighted MEDIAN rides the same WindowExec —
        # collect_list + sort_array + higher-order folds, inverted-CDF
        # semantics; the selected value is a data value, exact
        roll.col("median", "l_extendedprice").alias("__rm__"),
    )
    return both.select(
        F.expr(
            "stack(4, 'roll_mean', __roll__, 'exp_var', __exp__,"
            " 'roll_corr', __rc__, 'roll_med', __rm__) AS (stat, val)"
        ),
        "l_orderkey",
        "l_linenumber",
    ).select("stat", "l_orderkey", "l_linenumber", "val")


def _q_group_cdf(spark, sf_dir):
    # per-row weighted CDF (percentile-rank) transform per group
    # (quantile.weighted_cdf): banded prefix sums over distinct values +
    # map join back — no ordered window over the raw rows. All masses
    # are integer-valued (l_quantity), so every cumulative sum is exact
    # in double and the cw/tw division is bit-identical across engines:
    # no rounding needed even at 60k rows.
    li = _li(spark, sf_dir)
    return (
        wt(li, _W)
        .groupby("l_returnflag")[["l_extendedprice"]]
        .cdf()
        .select("l_returnflag", "l_extendedprice", "l_extendedprice_cdf")
    )


def _q_resample_quantile(spark, sf_dir):
    # weighted median per calendar-month bucket (resample(...).median()
    # -> the inverted-CDF quantile machinery keyed by the bucket label).
    # The output is a data value selected by exact integer cumulative-
    # weight comparisons — bit-exact, no rounding.
    return (
        wt(_li(spark, sf_dir), _W)[["l_extendedprice"]]
        .resample("1M", on="l_shipdate")
        .median()
        .select(
            F.col("l_shipdate").alias("bucket"),
            F.col("l_extendedprice_p50").alias("w_median"),
        )
    )


def _q_ewm_mean(spark, sf_dir):
    # banded-rescale exponentially-weighted mean (ewm.py), alpha=0.05
    # per returnflag over the shipdate order: ~20k rows per key at
    # sf0.01 spans ~6 bands of B=3366, so the in-band prefix AND the
    # previous-band carry are both exercised. The oracle replicates the
    # banded algebra in SQL with the SAME inlined float constants
    # (ln(1/rho), rho^B); remaining cross-engine noise is exp()/window-
    # sum associativity at ~1e-12 relative, so both sides round to 2.
    li = _li(spark, sf_dir)
    out = (
        wt(li, _W)[["l_extendedprice"]]
        .ewm(
            # l_partkey tie-breaks the 3 duplicate (flag, date, order,
            # line) keys in the synthetic data — without a total order
            # the two engines' tie choice differs and the tied rows'
            # outputs flip run-to-run
            order_by=["l_shipdate", "l_orderkey", "l_linenumber",
                      "l_partkey"],
            partition_by=["l_returnflag"],
            alpha=0.05,
        )
        .mean()
    )
    return out.select(
        "l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_partkey",
        F.round(F.col("l_extendedprice"), 2).alias("ewm_price"),
    )


def _ewm_sql(alpha: float = 0.05) -> str:
    """DuckDB oracle for _q_ewm_mean: the banded-rescale prefix algebra
    (ewm.py _stat_fast) expressed in SQL, with the engine's exact float
    constants inlined so the only cross-engine divergence is libm exp()
    and window-sum associativity (absorbed by ROUND 2)."""
    import math as _m

    rho = 1.0 - alpha
    B = max(1, int(75.0 / -_m.log10(rho)))
    ln_inv = _m.log(1.0 / rho)
    carry1 = rho**B
    return f"""
    WITH pos AS (
      SELECT l_returnflag AS k, l_shipdate, l_orderkey, l_linenumber,
             l_partkey, l_extendedprice AS x, l_quantity AS w,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_shipdate NULLS FIRST,
                                         l_orderkey NULLS FIRST,
                                         l_linenumber NULLS FIRST,
                                         l_partkey NULLS FIRST) - 1 AS p
      FROM lineitem
    ), t AS (
      SELECT *, p // {B} AS band,
             CASE WHEN x IS NOT NULL AND w IS NOT NULL
                  THEN w ELSE 0.0 END
               * exp({ln_inv!r} * CAST(p % {B} AS DOUBLE)) AS tD,
             (CASE WHEN x IS NOT NULL AND w IS NOT NULL
                   THEN w ELSE 0.0 END
              * CASE WHEN x IS NOT NULL AND w IS NOT NULL
                     THEN x ELSE 0.0 END)
               * exp({ln_inv!r} * CAST(p % {B} AS DOUBLE)) AS tN
      FROM pos
    ), pref AS (
      SELECT k, l_shipdate, l_orderkey, l_linenumber, l_partkey, p,
             SUM(tD) OVER iw AS pD, SUM(tN) OVER iw AS pN,
             COALESCE(SUM(tD) OVER pw, 0.0) AS cD,
             COALESCE(SUM(tN) OVER pw, 0.0) AS cN
      FROM t
      WINDOW iw AS (PARTITION BY k, band ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             pw AS (PARTITION BY k ORDER BY band
                    RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING)
    )
    SELECT k AS l_returnflag, l_shipdate, l_orderkey, l_linenumber,
           l_partkey,
           ROUND(CASE WHEN (pD + {carry1!r} * cD)
                           * exp({-ln_inv!r} * CAST(p % {B} AS DOUBLE)) > 0
                      THEN ((pN + {carry1!r} * cN)
                            * exp({-ln_inv!r} * CAST(p % {B} AS DOUBLE)))
                           / ((pD + {carry1!r} * cD)
                              * exp({-ln_inv!r} * CAST(p % {B} AS DOUBLE)))
                 END, 2) AS ewm_price
    FROM pref
"""


# weighted Pearson moments as SQL, mirroring _stats.assemble("corr")
# (products left-associated exactly like the kernel: (w*x)*y etc.)
_CORR_SQL = """
WITH m AS (
  SELECT {group_cols}
         COUNT(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL
                     AND {w} IS NOT NULL THEN 1 END) AS n,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END) AS sw,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END
             * {x}) AS sx,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END
             * {x} * {y}) AS sxy,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END
             * {y}) AS sy,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END
             * {x} * {x}) AS sxx,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END
             * {y} * {y}) AS syy
  FROM {table} {group_by}
)
SELECT {out_cols}
       ROUND(CASE WHEN n >= {min_periods} AND sw > {ddof}
                   AND (sxx - (sx*sx)/sw) / (sw - {ddof}) > 0
                   AND (syy - (sy*sy)/sw) / (sw - {ddof}) > 0
             THEN ((sxy - (sx*sy)/sw) / (sw - {ddof}))
                  / sqrt(((sxx - (sx*sx)/sw) / (sw - {ddof}))
                         * ((syy - (sy*sy)/sw) / (sw - {ddof})))
             END, 6) AS corr
FROM m
"""


def _corr_sql(x, y, w, table, group=None, min_periods=1, ddof=1):
    g = list(group) if group else []
    return _CORR_SQL.format(
        x=x, y=y, w=w, table=table,
        group_cols=(", ".join(g) + "," if g else ""),
        group_by=("GROUP BY " + ", ".join(g) if g else ""),
        out_cols=(", ".join(g) + "," if g else ""),
        min_periods=min_periods, ddof=float(ddof),
    )


_ORACLE: dict[str, str] = {
    "global_stats": """
        WITH s AS (
          SELECT SUM(l_quantity * l_extendedprice) AS sum_price,
                 SUM(l_quantity * l_discount)      AS sum_disc,
                 SUM(l_quantity * l_tax)           AS sum_tax
          FROM lineitem
        ), m AS (
          SELECT SUM(l_quantity * l_extendedprice)
                   / SUM(CASE WHEN l_extendedprice IS NOT NULL
                              THEN l_quantity END) AS mean_price,
                 SUM(l_quantity * l_discount)
                   / SUM(CASE WHEN l_discount IS NOT NULL
                              THEN l_quantity END) AS mean_disc
          FROM lineitem
        ), v AS (
          SELECT SUM(l_quantity * l_extendedprice)  AS vs,
                 SUM(l_extendedprice * l_extendedprice * l_quantity) AS ss,
                 COALESCE(SUM(CASE WHEN l_extendedprice IS NOT NULL
                                   THEN l_quantity END), 0.0) AS c
          FROM lineitem
        )
        SELECT s.sum_price, s.sum_disc, s.sum_tax,
               m.mean_price, m.mean_disc,
               (ss - vs*vs/c) / (c - 1) AS var_price,
               CASE WHEN (ss - vs*vs/c) / (c - 1) >= 0
                    THEN sqrt((ss - vs*vs/c) / (c - 1)) END AS std_price,
               -- sem = std / sqrt(W): same IEEE shape as _stats.w_sem
               -- (sqrt of the variance, then divide by sqrt of the
               -- weighted count), so the column is bit-exact like std
               CASE WHEN c > 0 AND (ss - vs*vs/c) / (c - 1) >= 0
                    THEN sqrt((ss - vs*vs/c) / (c - 1)) / sqrt(c)
               END AS sem_price,
               gh.gmean_price, gh.hmean_price
        FROM s, m, v, (
          SELECT ROUND(exp(SUM(CASE WHEN l_extendedprice > 0
                                     AND l_quantity > 0
                                    THEN l_quantity * ln(l_extendedprice)
                               END)
                           / SUM(CASE WHEN l_extendedprice > 0
                                       AND l_quantity > 0
                                      THEN l_quantity END)), 6)
                   AS gmean_price,
                 ROUND(SUM(CASE WHEN l_extendedprice > 0
                                 AND l_quantity > 0
                                THEN l_quantity END)
                       / SUM(CASE WHEN l_extendedprice > 0
                                   AND l_quantity > 0
                                  THEN l_quantity / l_extendedprice END),
                       6) AS hmean_price
          FROM lineitem
        ) gh
    """,
    "null_semantics": """
        WITH t AS (
          SELECT l_quantity, l_extendedprice,
                 CASE WHEN l_tax > 0 THEN l_extendedprice END AS price_n
          FROM lineitem
        )
        SELECT COALESCE(SUM(CASE WHEN price_n IS NOT NULL THEN l_quantity END), 0.0)
                 AS cnt_skipna,
               COALESCE(SUM(l_quantity), 0.0) AS cnt_noskip,
               CASE WHEN COUNT(l_quantity * l_extendedprice) >= 1
                    THEN COALESCE(SUM(l_quantity * l_extendedprice), 0.0) END
                 AS sum_price,
               CAST(NULL AS DOUBLE) AS sum_none
        FROM t
    """,
    "group_mean": """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity * l_extendedprice)
                 / SUM(CASE WHEN l_extendedprice IS NOT NULL THEN l_quantity END)
               AS mean_price,
               SUM(l_quantity * l_discount)
                 / SUM(CASE WHEN l_discount IS NOT NULL THEN l_quantity END)
               AS mean_disc
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    "group_quantile_binned": """
        WITH b AS (
          SELECT l_returnflag,
                 LEAST(1023, CAST(FLOOR(
                   (LEAST(GREATEST(l_extendedprice, CAST(0.0 AS DOUBLE)),
                          CAST(60000.0 AS DOUBLE)) - CAST(0.0 AS DOUBLE))
                   / CAST(58.59375 AS DOUBLE)) AS INTEGER)) AS bin,
                 SUM(l_quantity) AS bm
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
          GROUP BY 1, 2
        ), c AS (
          SELECT l_returnflag, bin,
                 SUM(bm) OVER (PARTITION BY l_returnflag ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 SUM(bm) OVER (PARTITION BY l_returnflag) AS tw
          FROM b
        )
        SELECT l_returnflag,
               MIN(CASE WHEN cw >= 0.5 * tw
                   THEN CAST(0.0 AS DOUBLE) + bin * CAST(58.59375 AS DOUBLE)
                   END) AS price_p50,
               MIN(CASE WHEN cw >= 0.9 * tw
                   THEN CAST(0.0 AS DOUBLE) + bin * CAST(58.59375 AS DOUBLE)
                   END) AS price_p90
        FROM c GROUP BY 1
    """,
    "group_mad": """
        WITH v AS (
          SELECT l_returnflag AS g, l_extendedprice AS x, l_quantity AS w
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
        ), c AS (
          SELECT g, x, w,
                 SUM(w) OVER (PARTITION BY g ORDER BY x
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cw,
                 SUM(w) OVER (PARTITION BY g) AS tw
          FROM v
        ), med AS (
          SELECT g, MIN(CASE WHEN cw >= 0.5 * tw THEN x END) AS m
          FROM c GROUP BY g
        ), d AS (
          SELECT v.g, abs(v.x - med.m) AS x, v.w
          FROM v JOIN med USING (g)
        ), c2 AS (
          SELECT g, x,
                 SUM(w) OVER (PARTITION BY g ORDER BY x
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cw,
                 SUM(w) OVER (PARTITION BY g) AS tw
          FROM d
        ), bb1 AS (
          SELECT g,
                 LEAST(1023, CAST(FLOOR(
                   (LEAST(GREATEST(x, CAST(0.0 AS DOUBLE)),
                          CAST(60000.0 AS DOUBLE)) - CAST(0.0 AS DOUBLE))
                   / CAST(58.59375 AS DOUBLE)) AS INTEGER)) AS bin,
                 SUM(w) AS bm
          FROM v GROUP BY 1, 2
        ), bc1 AS (
          SELECT g, bin,
                 SUM(bm) OVER (PARTITION BY g ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 SUM(bm) OVER (PARTITION BY g) AS tw
          FROM bb1
        ), bmed AS (
          SELECT g, MIN(CASE WHEN cw >= 0.5 * tw
                   THEN CAST(0.0 AS DOUBLE) + bin * CAST(58.59375 AS DOUBLE)
                   END) AS m
          FROM bc1 GROUP BY g
        ), bd AS (
          SELECT v.g, abs(v.x - bmed.m) AS x, v.w
          FROM v JOIN bmed USING (g)
        ), bb2 AS (
          SELECT g,
                 LEAST(1023, CAST(FLOOR(
                   (LEAST(GREATEST(x, CAST(0.0 AS DOUBLE)),
                          CAST(60000.0 AS DOUBLE)) - CAST(0.0 AS DOUBLE))
                   / CAST(58.59375 AS DOUBLE)) AS INTEGER)) AS bin,
                 SUM(w) AS bm
          FROM bd GROUP BY 1, 2
        ), bc2 AS (
          SELECT g, bin,
                 SUM(bm) OVER (PARTITION BY g ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 SUM(bm) OVER (PARTITION BY g) AS tw
          FROM bb2
        )
        SELECT 'mad:exact' AS kind, g AS l_returnflag,
               MIN(CASE WHEN cw >= 0.5 * tw THEN x END)
                 * CAST(1.0 AS DOUBLE) AS val
        FROM c2 GROUP BY g
        UNION ALL
        SELECT 'mad:binned' AS kind, g AS l_returnflag,
               MIN(CASE WHEN cw >= 0.5 * tw
                   THEN CAST(0.0 AS DOUBLE) + bin * CAST(58.59375 AS DOUBLE)
                   END)
                 * CAST(1.0 AS DOUBLE) AS val
        FROM bc2 GROUP BY g
        UNION ALL
        SELECT u.kind, r.l_returnflag,
               CASE WHEN u.kind = 'mode:value'
                    THEN CAST(r.l_linenumber AS DOUBLE) ELSE r.m END AS val
        FROM (
          SELECT l_returnflag, l_linenumber, m,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY m DESC, l_linenumber) AS rk
          FROM (SELECT l_returnflag, l_linenumber,
                       COALESCE(SUM(l_quantity), 0.0) AS m
                FROM lineitem WHERE l_linenumber IS NOT NULL GROUP BY 1, 2)
        ) r, (SELECT 'mode:value' AS kind UNION ALL
              SELECT 'mode:mass' AS kind) u
        WHERE r.rk = 1
        UNION ALL
        SELECT p.kind, p.l_returnflag, p.l_extendedprice AS val FROM (
          SELECT 'first:price' AS kind, l_returnflag, l_extendedprice,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_shipdate NULLS FIRST,
                            l_orderkey NULLS FIRST,
                            l_linenumber NULLS FIRST,
                            l_partkey NULLS FIRST) AS rk
          FROM lineitem WHERE l_extendedprice IS NOT NULL
          UNION ALL
          SELECT 'last:price' AS kind, l_returnflag, l_extendedprice,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_shipdate DESC NULLS LAST,
                            l_orderkey DESC NULLS LAST,
                            l_linenumber DESC NULLS LAST,
                            l_partkey DESC NULLS LAST) AS rk
          FROM lineitem WHERE l_extendedprice IS NOT NULL
        ) p WHERE p.rk = 1
    """,
    "group_zscore": """
        WITH m AS (
          SELECT l_returnflag,
                 COALESCE(SUM(CASE WHEN l_extendedprice IS NOT NULL
                                   THEN l_quantity END), 0.0) AS c,
                 SUM(l_extendedprice * l_quantity) AS s,
                 SUM(l_extendedprice * l_extendedprice * l_quantity) AS ss
          FROM lineitem GROUP BY 1
        ), cum AS (
          SELECT l_returnflag, l_extendedprice AS x,
                 CASE WHEN mass > 0 THEN
                   SUM(mass) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice
                                   RANGE BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) END AS cw,
                 SUM(mass) OVER (PARTITION BY l_returnflag) AS tw
          FROM (SELECT l_returnflag, l_extendedprice,
                       CASE WHEN l_extendedprice IS NOT NULL
                             AND l_quantity > 0
                            THEN l_quantity ELSE 0 END AS mass
                FROM lineitem)
        ), q AS (
          SELECT l_returnflag,
                 MIN(CASE WHEN cw >= 0.05 * tw THEN x END) AS qlo,
                 MIN(CASE WHEN cw >= 0.95 * tw THEN x END) AS qhi
          FROM cum GROUP BY l_returnflag
        ), rowstd AS (
          SELECT l_orderkey, l_linenumber, l_returnflag,
                 l_extendedprice, l_discount, l_tax,
                 CASE WHEN l_tax > 0 THEN l_extendedprice END AS price_n,
                 l_quantity * (l_extendedprice + l_discount + l_tax) AS ws,
                 l_quantity * (l_extendedprice * l_extendedprice
                               + l_discount * l_discount
                               + l_tax * l_tax) AS wss,
                 l_quantity * 3.0 AS cnt
          FROM lineitem
        ), imp AS (
          SELECT l_returnflag,
                 SUM(CASE WHEN l_tax > 0 THEN l_extendedprice END
                     * l_quantity) AS i1,
                 COALESCE(SUM(CASE WHEN l_tax > 0 THEN l_quantity END),
                          0.0) AS iW
          FROM lineitem GROUP BY 1
        )
        SELECT l.l_orderkey, l.l_linenumber,
               ROUND(CASE WHEN (ss - s*s/c) / (c - 1) > 0
                     THEN (l.l_extendedprice - s/c)
                          / sqrt((ss - s*s/c) / (c - 1)) END, 6) AS z,
               CASE WHEN l.l_extendedprice IS NOT NULL
                    THEN GREATEST(LEAST(l.l_extendedprice, q.qhi), q.qlo)
               END AS wins,
               ROUND(COALESCE(l.price_n,
                              CASE WHEN iW <> 0 THEN i1 / iW END), 6)
                 AS imp,
               l.l_extendedprice, l.l_discount, l.l_tax,
               CASE WHEN (wss - (ws * ws) / cnt) / (cnt - 1.0) >= 0
                    THEN sqrt((wss - (ws * ws) / cnt) / (cnt - 1.0))
               END AS row_std
        FROM rowstd l
        JOIN m USING (l_returnflag)
        JOIN q USING (l_returnflag)
        JOIN imp USING (l_returnflag)
    """,
    "group_var": """
        WITH m AS (
          SELECT l_returnflag,
                 COALESCE(SUM(CASE WHEN l_extendedprice IS NOT NULL
                                   THEN l_quantity END), 0.0) AS c,
                 CASE WHEN COUNT(l_quantity * l_extendedprice) >= 1
                      THEN COALESCE(SUM(l_quantity * l_extendedprice), 0.0) END AS s,
                 CASE WHEN COUNT(l_quantity * l_extendedprice) >= 1
                      THEN COALESCE(SUM(l_extendedprice * l_extendedprice
                                        * l_quantity), 0.0) END AS ss
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT 'exact' AS path, l_returnflag,
               c AS w_count,
               COALESCE(s, 0.0) AS w_sum,
               s / c AS w_mean,
               (ss - s*s/c) / (c - 1) AS w_var,
               CASE WHEN (ss - s*s/c) / (c - 1) >= 0
                    THEN sqrt((ss - s*s/c) / (c - 1)) END AS w_std
        FROM m
        UNION ALL
        SELECT 'salted' AS path, l_returnflag,
               ROUND(c, 4) AS w_count,
               CAST(NULL AS DOUBLE) AS w_sum,
               ROUND(s / c, 4) AS w_mean,
               CAST(NULL AS DOUBLE) AS w_var,
               ROUND(CASE WHEN (ss - s*s/c) / (c - 1) >= 0
                          THEN sqrt((ss - s*s/c) / (c - 1)) END, 4) AS w_std
        FROM m
    """,
    "resample_2d": """
        WITH o AS (SELECT date_trunc('day', MIN(l_shipdate)) AS org FROM lineitem)
        SELECT 'left' AS edge,
               time_bucket(INTERVAL 2 DAY, l_shipdate, (SELECT org FROM o))
                 AS bucket,
               SUM(l_extendedprice * l_quantity) AS sum_price,
               SUM(l_extendedprice * l_quantity)
                 / SUM(CASE WHEN l_extendedprice IS NOT NULL THEN l_quantity END)
                 AS mean_price,
               SUM(l_discount * l_quantity) AS sum_disc
        FROM lineitem
        GROUP BY bucket
        UNION ALL
        SELECT 'right' AS edge,
               time_bucket(INTERVAL 2 DAY,
                           l_shipdate - INTERVAL 1 MICROSECOND,
                           (SELECT org FROM o))
                 + INTERVAL 2 DAY AS bucket,
               SUM(l_extendedprice * l_quantity) AS sum_price,
               SUM(l_extendedprice * l_quantity)
                 / SUM(CASE WHEN l_extendedprice IS NOT NULL THEN l_quantity END)
                 AS mean_price,
               SUM(l_discount * l_quantity) AS sum_disc
        FROM lineitem
        GROUP BY bucket
    """,
    "resample_rules": """
        WITH t AS (
          SELECT CAST(ts AS TIMESTAMP) AS ts, value,
                 CAST(user_id % 7 + 1 AS DOUBLE) AS w
          FROM events
        ), o AS (SELECT date_trunc('day', MIN(ts)) AS org FROM t)
        SELECT '6H' AS rule,
               time_bucket(INTERVAL 6 HOUR, ts, (SELECT org FROM o)) AS bucket,
               COALESCE(SUM(CASE WHEN value IS NOT NULL THEN w END), 0.0)
                 AS w_count,
               COALESCE(SUM(value * w), 0.0) AS w_sum,
               SUM(value * w)
                 / SUM(CASE WHEN value IS NOT NULL THEN w END) AS w_mean
        FROM t
        GROUP BY 2
        UNION ALL
        SELECT '3ME' AS rule, bucket, w_count, w_sum, w_mean FROM (
          WITH t2 AS (
            SELECT CAST(l_shipdate AS TIMESTAMP) AS ts,
                   l_extendedprice AS value, l_quantity AS w
            FROM lineitem
          ), a AS (
            SELECT year(MIN(ts)) * 12 + month(MIN(ts)) - 1 AS mf FROM t2
          ), b AS (
            SELECT value, w,
                   (SELECT mf FROM a)
                     + CAST(ceil(((year(ts) * 12 + month(ts) - 1)
                                  - (SELECT mf FROM a)) / 3.0) AS BIGINT) * 3
                     AS lm
            FROM t2
          )
          SELECT CAST(last_day(make_date(CAST(floor(lm / 12.0) AS INT),
                                         CAST(lm % 12 + 1 AS INT), 1))
                      AS TIMESTAMP) AS bucket,
                 COALESCE(SUM(CASE WHEN value IS NOT NULL THEN w END), 0.0)
                   AS w_count,
                 COALESCE(SUM(value * w), 0.0) AS w_sum,
                 SUM(value * w)
                   / SUM(CASE WHEN value IS NOT NULL THEN w END) AS w_mean
          FROM b
          GROUP BY bucket
        )
        UNION ALL
        SELECT 'roll:' || g AS rule, bucket, w_count,
               CAST(NULL AS DOUBLE) AS w_sum,
               CASE WHEN w_count > 0 THEN ROUND(s / w_count, 2) END AS w_mean
        FROM (
          WITH t3 AS (
            SELECT CAST(ts AS TIMESTAMP) AS ts, value,
                   CAST(user_id % 7 + 1 AS DOUBLE) AS w
            FROM events
          )
          SELECT '6H' AS g,
                 CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT)
                              * 21600) AS TIMESTAMP) AS bucket,
                 COALESCE(SUM(CASE WHEN value IS NOT NULL THEN w END), 0.0)
                   AS w_count,
                 SUM(value * w) AS s
          FROM t3 WHERE ts IS NOT NULL GROUP BY 2
          UNION ALL
          SELECT '1D' AS g,
                 CAST(to_timestamp(CAST(floor(epoch(ts) / 86400) AS BIGINT)
                              * 86400) AS TIMESTAMP) AS bucket,
                 COALESCE(SUM(CASE WHEN value IS NOT NULL THEN w END), 0.0)
                   AS w_count,
                 SUM(value * w) AS s
          FROM t3 WHERE ts IS NOT NULL GROUP BY 2
        )
        UNION ALL
        SELECT 'cmp:1D' AS rule, bucket, w_count, w_sum, w_mean FROM (
          WITH tg AS (
            SELECT CAST(ts AS TIMESTAMP) AS ts, value,
                   CAST(user_id % 7 + 1 AS DOUBLE) AS w
            FROM events
            WHERE ts IS NOT NULL AND day(CAST(ts AS TIMESTAMP)) % 3 = 0
          ), og AS (SELECT date_trunc('day', MIN(ts)) AS org FROM tg),
          agg AS (
            SELECT time_bucket(INTERVAL 1 DAY, ts, (SELECT org FROM og))
                     AS bucket,
                   COALESCE(SUM(CASE WHEN value IS NOT NULL THEN w END),
                            0.0) AS w_count,
                   COALESCE(SUM(value * w), 0.0) AS w_sum,
                   SUM(value * w)
                     / SUM(CASE WHEN value IS NOT NULL THEN w END)
                     AS w_mean
            FROM tg GROUP BY 1
          ), spine AS (
            SELECT UNNEST(generate_series(MIN(bucket), MAX(bucket),
                                          INTERVAL 1 DAY)) AS bucket
            FROM agg
          )
          SELECT spine.bucket, agg.w_count, agg.w_sum, agg.w_mean
          FROM spine LEFT JOIN agg USING (bucket)
        )
        UNION ALL
        SELECT kind AS rule, bucket, CAST(NULL AS DOUBLE) AS w_count,
               CAST(NULL AS DOUBLE) AS w_sum, val AS w_mean
        FROM (
          WITH tg2 AS (
            SELECT CAST(ts AS TIMESTAMP) AS ts, value,
                   CAST(user_id % 7 + 1 AS DOUBLE) AS w
            FROM events
            WHERE ts IS NOT NULL AND day(CAST(ts AS TIMESTAMP)) % 3 = 0
          ), og2 AS (SELECT date_trunc('day', MIN(ts)) AS org FROM tg2),
          agg2 AS (
            SELECT time_bucket(INTERVAL 1 DAY, ts, (SELECT org FROM og2))
                     AS bucket,
                   SUM(value * w)
                     / SUM(CASE WHEN value IS NOT NULL THEN w END)
                     AS v
            FROM tg2 GROUP BY 1
          ), spine2 AS (
            SELECT UNNEST(generate_series(MIN(bucket), MAX(bucket),
                                          INTERVAL 1 DAY)) AS bucket
            FROM agg2
          ), j2 AS (
            SELECT spine2.bucket, agg2.v,
                   CAST(epoch(spine2.bucket) AS DOUBLE) AS t
            FROM spine2 LEFT JOIN agg2 USING (bucket)
          ), f2 AS (
            SELECT bucket, v, t,
              last_value(v IGNORE NULLS) OVER
                (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS pv,
              last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS pt,
              first_value(v IGNORE NULLS) OVER
                (ORDER BY bucket ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS nv,
              first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                OVER (ORDER BY bucket ROWS BETWEEN CURRENT ROW
                      AND UNBOUNDED FOLLOWING) AS nt
            FROM j2
          )
          SELECT 'fill:ff' AS kind, bucket, pv AS val FROM f2
          UNION ALL
          SELECT 'fill:li' AS kind, bucket,
            CASE WHEN v IS NOT NULL THEN v
                 WHEN pv IS NULL THEN NULL
                 WHEN nv IS NULL THEN pv
                 ELSE pv + (nv - pv) * ((t - pt) / (nt - pt)) END AS val
          FROM f2
        )
        UNION ALL
        SELECT kind AS rule, bucket, CAST(NULL AS DOUBLE) AS w_count,
               CAST(NULL AS DOUBLE) AS w_sum, ROUND(val, 6) AS w_mean
        FROM (
          WITH t6 AS (
            SELECT CAST(ts AS TIMESTAMP) AS ts, value,
                   CAST(user_id % 7 + 1 AS DOUBLE) AS w
            FROM events WHERE ts IS NOT NULL
          ), o6 AS (SELECT date_trunc('day', MIN(ts)) AS org FROM t6),
          agg6 AS (
            SELECT time_bucket(INTERVAL 6 HOUR, ts, (SELECT org FROM o6))
                     AS bucket,
                   SUM(value * w)
                     / SUM(CASE WHEN value IS NOT NULL THEN w END) AS v
            FROM t6 GROUP BY 1
          ), spine6 AS (
            SELECT UNNEST(generate_series(MIN(bucket), MAX(bucket),
                                          INTERVAL 6 HOUR)) AS bucket
            FROM agg6
          ), idx AS (
            SELECT spine6.bucket, agg6.v,
                   row_number() OVER (ORDER BY spine6.bucket) - 1 AS i
            FROM spine6 LEFT JOIN agg6 USING (bucket)
          ), tr AS (
            SELECT bucket, v, i,
              CASE WHEN count(*) OVER f1 = 4 AND count(*) OVER f2 = 4
                    AND count(v) OVER f1 = 4 AND count(v) OVER f2 = 4
                   THEN (avg(v) OVER f1 + avg(v) OVER f2) / 2.0
              END AS trend
            FROM idx
            WINDOW f1 AS (ORDER BY i ROWS BETWEEN 2 PRECEDING
                          AND 1 FOLLOWING),
                   f2 AS (ORDER BY i ROWS BETWEEN 1 PRECEDING
                          AND 2 FOLLOWING)
          ), ph AS (
            SELECT i % 4 AS p, AVG(v - trend) AS pm FROM tr GROUP BY 1
          ), gmn AS (SELECT AVG(pm) AS g FROM ph),
          fin6 AS (
            SELECT tr.bucket, tr.v, tr.trend,
                   ph.pm - (SELECT g FROM gmn) AS seasonal
            FROM tr JOIN ph ON tr.i % 4 = ph.p
          )
          SELECT u.kind, bucket, u.val FROM fin6,
            LATERAL (VALUES
              ('dec:trend', trend),
              ('dec:seas', seasonal),
              ('dec:resid', v - trend - seasonal)
            ) AS u(kind, val)
        )
    """,
    "resample_quantile": """
        WITH t AS (
          SELECT CAST(l_shipdate AS TIMESTAMP) AS ts,
                 l_extendedprice AS v, l_quantity AS w
          FROM lineitem
          WHERE l_shipdate IS NOT NULL
        ), b AS (
          -- "1M" end-anchor: with unit width 1 every month is its own
          -- bucket, so the label month is just the row's month index
          SELECT year(ts) * 12 + month(ts) - 1 AS lm, v,
                 CASE WHEN v IS NOT NULL AND w > 0 THEN w ELSE 0 END AS m
          FROM t
        ), c AS (
          SELECT lm, v, m,
                 SUM(m) OVER (PARTITION BY lm ORDER BY v
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cw,
                 SUM(m) OVER (PARTITION BY lm) AS tw
          FROM b
        )
        SELECT CAST(last_day(make_date(CAST(floor(lm / 12.0) AS INT),
                                       CAST(lm % 12 + 1 AS INT), 1))
                    AS TIMESTAMP) AS bucket,
               MIN(CASE WHEN m > 0 AND v IS NOT NULL AND cw >= 0.5 * tw
                        THEN v END) AS w_median
        FROM c GROUP BY lm
    """,
    "grouping_sets": """
        SELECT 'cube' AS mode, l_returnflag, l_linestatus,
               COALESCE(SUM(l_extendedprice * l_quantity), 0.0) AS w_sum,
               SUM(l_extendedprice * l_quantity)
                 / SUM(CASE WHEN l_extendedprice IS NOT NULL THEN l_quantity END)
                 AS w_mean
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        UNION ALL
        SELECT 'rollup' AS mode, l_returnflag, l_linestatus,
               COALESCE(SUM(l_extendedprice * l_quantity), 0.0) AS w_sum,
               SUM(l_extendedprice * l_quantity)
                 / SUM(CASE WHEN l_extendedprice IS NOT NULL THEN l_quantity END)
                 AS w_mean
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
}

_ORACLE["session_agg"] = """
    WITH t AS (
      SELECT user_id, ts, value,
             CAST(user_id % 7 + 1 AS DOUBLE) AS w,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM t
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 1 HOUR AS session_end,
           COALESCE(SUM(CASE WHEN value IS NOT NULL THEN w END), 0.0)
             AS w_count,
           COALESCE(SUM(value * w), 0.0) AS w_sum,
           SUM(value * w)
             / SUM(CASE WHEN value IS NOT NULL THEN w END) AS w_mean
    FROM s
    GROUP BY user_id, sess_id
"""

_ORACLE["stream_resample"] = """
    WITH t AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(user_id % 7 + 1 AS DOUBLE) AS w
      FROM events
    )
    SELECT time_bucket(INTERVAL 6 HOUR, ts,
                       TIMESTAMP '1970-01-01 00:00:00') AS bucket,
           COALESCE(SUM(CASE WHEN value IS NOT NULL THEN w END), 0.0)
             AS w_count,
           COALESCE(SUM(value * w), 0.0) AS w_sum,
           SUM(value * w)
             / SUM(CASE WHEN value IS NOT NULL THEN w END) AS w_mean
    FROM t
    GROUP BY bucket
"""

_ORACLE["asof_join"] = """
    WITH v AS (
      SELECT user_id, ts, MAX(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ), p AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           v.ts AS view_ts, v.view_value
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts >= v.ts
"""

_ORACLE["group_quantile"] = """
    WITH v AS (
      SELECT l_returnflag AS g, l_extendedprice AS x, l_quantity AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
    ), c AS (
      SELECT g, x,
             SUM(w) OVER (PARTITION BY g ORDER BY x
                          RANGE BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY g) AS tw
      FROM v
    ), q AS (
      SELECT g,
             MIN(CASE WHEN cw >= 0.5 * tw THEN x END) AS price_p50,
             MIN(CASE WHEN cw >= 0.9 * tw THEN x END) AS price_p90
      FROM c GROUP BY g
    ), m AS (
      SELECT l_returnflag AS g,
             COALESCE(SUM(CASE WHEN l_extendedprice IS NOT NULL
                               THEN l_quantity END), 0.0) AS cnt,
             CASE WHEN COUNT(l_extendedprice * l_quantity) >= 1
                  THEN COALESCE(SUM(l_extendedprice * l_quantity), 0.0)
                  END AS s,
             CASE WHEN COUNT(l_extendedprice * l_quantity) >= 1
                  THEN COALESCE(SUM(l_extendedprice * l_extendedprice
                                    * l_quantity), 0.0) END AS ss,
             MIN(CASE WHEN l_quantity IS NOT NULL AND l_quantity > 0
                      THEN l_extendedprice END) AS x_min,
             MAX(CASE WHEN l_quantity IS NOT NULL AND l_quantity > 0
                      THEN l_extendedprice END) AS x_max
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT m.g AS l_returnflag,
           m.cnt AS w_count,
           m.s / m.cnt AS w_mean,
           CASE WHEN (m.ss - m.s*m.s/m.cnt) / (m.cnt - 1) >= 0
                THEN sqrt((m.ss - m.s*m.s/m.cnt) / (m.cnt - 1))
                END AS w_std,
           m.x_min,
           q.price_p50,
           q.price_p90,
           m.x_max
    FROM m JOIN q ON m.g = q.g
"""

def _multimodal_sql() -> str:
    # mirror deterministic_fake_features digit-for-digit: one sha256
    # round covers dim=8 (32 hex chars -> 8 exact uint32 -> u/2^31 - 1,
    # every step exact IEEE), then the weighted-centroid mean. The ASCII
    # counter suffix exists precisely so DuckDB's VARCHAR sha256 can
    # reproduce the payload hash.
    digit = (
        "CAST(instr('0123456789abcdef', substring(h, d*8+{i}, 1)) - 1 "
        "AS DOUBLE) * {w!r}"
    )
    u = "\n       + ".join(
        digit.format(i=i + 1, w=float(16 ** (7 - i))) for i in range(8)
    )
    return f"""
    WITH t AS (
      SELECT lang, CAST(n_chars AS DOUBLE) AS w, sha256(text || '0') AS h
      FROM documents WHERE doc_id < 100
    ), f AS (
      SELECT lang, w, CAST(g.d AS INTEGER) AS dim,
             ({u}) / 2147483648.0 - 1.0 AS v
      FROM t, generate_series(0, 7) AS g(d)
    )
    SELECT lang, dim,
           ROUND(SUM(v * w) / SUM(CASE WHEN v IS NOT NULL THEN w END), 6)
             AS centroid
    FROM f GROUP BY lang, dim
"""


def _sample_sqls() -> dict[str, str]:
    # mirror sample.py's md5-digit uniform exactly (same IEEE term order)
    from pandas_weights_spark.sample import uniform_hash_sql

    u_li = uniform_hash_sql(["l_orderkey", "l_linenumber"], 42)
    u_ord = uniform_hash_sql(["o_orderkey"], 42)
    u_doc = uniform_hash_sql(["doc_id"], 42)
    return {
        "weighted_sample": f"""
    SELECT 'pips' AS method, CAST(l_orderkey AS BIGINT) AS key,
           CAST(l_linenumber AS VARCHAR) AS sub,
           CAST(l_quantity AS DOUBLE) AS w
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             {u_li} / l_quantity AS skey
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_quantity > 0
      ORDER BY skey, l_orderkey, l_linenumber
      LIMIT 1000
    )
    UNION ALL
    SELECT 'poisson' AS method, CAST(l_orderkey AS BIGINT),
           CAST(l_linenumber AS VARCHAR), CAST(l_quantity AS DOUBLE)
    FROM lineitem,
         (SELECT SUM(l_quantity) AS tw FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_quantity > 0) t
    WHERE l_quantity IS NOT NULL AND l_quantity > 0
      AND {u_li} < LEAST(CAST(1.0 AS DOUBLE),
                         CAST(500.0 AS DOUBLE) * l_quantity / tw)
    UNION ALL
    SELECT 'strat' AS method, CAST(o_orderkey AS BIGINT),
           CAST(o_orderstatus AS VARCHAR), CAST(o_totalprice AS DOUBLE)
    FROM (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderstatus
               ORDER BY {u_ord} / o_totalprice, o_orderkey
             ) AS rk
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
    ) WHERE rk <= 200
    UNION ALL
    SELECT 'temp' AS method, CAST(doc_id AS BIGINT),
           CAST(d.lang AS VARCHAR), CAST(n_chars AS DOUBLE)
    FROM documents d
    JOIN (
      SELECT lang, COUNT(*) AS n_g, CAST(COUNT(*) AS DOUBLE) AS mass
      FROM documents GROUP BY lang
    ) g ON d.lang IS NOT DISTINCT FROM g.lang
    CROSS JOIN (
      SELECT SUM(POWER(mass, 0.5)) AS tt FROM (
        SELECT CAST(COUNT(*) AS DOUBLE) AS mass
        FROM documents GROUP BY lang
      )
    ) t
    WHERE {u_doc} < LEAST(CAST(1.0 AS DOUBLE),
                          CAST(150.0 AS DOUBLE)
                            * (POWER(g.mass, 0.5) / t.tt) / g.n_g)
""",
        "hash_split": f"""
    SELECT CASE WHEN {u_doc} < 0.8 THEN 'train'
                WHEN {u_doc} < {0.8 + 0.1!r} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           -- DuckDB SUM(BIGINT) -> HUGEINT -> float64 in fetchdf(); Spark
           -- emits int64. Cast back so the driver's type-sensitive hash
           -- matches (same failure class as the DECIMAL-literal rule).
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents GROUP BY 1
""",
    }


_ORACLE.update(_sample_sqls())
def _image_neardup_sql(max_distance: int = 7, bands: int = 8) -> str:
    # closed-form replay of _q_image_neardup: the procedural image's
    # dHash is pure integer arithmetic — nearest-neighbor sample
    # indices sx = x*16//9 (x in 0..8), sy = 2y, luminance = channel
    # sum of _image_pixel — so all 64 bits unroll as literal CASEs.
    sx = [min(15, x * 16 // 9) for x in range(9)]

    def lum(px, py):
        return (
            f"(CASE WHEN blem = 1 AND {px} = 0 AND {py} = 0 THEN 255 "
            f"ELSE 3 * (({px} * (19 + 2 * (d % 11)) + {py * 11} "
            "+ d * 53) % 256) END)"
        )

    bits = []
    for y in range(8):
        for x in range(8):
            bits.append(
                f"CASE WHEN {lum(sx[x + 1], 2 * y)} > {lum(sx[x], 2 * y)} "
                "THEN '1' ELSE '0' END"
            )
    phash = "concat(" + ", ".join(bits) + ")"
    width = 64 // bands
    bexprs = ", ".join(
        f"substring(ph, {b * width + 1}, {width}) AS b{b}"
        for b in range(bands)
    )
    band_or = " OR ".join(f"a.b{b} = b.b{b}" for b in range(bands))
    ham = " + ".join(
        f"CASE WHEN substring(pa, {i}, 1) <> substring(pb, {i}, 1) "
        "THEN 1 ELSE 0 END"
        for i in range(1, 65)
    )
    return f"""
    WITH imgs AS (
      SELECT doc_id AS img, doc_id AS d, 0 AS blem
      FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 500, doc_id, 1
      FROM documents WHERE doc_id < 40
    ), ph AS (
      SELECT img, {phash} AS ph FROM imgs
    ), band AS (
      SELECT img, ph, {bexprs} FROM ph
    ), pairs AS (
      SELECT DISTINCT a.img AS id_a, b.img AS id_b,
             a.ph AS pa, b.ph AS pb
      FROM band a JOIN band b ON a.img < b.img AND ({band_or})
    )
    SELECT id_a, id_b, ({ham}) AS hamming
    FROM pairs WHERE ({ham}) <= {max_distance}
    """


_ORACLE["multimodal_features"] = (
    _multimodal_sql()
    + f"""
    UNION ALL
    SELECT 'ph:' || CAST(id_a AS VARCHAR) AS lang,
           CAST(id_b AS INTEGER) AS dim,
           CAST(hamming AS DOUBLE) AS centroid
    FROM ({_image_neardup_sql()})
"""
)


def _pack_sql() -> str:
    from pandas_weights_spark.sample import uniform_hash_sql

    u = uniform_hash_sql(["doc_id"], 42)
    return f"""
    WITH b AS (
      SELECT doc_id, n_chars AS tokens,
             CAST(FLOOR({u} * CAST(8 AS DOUBLE)) AS INTEGER) AS bucket
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ), w AS (
      SELECT doc_id, tokens, bucket,
             COALESCE(SUM(tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM b
    )
    SELECT doc_id, bucket,
           CAST(bucket AS BIGINT) * 1000000000
             + CAST(FLOOR(s / 4096) AS BIGINT) AS pack_id,
           -- s is a SUM() window -> HUGEINT; % keeps HUGEINT -> float64 in
           -- fetchdf(). Cast to BIGINT to match Spark's int64.
           CAST(s % 4096 AS BIGINT) AS pack_offset, tokens
    FROM w
"""


_ORACLE["pack_sequences"] = _pack_sql()

_ORACLE["tfidf_top_terms"] = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents
    ), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2),
    nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    dfreq AS (SELECT term, COUNT(*) AS dfq FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS DOUBLE)
               * (ln((CAST(nn.n AS DOUBLE) + CAST(1.0 AS DOUBLE))
                      / (CAST(dfq AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                  + CAST(1.0 AS DOUBLE)) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN nn
    ), ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rk
      FROM scored
    )
    SELECT 'tfidf' AS kind, doc_id, term, round(score, 6) AS v1,
           CAST(rk AS DOUBLE) AS v2
    FROM ranked WHERE rk <= 3
    UNION ALL
    SELECT 'vocab' AS kind, CAST(NULL AS BIGINT) AS doc_id, term,
           mass AS v1, CAST(tid AS DOUBLE) AS v2
    FROM (
      WITH vt AS (
        SELECT CAST(n_chars AS DOUBLE) AS w,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents
      ), vm AS (
        SELECT term, SUM(w) AS mass FROM vt WHERE term <> ''
        GROUP BY term HAVING SUM(w) >= 1.0
        ORDER BY mass DESC, term LIMIT 50
      )
      SELECT term, mass,
             row_number() OVER (ORDER BY mass DESC, term) - 1 AS tid
      FROM vm
    )
    UNION ALL
    SELECT 'bpe' AS kind, CAST(NULL AS BIGINT) AS doc_id,
           l || ' ' || r AS term, freq AS v1, CAST(rk AS DOUBLE) AS v2
    FROM (
      WITH bw AS (
        SELECT word, CAST(COUNT(*) AS DOUBLE) AS freq FROM (
          SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
                   AS word
          FROM documents WHERE doc_id < 40
        ) WHERE word <> '' GROUP BY word
      ), sy AS (
        SELECT freq,
               list_concat(string_split(word, ''), ['</w>']) AS s
        FROM bw
      ), pr AS (
        SELECT freq, unnest([{'l': s[i], 'r': s[i+1]}
                             for i in range(1, len(s))]) AS p
        FROM sy
      ), pc AS (
        SELECT p.l AS l, p.r AS r, SUM(freq) AS freq
        FROM pr GROUP BY 1, 2
      )
      SELECT l, r, freq,
             row_number() OVER (ORDER BY freq DESC, l, r) AS rk
      FROM pc
    ) WHERE rk <= 40
    UNION ALL
    -- r6: unigram-LM tokenizer SEED kernel replay (vocab.unigram_
    -- seed_table): substrings of length 1..4 of every capped word,
    -- mass = word freq per occurrence, top-40 by (mass desc, piece)
    SELECT 'usd' AS kind, CAST(NULL AS BIGINT) AS doc_id,
           piece AS term, mass AS v1, CAST(rk AS DOUBLE) AS v2
    FROM (
      WITH uw AS (
        SELECT word, CAST(COUNT(*) AS DOUBLE) AS freq FROM (
          SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
                   AS word
          FROM documents WHERE doc_id < 40
        ) WHERE word <> '' GROUP BY word
      ), up AS (
        SELECT word, freq,
               unnest(generate_series(1, len(word))) AS i
        FROM uw
      ), ul AS (
        SELECT word, freq, i,
               unnest(generate_series(
                   1, least(4, len(word) - i + 1))) AS l
        FROM up
      ), um AS (
        SELECT substring(word, i, l) AS piece, SUM(freq) AS mass
        FROM ul GROUP BY 1
      )
      SELECT piece, mass,
             row_number() OVER (ORDER BY mass DESC, piece) AS rk
      FROM um
    ) WHERE rk <= 40
    UNION ALL
    SELECT 'lm' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
           round(lpm, 6) AS v1, round(exp(-lpm), 6) AS v2
    FROM (
      WITH lt AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents
      ), lt2 AS (SELECT doc_id, term FROM lt WHERE term <> ''),
      vm AS (
        SELECT term, CAST(COUNT(*) AS DOUBLE) AS mass FROM lt2
        GROUP BY term HAVING COUNT(*) >= 1.0
        ORDER BY mass DESC, term LIMIT 5000
      ),
      tot AS (SELECT SUM(mass) AS W, COUNT(*) AS V FROM vm),
      sc AS (
        SELECT l.doc_id,
               COALESCE(ln(vm.mass + 0.5), ln(0.5))
                 - ln(tot.W + 0.5 * (tot.V + 1)) AS lp
        FROM lt2 l LEFT JOIN vm USING (term) CROSS JOIN tot
        WHERE l.doc_id < 50
      )
      SELECT doc_id, AVG(lp) AS lpm FROM sc GROUP BY doc_id
    )
    UNION ALL
    -- r6: interpolated bigram LM replay (text.bigram_lm_score):
    -- p(w2|w1) = 0.7*c(w1,w2)/c(w1.) + 0.3*p_uni(w2), capped bigram
    -- table, same smoothed-unigram floor; docs < 50 scored
    SELECT 'lm2' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
           round(lpm, 6) AS v1, round(exp(-lpm), 6) AS v2
    FROM (
      WITH dt AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
      ), lt2 AS (
        SELECT doc_id, unnest(w) AS term FROM dt
      ), lt3 AS (SELECT doc_id, term FROM lt2 WHERE term <> ''),
      vm AS (
        SELECT term, CAST(COUNT(*) AS DOUBLE) AS mass FROM lt3
        GROUP BY term HAVING COUNT(*) >= 1.0
        ORDER BY mass DESC, term LIMIT 5000
      ),
      tot AS (SELECT SUM(mass) AS W, COUNT(*) AS V FROM vm),
      bp AS (
        SELECT p.a AS w1, p.b AS w2 FROM (
          SELECT unnest(CASE WHEN len(w) >= 2
                        THEN [{'a': w[i], 'b': w[i+1]}
                              for i in range(1, len(w))]
                        ELSE [] END) AS p
          FROM dt
        )
      ),
      bgr AS (
        SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS mass FROM bp
        GROUP BY w1, w2
        ORDER BY mass DESC, w1, w2 LIMIT 5000
      ),
      mg AS (SELECT w1, SUM(mass) AS m1 FROM bgr GROUP BY w1),
      dpair AS (
        SELECT doc_id, p.a AS w1, p.b AS w2 FROM (
          SELECT doc_id,
                 unnest(CASE WHEN len(w) >= 2
                        THEN [{'a': w[i], 'b': w[i+1]}
                              for i in range(1, len(w))]
                        ELSE [] END) AS p
          FROM dt WHERE doc_id < 50
        )
      ),
      sc2 AS (
        SELECT d.doc_id,
               ln(0.7 * COALESCE(bgr.mass / mg.m1, 0.0)
                  + 0.3 * exp(
                      COALESCE(ln(vm.mass + 0.5), ln(0.5))
                      - ln(tot.W + 0.5 * (tot.V + 1)))) AS lp
        FROM dpair d
        LEFT JOIN bgr ON d.w1 = bgr.w1 AND d.w2 = bgr.w2
        LEFT JOIN mg ON d.w1 = mg.w1
        LEFT JOIN vm ON d.w2 = vm.term
        CROSS JOIN tot
      )
      SELECT doc_id, AVG(lp) AS lpm FROM sc2 GROUP BY doc_id
    )
    UNION ALL
    -- r7: interpolated trigram LM replay (text.trigram_lm_score):
    -- p(w3|w1w2) = 0.6*c(w1w2w3)/c(w1w2.) + 0.3*c(w2w3)/c(w2.)
    -- + 0.1*p_uni(w3); capped trigram+bigram tables, same smoothed
    -- unigram floor; docs < 50 scored over token TRIPLES
    SELECT 'lm3' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
           round(lpm, 6) AS v1, round(exp(-lpm), 6) AS v2
    FROM (
      WITH dt AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
      ), lt2 AS (
        SELECT doc_id, unnest(w) AS term FROM dt
      ), lt3 AS (SELECT doc_id, term FROM lt2 WHERE term <> ''),
      vm AS (
        SELECT term, CAST(COUNT(*) AS DOUBLE) AS mass FROM lt3
        GROUP BY term HAVING COUNT(*) >= 1.0
        ORDER BY mass DESC, term LIMIT 5000
      ),
      tot AS (SELECT SUM(mass) AS W, COUNT(*) AS V FROM vm),
      bp AS (
        SELECT p.a AS w1, p.b AS w2 FROM (
          SELECT unnest(CASE WHEN len(w) >= 2
                        THEN [{'a': w[i], 'b': w[i+1]}
                              for i in range(1, len(w))]
                        ELSE [] END) AS p
          FROM dt
        )
      ),
      bgr AS (
        SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS mass FROM bp
        GROUP BY w1, w2
        ORDER BY mass DESC, w1, w2 LIMIT 5000
      ),
      mg AS (SELECT w1, SUM(mass) AS m1 FROM bgr GROUP BY w1),
      tp AS (
        SELECT p.a AS w1, p.b AS w2, p.c AS w3 FROM (
          SELECT unnest(CASE WHEN len(w) >= 3
                        THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                              for i in range(1, len(w) - 1)]
                        ELSE [] END) AS p
          FROM dt
        )
      ),
      tgr AS (
        SELECT w1, w2, w3, CAST(COUNT(*) AS DOUBLE) AS mass FROM tp
        GROUP BY w1, w2, w3
        ORDER BY mass DESC, w1, w2, w3 LIMIT 5000
      ),
      tmg AS (
        SELECT w1, w2, SUM(mass) AS m12 FROM tgr GROUP BY w1, w2
      ),
      dtrip AS (
        SELECT doc_id, p.a AS w1, p.b AS w2, p.c AS w3 FROM (
          SELECT doc_id,
                 unnest(CASE WHEN len(w) >= 3
                        THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                              for i in range(1, len(w) - 1)]
                        ELSE [] END) AS p
          FROM dt WHERE doc_id < 50
        )
      ),
      sc3 AS (
        SELECT d.doc_id,
               ln(0.6 * COALESCE(tgr.mass / tmg.m12, 0.0)
                  + 0.3 * COALESCE(bgr.mass / mg.m1, 0.0)
                  + 0.1 * exp(
                      COALESCE(ln(vm.mass + 0.5), ln(0.5))
                      - ln(tot.W + 0.5 * (tot.V + 1)))) AS lp
        FROM dtrip d
        LEFT JOIN tgr ON d.w1 = tgr.w1 AND d.w2 = tgr.w2
                     AND d.w3 = tgr.w3
        LEFT JOIN tmg ON d.w1 = tmg.w1 AND d.w2 = tmg.w2
        LEFT JOIN bgr ON d.w2 = bgr.w1 AND d.w3 = bgr.w2
        LEFT JOIN mg ON d.w2 = mg.w1
        LEFT JOIN vm ON d.w3 = vm.term
        CROSS JOIN tot
      )
      SELECT doc_id, AVG(lp) AS lpm FROM sc3 GROUP BY doc_id
    )
    UNION ALL
    -- r8: general-order interpolated LM replay (text.ngram_lm_score,
    -- non-consecutive orders {5, 2}): p = 0.5*c5/c(w1..w4.)
    -- + (0.3*c2/c(w4.) + (1-(0.3+0.5))*p_uni(w5)) — parens mirror the
    -- engine's accumulation order; capped quintuple table, same
    -- smoothed floor; docs < 50 scored over token QUINTUPLES
    SELECT 'lm5' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
           round(lpm, 6) AS v1, round(exp(-lpm), 6) AS v2
    FROM (
      WITH dt AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
      ), lt2 AS (
        SELECT doc_id, unnest(w) AS term FROM dt
      ), lt3 AS (SELECT doc_id, term FROM lt2 WHERE term <> ''),
      vm AS (
        SELECT term, CAST(COUNT(*) AS DOUBLE) AS mass FROM lt3
        GROUP BY term HAVING COUNT(*) >= 1.0
        ORDER BY mass DESC, term LIMIT 5000
      ),
      tot AS (SELECT SUM(mass) AS W, COUNT(*) AS V FROM vm),
      bp AS (
        SELECT p.a AS w1, p.b AS w2 FROM (
          SELECT unnest(CASE WHEN len(w) >= 2
                        THEN [{'a': w[i], 'b': w[i+1]}
                              for i in range(1, len(w))]
                        ELSE [] END) AS p
          FROM dt
        )
      ),
      bgr AS (
        SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS mass FROM bp
        GROUP BY w1, w2
        ORDER BY mass DESC, w1, w2 LIMIT 5000
      ),
      mg AS (SELECT w1, SUM(mass) AS m1 FROM bgr GROUP BY w1),
      qp AS (
        SELECT p.a AS w1, p.b AS w2, p.c AS w3, p.d AS w4, p.e AS w5
        FROM (
          SELECT unnest(CASE WHEN len(w) >= 5
                        THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2],
                               'd': w[i+3], 'e': w[i+4]}
                              for i in range(1, len(w) - 3)]
                        ELSE [] END) AS p
          FROM dt
        )
      ),
      qgr AS (
        SELECT w1, w2, w3, w4, w5, CAST(COUNT(*) AS DOUBLE) AS mass
        FROM qp GROUP BY w1, w2, w3, w4, w5
        ORDER BY mass DESC, w1, w2, w3, w4, w5 LIMIT 5000
      ),
      qmg AS (
        SELECT w1, w2, w3, w4, SUM(mass) AS m1234 FROM qgr
        GROUP BY w1, w2, w3, w4
      ),
      dquint AS (
        SELECT doc_id, p.a AS w1, p.b AS w2, p.c AS w3, p.d AS w4,
               p.e AS w5
        FROM (
          SELECT doc_id,
                 unnest(CASE WHEN len(w) >= 5
                        THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2],
                               'd': w[i+3], 'e': w[i+4]}
                              for i in range(1, len(w) - 3)]
                        ELSE [] END) AS p
          FROM dt WHERE doc_id < 50
        )
      ),
      sc5 AS (
        SELECT d.doc_id,
               ln(0.5 * COALESCE(qgr.mass / qmg.m1234, 0.0)
                  + (0.3 * COALESCE(bgr.mass / mg.m1, 0.0)
                     + (1.0 - (0.3 + 0.5)) * exp(
                         COALESCE(ln(vm.mass + 0.5), ln(0.5))
                         - ln(tot.W + 0.5 * (tot.V + 1))))) AS lp
        FROM dquint d
        LEFT JOIN qgr ON d.w1 = qgr.w1 AND d.w2 = qgr.w2
                     AND d.w3 = qgr.w3 AND d.w4 = qgr.w4
                     AND d.w5 = qgr.w5
        LEFT JOIN qmg ON d.w1 = qmg.w1 AND d.w2 = qmg.w2
                     AND d.w3 = qmg.w3 AND d.w4 = qmg.w4
        LEFT JOIN bgr ON d.w4 = bgr.w1 AND d.w5 = bgr.w2
        LEFT JOIN mg ON d.w4 = mg.w1
        LEFT JOIN vm ON d.w5 = vm.term
        CROSS JOIN tot
      )
      SELECT doc_id, AVG(lp) AS lpm FROM sc5 GROUP BY doc_id
    )
    UNION ALL
    -- r10: interpolated Kneser-Ney replay (text.ngram_lm_score
    -- smoothing='kn', orders {2,3}, D=0.75): top order discounts raw
    -- trigram counts, order 2 uses CONTINUATION counts N1+(.w2w3)
    -- from the trigram table, base is the alpha-pooled continuation
    -- unigram off the bigram table; fold mirrors the engine's
    -- bottom-up num + bw*p accumulation; docs < 50 over TRIPLES
    SELECT 'lmkn' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
           round(lpm, 6) AS v1, round(exp(-lpm), 6) AS v2
    FROM (
      WITH dt AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
      ),
      bp AS (
        SELECT p.a AS w1, p.b AS w2 FROM (
          SELECT unnest(CASE WHEN len(w) >= 2
                        THEN [{'a': w[i], 'b': w[i+1]}
                              for i in range(1, len(w))]
                        ELSE [] END) AS p
          FROM dt
        )
      ),
      bgr AS (
        SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS mass FROM bp
        GROUP BY w1, w2
        ORDER BY mass DESC, w1, w2 LIMIT 5000
      ),
      tp AS (
        SELECT p.a AS w1, p.b AS w2, p.c AS w3 FROM (
          SELECT unnest(CASE WHEN len(w) >= 3
                        THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                              for i in range(1, len(w) - 1)]
                        ELSE [] END) AS p
          FROM dt
        )
      ),
      tgr AS (
        SELECT w1, w2, w3, CAST(COUNT(*) AS DOUBLE) AS mass FROM tp
        GROUP BY w1, w2, w3
        ORDER BY mass DESC, w1, w2, w3 LIMIT 5000
      ),
      tmg AS (
        SELECT w1, w2, SUM(mass) AS m,
               CAST(COUNT(*) AS DOUBLE) AS nd
        FROM tgr GROUP BY w1, w2
      ),
      cc2 AS (
        SELECT w2, w3, CAST(COUNT(*) AS DOUBLE) AS cc
        FROM tgr GROUP BY w2, w3
      ),
      cd2 AS (
        SELECT w2, SUM(cc) AS cm, CAST(COUNT(*) AS DOUBLE) AS cnd
        FROM cc2 GROUP BY w2
      ),
      c1 AS (
        SELECT w2 AS term, CAST(COUNT(*) AS DOUBLE) AS c1
        FROM bgr GROUP BY w2
      ),
      t0 AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS T,
               COUNT(DISTINCT w2) AS V1
        FROM bgr
      ),
      dtrip AS (
        SELECT doc_id, p.a AS w1, p.b AS w2, p.c AS w3 FROM (
          SELECT doc_id,
                 unnest(CASE WHEN len(w) >= 3
                        THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                              for i in range(1, len(w) - 1)]
                        ELSE [] END) AS p
          FROM dt WHERE doc_id < 50
        )
      ),
      sckn AS (
        SELECT d.doc_id,
               ln(
                 COALESCE(greatest(tgr.mass - 0.75, 0.0) / tmg.m, 0.0)
                 + COALESCE(0.75 * tmg.nd / tmg.m, 1.0) * (
                     COALESCE(greatest(cc2.cc - 0.75, 0.0) / cd2.cm,
                              0.0)
                     + COALESCE(0.75 * cd2.cnd / cd2.cm, 1.0) * (
                         (COALESCE(c1.c1, 0.0) + 0.5)
                         / (t0.T + 0.5 * (t0.V1 + 1))
                     )
                 )
               ) AS lp
        FROM dtrip d
        LEFT JOIN tgr ON d.w1 = tgr.w1 AND d.w2 = tgr.w2
                     AND d.w3 = tgr.w3
        LEFT JOIN tmg ON d.w1 = tmg.w1 AND d.w2 = tmg.w2
        LEFT JOIN cc2 ON d.w2 = cc2.w2 AND d.w3 = cc2.w3
        LEFT JOIN cd2 ON d.w2 = cd2.w2
        LEFT JOIN c1 ON d.w3 = c1.term
        CROSS JOIN t0
      )
      SELECT doc_id, AVG(lp) AS lpm FROM sckn GROUP BY doc_id
    )
    UNION ALL
    -- r10: MODIFIED Kneser-Ney replay (text.ngram_lm_score
    -- smoothing='mkn', orders {2,3}, explicit discounts
    -- {2: (0.4, 1.1, 1.9), 3: (0.5, 1.3, 2.2)}): the discount is
    -- bucketed by the gram's own count (1 / 2 / >=3) and the backoff
    -- weight is (D1*N1(ctx) + D2*N2(ctx) + D3*N3+(ctx)) / c(ctx);
    -- same fold, tables, and fall-through as the 'kn' replay above
    SELECT 'lmmkn' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
           round(lpm, 6) AS v1, round(exp(-lpm), 6) AS v2
    FROM (
      WITH dt AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
      ),
      bp AS (
        SELECT p.a AS w1, p.b AS w2 FROM (
          SELECT unnest(CASE WHEN len(w) >= 2
                        THEN [{'a': w[i], 'b': w[i+1]}
                              for i in range(1, len(w))]
                        ELSE [] END) AS p
          FROM dt
        )
      ),
      bgr AS (
        SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS mass FROM bp
        GROUP BY w1, w2
        ORDER BY mass DESC, w1, w2 LIMIT 5000
      ),
      tp AS (
        SELECT p.a AS w1, p.b AS w2, p.c AS w3 FROM (
          SELECT unnest(CASE WHEN len(w) >= 3
                        THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                              for i in range(1, len(w) - 1)]
                        ELSE [] END) AS p
          FROM dt
        )
      ),
      tgr AS (
        SELECT w1, w2, w3, CAST(COUNT(*) AS DOUBLE) AS mass FROM tp
        GROUP BY w1, w2, w3
        ORDER BY mass DESC, w1, w2, w3 LIMIT 5000
      ),
      tmg AS (
        SELECT w1, w2, SUM(mass) AS m,
               SUM(CASE WHEN mass = 1.0 THEN 1.0 ELSE 0.0 END) AS k1,
               SUM(CASE WHEN mass = 2.0 THEN 1.0 ELSE 0.0 END) AS k2,
               SUM(CASE WHEN mass >= 3.0 THEN 1.0 ELSE 0.0 END) AS k3
        FROM tgr GROUP BY w1, w2
      ),
      cc2 AS (
        SELECT w2, w3, CAST(COUNT(*) AS DOUBLE) AS cc
        FROM tgr GROUP BY w2, w3
      ),
      cd2 AS (
        SELECT w2, SUM(cc) AS cm,
               SUM(CASE WHEN cc = 1.0 THEN 1.0 ELSE 0.0 END) AS k1,
               SUM(CASE WHEN cc = 2.0 THEN 1.0 ELSE 0.0 END) AS k2,
               SUM(CASE WHEN cc >= 3.0 THEN 1.0 ELSE 0.0 END) AS k3
        FROM cc2 GROUP BY w2
      ),
      c1 AS (
        SELECT w2 AS term, CAST(COUNT(*) AS DOUBLE) AS c1
        FROM bgr GROUP BY w2
      ),
      t0 AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS T,
               COUNT(DISTINCT w2) AS V1
        FROM bgr
      ),
      dtrip AS (
        SELECT doc_id, p.a AS w1, p.b AS w2, p.c AS w3 FROM (
          SELECT doc_id,
                 unnest(CASE WHEN len(w) >= 3
                        THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                              for i in range(1, len(w) - 1)]
                        ELSE [] END) AS p
          FROM dt WHERE doc_id < 50
        )
      ),
      scmkn AS (
        SELECT d.doc_id,
               ln(
                 COALESCE(greatest(tgr.mass - (CASE
                       WHEN tgr.mass = 1.0 THEN 0.5
                       WHEN tgr.mass = 2.0 THEN 1.3
                       ELSE 2.2 END), 0.0) / tmg.m, 0.0)
                 + COALESCE((0.5 * tmg.k1 + 1.3 * tmg.k2
                             + 2.2 * tmg.k3) / tmg.m, 1.0) * (
                     COALESCE(greatest(cc2.cc - (CASE
                           WHEN cc2.cc = 1.0 THEN 0.4
                           WHEN cc2.cc = 2.0 THEN 1.1
                           ELSE 1.9 END), 0.0) / cd2.cm, 0.0)
                     + COALESCE((0.4 * cd2.k1 + 1.1 * cd2.k2
                                 + 1.9 * cd2.k3) / cd2.cm, 1.0) * (
                         (COALESCE(c1.c1, 0.0) + 0.5)
                         / (t0.T + 0.5 * (t0.V1 + 1))
                     )
                 )
               ) AS lp
        FROM dtrip d
        LEFT JOIN tgr ON d.w1 = tgr.w1 AND d.w2 = tgr.w2
                     AND d.w3 = tgr.w3
        LEFT JOIN tmg ON d.w1 = tmg.w1 AND d.w2 = tmg.w2
        LEFT JOIN cc2 ON d.w2 = cc2.w2 AND d.w3 = cc2.w3
        LEFT JOIN cd2 ON d.w2 = cd2.w2
        LEFT JOIN c1 ON d.w3 = c1.term
        CROSS JOIN t0
      )
      SELECT doc_id, AVG(lp) AS lpm FROM scmkn GROUP BY doc_id
    )
"""

_CORR_PAIR_SQL = _corr_sql(
    "l_extendedprice", "disc_n", "l_quantity",
    """(SELECT l_extendedprice, l_quantity,
               CASE WHEN l_tax >= 0.02 THEN l_discount END AS disc_n
        FROM lineitem)""",
)

_ORACLE["ewm_mean"] = _ewm_sql(alpha=0.05)

_ORACLE["group_corr"] = (
    "SELECT l_returnflag, 'l_discount' AS col_x, 'l_extendedprice' AS col_y, "
    "corr FROM ("
    + _corr_sql(
        "l_extendedprice", "l_discount", "l_quantity", "lineitem",
        group=["l_returnflag"],
    )
    + ")"
)

_ALIGNED_COV_SQL = """
    WITH j AS (
      SELECT o_orderstatus, o_totalprice AS x, c_acctbal AS y,
             CAST(o_orderkey % 10 + 1 AS DOUBLE) AS w
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), m AS (
      SELECT o_orderstatus,
             COUNT(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                         AND w IS NOT NULL THEN 1 END) AS n,
             SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN w END) AS sw,
             SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN w END
                 * x) AS sx,
             SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN w END
                 * y) AS sy,
             SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN w END
                 * x * y) AS sxy
      FROM j GROUP BY 1
    )
    SELECT o_orderstatus,
           ROUND(CASE WHEN n >= 1 AND sw > 1.0
                 THEN (sxy - (sx*sy)/sw) / (sw - 1.0) END, 4) AS cov
    FROM m
"""

_SPEARMAN_RANKED = """(
    WITH v AS (
      SELECT l_returnflag AS g, l_extendedprice AS x, l_discount AS y,
             l_quantity AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
        AND l_quantity IS NOT NULL
    ), cx AS (
      SELECT g, x, COUNT(*) AS n FROM v GROUP BY g, x
    ), rx AS (
      SELECT g, x,
             CAST(SUM(n) OVER (PARTITION BY g ORDER BY x
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               - CAST(n - 1 AS DOUBLE) / CAST(2.0 AS DOUBLE) AS rnk
      FROM cx
    ), cy AS (
      SELECT g, y, COUNT(*) AS n FROM v GROUP BY g, y
    ), ry AS (
      SELECT g, y,
             CAST(SUM(n) OVER (PARTITION BY g ORDER BY y
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               - CAST(n - 1 AS DOUBLE) / CAST(2.0 AS DOUBLE) AS rnk
      FROM cy
    )
    SELECT v.g, rx.rnk AS x, ry.rnk AS y, v.w
    FROM v
    JOIN rx ON v.g = rx.g AND v.x = rx.x
    JOIN ry ON v.g = ry.g AND v.y = ry.y
)"""

_ACF_SRC = """(
  SELECT l_returnflag AS g, l_extendedprice AS x,
         LAG(l_extendedprice, {k}) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST,
                    l_linenumber NULLS FIRST, l_partkey NULLS FIRST
         ) AS y,
         l_quantity AS w
  FROM lineitem
)"""

def _spearman_matrix_sql() -> str:
    # listwise-complete 3-column rank table (same average-tie rank
    # formulation as _SPEARMAN_RANKED, global), then one _corr_sql per
    # unordered pair; the mirror emits the SAME value (the engine
    # reuses the i<=j moments, and corr is symmetric)
    cols = ["l_extendedprice", "l_discount", "l_tax"]
    k = len(cols)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    rank_ctes = ", ".join(
        f"""cnt{i} AS (SELECT c{i}, COUNT(*) AS n FROM v GROUP BY c{i}),
    rk{i} AS (
      SELECT c{i},
             CAST(SUM(n) OVER (ORDER BY c{i} ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE)
               - CAST(n - 1 AS DOUBLE) / CAST(2.0 AS DOUBLE) AS rnk
      FROM cnt{i}
    )"""
        for i in range(k)
    )
    joins = " ".join(f"JOIN rk{i} USING (c{i})" for i in range(k))
    ranked = f"""(
    WITH v AS (
      SELECT {', '.join(f'{c} AS c{i}' for i, c in enumerate(cols))},
             l_quantity AS w
      FROM lineitem
      WHERE {notnull} AND l_quantity IS NOT NULL
    ), {rank_ctes}
    SELECT {', '.join(f'rk{i}.rnk AS r{i}' for i in range(k))}, v.w
    FROM v {joins}
    )"""
    parts = []
    for i in range(k):
        for j in range(k):
            lo, hi = min(i, j), max(i, j)
            parts.append(
                f"SELECT 'mat' AS kind, '{cols[i]}|{cols[j]}' AS "
                "l_returnflag, corr FROM ("
                + _corr_sql(f"r{lo}", f"r{hi}", "w", ranked)
                + ")"
            )
    return " UNION ALL ".join(parts)


_ORACLE["spearman_corr"] = (
    "SELECT 'spearman' AS kind, g AS l_returnflag, corr FROM ("
    + _corr_sql("x", "y", "w", _SPEARMAN_RANKED, group=["g"])
    + ")"
    + " UNION ALL SELECT 'acf:1' AS kind, g AS l_returnflag, corr FROM ("
    + _corr_sql("x", "y", "w", _ACF_SRC.format(k=1), group=["g"])
    + ")"
    + " UNION ALL SELECT 'acf:3' AS kind, g AS l_returnflag, corr FROM ("
    + _corr_sql("x", "y", "w", _ACF_SRC.format(k=3), group=["g"])
    + ")"
    + " UNION ALL "
    + _spearman_matrix_sql()
)

_ORACLE["aligned_corr_cov"] = (
    "SELECT a.o_orderstatus, a.corr, b.cov FROM (SELECT o_orderstatus, corr FROM ("
    + _corr_sql(
        "x", "y", "w",
        """(SELECT o_orderstatus, o_totalprice AS x, c_acctbal AS y,
                   CAST(o_orderkey % 10 + 1 AS DOUBLE) AS w
            FROM orders JOIN customer ON o_custkey = c_custkey)""",
        group=["o_orderstatus"],
    )
    + ")) AS a JOIN ("
    + _ALIGNED_COV_SQL
    + ") AS b USING (o_orderstatus)"
    # r2's corr_pair row, folded in as a tagged global row (NULL cov)
    + " UNION ALL SELECT 'pairwise_global' AS o_orderstatus, corr,"
    + " CAST(NULL AS DOUBLE) AS cov FROM ("
    + _CORR_PAIR_SQL
    + ")"
)

_ORACLE["window_stats"] = """
    SELECT 'roll_mean' AS stat, l_orderkey, l_linenumber,
           CASE WHEN COUNT(l_partkey * l_quantity) OVER w >= 3
                THEN SUM(l_partkey * l_quantity) OVER w
                     / SUM(l_quantity) OVER w
           END AS val
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    UNION ALL
    SELECT 'exp_var' AS stat, l_orderkey, l_linenumber,
           CASE WHEN COUNT(l_partkey * l_quantity) OVER w2 >= 1
                THEN (SUM(l_partkey * l_partkey * l_quantity) OVER w2
                      - (SUM(l_partkey * l_quantity) OVER w2
                         * SUM(l_partkey * l_quantity) OVER w2)
                        / SUM(l_quantity) OVER w2)
                     / NULLIF(SUM(l_quantity) OVER w2 - 1.0, 0.0)
           END AS val
    FROM lineitem
    WINDOW w2 AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    UNION ALL
    SELECT 'roll_corr' AS stat, l_orderkey, l_linenumber,
           ROUND(CASE WHEN n >= 3 AND sw > 1.0
                       AND (sxx - (sx*sx)/sw) / (sw - 1.0) > 0
                       AND (syy - (sy*sy)/sw) / (sw - 1.0) > 0
                 THEN ((sxy - (sx*sy)/sw) / (sw - 1.0))
                      / sqrt(((sxx - (sx*sx)/sw) / (sw - 1.0))
                             * ((syy - (sy*sy)/sw) / (sw - 1.0)))
                 END, 6) AS val
    FROM (
      SELECT l_orderkey, l_linenumber,
             COUNT(m) OVER w3 AS n,
             SUM(m) OVER w3 AS sw,
             SUM(m * l_partkey) OVER w3 AS sx,
             SUM(m * l_extendedprice) OVER w3 AS sy,
             SUM(m * l_partkey * l_extendedprice) OVER w3 AS sxy,
             SUM(m * l_partkey * l_partkey) OVER w3 AS sxx,
             SUM(m * l_extendedprice * l_extendedprice) OVER w3 AS syy
      FROM (SELECT *,
                   CASE WHEN l_partkey IS NOT NULL
                         AND l_extendedprice IS NOT NULL
                         AND l_quantity IS NOT NULL
                        THEN l_quantity END AS m
            FROM lineitem)
      WINDOW w3 AS (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_suppkey,
                            l_extendedprice
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    UNION ALL
    SELECT 'roll_med' AS stat, l_orderkey, l_linenumber, val FROM (
      WITH tt AS (
        SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
               row_number() OVER wo AS rn,
               COUNT(CASE WHEN l_extendedprice IS NOT NULL
                           AND l_quantity IS NOT NULL THEN 1 END)
                 OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_partkey, l_suppkey,
                                l_extendedprice
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS nv
        FROM lineitem
        WINDOW wo AS (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_partkey, l_suppkey,
                               l_extendedprice)
      ), j AS (
        SELECT a.l_orderkey, a.rn, b.l_extendedprice AS x,
               b.l_quantity AS w
        FROM tt a JOIN tt b
          ON a.l_orderkey = b.l_orderkey
         AND b.rn BETWEEN a.rn - 2 AND a.rn
        WHERE b.l_extendedprice IS NOT NULL AND b.l_quantity > 0
      ), c AS (
        SELECT l_orderkey, rn, x,
               SUM(w) OVER (PARTITION BY l_orderkey, rn ORDER BY x
                            RANGE BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cw,
               SUM(w) OVER (PARTITION BY l_orderkey, rn) AS tw
        FROM j
      ), med AS (
        SELECT l_orderkey, rn,
               MIN(CASE WHEN cw >= 0.5 * tw THEN x END) AS m
        FROM c GROUP BY 1, 2
      )
      SELECT tt.l_orderkey, tt.l_linenumber,
             CASE WHEN tt.nv >= 3 THEN med.m END AS val
      FROM tt LEFT JOIN med
        ON tt.l_orderkey = med.l_orderkey AND tt.rn = med.rn
    )
"""


_ORACLE["star_join_mean"] = """
    SELECT 'star' AS kind, c_mktsegment,
           COALESCE(SUM(CASE WHEN l_extendedprice IS NOT NULL
                             THEN l_quantity END), 0.0) AS w_count,
           SUM(l_extendedprice * l_quantity)
             / SUM(CASE WHEN l_extendedprice IS NOT NULL THEN l_quantity END)
             AS val
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'cust' AS kind, c_mktsegment,
           COALESCE(SUM(CASE WHEN c_custkey IS NOT NULL
                             THEN c_acctbal END), 0.0) AS w_count,
           COALESCE(SUM(c_acctbal * c_custkey), 0.0) AS val
    FROM customer
    GROUP BY c_mktsegment
"""

_ORACLE["grouped_apply"] = """
    SELECT 'apply' AS kind, l_returnflag AS key, 'spread' AS stat,
           MAX(l_extendedprice * l_quantity) - MIN(l_extendedprice * l_quantity)
             AS val
    FROM lineitem
    GROUP BY l_returnflag
    UNION ALL
    SELECT 'events' AS kind, event_type AS key, stat, val
    FROM (
      WITH t AS (
        SELECT event_type, value, CAST(user_id % 7 + 1 AS DOUBLE) AS w
        FROM events
      ), m AS (
        SELECT event_type,
               COALESCE(SUM(CASE WHEN value IS NOT NULL THEN w END), 0.0) AS c,
               CASE WHEN COUNT(value * w) >= 1
                    THEN COALESCE(SUM(value * w), 0.0) END AS s,
               CASE WHEN COUNT(value * w) >= 1
                    THEN COALESCE(SUM(value * value * w), 0.0) END AS ss
        FROM t GROUP BY event_type
      )
      SELECT event_type, u.stat, u.val
      FROM m, LATERAL (VALUES
        ('count', c), ('sum', COALESCE(s, 0.0)), ('mean', s / c),
        ('var', (ss - s*s/c) / (c - 1)),
        ('std', CASE WHEN (ss - s*s/c) / (c - 1) >= 0
                     THEN sqrt((ss - s*s/c) / (c - 1)) END)
      ) AS u(stat, val)
    )
"""

_ORACLE["grouped_apply"] += """
    UNION ALL
    SELECT 'series' AS kind, CAST(NULL AS VARCHAR) AS key,
           'plus2' AS stat, l_extendedprice * l_quantity + 2.0 AS val
    FROM lineitem
    UNION ALL
    SELECT 'ret' AS kind, key, stat, val FROM (
      WITH e AS (
        SELECT CASE WHEN user_id % 13 = 0 THEN NULL ELSE user_id END AS u,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                    AS BIGINT) AS b,
               CAST(user_id % 7 + 1 AS DOUBLE) AS w
        FROM events WHERE ts IS NOT NULL
      ), f AS (
        SELECT u, b, w, MIN(b) OVER (PARTITION BY u) AS c FROM e
      ), tri AS (
        SELECT c, b - c AS period,
               COUNT(DISTINCT u)
                 + MAX(CASE WHEN u IS NULL THEN 1 ELSE 0 END) AS n_users,
               SUM(w) AS mass
        FROM f GROUP BY 1, 2
      )
      SELECT CAST(c * 86400 AS VARCHAR) AS key, v.stat, v.val
      FROM tri, LATERAL (VALUES
        ('u:' || CAST(period AS VARCHAR), CAST(n_users AS DOUBLE)),
        ('m:' || CAST(period AS VARCHAR), mass)
      ) AS v(stat, val)
    )
    UNION ALL
    SELECT 'fun' AS kind, key, stat, ROUND(val, 6) AS val FROM (
      -- r6: mass = the QUALIFYING event's weight (min-t qualifying
      -- event, ties by min weight) — replays cohort.funnel's pinned
      -- contract with a weight that VARIES within a user
      WITH e AS (
        SELECT user_id AS u, event_type AS s,
               CAST(ts AS TIMESTAMP) AS t,
               CAST(user_id % 7 + 1 AS DOUBLE)
                 + CAST(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
                             AS BIGINT) % 5 AS DOUBLE) * 0.125 AS w
        FROM events WHERE ts IS NOT NULL
      ), u0 AS (
        SELECT u, MIN(CASE WHEN s = 'view' THEN t END) AS t0
        FROM e GROUP BY u
      ), u1 AS (
        SELECT u0.u, u0.t0,
               MIN(CASE WHEN e.s = 'view' AND e.t = u0.t0
                        THEN e.w END) AS w0,
               MIN(CASE WHEN e.s = 'click' AND e.t >= u0.t0
                        THEN e.t END) AS t1
        FROM u0 JOIN e ON e.u = u0.u
        GROUP BY u0.u, u0.t0
      ), u2 AS (
        SELECT u1.u, u1.t0, u1.w0, u1.t1,
               MIN(CASE WHEN e.s = 'click' AND e.t = u1.t1
                        THEN e.w END) AS w1,
               MIN(CASE WHEN e.s = 'purchase' AND e.t >= u1.t1
                        THEN e.t END) AS t2
        FROM u1 JOIN e ON e.u = u1.u
        GROUP BY u1.u, u1.t0, u1.w0, u1.t1
      ), u3 AS (
        SELECT u2.u, u2.t0, u2.w0, u2.t1, u2.w1, u2.t2,
               MIN(CASE WHEN e.s = 'purchase' AND e.t = u2.t2
                        THEN e.w END) AS w2
        FROM u2 JOIN e ON e.u = u2.u
        GROUP BY u2.u, u2.t0, u2.w0, u2.t1, u2.w1, u2.t2
      ), a AS (
        SELECT
          CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) AS n0,
          CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) AS n1,
          CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) AS n2,
          SUM(COALESCE(w0, 0)) AS m0,
          SUM(COALESCE(w1, 0)) AS m1,
          SUM(COALESCE(w2, 0)) AS m2
        FROM u3
      )
      SELECT v.key, v.stat, v.val
      FROM a, LATERAL (VALUES
        ('view', 'n:view', n0), ('view', 'm:view', m0),
        ('view', 'c:view', n0 / n0),
        ('click', 'n:click', n1), ('click', 'm:click', m1),
        ('click', 'c:click', n1 / n0),
        ('purchase', 'n:purchase', n2), ('purchase', 'm:purchase', m2),
        ('purchase', 'c:purchase', n2 / n0)
      ) AS v(key, stat, val)
    )
"""

def _calibration_sql(iters: int = 3) -> str:
    """Unrolled sequential IPF on the joint (returnflag, linestatus)
    cell table — the joint masses are a sufficient statistic for the
    marginal updates, so the oracle replays calibration.rake_weights'
    math on a 6-row table. Carries per-cell row count and Σw² so the
    Kish diagnostics fall out of the same pipeline."""
    sql = """
    WITH tr(r, t) AS (VALUES ('A', 1000.0), ('N', 2000.0), ('R', 1000.0)),
    tc(c, t) AS (VALUES ('F', 1500.0), ('O', 2500.0)),
    c0 AS (
      SELECT l_returnflag AS r, l_linestatus AS c,
             COUNT(CASE WHEN l_quantity > 0 THEN 1 END) AS cnt,
             SUM(CASE WHEN l_quantity > 0 THEN l_quantity ELSE 0 END) AS m,
             SUM(CASE WHEN l_quantity > 0
                      THEN l_quantity * l_quantity ELSE 0 END) AS s2
      FROM lineitem GROUP BY 1, 2
    )"""
    prev = "c0"
    for i in range(1, iters + 1):
        sql += f""",
    mr{i} AS (SELECT r, SUM(m) AS mm FROM {prev} GROUP BY r),
    a{i} AS (
      SELECT p.r, p.c, p.cnt,
             p.m * (tr.t / mr{i}.mm) AS m,
             p.s2 * (tr.t / mr{i}.mm) * (tr.t / mr{i}.mm) AS s2
      FROM {prev} p JOIN mr{i} ON p.r = mr{i}.r
      JOIN tr ON tr.r = p.r
    ),
    mc{i} AS (SELECT c, SUM(m) AS mm FROM a{i} GROUP BY c),
    b{i} AS (
      SELECT p.r, p.c, p.cnt,
             p.m * (tc.t / mc{i}.mm) AS m,
             p.s2 * (tc.t / mc{i}.mm) * (tc.t / mc{i}.mm) AS s2
      FROM a{i} p JOIN mc{i} ON p.c = mc{i}.c
      JOIN tc ON tc.c = p.c
    )"""
        prev = f"b{i}"
    return sql + f""",
    fin AS (SELECT * FROM {prev}),
    tot AS (
      SELECT SUM(cnt) AS n, SUM(m) AS sw, SUM(s2) AS sww FROM fin
    )
    SELECT 'cell' AS kind, r AS k1, c AS k2, ROUND(m, 6) AS val FROM fin
    UNION ALL
    SELECT 'diag', v.k1, NULL, ROUND(v.val, 6)
    FROM tot, LATERAL (VALUES
      ('n', CAST(n AS DOUBLE)),
      ('sum_w', sw),
      ('n_eff', sw * sw / sww),
      ('deff', CAST(n AS DOUBLE) / (sw * sw / sww)),
      ('cv_w', sqrt(sww / n - (sw / n) * (sw / n)) / (sw / n))
    ) AS v(k1, val)
"""


def _bootstrap_sql(B: int = 20, seed: int = 42) -> str:
    """Replays calibration.bootstrap_se: md5 uniforms (sample.py's
    uniform_hash mirror) → Poisson(1) inverse-CDF multipliers →
    per-replicate sums → stddev of replicate means."""
    from pandas_weights_spark.calibration import _POISSON1_CDF
    from pandas_weights_spark.sample import uniform_hash_sql

    u = uniform_hash_sql(
        ["l_orderkey", "l_linenumber", f"{seed} + r"], seed=seed
    )
    case = "CASE " + " ".join(
        f"WHEN {u} < {_POISSON1_CDF[k]!r} THEN {k}.0" for k in range(9)
    ) + " ELSE 8.0 END"
    return f"""
    SELECT 'boot' AS kind, v.k1, CAST(NULL AS VARCHAR) AS k2,
           ROUND(v.val, 6) AS val
    FROM (
      WITH bsrc AS (
        SELECT CASE WHEN l_extendedprice IS NOT NULL
                     AND l_quantity IS NOT NULL AND l_quantity > 0
                    THEN CAST(l_quantity AS DOUBLE) ELSE 0.0 END AS m,
               l_extendedprice AS x, l_orderkey, l_linenumber, g.r
        FROM lineitem, (SELECT unnest(range(-1, {B})) AS r) g
      ), bmul AS (
        SELECT m, x, r,
               CASE WHEN r < 0 THEN 1.0 ELSE {case} END AS mu
        FROM bsrc
      ), bper AS (
        SELECT r, SUM(m * mu) AS w, SUM(m * mu * x) AS s
        FROM bmul GROUP BY r
      ), bt AS (
        SELECT MAX(CASE WHEN r < 0 THEN s / w END) AS est,
               stddev_samp(CASE WHEN r >= 0 THEN s / w END) AS se
        FROM bper
      )
      SELECT est, se FROM bt
    ) t, LATERAL (VALUES ('estimate', t.est), ('se_boot', t.se)) AS v(k1, val)
"""


_TRIM_SQL = """
    SELECT 'trim' AS kind, k1, CAST(NULL AS VARCHAR) AS k2,
           ROUND(val, 6) AS val
    FROM (
      WITH wsrc AS (
        SELECT CAST(l_quantity AS DOUBLE) AS w FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_quantity > 0
      ), c AS (
        SELECT w,
               SUM(1.0) OVER (ORDER BY w RANGE BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS cw,
               CAST(COUNT(*) OVER () AS DOUBLE) AS tw
        FROM wsrc
      ), b AS (SELECT MIN(w) AS up FROM c WHERE cw >= 0.9 * tw),
      t AS (
        SELECT SUM(w) AS orig, SUM(LEAST(w, b.up)) AS trimsum
        FROM wsrc CROSS JOIN b
      ), o AS (
        SELECT LEAST(w, b.up) * (t.orig / t.trimsum) AS tw2
        FROM wsrc CROSS JOIN b CROSS JOIN t
      )
      SELECT 'mass' AS k1, SUM(tw2) AS val FROM o
      UNION ALL SELECT 'max', MAX(tw2) FROM o
      UNION ALL SELECT 'min', MIN(tw2) FROM o
      UNION ALL SELECT 'n', CAST(COUNT(*) AS DOUBLE) FROM o
    )
"""

_ORACLE["calibration"] = (
    _calibration_sql()
    + " UNION ALL "
    + _bootstrap_sql()
    + " UNION ALL "
    + _TRIM_SQL
)

_ORACLE["chunk_docs"] = """
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ), s AS (
      SELECT doc_id, w,
             unnest(range(1, greatest(1, len(w) - 4) + 1, 12)) AS st
      FROM d
    )
    SELECT doc_id,
           CAST((st - 1) // 12 AS BIGINT) AS chunk_id,
           CAST(least(16, len(w) - st + 1) AS BIGINT) AS n_tokens,
           md5(array_to_string(w[st:st+15], ' ')) AS fp
    FROM s
"""


def _ngram_list_sql(n: int, words: str = "w") -> str:
    """DuckDB list comprehension mirroring text.word_ngrams: space-joined
    word n-grams; a doc shorter than n words yields its whole text."""
    if n == 1:
        return words
    return (
        f"CASE WHEN len({words}) >= {n} THEN "
        f"[array_to_string({words}[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({words})-{n - 2})] "
        f"ELSE [array_to_string({words}, ' ')] END"
    )


_ORACLE["decontam"] = f"""
    WITH d AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ), bench AS (
      SELECT text FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT regexp_replace(text, '^\\S+\\s+', '') AS text
      FROM documents WHERE doc_id % 20 = 1
    ), bw AS (
      SELECT string_split_regex(trim(text), '\\s+') AS w FROM bench
    ), bsh AS (
      SELECT DISTINCT unnest({_ngram_list_sql(13)}) AS sh FROM bw
    ), dsh AS (
      SELECT doc_id, unnest(list_distinct({_ngram_list_sql(13)})) AS sh
      FROM d
    )
    SELECT dsh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(COALESCE(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0)
                AS BIGINT) AS n_hits,
           CAST(COALESCE(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS overlap_frac,
           (CAST(COALESCE(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) >= 0.5
             AS contaminated
    FROM dsh LEFT JOIN (SELECT sh FROM bsh) b ON dsh.sh = b.sh
    GROUP BY dsh.doc_id
"""

_ORACLE["dedup_exact"] = """
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, text FROM documents
    )
    SELECT 'survivor' AS kind, doc_id, CAST(NULL AS VARCHAR) AS fp
    FROM base
    WHERE doc_id IN (
      SELECT MIN(doc_id) FROM base GROUP BY md5(lower(trim(text)))
    )
"""

# occurrences(needle) as replace-arithmetic; marker tables mirror
# pandas_weights_spark.functions.text.LANG_MARKERS
_OCC = "((length({t}) - length(replace({t}, '{m}', ''))) / {n})"


def _occ_sum(t: str, markers: tuple[str, ...]) -> str:
    return " + ".join(
        _OCC.format(t=t, m=f" {m} ", n=len(m) + 2) for m in markers
    )


def _text_metrics_sql() -> str:
    from pandas_weights_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    scores = ",\n".join(
        f"({_occ_sum('p', LANG_MARKERS[lang])}) / nt AS s_{lang}" for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    lang_case = (
        "CASE "
        + " ".join(
            f"WHEN {best} > 0 AND s_{lang} = {best} THEN '{lang}'" for lang in langs
        )
        + " ELSE 'und' END"
    )
    stop = _occ_sum("p", ("the", "a", "and", "of", "to"))
    return f"""
    WITH t AS (
      SELECT doc_id, lower(text) AS lt,
             ' ' || lower(text) || ' ' AS p,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok,
             len(regexp_extract_all(text,
                '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                AS btok
      FROM documents
    ), s AS (
      SELECT doc_id, lt, p, ntok, btok, CAST(ntok AS DOUBLE) AS nt,
             length(lt) AS n_chars,
             length(lt) - length(replace(lt, ' ', '')) AS n_spaces
      FROM t
    ), sc AS (
      SELECT doc_id, ntok, btok, nt, {scores},
             CASE WHEN ntok = 0 THEN 0.0 ELSE
               round(0.5 * greatest(0.0, 1.0 - abs((n_chars - n_spaces) / nt - 6.5) / 6.5)
                     + 0.5 * least(1.0, ({stop}) * 10.0 / nt), 6)
             END AS quality,
             md5(array_to_string(list_sort(list_distinct(
                 string_split_regex(trim(lower(lt)), '\\s+'))), ' ')) AS fp
      FROM s
    )
    SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
           CAST(btok AS BIGINT) AS bpe_tokens, {lang_case} AS lang_pred,
           quality, fp
    FROM sc
    """


def _repetition_sql() -> str:
    """Per-doc repetition panel + Gopher keep flag, replaying the
    quality.py folds with unnest + group-by (the SQL-natural shape)."""
    stop = " + ".join(
        f"CASE WHEN position(' {s} ' IN p) > 0 THEN 1 ELSE 0 END"
        for s in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    return f"""
    WITH src AS (
      SELECT doc_id, text,
             string_split(text, chr(10)) AS lines,
             string_split_regex(trim(text), '\\s+') AS w,
             ' ' || lower(text) || ' ' AS p
      FROM documents
    ), lc AS (  -- per-(doc, line) occurrence counts
      SELECT doc_id, line, COUNT(*) AS cnt, length(line) AS ln
      FROM (SELECT doc_id, unnest(lines) AS line FROM src)
      GROUP BY doc_id, line
    ), lstats AS (
      SELECT doc_id,
             CAST(SUM(cnt) - COUNT(*) AS DOUBLE)
               / CAST(SUM(cnt) AS DOUBLE) AS dup_line_frac,
             CAST(SUM((cnt - 1) * ln) AS DOUBLE)
               / CAST(NULLIF(SUM(cnt * ln), 0) AS DOUBLE)
               AS dup_line_char_frac
      FROM lc GROUP BY doc_id
    ), g2 AS (
      SELECT doc_id, g, COUNT(*) AS cnt, length(g) AS ln
      FROM (SELECT doc_id, unnest({_ngram_list_sql(2)}) AS g FROM src)
      GROUP BY doc_id, g
    ), g3 AS (
      SELECT doc_id, g, COUNT(*) AS cnt, length(g) AS ln
      FROM (SELECT doc_id, unnest({_ngram_list_sql(3)}) AS g FROM src)
      GROUP BY doc_id, g
    ), g5 AS (
      SELECT doc_id, g, COUNT(*) AS cnt, length(g) AS ln
      FROM (SELECT doc_id, unnest({_ngram_list_sql(5)}) AS g FROM src)
      GROUP BY doc_id, g
    ), tops AS (
      SELECT s.doc_id,
             least(1.0, CAST((SELECT MAX(cnt * ln) FROM g2
                              WHERE g2.doc_id = s.doc_id) AS DOUBLE)
                   / CAST(NULLIF(length(s.text), 0) AS DOUBLE))
               AS top2_char_frac,
             least(1.0, CAST((SELECT MAX(cnt * ln) FROM g3
                              WHERE g3.doc_id = s.doc_id) AS DOUBLE)
                   / CAST(NULLIF(length(s.text), 0) AS DOUBLE))
               AS top3_char_frac,
             least(1.0, CAST((SELECT COALESCE(SUM(
                                CASE WHEN cnt > 1 THEN cnt * ln END), 0)
                              FROM g5 WHERE g5.doc_id = s.doc_id) AS DOUBLE)
                   / CAST(NULLIF(length(s.text), 0) AS DOUBLE))
               AS dup5_char_frac
      FROM src s
    ), fl AS (
      SELECT doc_id,
        (len(w) BETWEEN 50 AND 100000)
        AND (CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
                  AS DOUBLE) / len(w) BETWEEN 3.0 AND 10.0)
        AND (( (length(text) - length(replace(text, '#', '')))
             + (length(text) - length(replace(text, '...', ''))) / 3
             + (length(text) - length(replace(text, '…', ''))) )
             / CAST(len(w) AS DOUBLE) <= 0.1)
        AND (CAST(len(list_filter(lines, l ->
                ltrim(l) LIKE '- %' OR ltrim(l) LIKE '* %'
                OR ltrim(l) LIKE '• %')) AS DOUBLE)
             / len(lines) <= 0.9)
        AND (CAST(len(list_filter(lines, l ->
                rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS DOUBLE)
             / len(lines) <= 0.3)
        AND (CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                  AS DOUBLE) / len(w) >= 0.8)
        AND (({stop}) >= 2) AS keep
      FROM src
    )
    SELECT l.doc_id, l.dup_line_frac, l.dup_line_char_frac,
           t.top2_char_frac, t.top3_char_frac, t.dup5_char_frac, f.keep
    FROM lstats l JOIN tops t ON l.doc_id = t.doc_id
    JOIN fl f ON l.doc_id = f.doc_id
    """


def _pii_sql() -> str:
    """PII/URL columns on the synthetic-contact-augmented text; the
    redaction chain mirrors text.redact_pii (sorted kinds, 'g' flag —
    DuckDB regexp_replace is first-match-only without it)."""
    from pandas_weights_spark.functions.text import PII_PATTERNS, URL_PATTERN

    red = "aug"
    for kind in sorted(PII_PATTERNS):
        pat = PII_PATTERNS[kind].replace("'", "''")
        red = f"regexp_replace({red}, '{pat}', '[PII]', 'g')"
    email = PII_PATTERNS["email"].replace("'", "''")
    url = URL_PATTERN.replace("'", "''")
    # r11: Luhn-gated credit-card columns — the valid-match list and
    # the sorted-fold redaction replay emitted from the engine module
    from pandas_weights_spark.functions.text import (
        credit_card_numbers_sql,
    )

    ccs = credit_card_numbers_sql("aug2")
    cc_red = (
        f"list_reduce(list_prepend(aug2, "
        f"list_sort(list_distinct({ccs}))), "
        "(acc, m) -> replace(acc, m, '[CC]'))"
    )
    return f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '{email}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(aug, '{url}')) AS BIGINT)
             AS n_urls,
           md5({red}) AS red_fp,
           CAST(len({ccs}) AS BIGINT) AS n_cc,
           md5({cc_red}) AS cc_fp
    FROM (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com via https://s'
                  || CAST(doc_id % 7 AS VARCHAR)
                  || '.example.org/p x' AS aug,
             text || ' pay 4111 1111 1111 1111 bogus'
                  || ' 4111-1111-1111-1112'
                  || CASE WHEN doc_id % 2 = 0
                       THEN ' amex 378282246310005' ELSE '' END
                  || ' end' AS aug2
      FROM documents
    )
    """


_ORACLE["text_metrics"] = f"""
    WITH base AS ({_text_metrics_sql()}),
         rep AS ({_repetition_sql()}),
         pii AS ({_pii_sql()}),
         ddl AS (
           -- r5: remove_duplicate_lines replay (first occurrence
           -- survives, blanks exempt) over text with an injected
           -- duplicated line; list_filter's (x, i) index is 1-based
           -- like list_position, exactly the engine's positional test
           SELECT doc_id, md5(array_to_string(
             list_filter(ls, (x, i) -> list_position(ls, x) = i
                                        OR len(x) = 0), chr(10))) AS ddl_fp
           FROM (
             SELECT doc_id,
                    string_split(text || chr(10) || '<<dup>> line'
                                 || chr(10) || 'mid '
                                 || CAST(doc_id AS VARCHAR) || chr(10)
                                 || '<<dup>> line', chr(10)) AS ls
             FROM documents
           )
         )
    SELECT base.*, rep.dup_line_frac, rep.dup_line_char_frac,
           rep.top2_char_frac, rep.top3_char_frac, rep.dup5_char_frac,
           rep.keep, pii.n_email, pii.n_urls, pii.red_fp, pii.n_cc,
           pii.cc_fp, ddl.ddl_fp
    FROM base JOIN rep ON base.doc_id = rep.doc_id
    JOIN pii ON base.doc_id = pii.doc_id
    JOIN ddl ON base.doc_id = ddl.doc_id
"""

_ORACLE["doc_weighted_stats"] = """
    WITH t AS (
      SELECT lang, CAST(n_chars AS DOUBLE) AS w,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END
                  AS DOUBLE) AS x
      FROM documents
    ), m AS (
      SELECT lang,
             COALESCE(SUM(CASE WHEN x IS NOT NULL THEN w END), 0.0) AS c,
             CASE WHEN COUNT(x * w) >= 1
                  THEN COALESCE(SUM(x * w), 0.0) END AS s,
             CASE WHEN COUNT(x * w) >= 1
                  THEN COALESCE(SUM(x * x * w), 0.0) END AS ss
      FROM t GROUP BY lang
    )
    SELECT 'lang' AS kind, lang AS key, c AS a, s / c AS b,
           (ss - s*s/c) / (c - 1) AS c
    FROM m
    UNION ALL
    SELECT 'domain' AS kind, 's' || CAST(doc_id % 7 AS VARCHAR)
             || '.example.org' AS key,
           CAST(COUNT(*) AS DOUBLE) AS a,
           CAST(COUNT(*) AS DOUBLE) AS b,
           SUM(CAST(n_chars AS DOUBLE)) AS c
    FROM documents
    GROUP BY doc_id % 7
    UNION ALL
    SELECT 'div' AS kind, 'parity' AS key,
           round(kl_ab, 6) AS a, round(kl_ba, 6) AS b, round(js, 6) AS c
    FROM (
      WITH dt AS (
        SELECT doc_id % 2 AS half,
               unnest(string_split_regex(trim(lower(text)), '\\s+'))
                 AS term
        FROM documents
      ), dm AS (
        SELECT half, term, CAST(COUNT(*) AS DOUBLE) AS mass FROM dt
        WHERE term <> '' GROUP BY half, term
      ), uj AS (
        SELECT COALESCE(a.term, b.term) AS term,
               COALESCE(a.mass, 0.0) AS ma, COALESCE(b.mass, 0.0) AS mb
        FROM (SELECT term, mass FROM dm WHERE half = 0) a
        FULL OUTER JOIN (SELECT term, mass FROM dm WHERE half = 1) b
          ON a.term = b.term
      ), tot AS (
        SELECT SUM(ma) AS wa, SUM(mb) AS wb, COUNT(*) AS u FROM uj
      ), pq AS (
        SELECT (ma + 0.5) / (tot.wa + 0.5 * tot.u) AS p,
               (mb + 0.5) / (tot.wb + 0.5 * tot.u) AS q
        FROM uj CROSS JOIN tot
      )
      SELECT SUM(p * (ln(p) - ln(q))) AS kl_ab,
             SUM(q * (ln(q) - ln(p))) AS kl_ba,
             SUM(p * (ln(p) - ln((p + q) / 2.0)) / 2.0
                 + q * (ln(q) - ln((p + q) / 2.0)) / 2.0) AS js
      FROM pq
    )
    UNION ALL
    SELECT 'dct' AS kind, lang AS key,
           CAST(COUNT(DISTINCT source) AS DOUBLE) AS a,
           CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS b,
           CAST(COUNT(DISTINCT n_chars) AS DOUBLE) AS c
    FROM documents GROUP BY lang
"""


def _minhash_sql() -> str:
    sig = ", ".join(
        f"list_min(list_transform(s, x -> md5('{i} ' || x)))" for i in range(16)
    )
    bands = ", ".join(
        f"md5(array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '|')) AS b{b}"
        for b in range(4)
    )
    band_or = " OR ".join(f"a.b{b} = b.b{b}" for b in range(4))
    return f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
      FROM documents WHERE doc_id < 200
    ), tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM base
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
                  ELSE [array_to_string(w, ' ')] END AS s
      FROM tok
    ), sig AS (
      SELECT doc_id, list_distinct(s) AS sd, [{sig}] AS sig FROM sh
    ), band AS (
      SELECT doc_id, sd, {bands} FROM sig
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sd AS sa, b.sd AS sb
      FROM band a JOIN band b
        ON a.doc_id < b.doc_id AND ({band_or})
    )
    SELECT id_a, id_b,
           round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE), 6)
             AS jaccard
    FROM pairs
    WHERE round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE), 6)
          >= 0.4
    """


_NGRAM_SQL = """
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 150
      UNION ALL
      SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
      FROM documents WHERE doc_id < 150
    ), tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM base
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
                  ELSE [array_to_string(w, ' ')] END AS s
      FROM tok
    ), s2 AS (
      SELECT doc_id, list_distinct(s) AS sd FROM sh
    )
    SELECT id_a, id_b, jac AS jaccard
    FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
                   / CAST(len(a.sd) + len(b.sd)
                          - len(list_intersect(a.sd, b.sd)) AS DOUBLE), 6)
               AS jac
      FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
    )
    WHERE jac >= 0.5
"""



def _simhash_sql(bits: int = 32) -> str:
    # digit-for-digit mirror of dedup.simhash: bit b of a token = bit
    # (b % 4) of hex digit (b // 4) of md5(token); per-doc sum of ±1
    # contributions over DISTINCT tokens; majority sign -> '1'/'0'.
    sums = ",\n           ".join(
        "SUM(CASE WHEN (((instr('0123456789abcdef',"
        f" substring(h, {b // 4 + 1}, 1)) - 1) >> {b % 4}) & 1) = 1"
        f" THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    chars = ", ".join(
        f"CASE WHEN b{b} > 0 THEN '1' ELSE '0' END" for b in range(bits)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 100
    ), tok AS (
      SELECT doc_id,
             unnest(list_distinct(
                 string_split_regex(trim(lower(text)), '\\s+'))) AS t
      FROM base
    ), h AS (
      SELECT doc_id, md5(t) AS h FROM tok
    ), bs AS (
      SELECT doc_id,
           {sums}
      FROM h GROUP BY doc_id
    )
    SELECT base.doc_id, concat({chars}) AS simhash
    FROM base LEFT JOIN bs USING (doc_id)
    """


def _span_removal_sql(
    chunk_tokens: int = 64,
    overlap: int = 16,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> str:
    # r6: full replay of dedup.remove_duplicate_spans over the same
    # padded-copy fixture as _chunk_neardup_sql (ids +20000): the
    # verified chunk pairs feed a numeric-min-(doc, chunk) loser set;
    # each doc rebuilds as the ordered join of its SURVIVING chunks'
    # OWNED token spans (chunk i owns [i*step+1, (i+1)*step]; last
    # chunk through the end) — string_agg skips the NULLed dropped
    # chunks exactly like the engine's collect_list(when(keep, ...)).
    step = chunk_tokens - overlap
    r = num_hashes // bands
    sig = ", ".join(
        f"list_min(list_transform(s, x -> md5('{i} ' || x)))"
        for i in range(num_hashes)
    )
    bexprs = ", ".join(
        f"md5(array_to_string(sig[{b * r + 1}:{b * r + r}], '|')) AS b{b}"
        for b in range(bands)
    )
    band_or = " OR ".join(f"a.b{b} = b.b{b}" for b in range(bands))
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 60
      UNION ALL
      SELECT doc_id + 20000,
             repeat('pad' || CAST(doc_id AS VARCHAR) || ' ', 50)
               || array_to_string(
                    (string_split_regex(trim(text), '\\s+'))[1:120], ' ')
      FROM documents WHERE doc_id < 60
    ), tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM src
    ), st AS (
      SELECT doc_id, w,
             unnest(generate_series(
                 1, greatest(1, len(w) - {overlap}), {step})) AS s
      FROM tok
    ), ch AS (
      SELECT CAST(doc_id AS VARCHAR) || '#'
               || CAST((s - 1) // {step} AS VARCHAR) AS ck,
             doc_id, (s - 1) // {step} AS cid,
             array_to_string(w[s:s + {chunk_tokens - 1}], ' ') AS ct
      FROM st
    ), ctok AS (
      SELECT ck, doc_id, cid,
             string_split_regex(trim(ct), '\\s+') AS cw
      FROM ch
    ), sh AS (
      SELECT ck, doc_id, cid,
             CASE WHEN len(cw) >= 3
                  THEN [array_to_string(cw[i:i+2], ' ')
                        for i in range(1, len(cw)-1)]
                  ELSE [array_to_string(cw, ' ')] END AS s
      FROM ctok
    ), sig AS (
      SELECT ck, doc_id, cid, list_distinct(s) AS sd, [{sig}] AS sig
      FROM sh
    ), band AS (
      SELECT ck, doc_id, cid, sd, {bexprs} FROM sig
    ), vp AS (
      SELECT a.doc_id AS da, a.cid AS ca, b.doc_id AS db, b.cid AS cb
      FROM band a JOIN band b
        ON a.ck < b.ck AND a.doc_id <> b.doc_id AND ({band_or})
      WHERE round(CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(a.sd, b.sd)))
                         AS DOUBLE), 6) >= {threshold}
    ), losers AS (
      SELECT DISTINCT
        CASE WHEN da < db OR (da = db AND ca < cb) THEN db ELSE da END
          AS doc,
        CASE WHEN da < db OR (da = db AND ca < cb) THEN cb ELSE ca END
          AS cid
      FROM vp
    ), ostart AS (
      SELECT doc_id, w, len(w) AS n,
             unnest(generate_series(
                 1, greatest(1, len(w) - {overlap}), {step})) AS s
      FROM tok
    ), ospan AS (
      SELECT doc_id, (s - 1) // {step} AS cid,
             CASE WHEN s + {step} > greatest(1, n - {overlap})
                  THEN array_to_string(w[s:n], ' ')
                  ELSE array_to_string(w[s:s + {step - 1}], ' ')
             END AS owned
      FROM ostart
    ), flagged AS (
      SELECT o.doc_id, o.cid, o.owned,
             (l.doc IS NOT NULL) AS dropped
      FROM ospan o LEFT JOIN losers l
        ON l.doc = o.doc_id AND l.cid = o.cid
    )
    SELECT doc_id,
           md5(COALESCE(string_agg(
                 CASE WHEN NOT dropped THEN owned END, ' '
                 ORDER BY cid), ''))
             || ':' || CAST(COUNT(*) AS VARCHAR)
             || ':' || CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END)
                            AS VARCHAR) AS fp
    FROM flagged GROUP BY doc_id
    """


def _xspan_sql(L: int = 20) -> str:
    """Full replay of remove_duplicate_ngram_spans over the shifted-
    prefix fixture: window fingerprints (md5 of the space-joined
    L-token slice), global first occurrence (numeric doc order, then
    position — doc_id is numeric here, so ORDER BY doc_id, p), token
    coverage by non-first windows, whitespace-normalized rebuild."""
    return f"""
    WITH xsrc AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 60
      UNION ALL
      SELECT doc_id + 30000,
             array_to_string(
               [('xp' || CAST(doc_id AS VARCHAR) || 'n'
                 || CAST(i AS VARCHAR)) for i in range(0, 17)], ' ')
             || ' ' || array_to_string(
                  (string_split_regex(trim(text), '\\s+'))[1:40], ' ')
      FROM documents WHERE doc_id < 60
    ), xwn AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR trim(text) = ''
                  THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS w
      FROM xsrc
    ), xn AS (
      SELECT doc_id, w, len(w) AS n FROM xwn
    ), xwin AS (
      SELECT doc_id, w,
             unnest(generate_series(1, n - {L - 1})) AS p
      FROM xn WHERE n >= {L}
    ), xgr AS (
      SELECT doc_id, p,
             md5(array_to_string(w[p:p + {L - 1}], ' ')) AS g
      FROM xwin
    ), xrk AS (
      SELECT doc_id, p,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, p)
               AS rn,
             COUNT(*) OVER (PARTITION BY g) AS cnt
      FROM xgr
    ), xdup AS (
      SELECT doc_id, p FROM xrk WHERE cnt > 1 AND rn > 1
    ), xtok AS (
      SELECT doc_id, unnest(generate_series(1, n)) AS i, w
      FROM xn WHERE n >= 1
    ), xkeep AS (
      SELECT t.doc_id, t.i, t.w[t.i] AS tk,
             NOT EXISTS (
               SELECT 1 FROM xdup d
               WHERE d.doc_id = t.doc_id
                 AND t.i >= d.p AND t.i < d.p + {L}
             ) AS k
      FROM xtok t
    ), xagg AS (
      SELECT doc_id,
             COALESCE(string_agg(CASE WHEN k THEN tk END, ' '
                                 ORDER BY i), '') AS txt,
             SUM(CASE WHEN k THEN 0 ELSE 1 END) AS nrem
      FROM xkeep GROUP BY doc_id
    )
    SELECT x.doc_id,
           md5(COALESCE(a.txt, ''))
           || ':' || CAST(x.n AS VARCHAR)
           || ':' || CAST(COALESCE(a.nrem, 0) AS VARCHAR) AS fp
    FROM xn x LEFT JOIN xagg a USING (doc_id)
    """


def _cline_sql(mode: str, scoped: bool = False) -> str:
    """Replay of remove_corpus_duplicate_lines over the nav/footer/
    promo fixture: line explode with positions, per-line distinct-doc
    and occurrence counts (per SCOPE when ``scoped`` — doc_id%2, the
    per-host grouping), first occurrence via row_number (numeric doc
    order, then position), blanks exempt, ordered rebuild."""
    dropped = (
        "a.nocc > 1 AND r.rn > 1"
        if mode == "first"
        else "a.nd >= 3"
    )
    key = "sc, line" if scoped else "line"
    return f"""
    WITH cls AS (
      SELECT doc_id,
             'NAV | BAR' || chr(10) || text || chr(10) || 'footer '
               || CAST(doc_id % 3 AS VARCHAR)
               || CASE WHEN doc_id IN (1, 2, 3)
                       THEN chr(10) || 'PROMO BANNER' ELSE '' END
               AS text
      FROM documents WHERE doc_id < 40
    ), clw AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
                  ELSE string_split(text, chr(10)) END AS ls
      FROM cls
    ), cln AS (
      SELECT doc_id, ls, len(ls) AS n FROM clw
    ), cll AS (
      SELECT doc_id, CAST(doc_id % 2 AS VARCHAR) AS sc, p, ls[p]
               AS line
      FROM (
        SELECT doc_id, ls, unnest(generate_series(1, n)) AS p
        FROM cln WHERE n >= 1
      )
    ), clnb AS (
      SELECT * FROM cll WHERE length(line) > 0
    ), clag AS (
      SELECT {key}, COUNT(DISTINCT doc_id) AS nd, COUNT(*) AS nocc
      FROM clnb GROUP BY {key}
    ), clr AS (
      SELECT doc_id, sc, p, line,
             row_number() OVER (PARTITION BY {key}
                                ORDER BY doc_id, p) AS rn
      FROM clnb
    ), clk AS (
      SELECT doc_id, p, line, FALSE AS dropped
      FROM cll WHERE length(line) = 0
      UNION ALL
      SELECT r.doc_id, r.p, r.line, ({dropped}) AS dropped
      FROM clr r JOIN clag a USING ({key})
    ), clagg AS (
      SELECT doc_id,
             COALESCE(string_agg(CASE WHEN NOT dropped THEN line END,
                                 chr(10) ORDER BY p), '') AS txt,
             SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS nrem
      FROM clk GROUP BY doc_id
    )
    SELECT c.doc_id,
           md5(COALESCE(a.txt, ''))
           || ':' || CAST(c.n AS VARCHAR)
           || ':' || CAST(COALESCE(a.nrem, 0) AS VARCHAR) AS fp
    FROM cln c LEFT JOIN clagg a USING (doc_id)
    """


def _usurv_sql() -> str:
    """Replay of exact_dedup(normalize='ccnet_nfkc') over the
    fullwidth-copy fixture: NFKC has no SQL analog, but on the
    fixture's alphabet (printable ASCII ↔ U+FF01–FF5E + ideographic
    space) it IS the inverse character translate — applied before the
    same ccnet chain as _nsurv_sql. The translate pair is imported
    from the fixture constant so fixture and replay cannot drift."""
    from pandas_weights_spark.functions.text import (
        _ACCENT_DST,
        _ACCENT_SRC,
    )

    wide = _FW_WIDE.replace("'", "''")
    ascii_ = _FW_ASCII.replace("'", "''")
    norm = (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"translate(lower(translate(text, '{wide}', '{ascii_}')), "
        f"'{_ACCENT_SRC}', '{_ACCENT_DST}'), "
        "'[0-9]', '0', 'g'), "
        r"'[^\p{L}\p{N}\s]', '', 'g'), "
        r"'\s+', ' ', 'g'))"
    )
    return f"""
    WITH ub AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 60
      UNION ALL
      SELECT doc_id + 50000,
             translate(text, '{ascii_}', '{wide}')
      FROM documents WHERE doc_id < 60
    ), uk AS (
      SELECT doc_id, md5({norm}) AS ck FROM ub
    )
    SELECT MIN(doc_id) AS doc_id FROM uk GROUP BY ck
    """


def _nsurv_sql() -> str:
    """Replay of exact_dedup(normalize='ccnet') over the noised-copy
    fixture — the same lowercase → accent translate → digits→0 →
    punct strip → whitespace collapse → trim chain, regex for regex
    (the accent map is imported from the engine so it cannot drift)."""
    from pandas_weights_spark.functions.text import (
        _ACCENT_DST,
        _ACCENT_SRC,
    )

    norm = (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"translate(lower(text), '{_ACCENT_SRC}', '{_ACCENT_DST}'), "
        "'[0-9]', '0', 'g'), "
        r"'[^\p{L}\p{N}\s]', '', 'g'), "
        r"'\s+', ' ', 'g'))"
    )
    return f"""
    WITH nb AS (
      SELECT doc_id, 'the ' || text AS text
      FROM documents WHERE doc_id < 60
      UNION ALL
      SELECT doc_id + 40000,
             'Thé: ' || upper(text) || ' ... !!!'
      FROM documents WHERE doc_id < 60
    ), nk AS (
      SELECT doc_id, md5({norm}) AS ck FROM nb
    )
    SELECT MIN(doc_id) AS doc_id FROM nk GROUP BY ck
    """


# r4: simhash rows fold into the dedup_exact driver query (same docs
# source; slot freed for calibration)
_ORACLE["dedup_exact"] = (
    _ORACLE["dedup_exact"]
    + """
    UNION ALL
    SELECT 'simhash' AS kind, doc_id, simhash AS fp FROM ("""
    + _simhash_sql()
    + """)
    UNION ALL
    SELECT 'novel' AS kind, doc_id,
           CAST(ns AS VARCHAR) || ':' || CAST(nn AS VARCHAR) AS fp
    FROM (
      WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id < 80
      ), sh AS (
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(w) >= 8
               THEN [array_to_string(w[i:i+7], ' ')
                     for i in range(1, len(w)-6)]
               ELSE [array_to_string(w, ' ')] END)) AS s
        FROM tok
      ), dfq AS (
        SELECT s, COUNT(*) AS dfc FROM sh GROUP BY s
      )
      SELECT sh.doc_id, COUNT(*) AS ns,
             SUM(CASE WHEN dfq.dfc = 1 THEN 1 ELSE 0 END) AS nn
      FROM sh JOIN dfq USING (s) GROUP BY sh.doc_id
    )
    UNION ALL
    SELECT 'span' AS kind, doc_id, fp FROM ("""
    + _span_removal_sql()
    + """)
    UNION ALL
    SELECT 'xspan' AS kind, doc_id, fp FROM ("""
    + _xspan_sql()
    + """)
    UNION ALL
    SELECT 'clinef' AS kind, doc_id, fp FROM ("""
    + _cline_sql("first")
    + """)
    UNION ALL
    SELECT 'clineb' AS kind, doc_id, fp FROM ("""
    + _cline_sql("boilerplate")
    + """)
    UNION ALL
    -- r11: SCOPED boilerplate (per-host grouping: scope=doc_id%2;
    -- the 3-doc PROMO line survives scoped, drops unscoped)
    SELECT 'clines' AS kind, doc_id, fp FROM ("""
    + _cline_sql("boilerplate", scoped=True)
    + """)
    UNION ALL
    -- r7: quality-survivor policy (max score, ties -> min id)
    SELECT 'qsurv' AS kind, doc_id, CAST(NULL AS VARCHAR) AS fp
    FROM (
      WITH qb AS (
        SELECT doc_id, md5(lower(trim(text))) AS ck,
               CAST(doc_id % 7 AS DOUBLE) AS s
        FROM (SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000, text FROM documents)
      ), qm AS (SELECT ck, MAX(s) AS smax FROM qb GROUP BY ck)
      SELECT MIN(doc_id) AS doc_id
      FROM qb JOIN qm USING (ck)
      WHERE s = smax OR (s IS NULL AND smax IS NULL)
      GROUP BY ck
    )
    UNION ALL
    -- r7: CCNet-normalized dedup keys (noised copies fold back)
    SELECT 'nsurv' AS kind, doc_id, CAST(NULL AS VARCHAR) AS fp
    FROM ("""
    + _nsurv_sql()
    + """)
    UNION ALL
    -- r11: NFKC dedup keys (fullwidth copies fold back)
    SELECT 'usurv' AS kind, doc_id, CAST(NULL AS VARCHAR) AS fp
    FROM ("""
    + _usurv_sql()
    + """)"""
)


def _embedding_neardup_sql(dim: int = 64, planes: int = 4, seed: int = 42,
                           threshold: float = 0.3) -> str:
    # reproduce dedup.embedding_near_duplicates exactly: same hyperplane
    # literals (driver-side deterministic PRNG), same sign-bit bucket
    # string, same round-then-threshold on the cosine.
    from pandas_weights_spark.functions.similarity import _hyperplanes

    hps = _hyperplanes(dim, planes, seed)
    bits = ",\n             ".join(
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(x) for x in hp)}]) >= 0 THEN '1' ELSE '0' END"
        for hp in hps
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             concat({bits}) AS bucket
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b2.embedding AS DOUBLE[])), 6)
               AS cosine
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {threshold}
"""


def _chunk_neardup_sql(
    chunk_tokens: int = 64,
    overlap: int = 16,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> str:
    # exact mirror of dedup.chunk_near_duplicates over the _q_chunk_
    # neardup fixture: chunk starts every (chunk_tokens-overlap) tokens
    # while start <= n-overlap; composite key doc||'#'||chunk ordered
    # as STRING (the operator's pair order); same-doc pairs dropped in
    # the join; 16-seed md5 minhash + 4-band LSH + exact jaccard.
    step = chunk_tokens - overlap
    r = num_hashes // bands
    sig = ", ".join(
        f"list_min(list_transform(s, x -> md5('{i} ' || x)))"
        for i in range(num_hashes)
    )
    bexprs = ", ".join(
        f"md5(array_to_string(sig[{b * r + 1}:{b * r + r}], '|')) AS b{b}"
        for b in range(bands)
    )
    band_or = " OR ".join(f"a.b{b} = b.b{b}" for b in range(bands))
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 60
      UNION ALL
      SELECT doc_id + 20000,
             repeat('pad' || CAST(doc_id AS VARCHAR) || ' ', 50)
               || array_to_string(
                    (string_split_regex(trim(text), '\\s+'))[1:120], ' ')
      FROM documents WHERE doc_id < 60
    ), tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM src
    ), st AS (
      SELECT doc_id, w,
             unnest(generate_series(
                 1, greatest(1, len(w) - {overlap}), {step})) AS s
      FROM tok
    ), ch AS (
      SELECT CAST(doc_id AS VARCHAR) || '#'
               || CAST((s - 1) // {step} AS VARCHAR) AS ck,
             doc_id, (s - 1) // {step} AS cid,
             array_to_string(w[s:s + {chunk_tokens - 1}], ' ') AS ct
      FROM st
    ), ctok AS (
      SELECT ck, doc_id, cid,
             string_split_regex(trim(ct), '\\s+') AS cw
      FROM ch
    ), sh AS (
      SELECT ck, doc_id, cid,
             CASE WHEN len(cw) >= 3
                  THEN [array_to_string(cw[i:i+2], ' ')
                        for i in range(1, len(cw)-1)]
                  ELSE [array_to_string(cw, ' ')] END AS s
      FROM ctok
    ), sig AS (
      SELECT ck, doc_id, cid, list_distinct(s) AS sd, [{sig}] AS sig
      FROM sh
    ), band AS (
      SELECT ck, doc_id, cid, sd, {bexprs} FROM sig
    ), pairs AS (
      SELECT a.doc_id AS da, a.cid AS ca, b.doc_id AS db, b.cid AS cb,
             a.sd AS sa, b.sd AS sb
      FROM band a JOIN band b
        ON a.ck < b.ck AND a.doc_id <> b.doc_id AND ({band_or})
    )
    SELECT da * 100000 + ca AS id_a, db * 100000 + cb AS id_b,
           round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE),
                 6) AS jaccard
    FROM pairs
    WHERE round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE),
                6) >= {threshold}
    """



def _embedding_join_sql(dim: int = 64, planes: int = 4, seed: int = 42,
                        threshold: float = 0.8) -> str:
    # mirror of dedup.embedding_join over _q_neardup_pairs' xembed
    # fixture: same hyperplane literals on both sides, probes = first
    # coordinate +0.1, ids +40000
    from pandas_weights_spark.functions.similarity import _hyperplanes

    hps = _hyperplanes(dim, planes, seed)

    def bits(vec: str) -> str:
        return ",\n             ".join(
            f"CASE WHEN list_dot_product({vec}, "
            f"[{', '.join(repr(x) for x in hp)}]) >= 0 "
            "THEN '1' ELSE '0' END"
            for hp in hps
        )

    return f"""
    WITH ce AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cb AS (
      SELECT vec_id, v, concat({bits("v")}) AS bucket FROM ce
    ), pe AS (
      SELECT vec_id + 40000 AS probe_id,
             list_concat([CAST(embedding[1] AS DOUBLE) + 0.1],
                         (CAST(embedding AS DOUBLE[]))[2:64]) AS v
      FROM embeddings WHERE vec_id < 30
    ), pb AS (
      SELECT probe_id, v, concat({bits("v")}) AS bucket FROM pe
    )
    SELECT cb.vec_id AS id_a, pb.probe_id AS id_b,
           round(list_cosine_similarity(cb.v, pb.v), 6) AS cosine
    FROM cb JOIN pb ON cb.bucket = pb.bucket
    WHERE round(list_cosine_similarity(cb.v, pb.v), 6) >= {threshold}
    """


def _minhash_join_sql(threshold: float = 0.4) -> str:
    # mirror of dedup.minhash_join over _q_neardup_pairs' xjoin fixture:
    # corpus docs<100 vs probes (docs<40 first-word-dropped, id+30000)
    sig = ", ".join(
        f"list_min(list_transform(s, x -> md5('{i} ' || x)))"
        for i in range(16)
    )
    bands = ", ".join(
        f"md5(array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '|')) AS b{b}"
        for b in range(4)
    )
    band_or = " OR ".join(f"c.b{b} = p.b{b}" for b in range(4))

    def side(src: str) -> str:
        return f"""(
      WITH tok AS (
        SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM {src}
      ), sh AS (
        SELECT id,
               CASE WHEN len(w) >= 3
                    THEN [array_to_string(w[i:i+2], ' ')
                          for i in range(1, len(w)-1)]
                    ELSE [array_to_string(w, ' ')] END AS s
        FROM tok
      ), sg AS (
        SELECT id, list_distinct(s) AS sd, [{sig}] AS sig FROM sh
      )
      SELECT id, sd, {bands} FROM sg
    )"""

    corpus = (
        "(SELECT doc_id AS id, text FROM documents WHERE doc_id < 100)"
    )
    probes = (
        "(SELECT doc_id + 30000 AS id, "
        "regexp_replace(text, '^\\S+\\s+', '') AS text "
        "FROM documents WHERE doc_id < 40)"
    )
    return f"""
    SELECT id_a, id_b,
           round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE),
                 6) AS jaccard
    FROM (
      SELECT DISTINCT c.id AS id_a, p.id AS id_b, c.sd AS sa, p.sd AS sb
      FROM {side(corpus)} c JOIN {side(probes)} p ON ({band_or})
    )
    WHERE round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE),
                6) >= {threshold}
    """


# tagged union of the five pair oracles (see _q_neardup_pairs)
_ORACLE["neardup_incremental"] = _neardup_incremental_sql()

_ORACLE["punkt_abbrevs"] = _punkt_abbrevs_sql()
_ORACLE["punkt_context"] = _punkt_context_sql()
_ORACLE["semdedup_incremental"] = _semdedup_incremental_sql()
_ORACLE["sitemap_parse"] = _sitemap_parse_sql()
_ORACLE["class_tfidf"] = """
    WITH tok AS (
      SELECT source AS c,
             unnest(string_split_regex(trim(lower(text)), '\\s+'))
               AS term
      FROM documents
    ), tok2 AS (
      SELECT c, term FROM tok WHERE term != ''
    ), tf AS (
      SELECT c, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok2 GROUP BY 1, 2
    ), ft AS (
      SELECT term, CAST(sum(tf) AS DOUBLE) AS ft
      FROM tf GROUP BY 1
    ), a AS (
      SELECT CAST(sum(tf) AS DOUBLE)
             / CAST(count(DISTINCT c) AS DOUBLE) AS A
      FROM tf
    ), scored AS (
      SELECT c, tf.term, tf.tf,
             round(CAST(tf.tf AS DOUBLE) * ln(1.0 + A / ft.ft), 6)
               AS score
      FROM tf JOIN ft ON ft.term = tf.term CROSS JOIN a
    ), ranked AS (
      SELECT c, term, tf, score,
             row_number() OVER (
               PARTITION BY c ORDER BY score DESC, term
             ) AS rank
      FROM scored
    )
    SELECT c AS source, term, tf, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 15
"""

_ORACLE["phrase_hits"] = _phrase_hits_sql()

_ORACLE["zipf_stats"] = _ORACLE_ZIPF

_ORACLE["neardup_pairs"] = f"""
    SELECT 'minhash' AS method, id_a, id_b, jaccard AS sim
    FROM ({_minhash_sql()})
    UNION ALL
    SELECT 'ngram' AS method, id_a, id_b, jaccard AS sim
    FROM ({_NGRAM_SQL})
    UNION ALL
    SELECT 'embed' AS method, id_a, id_b, cosine AS sim
    FROM ({_embedding_neardup_sql()})
    UNION ALL
    SELECT 'chunk' AS method, id_a, id_b, jaccard AS sim
    FROM ({_chunk_neardup_sql()})
    UNION ALL
    SELECT 'xjoin' AS method, id_a, id_b, jaccard AS sim
    FROM ({_minhash_join_sql()})
    UNION ALL
    SELECT 'xembed' AS method, id_a, id_b, cosine AS sim
    FROM ({_embedding_join_sql()})
"""

_ORACLE["weighted_tests"] = """
    WITH s AS (
      SELECT
        COALESCE(SUM(CASE WHEN l_returnflag = 'A'
                           AND l_extendedprice IS NOT NULL
                          THEN l_quantity END), 0.0) AS na,
        SUM(CASE WHEN l_returnflag = 'A'
                 THEN l_extendedprice * l_quantity END) AS sa,
        SUM(CASE WHEN l_returnflag = 'A'
                 THEN l_extendedprice * l_extendedprice * l_quantity
            END) AS ssa,
        COALESCE(SUM(CASE WHEN l_returnflag = 'R'
                           AND l_extendedprice IS NOT NULL
                          THEN l_quantity END), 0.0) AS nb,
        SUM(CASE WHEN l_returnflag = 'R'
                 THEN l_extendedprice * l_quantity END) AS sb,
        SUM(CASE WHEN l_returnflag = 'R'
                 THEN l_extendedprice * l_extendedprice * l_quantity
            END) AS ssb
      FROM lineitem
    ), m AS (
      SELECT na, sa / na AS ma, (ssa - sa*sa/na) / (na - 1) AS va,
             nb, sb / nb AS mb, (ssb - sb*sb/nb) / (nb - 1) AS vb
      FROM s
    ), w AS (
      SELECT na, ma, va, nb, mb, vb,
             va / na AS se2a, vb / nb AS se2b,
             va / na + vb / nb AS se2
      FROM m
    ), cells AS (
      SELECT l_returnflag AS r, l_linestatus AS c,
             SUM(l_quantity) AS m FROM lineitem GROUP BY 1, 2
    ), rt AS (SELECT r, SUM(m) AS rtm FROM cells GROUP BY r),
    ct AS (SELECT c, SUM(m) AS ctm FROM cells GROUP BY c),
    gt AS (SELECT SUM(m) AS g FROM cells),
    grid AS (
      SELECT rt.r, ct.c, rt.rtm, ct.ctm, gt.g,
             COALESCE(cells.m, 0.0) AS o
      FROM rt CROSS JOIN ct CROSS JOIN gt
      LEFT JOIN cells ON rt.r = cells.r AND ct.c = cells.c
    ), x2 AS (
      SELECT SUM((o - rtm*ctm/g) * (o - rtm*ctm/g) / (rtm*ctm/g))
               AS chi2,
             MIN(g) AS n,
             COUNT(DISTINCT r) AS nr, COUNT(DISTINCT c) AS nc
      FROM grid
    )
    SELECT 'ttest' AS test, metric, ROUND(value, 6) AS value FROM (
      SELECT 'n_a' AS metric, na AS value FROM w
      UNION ALL SELECT 'mean_a', ma FROM w
      UNION ALL SELECT 'var_a', va FROM w
      UNION ALL SELECT 'n_b', nb FROM w
      UNION ALL SELECT 'mean_b', mb FROM w
      UNION ALL SELECT 'var_b', vb FROM w
      UNION ALL SELECT 't_stat', (ma - mb) / sqrt(se2) FROM w
      UNION ALL SELECT 'df',
        se2*se2 / (se2a*se2a/(na - 1.0) + se2b*se2b/(nb - 1.0)) FROM w
    )
    UNION ALL
    SELECT 'chi2' AS test, metric, ROUND(value, 6) AS value FROM (
      SELECT 'chi2' AS metric, chi2 AS value FROM x2
      UNION ALL SELECT 'dof', CAST((nr-1)*(nc-1) AS DOUBLE) FROM x2
      UNION ALL SELECT 'n', n FROM x2
      UNION ALL SELECT 'cramers_v',
        sqrt(chi2 / (n * LEAST(nr-1, nc-1))) FROM x2
    )
    UNION ALL
    SELECT 'anova' AS test, metric, ROUND(value, 6) AS value FROM (
      WITH per AS (
        SELECT l_returnflag,
               COALESCE(SUM(CASE WHEN l_extendedprice IS NOT NULL
                                  AND l_quantity > 0
                                 THEN l_quantity END), 0.0) AS wg,
               SUM(CASE WHEN l_quantity > 0
                        THEN l_extendedprice * l_quantity END) AS sg,
               SUM(CASE WHEN l_quantity > 0
                        THEN l_extendedprice * l_extendedprice
                             * l_quantity END) AS ssg
        FROM lineitem GROUP BY 1
      ), an AS (
        SELECT SUM(wg) AS W, SUM(sg) AS S, SUM(ssg) AS SS,
               SUM(ssg - sg*sg/wg) AS ssw, COUNT(*) AS k
        FROM per WHERE wg > 0
      )
      SELECT 'f_stat' AS metric,
             (((SS - S*S/W) - ssw) / (k - 1.0))
               / (ssw / (W - k)) AS value FROM an
      UNION ALL SELECT 'df_between', CAST(k - 1 AS DOUBLE) FROM an
      UNION ALL SELECT 'df_within', W - k FROM an
      UNION ALL SELECT 'n', W FROM an
      UNION ALL SELECT 'k', CAST(k AS DOUBLE) FROM an
    )
    UNION ALL
    SELECT 'entropy' AS test, metric, ROUND(value, 6) AS value FROM (
      WITH em AS (
        SELECT l_returnflag,
               SUM(CASE WHEN l_quantity > 0 THEN l_quantity
                        ELSE 0 END) AS m
        FROM lineitem GROUP BY 1
      ), ent AS (
        SELECT SUM(m) AS W, SUM(m * ln(m)) AS mlm, COUNT(*) AS k
        FROM em WHERE m > 0
      )
      SELECT 'entropy' AS metric, ln(W) - mlm / W AS value FROM ent
      UNION ALL SELECT 'n_categories', CAST(k AS DOUBLE) FROM ent
      UNION ALL SELECT 'n', W FROM ent
    )
    UNION ALL
    SELECT 'mi' AS test, metric, ROUND(value, 6) AS value FROM (
      WITH cj AS (
        SELECT l_returnflag AS r, l_linestatus AS c,
               SUM(CASE WHEN l_quantity > 0 THEN l_quantity ELSE 0 END)
                 AS m
        FROM lineitem GROUP BY 1, 2
      ), mr AS (SELECT r, SUM(m) AS m FROM cj GROUP BY r),
         mc AS (SELECT c, SUM(m) AS m FROM cj GROUP BY c),
      hh AS (
        SELECT (SELECT SUM(m) FROM cj WHERE m > 0) AS g,
               (SELECT SUM(m * ln(m)) FROM mr WHERE m > 0) AS xml,
               (SELECT SUM(m * ln(m)) FROM mc WHERE m > 0) AS yml,
               (SELECT SUM(m * ln(m)) FROM cj WHERE m > 0) AS jml
      ), h AS (
        SELECT g, ln(g) - xml/g AS hx, ln(g) - yml/g AS hy,
               ln(g) - jml/g AS hxy
        FROM hh
      )
      SELECT 'mi' AS metric, hx + hy - hxy AS value FROM h
      UNION ALL SELECT 'nmi', (hx + hy - hxy) / sqrt(hx * hy) FROM h
      UNION ALL SELECT 'h_x', hx FROM h
      UNION ALL SELECT 'h_y', hy FROM h
      UNION ALL SELECT 'h_xy', hxy FROM h
      UNION ALL SELECT 'n', g FROM h
    )
    UNION ALL
    SELECT 'gini' AS test, metric, ROUND(value, 6) AS value FROM (
      WITH gsrc AS (
        SELECT l_extendedprice AS x,
               CASE WHEN l_quantity > 0 AND l_extendedprice IS NOT NULL
                    THEN l_quantity ELSE 0 END AS m
        FROM lineitem
      ), gc AS (
        SELECT x, m,
               SUM(m) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw,
               SUM(m * x) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS cs
        FROM gsrc
      ), gi AS (
        SELECT SUM(m * (x * cw - cs)) AS num,
               SUM(m) AS W, SUM(m * x) AS S
        FROM gc
      )
      SELECT 'gini' AS metric, num / (W * S) AS value FROM gi
      UNION ALL SELECT 'n', W FROM gi
    )
    UNION ALL
    SELECT 'ks' AS test, metric, ROUND(value, 6) AS value FROM (
      WITH ksrc AS (
        SELECT l_extendedprice AS x,
               CASE WHEN l_returnflag = 'A' AND l_quantity > 0
                     AND l_extendedprice IS NOT NULL
                    THEN l_quantity ELSE 0 END AS ma,
               CASE WHEN l_returnflag = 'R' AND l_quantity > 0
                     AND l_extendedprice IS NOT NULL
                    THEN l_quantity ELSE 0 END AS mb
        FROM lineitem
      ), kc AS (
        SELECT x,
               SUM(ma) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cwa,
               SUM(mb) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cwb,
               SUM(ma) OVER () AS Wa, SUM(mb) OVER () AS Wb
        FROM ksrc
      ), ks AS (
        SELECT MAX(CASE WHEN x IS NOT NULL
                        THEN ABS(cwa/Wa - cwb/Wb) END) AS d,
               MIN(Wa) AS na, MIN(Wb) AS nb
        FROM kc
      )
      SELECT 'ks_stat' AS metric, d AS value FROM ks
      UNION ALL SELECT 'n_a', na FROM ks
      UNION ALL SELECT 'n_b', nb FROM ks
    )
    UNION ALL
    SELECT 'mwu' AS test, metric, ROUND(value, 6) AS value FROM (
      WITH msrc AS (
        SELECT l_extendedprice AS x,
               CASE WHEN l_returnflag = 'A' AND l_quantity > 0
                     AND l_extendedprice IS NOT NULL
                    THEN l_quantity ELSE 0 END AS ma,
               CASE WHEN l_returnflag = 'R' AND l_quantity > 0
                     AND l_extendedprice IS NOT NULL
                    THEN l_quantity ELSE 0 END AS mb
        FROM lineitem
      ), mc AS (
        SELECT x, ma,
               SUM(mb) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cwb,
               SUM(mb) OVER (ORDER BY x RANGE BETWEEN CURRENT ROW
                             AND CURRENT ROW) AS atb,
               SUM(ma) OVER () AS Wa, SUM(mb) OVER () AS Wb
        FROM msrc
      ), mw AS (
        SELECT SUM(ma * ((cwb - atb) + atb / 2.0)) AS u,
               MIN(Wa) AS na, MIN(Wb) AS nb
        FROM mc
      )
      SELECT 'auc' AS metric, u / (na * nb) AS value FROM mw
      UNION ALL SELECT 'z_stat',
        (u - na * nb / 2.0)
          / sqrt(na * nb * (na + nb + 1.0) / 12.0) FROM mw
      UNION ALL SELECT 'n_a', na FROM mw
      UNION ALL SELECT 'n_b', nb FROM mw
    )
    UNION ALL
    SELECT 'td' AS test, metric, ROUND(value, 6) AS value FROM (
      SELECT 'n:' || l_returnflag AS metric,
             SUM(CASE WHEN l_extendedprice IS NOT NULL
                       AND l_quantity > 0 THEN l_quantity END) AS value
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT 'lo:' || l_returnflag,
             MIN(CASE WHEN l_quantity > 0 THEN l_extendedprice END)
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT 'hi:' || l_returnflag,
             MAX(CASE WHEN l_quantity > 0 THEN l_extendedprice END)
      FROM lineitem GROUP BY l_returnflag
    )
"""

_ORACLE["crosstab"] = """
    WITH cells AS (
      SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag,
             COALESCE(SUM(CASE WHEN l_linestatus = 'F'
                               THEN l_quantity END), 0.0) AS f,
             COALESCE(SUM(CASE WHEN l_linestatus = 'O'
                               THEN l_quantity END), 0.0) AS o
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT SUM(f) AS tf, SUM(o) AS tt, SUM(f) + SUM(o) AS grand
      FROM cells
    )
    SELECT 'mass' AS kind, l_returnflag,
           f AS "F", o AS "O", f + o AS "All"
    FROM cells
    UNION ALL
    SELECT 'mass', 'All', tf, tt, grand FROM tot
    UNION ALL
    SELECT 'share', l_returnflag, f / (f + o), o / (f + o),
           CAST(NULL AS DOUBLE)
    FROM cells
    UNION ALL
    SELECT 'share', 'All', tf / grand, tt / grand, CAST(NULL AS DOUBLE)
    FROM tot
"""

_ORACLE["neardup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({_minhash_sql()}),
    nodes AS (
      SELECT doc_id FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 10000 FROM documents WHERE doc_id < 200
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(n, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.v, reach.r FROM reach JOIN edges e ON reach.n = e.u
    )
    SELECT n AS doc_id, MIN(r) AS cluster, MIN(r) = n AS is_survivor
    FROM reach GROUP BY n
"""

_ORACLE["linfit"] = """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(CASE WHEN l_discount IS NOT NULL
                         AND l_extendedprice IS NOT NULL
                         AND l_quantity IS NOT NULL THEN 1 END) AS n,
             SUM(CASE WHEN l_discount IS NOT NULL
                       AND l_extendedprice IS NOT NULL THEN l_quantity END)
               AS w,
             SUM(CASE WHEN l_discount IS NOT NULL
                       AND l_extendedprice IS NOT NULL THEN l_quantity END
                 * l_discount) AS wx,
             SUM(CASE WHEN l_discount IS NOT NULL
                       AND l_extendedprice IS NOT NULL THEN l_quantity END
                 * l_extendedprice) AS wy,
             SUM(CASE WHEN l_discount IS NOT NULL
                       AND l_extendedprice IS NOT NULL THEN l_quantity END
                 * l_discount * l_extendedprice) AS wxy,
             SUM(CASE WHEN l_discount IS NOT NULL
                       AND l_extendedprice IS NOT NULL THEN l_quantity END
                 * l_discount * l_discount) AS wxx,
             SUM(CASE WHEN l_discount IS NOT NULL
                       AND l_extendedprice IS NOT NULL THEN l_quantity END
                 * l_extendedprice * l_extendedprice) AS wyy
      FROM lineitem GROUP BY 1
    ), s AS (
      SELECT l_returnflag, n, w,
             wxx - (wx * wx) / w AS sxx,
             wxy - (wx * wy) / w AS sxy,
             wyy - (wy * wy) / w AS syy,
             wx, wy
      FROM m
    ), c AS (
      SELECT l_returnflag, n, w, sxx, sxy, syy,
             CASE WHEN n >= 2 AND w IS NOT NULL AND NOT isnan(w)
                   AND w > 0 AND sxx > 0
                  THEN sxy / sxx END AS slope,
             CASE WHEN n >= 2 AND w IS NOT NULL AND NOT isnan(w)
                   AND w > 0 AND sxx > 0
                  THEN wy / w - (sxy / sxx) * (wx / w) END AS intercept
      FROM s
    )
    SELECT 'fit1' AS kind, l_returnflag AS key, v.metric,
           ROUND(v.value, 5) AS value
    FROM c, LATERAL (VALUES
      ('n', CAST(n AS DOUBLE)),
      ('sum_w', w),
      ('slope', slope),
      ('intercept', intercept),
      ('r2', CASE WHEN slope IS NOT NULL AND syy > 0
              THEN (sxy * sxy) / (sxx * syy) END),
      ('rmse', CASE WHEN slope IS NOT NULL AND w > 2.0
               THEN sqrt(GREATEST(syy - slope * slope * sxx, 0.0)
                         / (w - 2.0)) END)
    ) AS v(metric, value)
    UNION ALL
    SELECT 'fit2' AS kind, key, metric, ROUND(value, 3) AS value FROM (
      WITH m2 AS (
        SELECT l_returnflag AS key,
               COUNT(CASE WHEN ok THEN 1 END) AS nrows,
               SUM(mm) AS w,
               SUM(mm * x1) AS s1, SUM(mm * x2) AS s2,
               SUM(mm * x1 * x1) AS s11, SUM(mm * x1 * x2) AS s12,
               SUM(mm * x2 * x2) AS s22,
               SUM(mm * y) AS sy, SUM(mm * x1 * y) AS s1y,
               SUM(mm * x2 * y) AS s2y,
               SUM(mm * y * y) AS syy
        FROM (
          SELECT l_returnflag, l_discount AS x1, l_tax AS x2,
                 l_extendedprice AS y,
                 l_discount IS NOT NULL AND l_tax IS NOT NULL
                   AND l_extendedprice IS NOT NULL
                   AND l_quantity IS NOT NULL AS ok,
                 CASE WHEN l_discount IS NOT NULL AND l_tax IS NOT NULL
                       AND l_extendedprice IS NOT NULL
                       AND l_quantity IS NOT NULL
                      THEN CAST(l_quantity AS DOUBLE) ELSE 0.0 END AS mm
          FROM lineitem
        ) GROUP BY 1
      ), cr AS (
        -- Cramer's rule on the 3x3 normal equations G beta = c
        SELECT key, nrows, w, sy, s1y, s2y, syy,
          (w  * (s11 * s22 - s12 * s12)
           - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2)) AS det,
          (sy  * (s11 * s22 - s12 * s12)
           - s1 * (s1y * s22 - s12 * s2y)
           + s2 * (s1y * s12 - s11 * s2y)) AS det0,
          (w  * (s1y * s22 - s12 * s2y)
           - sy * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s2y - s1y * s2)) AS det1,
          (w  * (s11 * s2y - s1y * s12)
           - s1 * (s1 * s2y - s1y * s2)
           + sy * (s1 * s12 - s11 * s2)) AS det2
        FROM m2
      ), beta AS (
        SELECT key, nrows, w, sy, s1y, s2y, syy,
               det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
        FROM cr
      )
      SELECT key, v.metric,
             CASE WHEN nrows >= 4 AND w > 0 THEN v.value END AS value
      FROM beta, LATERAL (VALUES
        ('intercept', b0), ('b_discount', b1), ('b_tax', b2),
        ('r2', 1.0 - (syy - (b0 * sy + b1 * s1y + b2 * s2y))
                 / (syy - sy * sy / w)),
        ('n', w)
      ) AS v(metric, value)
    )
"""

_ANN_EXACT_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])) AS sim
      FROM embeddings c CROSS JOIN q
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
"""

def _ann_lsh_sql(dim: int = 64, planes: int = 4, seed: int = 42,
                 k: int = 5) -> str:
    # FULL mirror of similarity.topk_lsh (not just the subset-of-
    # bruteforce invariant): the hyperplanes are deterministic plan
    # literals, so DuckDB reproduces the same buckets, the same
    # candidate set, and the same ranks.
    from pandas_weights_spark.functions.similarity import _hyperplanes

    hps = _hyperplanes(dim, planes, seed)
    bits = ",\n             ".join(
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(x) for x in hp)}]) >= 0 THEN '1' ELSE '0' END"
        for hp in hps
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, concat({bits}) AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])) AS sim
      FROM b c JOIN q ON c.bucket = q.bucket
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
"""


# bf and ivf(nprobe=all) share the exact-top-k oracle; lsh mirrors the
# deterministic hyperplane buckets (see _ann_lsh_sql)
_ANN_Q8_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id < 5),
    cq AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             list_min(CAST(embedding AS DOUBLE[])) AS lo,
             list_max(CAST(embedding AS DOUBLE[])) AS hi
      FROM embeddings
    ), dq AS (
      SELECT vec_id,
             CASE WHEN hi > lo THEN
               list_transform(e, x -> lo
                 + CAST(round((x - lo) / (hi - lo) * 255.0, 0) AS INT)
                   * (hi - lo) / 255.0)
             ELSE list_transform(e, x -> lo) END AS d
      FROM cq
    ), scored AS (
      SELECT q.query_id, dq.vec_id AS neighbor_id,
             list_cosine_similarity(dq.d,
                                    CAST(q.embedding AS DOUBLE[])) AS sim
      FROM dq CROSS JOIN q
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
"""

_ORACLE["ann_topk"] = f"""
    SELECT 'bf' AS method, * FROM ({_ANN_EXACT_SQL})
    UNION ALL
    SELECT 'ivf' AS method, * FROM ({_ANN_EXACT_SQL})
    UNION ALL
    SELECT 'lsh' AS method, * FROM ({_ann_lsh_sql()})
    UNION ALL
    SELECT 'q8' AS method, * FROM ({_ANN_Q8_SQL})
"""

# plain relational mirror of the bucketized range join: a LEFT JOIN
# with the by-key equality plus BETWEEN containment in the ON clause
_ORACLE["range_join"] = """
    WITH l AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 11 <> 0 THEN o_totalprice END AS price,
             CASE WHEN o_orderkey % 3 <> 0 THEN o_orderpriority END AS note
      FROM orders
    ), r AS (
      SELECT s.o_orderstatus, g.band_id,
             g.band_id * CAST(25000.0 AS DOUBLE) AS lo,
             g.band_id * CAST(25000.0 AS DOUBLE)
               + CAST(35000.0 AS DOUBLE) AS hi
      FROM (SELECT DISTINCT o_orderstatus FROM orders) s,
           (SELECT CAST(unnest(generate_series(0, 19)) AS BIGINT)
              AS band_id) g
    )
    SELECT l.o_orderkey, l.o_orderstatus, l.price, l.note,
           r.band_id, r.lo, r.hi
    FROM l LEFT JOIN r
      ON l.o_orderstatus = r.o_orderstatus
     AND l.price >= r.lo AND l.price <= r.hi
"""


def _cms_sql(depth: int = 3, width: int = 128, seed: int = 7) -> str:
    # digit-for-digit mirror of sketch._bucket(portable=True): first 15
    # hex digits of md5("<key>:<seed+row>") as a 60-bit integer, mod
    # width (nonnegative, so % == pmod). Quantity masses are integral
    # doubles — bucket sums are order-independent, no rounding needed.
    def bucket(key: str) -> str:
        return (
            f"CAST(concat('0x', substring(md5(CAST({key} AS VARCHAR) "
            f"|| ':' || CAST({seed} + g.r AS VARCHAR)), 1, 15)) AS BIGINT)"
            f" % {width}"
        )

    return f"""
    WITH src AS (
      SELECT l_partkey AS k,
             CASE WHEN l_partkey IS NOT NULL AND l_quantity IS NOT NULL
                  THEN CAST(l_quantity AS DOUBLE) ELSE 0.0 END AS m
      FROM lineitem
    ), buck AS (
      SELECT k, m, g.r, {bucket('k')} AS bucket
      FROM src, generate_series(0, {depth - 1}) g(r)
    ), sk AS (
      SELECT r, bucket, SUM(m) AS mass FROM buck GROUP BY 1, 2
    ), probe AS (
      SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_partkey < 64
    ), pb AS (
      SELECT p.k, g.r, {bucket('p.k')} AS bucket
      FROM probe p, generate_series(0, {depth - 1}) g(r)
    )
    SELECT pb.k AS l_partkey, MIN(COALESCE(sk.mass, 0.0)) AS est_mass
    FROM pb LEFT JOIN sk ON pb.r = sk.r AND pb.bucket = sk.bucket
    GROUP BY 1
"""


_ORACLE["weighted_cms"] = _cms_sql()

_ORACLE["bloom_semi_join"] = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > 400000.0)
"""


def _pivot_cell_sql(status: str, col: str, stat: str) -> str:
    wv = f"CASE WHEN l_linestatus = '{status}' THEN l_quantity END"
    if stat == "mean":
        return (
            f"SUM({wv} * {col}) / SUM(CASE WHEN l_linestatus = '{status}'"
            f" AND {col} IS NOT NULL THEN l_quantity END)"
            f" AS {col}_{status}_mean"
        )
    return f"COALESCE(SUM({wv} * {col}), 0.0) AS {col}_{status}_sum"


_ORACLE["pivot_table"] = (
    "SELECT l_returnflag, "
    + ", ".join(
        _pivot_cell_sql(v, c, s)
        for v in ("F", "O")
        for c in ("l_extendedprice", "l_discount")
        for s in ("mean", "sum")
    )
    + " FROM lineitem GROUP BY 1"
)

_ORACLE["qcut"] = """
    WITH c AS (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             CASE WHEN l_extendedprice > 0.0
                   AND l_extendedprice <= 10000.0 THEN 0
                  WHEN l_extendedprice > 10000.0
                   AND l_extendedprice <= 30000.0 THEN 1
                  WHEN l_extendedprice > 30000.0
                   AND l_extendedprice <= 60000.0 THEN 2
             END AS cut_bin,
             CASE WHEN l_extendedprice IS NOT NULL AND l_quantity > 0
                  THEN l_quantity ELSE 0 END AS m
      FROM lineitem
    ), f AS (
      SELECT *, SUM(m) OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice
                             RANGE BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cw,
             SUM(m) OVER (PARTITION BY l_returnflag) AS tw
      FROM c
    )
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
           cut_bin,
           CASE WHEN l_extendedprice IS NOT NULL AND tw > 0
                THEN GREATEST(0, CAST(CEIL((cw / tw) * 4.0) AS INTEGER) - 1)
           END AS qbin,
           CASE WHEN l_extendedprice IS NOT NULL AND tw > 0
                THEN cw / tw END AS cdf
    FROM f
"""

_ORACLE["group_transforms"] = """
    WITH t0 AS (
      SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber,
             l_partkey, l_extendedprice AS x, l_quantity AS w,
             ROUND(l_extendedprice * 100, 0) AS xc,
             CASE WHEN l_tax > 0 THEN l_extendedprice END AS xn
      FROM lineitem
    ), t AS (
      -- row position + non-NULL marker precomputed (DuckDB forbids
      -- nesting window calls inside window arguments)
      SELECT t0.*,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
               ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST,
                        l_linenumber NULLS FIRST, l_partkey NULLS FIRST)
               AS rpos,
             CASE WHEN xn IS NOT NULL THEN
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                 ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST,
                          l_linenumber NULLS FIRST, l_partkey NULLS FIRST)
             END AS mark
      FROM t0
    )
    SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber, l_partkey,
           LAG(x, 1) OVER ow AS lag_price,
           x - LAG(x, 1) OVER ow AS diff_price,
           CASE WHEN LAG(x, 1) OVER ow IS NOT NULL
                 AND LAG(x, 1) OVER ow <> 0
                THEN (x - LAG(x, 1) OVER ow) / LAG(x, 1) OVER ow
           END AS pct_price,
           last_value(xn IGNORE NULLS) OVER owr AS ffill_price,
           first_value(xn IGNORE NULLS) OVER owf AS bfill_price,
           CASE WHEN xc IS NOT NULL AND w IS NOT NULL THEN
             SUM(CASE WHEN xc IS NOT NULL AND w IS NOT NULL
                      THEN w * xc END) OVER owr
           END AS cum_mass,
           CASE WHEN xn IS NOT NULL THEN xn
                WHEN last_value(mark IGNORE NULLS) OVER owr IS NOT NULL
                 AND first_value(mark IGNORE NULLS) OVER owf IS NOT NULL
                THEN last_value(xn IGNORE NULLS) OVER owr
                     + (first_value(xn IGNORE NULLS) OVER owf
                        - last_value(xn IGNORE NULLS) OVER owr)
                       * (CAST(rpos - last_value(mark IGNORE NULLS)
                               OVER owr AS DOUBLE)
                          / CAST(first_value(mark IGNORE NULLS) OVER owf
                                 - last_value(mark IGNORE NULLS) OVER owr
                                 AS DOUBLE))
                WHEN last_value(xn IGNORE NULLS) OVER owr IS NOT NULL
                THEN last_value(xn IGNORE NULLS) OVER owr
           END AS itp,
           CAST(RANK() OVER tw AS BIGINT) AS rk,
           CAST(DENSE_RANK() OVER tw AS BIGINT) AS drk,
           PERCENT_RANK() OVER tw AS prk,
           CAST(ROW_NUMBER() OVER ow AS BIGINT) AS rn,
           SUM(CASE WHEN w > 0 THEN CAST(w AS DOUBLE) ELSE 0.0 END)
             OVER owr AS cmass
    FROM t
    WINDOW ow AS (PARTITION BY l_returnflag
                  ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST,
                           l_linenumber NULLS FIRST, l_partkey NULLS FIRST),
           tw AS (PARTITION BY l_returnflag
                  ORDER BY l_shipdate NULLS FIRST),
           owr AS (PARTITION BY l_returnflag
                   ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST,
                            l_linenumber NULLS FIRST, l_partkey NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           owf AS (PARTITION BY l_returnflag
                   ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST,
                            l_linenumber NULLS FIRST, l_partkey NULLS FIRST
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
"""


def _ewm_pair_sql(alpha: float = 0.2, halflife_secs: float = 3600.0) -> str:
    """DuckDB oracle for _q_ewm_pair: the banded pairwise cross-moment
    algebra (ewm.py _pair_stat) and the real-valued-L times= banding
    (_stat_times) in SQL, with the engine's exact float constants
    inlined. Residual cross-engine noise is libm exp() and window-sum
    associativity (all mass terms are positive, so the sums are
    well-conditioned: ~1e-13 relative), absorbed by ROUND 2/5/3."""
    import math as _m

    rho = 1.0 - alpha
    B = max(1, int(75.0 / -_m.log10(rho)))
    ln_inv = _m.log(1.0 / rho)
    c1 = rho**B
    c2 = rho ** (2 * B)
    lg2 = _m.log10(2.0)
    ln10 = _m.log(10.0)
    rr = f"CAST(p % {B} AS DOUBLE)"
    up = f"exp({ln_inv!r} * {rr})"
    up2 = f"exp({2.0 * ln_inv!r} * {rr})"
    dn = f"exp({-ln_inv!r} * {rr})"
    tdn = f"exp({-ln10!r} * r)"
    pair_terms = ", ".join(
        f"(p{n} + {c1!r} * c{n}) * {dn} AS {n[1:]}" for n in
        ("tD", "tX", "tY", "tXY", "tXX", "tYY")
    )
    prefix_cols = ", ".join(
        f"SUM({n}) OVER iw AS p{n}, "
        f"COALESCE(SUM({n}) OVER pw, 0.0) AS c{n}"
        for n in ("tD", "tX", "tY", "tXY", "tV", "tXX", "tYY")
    )
    factor = ("CASE WHEN (D * D - V) > 1e-10 * (D * D) "
              "THEN (D * D) / (D * D - V) END")
    cov_b = "(XY / D - (X / D) * (Y / D))"
    var_x = "(XX / D - (X / D) * (X / D))"
    var_y = "(YY / D - (Y / D) * (Y / D))"
    return f"""
    WITH src AS (
      SELECT event_type AS k, ts, event_id,
             CASE WHEN event_id % 13 <> 0 THEN value END AS x,
             CAST(event_id % 97 AS DOUBLE) AS y,
             CAST(event_id % 7 + 1 AS DOUBLE) AS w
      FROM events
    ), pos AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                   ORDER BY ts NULLS FIRST,
                                            event_id NULLS FIRST) - 1 AS p
      FROM src
    ), z AS (
      SELECT *, p // {B} AS band,
             CASE WHEN x IS NOT NULL AND y IS NOT NULL AND w IS NOT NULL
                  THEN w ELSE 0.0 END AS m,
             CASE WHEN x IS NOT NULL AND y IS NOT NULL AND w IS NOT NULL
                  THEN x ELSE 0.0 END AS xz,
             CASE WHEN x IS NOT NULL AND y IS NOT NULL AND w IS NOT NULL
                  THEN y ELSE 0.0 END AS yz
      FROM pos
    ), t AS (
      SELECT k, ts, event_id, p, band,
             m * {up} AS tD,
             m * xz * {up} AS tX,
             m * yz * {up} AS tY,
             m * xz * yz * {up} AS tXY,
             m * m * {up2} AS tV,
             m * xz * xz * {up} AS tXX,
             m * yz * yz * {up} AS tYY
      FROM z
    ), pref AS (
      SELECT k, ts, event_id, p, {prefix_cols}
      FROM t
      WINDOW iw AS (PARTITION BY k, band ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             pw AS (PARTITION BY k ORDER BY band
                    RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING)
    ), tots AS (
      SELECT k, ts, event_id, {pair_terms},
             ((ptV + {c2!r} * ctV) * {dn}) * {dn} AS V
      FROM pref
    ), tsrc AS (
      SELECT event_type AS k, ts, event_id,
             CASE WHEN event_id % 13 <> 0 THEN value END AS x,
             CAST(event_id % 7 + 1 AS DOUBLE) AS w,
             CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec
      FROM events
    ), tl AS (
      SELECT *,
             (tsec - MIN(tsec) OVER (PARTITION BY k))
               / {halflife_secs!r} * {lg2!r} AS L,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ts NULLS FIRST,
                                         event_id NULLS FIRST) - 1 AS p
      FROM tsrc
    ), tb AS (
      SELECT *, CAST(FLOOR(L / 75.0) AS BIGINT) AS band,
             L - 75.0 * FLOOR(L / 75.0) AS r
      FROM tl
    ), tt AS (
      SELECT k, ts, event_id, p, band, r,
             CASE WHEN x IS NOT NULL AND w IS NOT NULL
                   AND ts IS NOT NULL THEN w ELSE 0.0 END
               * exp({ln10!r} * r) AS tD,
             (CASE WHEN x IS NOT NULL AND w IS NOT NULL
                    AND ts IS NOT NULL THEN w ELSE 0.0 END
              * CASE WHEN x IS NOT NULL AND w IS NOT NULL
                      AND ts IS NOT NULL THEN x ELSE 0.0 END)
               * exp({ln10!r} * r) AS tN
      FROM tb
    ), tpref AS (
      SELECT k, ts, event_id, r,
             SUM(tD) OVER iw AS pD, SUM(tN) OVER iw AS pN,
             COALESCE(SUM(tD) OVER pw, 0.0) AS cD,
             COALESCE(SUM(tN) OVER pw, 0.0) AS cN
      FROM tt
      WINDOW iw AS (PARTITION BY k, band ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             pw AS (PARTITION BY k ORDER BY band
                    RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING)
    )
    SELECT 'cov' AS stat, k AS event_type, ts, event_id,
           ROUND(CASE WHEN D > 0
                 THEN {factor} * {cov_b} END, 2) AS val
    FROM tots
    UNION ALL
    SELECT 'corr' AS stat, k AS event_type, ts, event_id,
           ROUND(CASE WHEN D > 0 THEN
                   CASE WHEN {factor} IS NOT NULL
                         AND {var_x} > 0 AND {var_y} > 0
                   THEN {cov_b} / sqrt({var_x} * {var_y}) END
                 END, 5) AS val
    FROM tots
    UNION ALL
    SELECT 'tmean' AS stat, k AS event_type, ts, event_id,
           ROUND(CASE WHEN (pD + {10.0 ** -75!r} * cD) * {tdn} > 0
                 THEN ((pN + {10.0 ** -75!r} * cN) * {tdn})
                      / ((pD + {10.0 ** -75!r} * cD) * {tdn}) END, 3) AS val
    FROM tpref
"""


_ORACLE["ewm_pair"] = _ewm_pair_sql()

_ORACLE["weighted_centroids"] = """
    WITH e AS (
      SELECT label, CAST(vec_id % 7 + 1 AS DOUBLE) AS w,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT CAST(label AS VARCHAR) AS label, dim,
           round(SUM(v * w) / SUM(CASE WHEN v IS NOT NULL THEN w END), 6)
             AS centroid
    FROM e GROUP BY label, dim
    UNION ALL
    SELECT 'pca:mean' AS label, CAST(i - 1 AS BIGINT) AS dim,
           round(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 6)
             AS centroid
    FROM embeddings, generate_series(1, 16) AS t(i)
    GROUP BY i
    UNION ALL
    SELECT 'pca:gram' AS label,
           CAST((i - 1) * 100 + (j - 1) AS BIGINT) AS dim,
           round(SUM(CAST(embedding[i] AS DOUBLE)
                     * CAST(embedding[j] AS DOUBLE)) / COUNT(*), 6)
             AS centroid
    FROM embeddings, generate_series(1, 12) AS t(i),
         generate_series(1, 12) AS t2(j)
    WHERE j >= i
    GROUP BY i, j
"""

# weighted covariance moments mirroring _stats.assemble("cov")
_COV_SQL = """
WITH m AS (
  SELECT COUNT(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL
                     AND {w} IS NOT NULL THEN 1 END) AS n,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END) AS sw,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END
             * {x}) AS sx,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END
             * {y}) AS sy,
         SUM(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END
             * {x} * {y}) AS sxy
  FROM {table}
)
SELECT ROUND(CASE WHEN n >= {min_periods} AND sw > {ddof}
             THEN (sxy - (sx*sy)/sw) / (sw - {ddof}) END, 6) AS cov
FROM m
"""


def _cov_sql(x, y, w, table, min_periods=1, ddof=1):
    return _COV_SQL.format(
        x=x, y=y, w=w, table=table, min_periods=min_periods, ddof=float(ddof)
    )


_ORACLE["group_skew_kurt"] = """
    WITH m AS (
      SELECT l_returnflag,
             COALESCE(SUM(CASE WHEN l_extendedprice IS NOT NULL
                               THEN l_quantity END), 0.0) AS w,
             SUM(l_extendedprice * l_quantity) AS s1,
             SUM(l_extendedprice * l_extendedprice * l_quantity) AS s2,
             SUM(l_extendedprice * l_extendedprice * l_extendedprice
                 * l_quantity) AS s3,
             SUM(l_extendedprice * l_extendedprice * l_extendedprice
                 * l_extendedprice * l_quantity) AS s4
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT l_returnflag, w, s1/w AS mu, s2/w AS s2w, s3/w AS s3w,
             s4/w AS s4w
      FROM m
    ), cm AS (
      SELECT l_returnflag, w,
             s2w - mu*mu AS m2,
             s3w - CAST(3.0 AS DOUBLE)*mu*s2w
                 + CAST(2.0 AS DOUBLE)*mu*mu*mu AS m3,
             s4w - CAST(4.0 AS DOUBLE)*mu*s3w
                 + CAST(6.0 AS DOUBLE)*mu*mu*s2w
                 - CAST(3.0 AS DOUBLE)*mu*mu*mu*mu AS m4
      FROM c
    )
    SELECT l_returnflag,
           ROUND(CASE WHEN w > 0 AND m2 > 0
                 THEN m3 / (m2 * sqrt(m2)) END, 6) AS skew,
           ROUND(CASE WHEN w > 0 AND m2 > 0
                 THEN m4 / (m2 * m2) - CAST(3.0 AS DOUBLE) END, 6) AS kurt
    FROM cm
"""

_ORACLE["value_counts"] = """
    SELECT 'vc' AS kind, l_returnflag AS label,
           CAST(NULL AS DOUBLE) AS bin_lo,
           COALESCE(SUM(l_quantity), 0.0) AS mass
    FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 2
    UNION ALL
    SELECT 'hist' AS kind, CAST(bin AS VARCHAR) AS label,
           CAST(0.0 AS DOUBLE) + bin * CAST(5000.0 AS DOUBLE) AS bin_lo,
           mass
    FROM (
      SELECT LEAST(11, CAST(FLOOR((l_extendedprice - 0.0) / 5000.0)
                            AS INTEGER)) AS bin,
             COALESCE(SUM(l_quantity), 0.0) AS mass
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
        AND l_extendedprice >= 0.0 AND l_extendedprice <= 60000.0
      GROUP BY 1
    )
    UNION ALL
    SELECT 'gvc' AS kind,
           l_returnflag || '|' || CAST(v AS VARCHAR) AS label,
           share AS bin_lo, mass
    FROM (
      SELECT l_returnflag, v, mass,
             mass / SUM(mass) OVER (PARTITION BY l_returnflag) AS share,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY mass DESC, v ASC) AS rk
      FROM (
        SELECT l_returnflag, l_linenumber AS v,
               SUM(CASE WHEN l_quantity > 0 THEN l_quantity
                        ELSE 0 END) AS mass
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_linenumber IS NOT NULL
        GROUP BY 1, 2
      )
    ) WHERE rk <= 3
"""

_MATRIX_COLS = ("l_extendedprice", "l_discount", "l_tax")

_ORACLE["corr_cov_matrix"] = "\nUNION ALL\n".join(
    f"SELECT '{cx}' AS col_x, '{cy}' AS col_y, corr, cov FROM ("
    + _corr_sql(
        _MATRIX_COLS[min(i, j)], _MATRIX_COLS[max(i, j)], "l_quantity", "lineitem"
    )
    + ") AS a, ("
    + _cov_sql(
        _MATRIX_COLS[min(i, j)], _MATRIX_COLS[max(i, j)], "l_quantity", "lineitem"
    )
    + ") AS b"
    for i, cx in enumerate(_MATRIX_COLS)
    for j, cy in enumerate(_MATRIX_COLS)
)


def _md5_bucket_sql(expr: str, seed: int, n: int) -> str:
    """BIGINT mirror of classifier.hashed_token_features' bucket id:
    first 8 hex digits of md5(gram || '|' || seed) as an exact integer
    digit sum, mod n — the int twin of sample.uniform_hash_sql."""
    h = f"md5({expr} || '|' || '{seed}')"
    terms = " + ".join(
        f"CAST(instr('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1 "
        f"AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"(({terms}) % {n})"


from pandas_weights_spark.sample import uniform_hash_sql as _uh_sql

_ORACLE["mixture_sample"] = f"""
    -- r6: full replay of sample.mixture_materialize — per-domain mass
    -- -> repeat factor k = target/mass -> epoch fan-out 0..floor(k)
    -- -> keep full epochs + the partial one under the md5 uniform
    WITH m AS (
      SELECT l_returnflag AS d,
             SUM(CASE WHEN l_quantity > 0 THEN l_quantity
                      ELSE 0 END) AS mass
      FROM lineitem WHERE l_returnflag IN ('A', 'N', 'R')
      GROUP BY 1
    ), k AS (
      SELECT d,
             (CASE d WHEN 'A' THEN 1000000.0
                     WHEN 'N' THEN 150000.0
                     ELSE 75000.0 END) / mass AS k
      FROM m
    ), f AS (
      -- LATERAL-unnest form: the SELECT-list unnest alias trips a
      -- DuckDB internal binder error when the downstream WHERE
      -- references it together with k; the lateral form binds fine
      SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag AS dom, k.k,
             u.epoch
      FROM lineitem l JOIN k ON l.l_returnflag = k.d,
           LATERAL unnest(generate_series(
               0, CAST(floor(k.k) AS INT))) AS u(epoch)
    )
    SELECT l_orderkey, l_linenumber, dom, CAST(epoch AS BIGINT) AS epoch
    FROM f
    WHERE epoch < CAST(floor(k) AS INT)
       OR {_uh_sql(['l_orderkey', 'l_linenumber', 'epoch'], 42)}
          < k - floor(k)
"""


_ORACLE["quality_classifier"] = f"""
    -- r6: iteration-0 gradient of the hashed-feature logistic
    -- quality classifier — grad0[f] = Σ (0.5 − y)·count(doc, f) over
    -- unigram+bigram md5 buckets, y = doc_id % 2
    WITH d AS (
      SELECT doc_id, lower(text) AS t,
             CAST(doc_id % 2 AS DOUBLE) AS y
      FROM documents WHERE doc_id < 200
    ), tok AS (
      SELECT doc_id, y, string_split_regex(trim(t), '\\s+') AS w FROM d
    ), uni AS (
      SELECT y, unnest(w) AS g FROM tok
    ), bi AS (
      SELECT y,
             unnest(CASE WHEN len(w) >= 2
                         THEN [w[i] || ' ' || w[i+1]
                               for i in range(1, len(w))]
                         ELSE [array_to_string(w, ' ')] END) AS g
      FROM tok
    ), grams AS (
      SELECT y, g FROM uni WHERE g <> ''
      UNION ALL
      SELECT y, g FROM bi WHERE g <> ''
    ), bkt AS (
      SELECT y, {_md5_bucket_sql('g', 42, 4096)} AS feature FROM grams
    ), gr AS (
      SELECT feature, SUM(0.5 - y) AS g FROM bkt GROUP BY feature
    )
    SELECT feature, round(g, 6) AS grad, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT feature, g,
             row_number() OVER (ORDER BY abs(g) DESC, feature) AS rk
      FROM gr
    ) WHERE rk <= 40
"""


_ORACLE["semdedup"] = """
    -- r6: semantic_dedup with one explicit centroid == brute cosine
    -- + min-id survivor over the variant-augmented embedding set;
    -- round-then-threshold at 6 dp mirrors the engine's boundary rule
    WITH e0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ), vr AS (
      SELECT vec_id + 10000 AS vec_id,
             CASE WHEN vec_id % 3 = 0
                    THEN list_transform(v, x -> x * 1.5)
                  WHEN vec_id % 3 = 1
                    THEN list_transform(v, x -> -x)
                  ELSE list_transform(v, x -> x + 2.0) END AS v
      FROM e0 WHERE vec_id < 60
    ), e AS (
      SELECT * FROM e0 UNION ALL SELECT * FROM vr
    ), losers AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9
    )
    SELECT e.vec_id, CAST(0 AS BIGINT) AS cell,
           (l.vec_id IS NULL) AS is_survivor
    FROM e LEFT JOIN losers l ON l.vec_id = e.vec_id
"""


def _pq_sql() -> str:
    # mirror of pq.pq_encode(arrow=False) + pq.topk_pq_adc over the
    # _pq_codebooks literals: per-subspace (x−c)² sums in the SAME
    # left-to-right term order as the engine's sequential fold,
    # argmin via list_position(list_min) (ties → lowest index, the
    # np.argmin/struct-min rule), ADC total as the same + chain
    m, k, dsub = 4, 4, 16
    cbs = _pq_codebooks()

    def dist(s: int, j: int) -> str:
        return " + ".join(
            f"(CAST(embedding[{s * dsub + t + 1}] AS DOUBLE) - "
            f"({cbs[s][j][t]!r})) * "
            f"(CAST(embedding[{s * dsub + t + 1}] AS DOUBLE) - "
            f"({cbs[s][j][t]!r}))"
            for t in range(dsub)
        )

    dist_cols = ",\n             ".join(
        f"({dist(s, j)}) AS d{s}{j}" for s in range(m) for j in range(k)
    )
    code_cols = ", ".join(
        f"list_position([d{s}0, d{s}1, d{s}2, d{s}3], "
        f"list_min([d{s}0, d{s}1, d{s}2, d{s}3])) - 1 AS c{s}"
        for s in range(m)
    )
    enc_rows = "\n      UNION ALL\n      ".join(
        f"SELECT 'enc' AS part, vec_id AS a, CAST({s} AS BIGINT) AS b, "
        f"CAST(c{s} AS BIGINT) AS i, CAST(NULL AS DOUBLE) AS d FROM codes"
        for s in range(m)
    )
    adc_sum = " + ".join(
        f"(CASE c.c{s} WHEN 0 THEN q.d{s}0 WHEN 1 THEN q.d{s}1 "
        f"WHEN 2 THEN q.d{s}2 ELSE q.d{s}3 END)"
        for s in range(m)
    )

    # --- r7 residual (IVFADC) replay ---------------------------------
    # coarse cells: same unit-centroid dot chains (left-to-right, the
    # engine's sequential fold) + the larger-index tie rule of
    # nearest_cell's struct-max; residuals r_i = emb_i − cent[cell]_i
    # computed FIRST (one subtraction), then (r − cb)² per entry —
    # the exact IEEE shape of _residual_expr + _sub_dist
    import math as _math

    cents = _pq_centroids()
    n_cells, d = len(cents), len(cents[0])
    units = []
    for c in cents:
        nn = _math.sqrt(sum(x * x for x in c)) or 1.0
        units.append([x / nn for x in c])
    score_cols = ",\n             ".join(
        "("
        + " + ".join(
            f"CAST(embedding[{t + 1}] AS DOUBLE) * ({units[j][t]!r})"
            for t in range(d)
        )
        + f") AS s{j}"
        for j in range(n_cells)
    )
    cell_case = (
        "CASE WHEN s3 >= s2 AND s3 >= s1 AND s3 >= s0 THEN 3 "
        "WHEN s2 >= s1 AND s2 >= s0 THEN 2 "
        "WHEN s1 >= s0 THEN 1 ELSE 0 END"
    )

    def res_cols(c: int) -> str:
        return ", ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) - ({cents[c][i]!r}) "
            f"AS r{i}"
            for i in range(d)
        )

    rres_branches = "\n      UNION ALL\n      ".join(
        f"SELECT e.vec_id, CAST({c} AS INTEGER) AS cell, {res_cols(c)} "
        f"FROM e JOIN cells USING (vec_id) WHERE cells.cell = {c}"
        for c in range(n_cells)
    )
    qres_branches = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, CAST({c} AS INTEGER) AS qcell, {res_cols(c)} "
        f"FROM e WHERE vec_id < 4"
        for c in range(n_cells)
    )

    def rdist(s: int, j: int) -> str:
        return " + ".join(
            f"((r{s * dsub + t}) - ({cbs[s][j][t]!r})) * "
            f"((r{s * dsub + t}) - ({cbs[s][j][t]!r}))"
            for t in range(dsub)
        )

    rdist_cols = ",\n             ".join(
        f"({rdist(s, j)}) AS rd{s}{j}"
        for s in range(m)
        for j in range(k)
    )
    rcode_cols = ", ".join(
        f"list_position([rd{s}0, rd{s}1, rd{s}2, rd{s}3], "
        f"list_min([rd{s}0, rd{s}1, rd{s}2, rd{s}3])) - 1 AS rc{s}"
        for s in range(m)
    )
    renc_rows = "\n      UNION ALL\n      ".join(
        f"SELECT 'renc' AS part, vec_id AS a, CAST({s} AS BIGINT) AS b,"
        f" CAST(rc{s} AS BIGINT) AS i, CAST(NULL AS DOUBLE) AS d "
        f"FROM rcodes"
        for s in range(m)
    )
    rvq_sum = " + ".join(
        f"(CASE x.rc{s} WHEN 0 THEN q.rd{s}0 WHEN 1 THEN q.rd{s}1 "
        f"WHEN 2 THEN q.rd{s}2 ELSE q.rd{s}3 END)"
        for s in range(m)
    )
    # r14 OPQ replay: rotated coords as one dot chain per output
    # coordinate — engine fold starts at the 0.0 accumulator, so the
    # chain leads with 0.0 (a −0.0 first product normalizes to +0.0
    # on both engines); then the SAME encode/ADC machinery over the
    # rotated columns
    rot = _opq_rotation()
    rd = len(rot)
    rv_cols = ",\n             ".join(
        "(0.0 + "
        + " + ".join(
            f"CAST(embedding[{t + 1}] AS DOUBLE) * ({rot[i][t]!r})"
            for t in range(rd)
        )
        + f") AS v{i}"
        for i in range(rd)
    )

    def odist(s: int, j: int) -> str:
        return " + ".join(
            f"((v{s * dsub + t}) - ({cbs[s][j][t]!r})) * "
            f"((v{s * dsub + t}) - ({cbs[s][j][t]!r}))"
            for t in range(dsub)
        )

    odist_cols = ",\n             ".join(
        f"({odist(s, j)}) AS od{s}{j}"
        for s in range(m)
        for j in range(k)
    )
    ocode_cols = ", ".join(
        f"list_position([od{s}0, od{s}1, od{s}2, od{s}3], "
        f"list_min([od{s}0, od{s}1, od{s}2, od{s}3])) - 1 AS oc{s}"
        for s in range(m)
    )
    oenc_rows = "\n      UNION ALL\n      ".join(
        f"SELECT 'opq' AS part, vec_id AS a, CAST({s} AS BIGINT) AS b,"
        f" CAST(oc{s} AS BIGINT) AS i, CAST(NULL AS DOUBLE) AS d "
        f"FROM ocodes"
        for s in range(m)
    )
    oad_sum = " + ".join(
        f"(CASE x.oc{s} WHEN 0 THEN q.od{s}0 WHEN 1 THEN q.od{s}1 "
        f"WHEN 2 THEN q.od{s}2 ELSE q.od{s}3 END)"
        for s in range(m)
    )
    # r7 refine replay: exact squared-L2 brute force (probe-all +
    # corpus-covering refine factor make the engine's refined result
    # exactly this), same left-to-right fold order
    rfn_sum = " + ".join(
        f"(CAST(q.embedding[{i + 1}] AS DOUBLE) - "
        f"CAST(x.embedding[{i + 1}] AS DOUBLE)) * "
        f"(CAST(q.embedding[{i + 1}] AS DOUBLE) - "
        f"CAST(x.embedding[{i + 1}] AS DOUBLE))"
        for i in range(d)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
    ), dists AS (
      SELECT vec_id,
             {dist_cols}
      FROM e
    ), codes AS (
      SELECT vec_id, {code_cols} FROM dists
    ), enc AS (
      {enc_rows}
    ), qd AS (
      SELECT * FROM dists WHERE vec_id < 4
    ), pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
             round({adc_sum}, 6) AS dist
      FROM qd q, codes c
    ), ranked AS (
      SELECT qid, nid, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, nid)
               AS rk
      FROM pairs
    ), scores AS (
      SELECT vec_id,
             {score_cols}
      FROM e
    ), cells AS (
      SELECT vec_id, {cell_case} AS cell FROM scores
    ), rres AS (
      {rres_branches}
    ), rdists AS (
      SELECT vec_id, cell,
             {rdist_cols}
      FROM rres
    ), rcodes AS (
      SELECT vec_id, cell, {rcode_cols} FROM rdists
    ), renc AS (
      {renc_rows}
    ), qres AS (
      {qres_branches}
    ), qrd AS (
      SELECT vec_id, qcell,
             {rdist_cols}
      FROM qres
    ), rpairs AS (
      SELECT q.vec_id AS qid, x.vec_id AS nid,
             round({rvq_sum}, 6) AS dist
      FROM qrd q JOIN rcodes x ON x.cell = q.qcell
    ), rranked AS (
      SELECT qid, nid, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, nid)
               AS rk
      FROM rpairs
    ), rve AS (
      SELECT vec_id,
             {rv_cols}
      FROM e WHERE vec_id < 500
    ), odists AS (
      SELECT vec_id,
             {odist_cols}
      FROM rve
    ), ocodes AS (
      SELECT vec_id, {ocode_cols} FROM odists
    ), oenc AS (
      {oenc_rows}
    ), oqd AS (
      SELECT * FROM odists WHERE vec_id < 4
    ), opairs AS (
      SELECT q.vec_id AS qid, x.vec_id AS nid,
             round({oad_sum}, 6) AS dist
      FROM oqd q, ocodes x
    ), oranked AS (
      SELECT qid, nid, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, nid)
               AS rk
      FROM opairs
    )
    SELECT part, a, b, i, d FROM enc
    UNION ALL
    SELECT 'adc' AS part, qid AS a, nid AS b, CAST(rk AS BIGINT) AS i,
           dist AS d
    FROM ranked WHERE rk <= 5
    UNION ALL
    -- ivq == adc by construction: probing every IVF cell must not
    -- change the ADC answer
    SELECT 'ivq' AS part, qid AS a, nid AS b, CAST(rk AS BIGINT) AS i,
           dist AS d
    FROM ranked WHERE rk <= 5
    UNION ALL
    SELECT part, a, b, i, d FROM renc
    UNION ALL
    -- rvq: probe-all residual IVFADC — every corpus row scored with
    -- its own cell's per-query residual table
    SELECT 'rvq' AS part, qid AS a, nid AS b, CAST(rk AS BIGINT) AS i,
           dist AS d
    FROM rranked WHERE rk <= 5
    UNION ALL
    -- rfn: refine stage at probe-all + sub-corpus-covering factor ==
    -- exact brute-force squared-L2 top-5 over the 500-vector subset
    SELECT 'rfn' AS part, qid AS a, nid AS b, CAST(rk AS BIGINT) AS i,
           dist AS d
    FROM (
      SELECT qid, nid, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, nid)
               AS rk
      FROM (
        SELECT q.vec_id AS qid, x.vec_id AS nid,
               round({rfn_sum}, 6) AS dist
        FROM e q, e x WHERE q.vec_id < 4 AND x.vec_id < 500
      )
    ) WHERE rk <= 5
    UNION ALL
    -- opq: codes of the LITERAL-rotation OPQ pipeline (rotation as a
    -- plan literal -> closed-form dot-chain replay)
    SELECT part, a, b, i, d FROM oenc
    UNION ALL
    -- oad: ADC top-5 of rotated queries against rotated codes
    SELECT 'oad' AS part, qid AS a, nid AS b, CAST(rk AS BIGINT) AS i,
           dist AS d
    FROM oranked WHERE rk <= 5
"""


_ORACLE["pq_topk"] = _pq_sql()

def _bm25_sql(k1: float = 1.2, b: float = 0.75) -> str:
    """Closed-form BM25 replay — every float literal is the repr of
    the exact double the engine uses ((k1+1) is NOT the literal 2.2:
    IEEE 1.2+1.0 differs from parsed 2.2 in the last ulp)."""
    k1p1 = repr(float(k1) + 1.0)
    one_minus_b = repr(1.0 - float(b))
    return f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE text IS NOT NULL
    ), base AS (
      SELECT doc_id, unnest(w) AS term FROM d
    ), base2 AS (SELECT * FROM base WHERE term <> ''),
    post AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM base2 GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
      FROM base2 GROUP BY doc_id
    ), st AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl
    ), dfq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS dfc FROM post GROUP BY term
    ), idx AS (
      SELECT p.term, p.doc_id,
             ln(1.0 + (st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5))
             * (p.tf * {k1p1})
             / (p.tf + {float(k1)!r}
                * ({one_minus_b} + {float(b)!r} * dl.dl / st.avgdl))
               AS s
      FROM post p JOIN dl USING (doc_id) JOIN dfq USING (term), st
    ), qt AS (
      SELECT doc_id AS qid, unnest(list_distinct(w[1:3])) AS term
      FROM d WHERE doc_id < 8
    ), qt2 AS (SELECT * FROM qt WHERE term <> ''),
    sc AS (
      SELECT qid, doc_id, round(SUM(s), 6) AS score
      FROM idx JOIN qt2 USING (term) GROUP BY qid, doc_id
    )
    SELECT qid AS query_id, doc_id, score, CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT qid, doc_id, score,
             row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, doc_id
             ) AS rk
      FROM sc
    ) WHERE rk <= 10
"""


_ORACLE["bm25"] = _bm25_sql()

_ORACLE["edit_join"] = """
    -- r7: brute-force Levenshtein cross join — the exactness oracle
    -- for the q-gram prefix-filtered engine join (same lowercase
    -- normalization, same typo synthesis)
    WITH l AS (
      SELECT p_partkey AS lid, lower(p_name) AS name
      FROM part WHERE p_partkey <= 200
    ), r AS (
      SELECT p_partkey + 1000 AS rid,
             lower(CASE
               WHEN p_partkey % 3 = 0
                 THEN substring(p_name, 1, 3) || substring(p_name, 5)
               WHEN p_partkey % 3 = 1
                 THEN substring(p_name, 1, 3) || '#'
                      || substring(p_name, 5)
               ELSE p_name END) AS name
      FROM part WHERE p_partkey <= 200
    )
    SELECT l.lid, r.rid,
           CAST(levenshtein(l.name, r.name) AS BIGINT) AS dist
    FROM l, r
    WHERE levenshtein(l.name, r.name) <= 2
"""


_ORACLE["rp_project"] = _rp_sql()


_ORACLE["pagerank"] = """
    -- r6: 3 unrolled power iterations of weighted PageRank with
    -- dangling-mass redistribution (graph.pagerank's exact algebra)
    WITH e AS (
      SELECT source AS s,
             'src' || CAST((doc_id * 7 + 3) % 25 AS VARCHAR) AS t,
             CAST(COUNT(*) AS DOUBLE) AS w
      FROM documents GROUP BY 1, 2
    ), nodes AS (
      SELECT DISTINCT s AS n FROM e
      UNION SELECT DISTINCT t FROM e
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS tot FROM nodes
    ), outm AS (
      SELECT s, SUM(w) AS o FROM e GROUP BY 1
    ), f AS (
      SELECT s, t, w / o AS f FROM e JOIN outm USING (s)
    ), r0 AS (
      SELECT n, 1.0 / tot AS r FROM nodes, nn
    ), c1 AS (
      SELECT f.t AS n, SUM(f.f * r0.r) AS c
      FROM f JOIN r0 ON r0.n = f.s GROUP BY 1
    ), d1 AS (
      SELECT COALESCE(SUM(r), 0.0) AS dm FROM r0
      WHERE n NOT IN (SELECT s FROM outm)
    ), r1 AS (
      SELECT nodes.n,
             (1.0 - 0.85) / tot + 0.85 * (COALESCE(c1.c, 0.0) + d1.dm / tot)
               AS r
      FROM nodes LEFT JOIN c1 ON c1.n = nodes.n, nn, d1
    ), c2 AS (
      SELECT f.t AS n, SUM(f.f * r1.r) AS c
      FROM f JOIN r1 ON r1.n = f.s GROUP BY 1
    ), d2 AS (
      SELECT COALESCE(SUM(r), 0.0) AS dm FROM r1
      WHERE n NOT IN (SELECT s FROM outm)
    ), r2 AS (
      SELECT nodes.n,
             (1.0 - 0.85) / tot + 0.85 * (COALESCE(c2.c, 0.0) + d2.dm / tot)
               AS r
      FROM nodes LEFT JOIN c2 ON c2.n = nodes.n, nn, d2
    ), c3 AS (
      SELECT f.t AS n, SUM(f.f * r2.r) AS c
      FROM f JOIN r2 ON r2.n = f.s GROUP BY 1
    ), d3 AS (
      SELECT COALESCE(SUM(r), 0.0) AS dm FROM r2
      WHERE n NOT IN (SELECT s FROM outm)
    ), r3 AS (
      SELECT nodes.n,
             (1.0 - 0.85) / tot + 0.85 * (COALESCE(c3.c, 0.0) + d3.dm / tot)
               AS r
      FROM nodes LEFT JOIN c3 ON c3.n = nodes.n, nn, d3
    )
    SELECT n AS node, round(r, 6) AS rank FROM r3
"""


_ORACLE["web_hygiene"] = """
    -- r6: closed-form spec of canonicalize_url over the synthesized
    -- URLs (lowercase scheme/host, default port dropped, utm_/fbclid
    -- params dropped with order of kept params preserved, fragment
    -- dropped, empty query loses '?') + the parent-suffix blocklist
    -- match of filter_blocked_domains
    WITH c AS (
      SELECT doc_id,
             'https://www.' || lower(source) || '.example.com/d/'
               || CAST(doc_id AS VARCHAR)
               || '?id=' || CAST(doc_id % 7 AS VARCHAR) AS curl,
             'http://' || lower(source) || '.org/p/'
               || CAST(doc_id AS VARCHAR) || '?b=2&a=1' AS curl2,
             -- r7 fragment-'?' fixture: odd docs carry ONLY a
             -- fragment-embedded '?sessionid=' (dropped wholesale);
             -- even docs keep their real '?id=' and drop '#tab?utm_x=1'
             'https://app.' || lower(source) || '.example.net/view'
               || CASE WHEN doc_id % 2 = 0
                       THEN '?id=' || CAST(doc_id % 5 AS VARCHAR)
                       ELSE '' END AS curl3,
             'www.' || lower(source) || '.example.com' AS host,
             lower(source) || '.example.com' AS parent
      FROM documents
    )
    SELECT doc_id, curl, curl2, curl3, host,
           (parent IN ('src1.example.com', 'src7.example.com')
            OR host = 'www.src4.example.com') AS is_blocked
    FROM c
"""


_ORACLE["dsir_select"] = f"""
    -- r6: full replay of the DSIR chain (functions/dsir.py) — md5
    -- bucket counts for target (src0/src1) and raw (all docs),
    -- Laplace-1 log probability ratio per bucket, per-doc summed log
    -- importance (rounded 6 dp), Gumbel top-60 on the md5 uniform
    WITH d AS (
      SELECT doc_id, lower(text) AS t, source FROM documents
    ), tok AS (
      SELECT doc_id, source, string_split_regex(trim(t), '\\s+') AS w
      FROM d WHERE t IS NOT NULL
    ), uni AS (
      SELECT doc_id, source, unnest(w) AS g FROM tok
    ), bi AS (
      SELECT doc_id, source,
             unnest(CASE WHEN len(w) >= 2
                         THEN [w[i] || ' ' || w[i+1]
                               for i in range(1, len(w))]
                         ELSE [array_to_string(w, ' ')] END) AS g
      FROM tok
    ), grams AS (
      SELECT doc_id, source, g FROM uni WHERE g <> ''
      UNION ALL
      SELECT doc_id, source, g FROM bi WHERE g <> ''
    ), bkt AS (
      SELECT doc_id, source, {_md5_bucket_sql('g', 42, 1024)} AS bucket
      FROM grams
    ), ct AS (
      SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM bkt
      WHERE source IN ('src0', 'src1') GROUP BY 1
    ), cr AS (
      SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM bkt GROUP BY 1
    ), tot AS (
      SELECT (SELECT COALESCE(SUM(c), 0) FROM ct) AS tt,
             (SELECT COALESCE(SUM(c), 0) FROM cr) AS tr
    ), lr AS (
      -- raw counts cover every target bucket (target ⊆ raw), so the
      -- engine's full-outer reduces to this left join
      SELECT cr.bucket,
             ln((COALESCE(ct.c, 0.0) + 1.0) / (tot.tt + 1024.0))
           - ln((cr.c + 1.0) / (tot.tr + 1024.0)) AS r
      FROM cr LEFT JOIN ct ON ct.bucket = cr.bucket, tot
    ), sc AS (
      SELECT b.doc_id, SUM(lr.r) AS lw
      FROM bkt b JOIN lr ON lr.bucket = b.bucket GROUP BY 1
    ), sc2 AS (
      SELECT d.doc_id,
             CASE WHEN d.t IS NULL THEN NULL
                  ELSE round(COALESCE(sc.lw, 0.0), 6) END AS lw_r
      FROM d LEFT JOIN sc USING (doc_id)
    ), keyed AS (
      SELECT doc_id, lw_r,
             lw_r - ln(-ln({_uh_sql(['doc_id'], 123)})) AS k
      FROM sc2 WHERE lw_r IS NOT NULL
    )
    SELECT doc_id, lw_r, round(k, 6) AS gkey_r
    FROM keyed ORDER BY k DESC, doc_id LIMIT 60
"""


# HTML synthesized per doc — identical template in both engines; the
# doc's own text sits inside <p>, boilerplate around it exercises nav
# drop, script/head stripping, entities, and the link-density filter.
_HTML_FIXTURE_SQL = """'<html><head><title>' || source || ' &amp; doc '
 || cast(doc_id as varchar)
 || '</title><style>p{color:red}</style></head><body>'
 || '<nav><a href="/' || source
 || '">Home</a> <a href="/about">About</a></nav>'
 || '<h1>' || upper(source) || ' ' || cast(doc_id as varchar) || '</h1>'
 || '<p>' || text || '</p>'
 || case when doc_id % 3 = 0
      then '<script>var x="<p>hidden</p>";</script>' else '' end
 || case when doc_id % 2 = 0 then '<div>Short note.</div>'
      else '<div>A sufficiently long plain division block with several words kept here.</div>' end
 || '<p>Press release &#8212; caf&#233; digest &#x4E2D;&#25991; '
 || '&#147;quoted&#148; &#38;lt; literal &amp;#65; and bad &#0;'
 || '&#12345678; refs kept verbatim in this block.</p>'
 || '<footer><a href="/terms">Terms</a> &copy; 2026</footer></body></html>'"""


def _q_html_extract(spark, sf_dir):
    # r8: HTML -> text extraction (functions/html.py — the
    # trafilatura/jusText niche, Pomikalek 2011 block/link-density
    # model). Pure Column regexp + HOF chain, zero shuffle: title,
    # full visible text, boilerplate-filtered main content, link
    # count. The oracle replays the SAME pattern constants through
    # DuckDB's RE2 (html.py emits the SQL from the constants
    # themselves, so engine and oracle cannot drift apart silently).
    import pandas_weights_spark.functions.html as H

    docs = _docs(spark, sf_dir)
    h = F.concat(
        F.lit("<html><head><title>"), F.col("source"),
        F.lit(" &amp; doc "), F.col("doc_id").cast("string"),
        F.lit("</title><style>p{color:red}</style></head><body>"),
        F.lit('<nav><a href="/'), F.col("source"),
        F.lit('">Home</a> <a href="/about">About</a></nav>'),
        F.lit("<h1>"), F.upper("source"), F.lit(" "),
        F.col("doc_id").cast("string"), F.lit("</h1>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('<script>var x="<p>hidden</p>";</script>'),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("<div>Short note.</div>")
        ).otherwise(
            F.lit(
                "<div>A sufficiently long plain division block "
                "with several words kept here.</div>"
            )
        ),
        # r10: numeric character references — decimal/hex/C1-remap
        # decode, escaped refs stay literal, invalid refs -> U+FFFD
        # or pass through; bit-exact in both engines
        F.lit(
            "<p>Press release &#8212; caf&#233; digest &#x4E2D;&#25991; "
            "&#147;quoted&#148; &#38;lt; literal &amp;#65; and bad &#0;"
            "&#12345678; refs kept verbatim in this block.</p>"
        ),
        F.lit(
            '<footer><a href="/terms">Terms</a> &copy; 2026'
            "</footer></body></html>"
        ),
    )
    # r12: the shared decoded-block frame — title/text/content/links
    # from ONE html_parts pass (strip+decode once per block, real
    # projection barrier); 'text' is the block-wise visible text
    return (
        H.html_extract(
            docs.select(F.col("doc_id"), h.alias("h")), "h", 5, 0.5
        )
        .select(
            "doc_id",
            "title",
            F.col("text").alias("visible"),
            "content",
            F.col("n_links").cast("long").alias("n_links"),
        )
    )


def _html_extract_sql() -> str:
    import pandas_weights_spark.functions.html as H

    return f"""
    WITH d AS (
      SELECT doc_id, ({_HTML_FIXTURE_SQL}) AS h FROM documents
    )
    SELECT doc_id,
      {H.extract_title_sql('h')} AS title,
      {H.html_visible_text_sql('h')} AS visible,
      {H.main_content_sql('h', 5, 0.5)} AS content,
      CAST(len({H.extract_links_sql('h')}) AS BIGINT) AS n_links
    FROM d
"""


_ORACLE["html_extract"] = _html_extract_sql()


def _q_warc_roundtrip(spark, sf_dir):
    # r8: WARC source/sink (sources/warc.py, ISO 28500 — the Common
    # Crawl container). Response records are built per doc with pure
    # Column algebra (deterministic urn:uuid record ids from
    # md5(uri|date)), packed into 8 member-gzip WARC files
    # (applyInPandas, byte-deterministic), then parsed BACK through
    # the mapInPandas reader. The oracle states the roundtrip
    # identity: parsed uri/id/text/byte-length must equal what the
    # documents table implies — any framing, Content-Length, gzip
    # member, or header bug breaks the match.
    from pandas_weights_spark.sources.warc import (
        from_warc_shards,
        to_warc_shards,
        warc_record,
    )

    docs = _docs(spark, sf_dir)
    uri = F.concat(
        F.lit("https://"), F.col("source"),
        F.lit(".example.org/doc/"), F.col("doc_id").cast("string"),
    )
    rec = warc_record(
        uri,
        F.lit("2026-01-01T00:00:00Z"),
        F.encode(F.col("text"), "UTF-8"),
        "response",
    )
    shards = to_warc_shards(
        docs.select(rec.alias("rec")), "rec", n_shards=8,
        gzip_records=True,
    )
    back = from_warc_shards(shards)
    return back.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        "record_id",
        F.decode("http_body", "UTF-8").alias("text"),
        F.length("http_body").cast("long").alias("n_bytes"),
    )


_ORACLE["warc_roundtrip"] = """
    WITH d AS (
      SELECT doc_id, text,
        'https://' || source || '.example.org/doc/'
          || CAST(doc_id AS VARCHAR) AS target_uri
      FROM documents
    ), h AS (
      SELECT *, md5(target_uri || '|' || '2026-01-01T00:00:00Z') AS hh
      FROM d
    )
    SELECT doc_id, target_uri,
      '<urn:uuid:' || substr(hh, 1, 8) || '-' || substr(hh, 9, 4)
        || '-' || substr(hh, 13, 4) || '-' || substr(hh, 17, 4)
        || '-' || substr(hh, 21, 12) || '>' AS record_id,
      text,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM h
"""


def _q_mink_prob(spark, sf_dir):
    # r13: Min-K% Prob pretraining-data detection (functions/text.py
    # mink_prob_score — Shi et al. 2023, over the engine's
    # interpolated trigram LM): per doc, the mean log-prob of its 20%
    # LEAST likely trigrams (k_used = max(ceil(0.2·n), 1)). Same
    # model tables as the lm3 rows (5000-cap vocab/bigram/trigram,
    # alpha 0.5, lambdas 0.6/0.3), docs < 50 scored; per-triple
    # values are bit-identical to trigram_lm_score by construction
    # (shared _trigram_logprob_rows). DuckDB replays the whole chain
    # closed-form: capped tables, the JM mixture, list(lp ORDER BY
    # lp) slice, the same left-fold sum.
    # r14: mkpp_score rows — Min-K%++ (Zhang et al. 2024): each
    # triple's log-prob z-normalized by its context's exact
    # mean/std under the mixture's next-token distribution (constant
    # + capped-table corrections; minkpp_prob_score), then the same
    # bottom-k mean. DuckDB replays the moment CTEs closed-form;
    # round-6 + 0.0 guards the sign of a zero score (the
    # punkt_abbrevs rule).
    from pandas_weights_spark.functions.text import (
        minkpp_prob_score,
        ngram_model_tables,
    )

    docs = _docs(spark, sf_dir)
    # r16: the three capped MODEL tables (vocab/bigram/trigram at
    # 5000) come from ONE fused corpus pass (guide §1.2/§2.4 — the
    # r15 shape still re-scanned + re-tokenized + re-exploded the
    # corpus once per order): text.ngram_model_tables tokenizes
    # once, explodes one combined gram array, aggregates once, and
    # cuts all three caps in one salted grouped top-k. Per-order row
    # sets are IDENTICAL to build_vocabulary / bigram_counts /
    # trigram_counts (pinned in tests/test_text.py); the r15 lazy
    # lineage cut now lives on the fused ≤15000-row result inside
    # the builder (minkpp consumes each table from several scoring
    # subtrees), so output is unchanged (oracle-gated).
    tabs = ngram_model_tables(
        docs, "text", {1: 5000, 2: 5000, 3: 5000}
    )
    lmvocab, bgt, tgt = tabs[1], tabs[2], tabs[3]
    scored = docs.where(F.col("doc_id") < 50)
    # include_mink=True fuses both statistics onto ONE document scan
    # (per-triple lp values feed both; bit-identical to the
    # standalone functions, pinned by tests)
    out = minkpp_prob_score(
        scored, "text", "doc_id",
        lmvocab, bgt, tgt, k=0.2, alpha=0.5,
        lambda3=0.6, lambda2=0.3, include_mink=True,
    )
    return out.select(
        "doc_id",
        "n_trigrams",
        "k_used",
        F.round("mink_logprob", 6).alias("mink_logprob"),
        F.round("mink_ppl", 6).alias("mink_ppl"),
        (F.round("mkpp_score", 6) + F.lit(0.0)).alias("mkpp_score"),
    )


_MINK_SQL = """
    WITH dt AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), lt2 AS (
      SELECT doc_id, unnest(w) AS term FROM dt
    ), lt3 AS (SELECT doc_id, term FROM lt2 WHERE term <> ''),
    vm AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS mass FROM lt3
      GROUP BY term HAVING COUNT(*) >= 1.0
      ORDER BY mass DESC, term LIMIT 5000
    ),
    tot AS (SELECT SUM(mass) AS W, COUNT(*) AS V FROM vm),
    bp AS (
      SELECT p.a AS w1, p.b AS w2 FROM (
        SELECT unnest(CASE WHEN len(w) >= 2
                      THEN [{'a': w[i], 'b': w[i+1]}
                            for i in range(1, len(w))]
                      ELSE [] END) AS p
        FROM dt
      )
    ),
    bgr AS (
      SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS mass FROM bp
      GROUP BY w1, w2
      ORDER BY mass DESC, w1, w2 LIMIT 5000
    ),
    mg AS (SELECT w1, SUM(mass) AS m1 FROM bgr GROUP BY w1),
    tp AS (
      SELECT p.a AS w1, p.b AS w2, p.c AS w3 FROM (
        SELECT unnest(CASE WHEN len(w) >= 3
                      THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                            for i in range(1, len(w) - 1)]
                      ELSE [] END) AS p
        FROM dt
      )
    ),
    tgr AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS DOUBLE) AS mass FROM tp
      GROUP BY w1, w2, w3
      ORDER BY mass DESC, w1, w2, w3 LIMIT 5000
    ),
    tmg AS (
      SELECT w1, w2, SUM(mass) AS m12 FROM tgr GROUP BY w1, w2
    ),
    dtrip AS (
      SELECT doc_id, p.a AS w1, p.b AS w2, p.c AS w3 FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 3
                      THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                            for i in range(1, len(w) - 1)]
                      ELSE [] END) AS p
        FROM dt WHERE doc_id < 50
      )
    ),
    sc3 AS (
      SELECT d.doc_id, d.w1, d.w2,
             ln(0.6 * COALESCE(tgr.mass / tmg.m12, 0.0)
                + 0.3 * COALESCE(bgr.mass / mg.m1, 0.0)
                + 0.1 * exp(
                    COALESCE(ln(vm.mass + 0.5), ln(0.5))
                    - ln(tot.W + 0.5 * (tot.V + 1)))) AS lp
      FROM dtrip d
      LEFT JOIN tgr ON d.w1 = tgr.w1 AND d.w2 = tgr.w2
                   AND d.w3 = tgr.w3
      LEFT JOIN tmg ON d.w1 = tmg.w1 AND d.w2 = tmg.w2
      LEFT JOIN bgr ON d.w2 = bgr.w1 AND d.w3 = bgr.w2
      LEFT JOIN mg ON d.w2 = mg.w1
      LEFT JOIN vm ON d.w3 = vm.term
      CROSS JOIN tot
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n, list(lp ORDER BY lp) AS ls
      FROM sc3 GROUP BY doc_id
    ),
    -- r14 Min-K%++ moment machinery: exact mu/sigma per context
    -- under the mixture's next-token distribution, as a pure-unigram
    -- CONSTANT plus per-stored-continuation corrections (mirrors
    -- minkpp_prob_score's decomposition term-for-term)
    lpt AS (
      SELECT term,
             ln(mass + 0.5) - ln(tot.W + 0.5 * (tot.V + 1)) AS lpv
      FROM vm CROSS JOIN tot
    ),
    ocon AS (SELECT ln(0.5) - ln(W + 0.5 * (V + 1)) AS oov FROM tot),
    uag AS (
      SELECT SUM(exp(lpv) * lpv) AS su1,
             SUM(exp(lpv) * lpv * lpv) AS su2
      FROM lpt
    ),
    kon AS (
      SELECT oov, u1, u2,
        (1.0 - 0.6 - 0.3) * (ln(1.0 - 0.6 - 0.3) + u1) AS c1,
        (1.0 - 0.6 - 0.3) * (ln(1.0 - 0.6 - 0.3) * ln(1.0 - 0.6 - 0.3)
          + 2.0 * ln(1.0 - 0.6 - 0.3) * u1 + u2) AS c2,
        ln(1.0 - 0.6 - 0.3) + u1 AS cmu,
        greatest(sqrt(greatest(u2 - u1 * u1, 0.0)), 1e-9) AS csd
      FROM (
        SELECT oov,
               su1 + exp(oov) * oov AS u1,
               su2 + exp(oov) * oov * oov AS u2
        FROM uag CROSS JOIN ocon
      )
    ),
    tts AS (
      SELECT t.w1, t.w2, t.w3, t.mass / m.m12 AS pt
      FROM tgr t JOIN tmg m ON t.w1 = m.w1 AND t.w2 = m.w2
    ),
    bts AS (
      SELECT b.w1 AS w2, b.w2 AS w3, b.mass / g.m1 AS pb
      FROM bgr b JOIN mg g ON b.w1 = g.w1
    ),
    ctxq AS (SELECT DISTINCT w1, w2 FROM tts),
    bca AS (
      SELECT c.w1, c.w2, b.w3, b.pb
      FROM ctxq c JOIN bts b ON b.w2 = c.w2
    ),
    uaq AS (
      SELECT u.w1, u.w2,
        0.6 * COALESCE(u.pt, 0.0) + 0.3 * COALESCE(u.pb, 0.0)
          + (1.0 - 0.6 - 0.3) * exp(COALESCE(l.lpv, k.oov)) AS q,
        (1.0 - 0.6 - 0.3) * exp(COALESCE(l.lpv, k.oov)) AS r
      FROM (
        SELECT COALESCE(t.w1, b.w1) AS w1, COALESCE(t.w2, b.w2) AS w2,
               COALESCE(t.w3, b.w3) AS w3, t.pt, b.pb
        FROM tts t FULL OUTER JOIN bca b
          ON t.w1 = b.w1 AND t.w2 = b.w2 AND t.w3 = b.w3
      ) u
      LEFT JOIN lpt l ON u.w3 = l.term
      CROSS JOIN kon k
    ),
    staf AS (
      SELECT w1, w2, mu, greatest(sqrt(greatest(v2, 0.0)), 1e-9) AS sd
      FROM (
        SELECT w1, w2,
          (k.c1 + d1) / ((1.0 - 0.6 - 0.3) + dm) AS mu,
          (k.c2 + d2) / ((1.0 - 0.6 - 0.3) + dm)
            - ((k.c1 + d1) / ((1.0 - 0.6 - 0.3) + dm))
              * ((k.c1 + d1) / ((1.0 - 0.6 - 0.3) + dm)) AS v2
        FROM (
          SELECT w1, w2, SUM(q - r) AS dm,
                 SUM(q * ln(q) - r * ln(r)) AS d1,
                 SUM(q * ln(q) * ln(q) - r * ln(r) * ln(r)) AS d2
          FROM uaq GROUP BY w1, w2
        ) CROSS JOIN kon k
      )
    ),
    ubq AS (
      SELECT b.w2,
        0.3 * b.pb
          + (1.0 - 0.6 - 0.3) * exp(COALESCE(l.lpv, k.oov)) AS q,
        (1.0 - 0.6 - 0.3) * exp(COALESCE(l.lpv, k.oov)) AS r
      FROM bts b
      LEFT JOIN lpt l ON b.w3 = l.term
      CROSS JOIN kon k
    ),
    stbf AS (
      SELECT w2, mu2, greatest(sqrt(greatest(v2, 0.0)), 1e-9) AS sd2
      FROM (
        SELECT w2,
          (k.c1 + d1) / ((1.0 - 0.6 - 0.3) + dm) AS mu2,
          (k.c2 + d2) / ((1.0 - 0.6 - 0.3) + dm)
            - ((k.c1 + d1) / ((1.0 - 0.6 - 0.3) + dm))
              * ((k.c1 + d1) / ((1.0 - 0.6 - 0.3) + dm)) AS v2
        FROM (
          SELECT w2, SUM(q - r) AS dm,
                 SUM(q * ln(q) - r * ln(r)) AS d1,
                 SUM(q * ln(q) * ln(q) - r * ln(r) * ln(r)) AS d2
          FROM ubq GROUP BY w2
        ) CROSS JOIN kon k
      )
    ),
    scn AS (
      SELECT s3.doc_id,
        (s3.lp - COALESCE(a.mu, b.mu2, k.cmu))
          / COALESCE(a.sd, b.sd2, k.csd) AS s
      FROM sc3 s3
      LEFT JOIN staf a ON s3.w1 = a.w1 AND s3.w2 = a.w2
      LEFT JOIN stbf b ON s3.w2 = b.w2
      CROSS JOIN kon k
    ),
    aggp AS (
      SELECT doc_id, list(s ORDER BY s) AS ss
      FROM scn GROUP BY doc_id
    )
    SELECT a.doc_id,
      CAST(n AS BIGINT) AS n_trigrams,
      CAST(greatest(CAST(ceil(0.2 * n) AS INT), 1) AS BIGINT)
        AS k_used,
      round(
        list_reduce(ls[1:greatest(CAST(ceil(0.2 * n) AS INT), 1)],
                    (a, b) -> a + b)
        / CAST(greatest(CAST(ceil(0.2 * n) AS INT), 1) AS DOUBLE),
        6) AS mink_logprob,
      round(exp(
        -(list_reduce(ls[1:greatest(CAST(ceil(0.2 * n) AS INT), 1)],
                      (a, b) -> a + b)
          / CAST(greatest(CAST(ceil(0.2 * n) AS INT), 1) AS DOUBLE))
      ), 6) AS mink_ppl,
      round(
        list_reduce(ss[1:greatest(CAST(ceil(0.2 * n) AS INT), 1)],
                    (a, b) -> a + b)
        / CAST(greatest(CAST(ceil(0.2 * n) AS INT), 1) AS DOUBLE),
        6) + 0.0 AS mkpp_score
    FROM agg a JOIN aggp p ON a.doc_id = p.doc_id
"""

_ORACLE["mink_prob"] = _MINK_SQL


def _q_wet_roundtrip(spark, sf_dir):
    # r13: WET container (sources/warc.py — Common Crawl's extracted-
    # text sibling: WARC `conversion` records with text/plain blocks
    # and a WARC-Refers-To header naming the source response record).
    # Conversion records are built per doc (refers_to = the urn:uuid
    # the source response WOULD have — a DIFFERENT date, so the two
    # ids provably differ), packed into 8 member-gzip shards, parsed
    # back; the oracle states the roundtrip identity including the
    # refers-to linkage and the text/plain content type.
    from pandas_weights_spark.sources.warc import (
        from_warc_shards,
        to_warc_shards,
        warc_record,
    )

    docs = _docs(spark, sf_dir)
    uri = F.concat(
        F.lit("https://"), F.col("source"),
        F.lit(".example.org/doc/"), F.col("doc_id").cast("string"),
    )
    src_h = F.md5(F.concat(uri, F.lit("|2026-01-01T00:00:00Z")))
    refers = F.concat(
        F.lit("<urn:uuid:"),
        F.substring(src_h, 1, 8), F.lit("-"),
        F.substring(src_h, 9, 4), F.lit("-"),
        F.substring(src_h, 13, 4), F.lit("-"),
        F.substring(src_h, 17, 4), F.lit("-"),
        F.substring(src_h, 21, 12),
        F.lit(">"),
    )
    rec = warc_record(
        uri,
        F.lit("2026-01-02T00:00:00Z"),
        F.encode(F.col("text"), "UTF-8"),
        "conversion",
        "text/plain",
        refers_to=refers,
    )
    shards = to_warc_shards(
        docs.select(rec.alias("rec")), "rec", n_shards=8,
        gzip_records=True,
    )
    back = from_warc_shards(shards)
    return back.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        "record_id",
        "refers_to",
        "content_type",
        F.decode("block", "UTF-8").alias("text"),
        F.length("block").cast("long").alias("n_bytes"),
    )


_ORACLE["wet_roundtrip"] = """
    WITH d AS (
      SELECT doc_id, text,
        'https://' || source || '.example.org/doc/'
          || CAST(doc_id AS VARCHAR) AS target_uri
      FROM documents
    ), h AS (
      SELECT *,
        md5(target_uri || '|' || '2026-01-02T00:00:00Z') AS hh,
        md5(target_uri || '|' || '2026-01-01T00:00:00Z') AS hs
      FROM d
    )
    SELECT doc_id, target_uri,
      '<urn:uuid:' || substr(hh, 1, 8) || '-' || substr(hh, 9, 4)
        || '-' || substr(hh, 13, 4) || '-' || substr(hh, 17, 4)
        || '-' || substr(hh, 21, 12) || '>' AS record_id,
      '<urn:uuid:' || substr(hs, 1, 8) || '-' || substr(hs, 9, 4)
        || '-' || substr(hs, 13, 4) || '-' || substr(hs, 17, 4)
        || '-' || substr(hs, 21, 12) || '>' AS refers_to,
      'text/plain' AS content_type,
      text,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM h
"""


def _q_wat_roundtrip(spark, sf_dir):
    # r14 (VERDICT r13 missing #1): WAT metadata records (sources/
    # warc.py wat_record / parse_wat_records — the third Common Crawl
    # format: WARC `metadata` records carrying the envelope JSON with
    # title + outlink table, so link-graph pipelines never re-parse
    # response HTML). Per doc: a page with an entity-encoded title,
    # an absolute anchor (entity + text), and a relative anchor whose
    # text exercises the label flatten ('home\npage' -> 'home page');
    # WAT records built with WARC-Refers-To naming the urn the source
    # response WOULD have (different date -> ids provably differ),
    # packed into 8 member-gzip shards, parsed back, envelopes
    # decoded column-level. The oracle states the whole chain's
    # expected values in CLOSED FORM (html build -> extract -> JSON
    # -> WARC -> gzip -> parse -> from_json).
    from pandas_weights_spark.sources.warc import (
        from_warc_shards,
        parse_wat_records,
        to_warc_shards,
        wat_record,
    )

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    uri = F.concat(
        F.lit("https://"), F.col("source"),
        F.lit(".example.org/doc/"), did,
    )
    html = F.concat(
        F.lit("<html><head><title>Doc &amp; "), did,
        F.lit('</title></head><body><a href="https://src'),
        ((F.col("doc_id") + 3) % 20).cast("string"),
        F.lit(".example.com/p"), did,
        F.lit('">Read &amp; more '),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('</a><a href="/rel'), did,
        F.lit('">home\npage</a></body></html>'),
    )
    src_h = F.md5(F.concat(uri, F.lit("|2026-01-01T00:00:00Z")))
    refers = F.concat(
        F.lit("<urn:uuid:"),
        F.substring(src_h, 1, 8), F.lit("-"),
        F.substring(src_h, 9, 4), F.lit("-"),
        F.substring(src_h, 13, 4), F.lit("-"),
        F.substring(src_h, 17, 4), F.lit("-"),
        F.substring(src_h, 21, 12),
        F.lit(">"),
    )
    rec = wat_record(
        uri, F.lit("2026-01-02T00:00:00Z"), html, refers_to=refers
    )
    shards = to_warc_shards(
        docs.select(rec.alias("rec")), "rec", n_shards=8,
        gzip_records=True,
    )
    out = parse_wat_records(from_warc_shards(shards))
    link1 = F.element_at(F.col("links"), 1)
    link2 = F.element_at(F.col("links"), 2)
    return out.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        "record_id",
        "refers_to",
        "env_uri",
        "title",
        F.size("links").cast("long").alias("n_links"),
        link1["path"].alias("path1"),
        link1["url"].alias("url1"),
        link1["text"].alias("text1"),
        link2["url"].alias("url2"),
        link2["text"].alias("text2"),
    )


_ORACLE["wat_roundtrip"] = """
    WITH d AS (
      SELECT doc_id,
        'https://' || source || '.example.org/doc/'
          || CAST(doc_id AS VARCHAR) AS target_uri
      FROM documents
    ), h AS (
      SELECT *,
        md5(target_uri || '|' || '2026-01-02T00:00:00Z') AS hh,
        md5(target_uri || '|' || '2026-01-01T00:00:00Z') AS hs
      FROM d
    )
    SELECT doc_id, target_uri,
      '<urn:uuid:' || substr(hh, 1, 8) || '-' || substr(hh, 9, 4)
        || '-' || substr(hh, 13, 4) || '-' || substr(hh, 17, 4)
        || '-' || substr(hh, 21, 12) || '>' AS record_id,
      '<urn:uuid:' || substr(hs, 1, 8) || '-' || substr(hs, 9, 4)
        || '-' || substr(hs, 13, 4) || '-' || substr(hs, 17, 4)
        || '-' || substr(hs, 21, 12) || '>' AS refers_to,
      target_uri AS env_uri,
      'Doc & ' || CAST(doc_id AS VARCHAR) AS title,
      CAST(2 AS BIGINT) AS n_links,
      'A@/href' AS path1,
      'https://src' || CAST((doc_id + 3) % 20 AS VARCHAR)
        || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url1,
      'Read & more ' || CAST(doc_id % 7 AS VARCHAR) AS text1,
      '/rel' || CAST(doc_id AS VARCHAR) AS url2,
      'home page' AS text2
    FROM h
"""


def _q_meta_robots(spark, sf_dir):
    # r14: page-level robots directives (functions/html.py
    # meta_robots — the per-PAGE politeness gate next to robots.txt;
    # compliant pipelines drop noindex pages at hygiene time).
    # Fixture by doc_id%5: forward-order 'noindex, nofollow', a
    # REVERSED-attribute upper-case 'NOINDEX', 'none' (implies BOTH
    # noindex and nofollow), TWO metas (noarchive + nosnippet), and
    # no meta at all; headers by %3: an X-Robots-Tag nofollow, a
    # bot-SCOPED token that must NOT flag (conservative: 'somebot:
    # noindex' is not a directive), and NULL. The oracle rebuilds
    # the same fixture strings and replays via the emitted
    # meta_robots_sql twin.
    from pandas_weights_spark.functions.html import meta_robots

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    meta = (
        F.when(did % 5 == 0, F.lit(
            '<meta name="robots" content="noindex, nofollow">'))
        .when(did % 5 == 1, F.lit(
            '<meta content="NOINDEX" name="robots">'))
        .when(did % 5 == 2, F.lit(
            '<meta name="robots" content="none">'))
        .when(did % 5 == 3, F.lit(
            '<meta name="robots" content="noarchive">'
            '<meta name="robots" content="nosnippet">'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"), meta,
        F.lit("</head><body>p "), did.cast("string"),
        F.lit("</body></html>"),
    )
    hdrs = (
        F.when(did % 3 == 0, F.lit(
            "HTTP/1.1 200 OK\r\nX-Robots-Tag: nofollow\r\n"
            "Content-Type: text/html\r\n"))
        .when(did % 3 == 1, F.lit(
            "HTTP/1.1 200 OK\r\nX-Robots-Tag: somebot: noindex\r\n"))
        .otherwise(F.lit(None).cast("string"))
    )
    cols = meta_robots(html, hdrs)
    return docs.select(
        "doc_id", *[c.alias(k) for k, c in cols.items()]
    )


def _meta_robots_sql() -> str:
    from pandas_weights_spark.functions.html import meta_robots_sql

    crlf = "chr(13) || chr(10)"
    sqls = meta_robots_sql("h", "hd")
    sel = ",\n      ".join(
        f"{v} AS {k}" for k, v in sqls.items()
    )
    return f"""
    WITH page AS (
      SELECT doc_id,
        '<html><head>' || CASE doc_id % 5
          WHEN 0 THEN '<meta name="robots" content="noindex, nofollow">'
          WHEN 1 THEN '<meta content="NOINDEX" name="robots">'
          WHEN 2 THEN '<meta name="robots" content="none">'
          WHEN 3 THEN '<meta name="robots" content="noarchive">'
               || '<meta name="robots" content="nosnippet">'
          ELSE '' END
        || '</head><body>p ' || CAST(doc_id AS VARCHAR)
        || '</body></html>' AS h,
        CASE doc_id % 3
          WHEN 0 THEN 'HTTP/1.1 200 OK' || {crlf}
               || 'X-Robots-Tag: nofollow' || {crlf}
               || 'Content-Type: text/html' || {crlf}
          WHEN 1 THEN 'HTTP/1.1 200 OK' || {crlf}
               || 'X-Robots-Tag: somebot: noindex' || {crlf}
          ELSE NULL END AS hd
      FROM documents
    )
    SELECT doc_id,
      {sel}
    FROM page
"""


_ORACLE["meta_robots"] = _meta_robots_sql()


def _q_unimax_alloc(spark, sf_dir):
    # r14: UniMax budget allocation (sample.py unimax_rates — Chung
    # et al. 2023: epoch-capped uniform water-filling over language/
    # source masses, the multilingual mixing algorithm that replaces
    # temperature sampling's alpha knob). Fixture: sources src0..src9
    # collapse into one 'big' group (~half the token mass) so the
    # allocation exercises BOTH branches — the ten small groups cap
    # at max_epochs=1.5 of their supply, 'big' splits the remaining
    # budget. Masses are exact integer-valued doubles, so the
    # capped-prefix comparisons are bit-identical across engines; the
    # oracle replays the two window passes closed-form over the
    # 11-row group table (window-over-aggregate, the classifier_eval
    # discipline).
    from pandas_weights_spark.functions.text import token_count
    from pandas_weights_spark.sample import unimax_rates

    docs = _docs(spark, sf_dir)
    grouped = docs.select(
        F.when(
            F.col("source").isin(*[f"src{i}" for i in range(10)]),
            F.lit("big"),
        ).otherwise(F.col("source")).alias("g"),
        token_count(F.col("text")).cast("double").alias("tok"),
    )
    out = unimax_rates(
        grouped, "g", budget=30000.0, weight=F.col("tok"),
        max_epochs=1.5,
    )
    return out.select(
        F.col("group"),
        F.col("mass"),
        F.col("cap"),
        F.col("capped"),
        F.round("alloc", 6).alias("alloc"),
        F.round("epochs", 6).alias("epochs"),
        F.round("p_alloc", 6).alias("p_alloc"),
    )


_ORACLE["unimax_alloc"] = """
    WITH toks AS (
      SELECT
        CASE WHEN source IN ('src0','src1','src2','src3','src4',
                             'src5','src6','src7','src8','src9')
             THEN 'big' ELSE source END AS g,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+'))
        END AS DOUBLE) AS tok
      FROM documents
    ), masses AS (
      SELECT g AS "group", SUM(
        CASE WHEN tok IS NOT NULL AND tok > 0 THEN tok ELSE 0.0 END
      ) AS mass
      FROM toks GROUP BY g
    ), m2 AS (
      SELECT "group", mass, mass * 1.5 AS cap
      FROM masses WHERE mass > 0
    ), staged AS (
      SELECT "group", mass, cap,
        cap <= (30000.0 - COALESCE(SUM(cap) OVER (
                  ORDER BY cap ASC, "group"
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0.0))
               / CAST(COUNT(*) OVER ()
                      - ROW_NUMBER() OVER (ORDER BY cap ASC, "group")
                      + 1 AS DOUBLE) AS capped
      FROM m2
    ), alloced AS (
      SELECT "group", mass, cap, capped,
        CASE WHEN capped THEN cap
          ELSE (30000.0 - COALESCE(SUM(CASE WHEN capped THEN cap END)
                                   OVER (), 0.0))
               / CAST(COUNT(*) OVER ()
                      - SUM(CASE WHEN capped THEN 1 ELSE 0 END)
                        OVER () AS DOUBLE)
        END AS alloc
      FROM staged
    )
    SELECT "group", mass, cap, capped,
      round(alloc, 6) AS alloc,
      round(alloc / mass, 6) AS epochs,
      round(alloc / SUM(alloc) OVER (), 6) AS p_alloc
    FROM alloced
"""


def _q_cdx_index(spark, sf_dir):
    # r14: web-archive URL-index surface (functions/cdx.py — SURT
    # keys + CDXJ line parsing, the Common Crawl INDEX next to the
    # WARC/WET/WAT containers: selection pipelines filter the index,
    # then fetch only the matching (filename, offset, length) ranges).
    # Per doc: a CDXJ line whose KEY is the engine's surt_key over a
    # mixed-case url with userinfo-free authority, leading www.,
    # default :443 port, unsorted query, and a fragment — the oracle
    # states the canonical key CLOSED-FORM (lowercase, www/port
    # stripped, host reversed comma-joined, query sorted, fragment
    # dropped). Every 7th doc is a corrupt line that must parse to a
    # NULL struct (a 100 TB index scan never throws). Row-local regex
    # + get_json_object; zero shuffle.
    from pandas_weights_spark.functions.cdx import (
        cdxj_entries,
        surt_key,
    )

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ds = did.cast("string")
    url = F.concat(
        F.lit("HTTPS://WWW.News.Example"),
        (did % 20).cast("string"),
        F.lit(".COM:443/Path"), ds,
        F.lit("/Item?b=2&a="),
        (did % 7).cast("string"),
        F.lit("#Frag"),
    )
    ts = F.concat(
        F.lit("2024"),
        F.lpad(((did % 12) + 1).cast("string"), 2, "0"),
        F.lpad(((did % 28) + 1).cast("string"), 2, "0"),
        F.lit("10"),
        F.lpad((did % 60).cast("string"), 2, "0"),
        F.lit("00"),
    )
    js = F.concat(
        F.lit('{"url": "'), url,
        F.lit('", "mime": "text/html", "status": "200", '
              '"digest": "sha1:'),
        F.substring(F.md5(ds), 1, 16),
        F.lit('", "length": "'),
        ((did % 1000) + 100).cast("string"),
        F.lit('", "offset": "'),
        (did * 7).cast("string"),
        F.lit('", "filename": "crawl-'),
        (did % 8).cast("string"),
        F.lit('.warc.gz"}'),
    )
    line = F.when(
        did % 7 == 3, F.concat(F.lit("corrupt line "), ds)
    ).otherwise(
        F.concat(surt_key(url), F.lit(" "), ts, F.lit(" "), js)
    )
    e = F.col("e")
    return docs.select(
        "doc_id", cdxj_entries(line).alias("e")
    ).select(
        "doc_id",
        e["key"].alias("key"),
        e["ts_raw"].alias("ts_raw"),
        e["ts"].alias("ts"),
        e["url"].alias("url"),
        e["mime"].alias("mime"),
        e["status"].alias("status"),
        e["digest"].alias("digest"),
        e["length"].alias("length"),
        e["offset"].alias("offset"),
        e["filename"].alias("filename"),
    )


_ORACLE["cdx_index"] = """
    SELECT doc_id,
      CASE WHEN doc_id % 7 = 3 THEN NULL
        ELSE 'com,example' || CAST(doc_id % 20 AS VARCHAR)
          || ',news)/path' || CAST(doc_id AS VARCHAR)
          || '/item?a=' || CAST(doc_id % 7 AS VARCHAR) || '&b=2'
      END AS key,
      CASE WHEN doc_id % 7 = 3 THEN NULL
        ELSE '2024' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
          || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
          || '10' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || '00'
      END AS ts_raw,
      CASE WHEN doc_id % 7 = 3 THEN NULL
        ELSE make_timestamp(
          2024, CAST(doc_id % 12 + 1 AS INT),
          CAST(doc_id % 28 + 1 AS INT), 10,
          CAST(doc_id % 60 AS INT), 0)
      END AS ts,
      CASE WHEN doc_id % 7 = 3 THEN NULL
        ELSE 'HTTPS://WWW.News.Example' || CAST(doc_id % 20 AS VARCHAR)
          || '.COM:443/Path' || CAST(doc_id AS VARCHAR)
          || '/Item?b=2&a=' || CAST(doc_id % 7 AS VARCHAR) || '#Frag'
      END AS url,
      CASE WHEN doc_id % 7 = 3 THEN NULL ELSE 'text/html' END AS mime,
      CASE WHEN doc_id % 7 = 3 THEN NULL ELSE 200 END AS status,
      CASE WHEN doc_id % 7 = 3 THEN NULL
        ELSE 'sha1:' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16)
      END AS digest,
      CASE WHEN doc_id % 7 = 3 THEN NULL
        ELSE CAST(doc_id % 1000 + 100 AS BIGINT) END AS length,
      CASE WHEN doc_id % 7 = 3 THEN NULL
        ELSE CAST(doc_id * 7 AS BIGINT) END AS offset,
      CASE WHEN doc_id % 7 = 3 THEN NULL
        ELSE 'crawl-' || CAST(doc_id % 8 AS VARCHAR) || '.warc.gz'
      END AS filename
    FROM documents
"""


def _q_sentences(spark, sf_dir):
    # r8: rule-based sentence splitting (functions/text.py
    # split_sentences — abbreviation/initial protection via sentinel
    # replace, split at [.!?]+ + whitespace, RE2-portable so the
    # oracle replays the identical chain). Per doc: sentence count,
    # first/last sentence, mean sentence length.
    from pandas_weights_spark.functions.text import split_sentences

    docs = _docs(spark, sf_dir)
    s = split_sentences(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(s).cast("long").alias("n_sent"),
        F.element_at(s, 1).alias("first_sent"),
        F.element_at(s, -1).alias("last_sent"),
        F.round(
            F.try_divide(
                F.aggregate(
                    s, F.lit(0), lambda acc, x: acc + F.length(x)
                ).cast("double"),
                F.size(s).cast("double"),
            ),
            6,
        ).alias("mean_len"),
    )


def _sentences_sql() -> str:
    from pandas_weights_spark.functions.text import split_sentences_sql

    s = split_sentences_sql("text")
    return f"""
    WITH d AS (SELECT doc_id, {s} AS s FROM documents)
    SELECT doc_id,
      CAST(len(s) AS BIGINT) AS n_sent,
      s[1] AS first_sent,
      s[-1] AS last_sent,
      round(
        CAST(coalesce(list_sum(list_transform(s, x -> length(x))), 0)
             AS DOUBLE)
        / nullif(CAST(len(s) AS DOUBLE), 0.0),
        6
      ) AS mean_len
    FROM d
"""


_ORACLE["sentences"] = _sentences_sql()


def _q_code_detect(spark, sf_dir):
    # r8: code-vs-prose detection (functions/quality.py code_metrics /
    # code_score — replace/regexp arithmetic, the Gopher-panel
    # discipline). Fixture: every doc gets a deterministic code
    # appendix by doc_id % 3 (none / appended / code-only), so the
    # panel sees prose, mixed, and pure-code rows. The oracle replays
    # the identical arithmetic chain in DuckDB.
    from pandas_weights_spark.functions.quality import (
        code_metrics,
        code_score,
    )

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    code = F.concat(
        F.lit("def f"), did, F.lit("(x):\n    return x + "),
        did, F.lit(";\nimport os\nconst z = {1};\n"),
        F.lit("if (x == y) {\n    printf(\"q\");\n}"),
    )
    variant = F.col("doc_id") % 3
    t = (
        F.when(variant == 0, F.col("text"))
        .when(variant == 1, F.concat(F.col("text"), F.lit("\n"), code))
        .otherwise(code)
    )
    staged = docs.select("doc_id", t.alias("t"))
    m = code_metrics(F.col("t"))
    return staged.select(
        "doc_id",
        *[v.alias(k) for k, v in m.items()],
        code_score(F.col("t")).alias("code_score"),
    )


def _code_sql_parts(t: str = "t") -> "tuple[dict, dict]":
    """The code_metrics/code_score DuckDB replay expressions over
    column ``t`` — shared by the code_detect and datasheet oracles."""
    from pandas_weights_spark.functions.quality import CODE_KEYWORDS

    kws = ", ".join("'" + k.replace("'", "''") + "'" for k in CODE_KEYWORDS)
    frac = {
        "brace": (
            "CAST(len(list_filter(str_split(t, chr(10)), "
            "l -> regexp_matches(rtrim(l), '[{};]$'))) AS DOUBLE)"
            " / nullif(CAST(len(str_split(t, chr(10))) AS DOUBLE), 0.0)"
        ),
        "indent": (
            "CAST(len(list_filter(str_split(t, chr(10)), "
            "l -> regexp_matches(l, '^(\\t|  )'))) AS DOUBLE)"
            " / nullif(CAST(len(str_split(t, chr(10))) AS DOUBLE), 0.0)"
        ),
        "kw": (
            f"CAST(len(list_filter(str_split_regex(trim(t), '\\s+'), "
            f"w -> w IN ({kws}))) AS DOUBLE)"
            " / nullif(CASE WHEN length(trim(t)) = 0 THEN 0.0 ELSE "
            "CAST(len(str_split_regex(trim(t), '\\s+')) AS DOUBLE) END,"
            " 0.0)"
        ),
        "sym": (
            "CAST(length(regexp_replace(t, '[ \\t\\n\\r\\f]+', '', 'g'))"
            " - length(regexp_replace(regexp_replace(t, "
            "'[ \\t\\n\\r\\f]+', '', 'g'), '[{}();=<>]', '', 'g'))"
            " AS DOUBLE) / nullif(CAST(length(regexp_replace(t, "
            "'[ \\t\\n\\r\\f]+', '', 'g')) AS DOUBLE), 0.0)"
        ),
    }
    if t != "t":
        frac = {
            k: v.replace("(t,", f"({t},").replace("(t)", f"({t})")
            for k, v in frac.items()
        }
    sat = {
        k: f"least(1.0, coalesce(round({v}, 6), 0.0) * 4.0)"
        for k, v in frac.items()
    }
    return frac, sat


def _code_detect_sql() -> str:
    frac, sat = _code_sql_parts("t")
    return f"""
    WITH d AS (
      SELECT doc_id,
        CASE doc_id % 3
          WHEN 0 THEN text
          WHEN 1 THEN text || chr(10) || 'def f' ||
            CAST(doc_id AS VARCHAR) || '(x):' || chr(10) ||
            '    return x + ' || CAST(doc_id AS VARCHAR) || ';' ||
            chr(10) || 'import os' || chr(10) || 'const z = {{1}};' ||
            chr(10) || 'if (x == y) {{' || chr(10) ||
            '    printf("q");' || chr(10) || '}}'
          ELSE 'def f' ||
            CAST(doc_id AS VARCHAR) || '(x):' || chr(10) ||
            '    return x + ' || CAST(doc_id AS VARCHAR) || ';' ||
            chr(10) || 'import os' || chr(10) || 'const z = {{1}};' ||
            chr(10) || 'if (x == y) {{' || chr(10) ||
            '    printf("q");' || chr(10) || '}}'
        END AS t
      FROM documents
    )
    SELECT doc_id,
      round({frac['brace']}, 6) AS brace_line_frac,
      round({frac['indent']}, 6) AS indent_line_frac,
      round({frac['kw']}, 6) AS keyword_frac,
      round({frac['sym']}, 6) AS symbol_frac,
      CASE WHEN t IS NULL THEN NULL ELSE
        round(({sat['brace']} + {sat['indent']} + {sat['kw']}
               + {sat['sym']}) / 4.0, 6)
      END AS code_score
    FROM d
"""


_ORACLE["code_detect"] = _code_detect_sql()


def _q_link_graph(spark, sf_dir):
    # r8: host-level link graph from crawled HTML (functions/html.py
    # link_graph — the edge table pagerank consumes for domain
    # authority). Each doc's page links to one absolute host
    # (src{(doc_id+7) % 20}.example.com — the source value space)
    # plus one relative link (a SELF edge by contract); the +7
    # offset breaks the source/doc_id%20 correlation in the testdata
    # so the graph has real cross-host edges. The oracle
    # derives the same edge weights in closed form.
    from pandas_weights_spark.functions.html import link_graph

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<p>intro</p><a href="https://SRC'),
        ((F.col("doc_id") + 7) % 20).cast("string"),
        F.lit('.Example.com/p">out</a> <a href="/rel">self</a>'),
    )
    pages = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        html.alias("html"),
    )
    return link_graph(pages, "html", "host")


_ORACLE["link_graph"] = """
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS weight FROM (
      SELECT source || '.example.com' AS src,
             'src' || CAST((doc_id + 7) % 20 AS VARCHAR)
               || '.example.com' AS dst
      FROM documents
      UNION ALL
      SELECT source || '.example.com', source || '.example.com'
      FROM documents
    ) GROUP BY src, dst
"""


def _q_pdf_extract(spark, sf_dir):
    # r8: PDF text layer (pure-stdlib _codecs.encode_pdf /
    # pdf_to_text — FlateDecode streams + Tj/TJ/' operator replay,
    # the documents-modality sibling of the JPEG/PNG/WAV codecs).
    # Each doc becomes a real compressed one-page PDF in mapInPandas,
    # then the extraction surface parses the text layer back; the
    # oracle states the roundtrip identity. Foreign-operator shapes
    # (TJ kerning arrays, ', octal escapes) and the crash-free fuzz
    # contract are pytest-pinned. r11: every third doc is written by
    # encode_pdf_objstm instead — a PDF 1.5 file whose page/font/
    # catalog dictionaries live in a /Type /ObjStm object stream with
    # a real cross-reference STREAM (the post-2005 writer layout the
    # r10 reader silently extracted nothing from), so ObjStm support
    # sits inside the hard roundtrip signal.
    from pandas_weights_spark.functions import _codecs
    from pandas_weights_spark.functions.multimodal import (
        pdf_extract_text,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        (
                            _codecs.encode_pdf_objstm
                            if i % 3 == 0
                            else _codecs.encode_pdf
                        )([t if t is not None else ""])
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    built = docs.mapInPandas(build, "doc_id long, payload binary")
    return pdf_extract_text(built, "payload", out_col="text").select(
        "doc_id", "text"
    )


_ORACLE["pdf_extract"] = """
    SELECT doc_id, coalesce(text, '') AS text FROM documents
"""


def _q_datasheet(spark, sf_dir):
    # r8: corpus datasheet (functions/datasheet.py — the Datasheets-
    # for-Datasets / Dolma release-table rollup): per source, doc and
    # token volumes, exact unit-weight length quantiles, quality/code
    # score means, and the exact-duplicate fraction. Pure composition
    # of already-oracled kernels; the oracle replays each from its
    # established SQL shape (quality/fingerprint from text_metrics,
    # code score from code_detect, inverted-CDF quantiles from
    # group_quantile).
    from pandas_weights_spark.functions.datasheet import corpus_datasheet

    docs = _docs(spark, sf_dir)
    return corpus_datasheet(docs, "text", ["source"])


def _datasheet_sql() -> str:
    frac, sat = _code_sql_parts("t")
    stop = _occ_sum("p", ("the", "a", "and", "of", "to"))
    quality = f"""CASE WHEN nt = 0 THEN 0.0 ELSE
        round(0.5 * greatest(0.0,
                1.0 - abs((n_chars - n_spaces) / CAST(nt AS DOUBLE)
                          - 6.5) / 6.5)
              + 0.5 * least(1.0, ({stop}) * 10.0
                                 / CAST(nt AS DOUBLE)), 6) END"""
    code = (
        f"CASE WHEN t IS NULL THEN NULL ELSE round(({sat['brace']} + "
        f"{sat['indent']} + {sat['kw']} + {sat['sym']}) / 4.0, 6) END"
    )
    return f"""
    WITH t0 AS (
      SELECT source, text AS t,
        ' ' || lower(text) || ' ' AS p,
        lower(text) AS lt,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS nt,
        coalesce(length(text), 0) AS nc,
        (text IS NULL OR length(trim(text)) = 0) AS emp,
        md5(array_to_string(list_sort(list_distinct(
            string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS fp
      FROM documents
    ), t1 AS (
      SELECT *, length(lt) AS n_chars,
             length(lt) - length(replace(lt, ' ', '')) AS n_spaces
      FROM t0
    ), per AS (
      SELECT source, nt, nc, emp, fp,
             {quality} AS q,
             {code} AS c
      FROM t1
    ), stats AS (
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN emp THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        CAST(SUM(nc) AS BIGINT) AS total_chars,
        CAST(SUM(nt) AS BIGINT) AS total_tokens,
        round(AVG(CAST(nt AS DOUBLE)), 6) AS mean_tokens,
        round(AVG(q), 6) AS mean_quality,
        round(AVG(c), 6) AS mean_code
      FROM per GROUP BY source
    ), fpc AS (
      SELECT source, fp, COUNT(*) AS n FROM per GROUP BY source, fp
    ), dup AS (
      SELECT source,
        round(SUM(CASE WHEN n > 1 THEN CAST(n AS DOUBLE)
                       ELSE 0.0 END)
              / nullif(SUM(CAST(n AS DOUBLE)), 0.0), 6) AS dup_frac
      FROM fpc GROUP BY source
    ), cq AS (
      SELECT source, CAST(nt AS DOUBLE) AS x,
        SUM(1.0) OVER (PARTITION BY source ORDER BY CAST(nt AS DOUBLE)
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cw,
        SUM(1.0) OVER (PARTITION BY source) AS tw
      FROM per
    ), qq AS (
      SELECT source,
        MIN(CASE WHEN cw >= 0.5 * tw THEN x END) AS p50_tokens,
        MIN(CASE WHEN cw >= 0.9 * tw THEN x END) AS p90_tokens
      FROM cq GROUP BY source
    )
    SELECT stats.*, dup.dup_frac, qq.p50_tokens, qq.p90_tokens
    FROM stats JOIN dup USING (source) JOIN qq USING (source)
"""


_ORACLE["datasheet"] = _datasheet_sql()


def _q_robots_filter(spark, sf_dir):
    # r8 (extended r10): robots.txt crawl-permission gate
    # (functions/robots.py, RFC 9309). One robots.txt per source-host —
    # all carry a '*' group (Disallow /private/ + Allow /private/ok/ +
    # Disallow /*.pdf$ + the r10 additions: a competing anchored/plain
    # pair Allow /t$ vs Disallow /t, and a percent-escaped rule
    # Disallow /caf%C3%A9/); hosts whose source ends in an even digit
    # ALSO carry a 'databot' group (Disallow /beta/). Crawling as
    # 'databot', RFC group selection means: on databot-group hosts ONLY
    # that group applies (exact overrides '*': everything except /beta/
    # allowed); elsewhere the '*' group rules decide — longest-match
    # Allow rescues /private/ok/, the anchored Allow /t$ (3 octets)
    # beats Disallow /t (2) on the exact path /t, the unanchored
    # Disallow /t blocks /tq…, and the escaped rule blocks the raw
    # /café/ paths (RFC 9309 §2.2.2 normalization). The oracle states
    # that decision in CLOSED FORM (an independent spec of the same
    # RFC rules); the parse mechanics (group windows, LIKE translation,
    # tie rules) are pytest-pinned.
    from pandas_weights_spark.functions.robots import (
        robots_allowed,
        robots_rules,
    )

    docs = _docs(spark, sf_dir)
    star = (
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"
        "Disallow: /*.pdf$\nAllow: /t$\nDisallow: /t\n"
        "Disallow: /caf%C3%A9/\n"
    )
    databot = "\nUser-agent: databot\nDisallow: /beta/\n"
    host = F.concat(F.col("source"), F.lit(".example.com"))
    even = (
        F.ascii(F.substring(F.col("source"), -1, 1)) % 2 == 0
    )
    robots = (
        docs.select("source").distinct().select(
            host.alias("host"),
            F.concat(
                F.lit(star),
                F.when(even, F.lit(databot)).otherwise(F.lit("")),
            ).alias("txt"),
        )
    )
    rules = robots_rules(robots, "host", "txt", agent="databot")
    variant = F.col("doc_id") % 8
    path = (
        F.when(variant == 0, F.concat(F.lit("/public/"), F.col("doc_id")))
        .when(variant == 1, F.concat(F.lit("/private/"), F.col("doc_id")))
        .when(
            variant == 2,
            F.concat(F.lit("/private/ok/"), F.col("doc_id")),
        )
        .when(
            variant == 3,
            F.concat(F.lit("/files/"), F.col("doc_id"), F.lit(".pdf")),
        )
        .when(variant == 4, F.concat(F.lit("/beta/"), F.col("doc_id")))
        .when(variant == 5, F.concat(F.lit("/café/"), F.col("doc_id")))
        .when(variant == 6, F.lit("/t"))
        .otherwise(F.concat(F.lit("/tq"), F.col("doc_id")))
    )
    urls = docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("url"),
    )
    return robots_allowed(urls, rules, "url", "host").select(
        "doc_id", "host", "url", "allowed"
    )


_ORACLE["robots_filter"] = """
    SELECT doc_id,
      source || '.example.com' AS host,
      'https://' || source || '.example.com' ||
        CASE doc_id % 8
          WHEN 0 THEN '/public/' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN '/private/' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN '/files/' || CAST(doc_id AS VARCHAR) || '.pdf'
          WHEN 4 THEN '/beta/' || CAST(doc_id AS VARCHAR)
          WHEN 5 THEN '/café/' || CAST(doc_id AS VARCHAR)
          WHEN 6 THEN '/t'
          ELSE '/tq' || CAST(doc_id AS VARCHAR)
        END AS url,
      CASE
        WHEN ascii(substr(source, -1, 1)) % 2 = 0
          THEN doc_id % 8 != 4            -- databot group: only /beta/
        -- '*' group: /private/ prefix, *.pdf$ anchor, escaped /café/,
        -- unanchored /t blocks /tq…; anchored Allow /t$ (3 octets)
        -- beats Disallow /t (2) on the exact path /t -> allowed
        ELSE doc_id % 8 NOT IN (1, 3, 5, 7)
      END AS allowed
    FROM documents
"""


def _q_jsonl_roundtrip(spark, sf_dir):
    # r8: JSONL shard interchange (sources/jsonl.py — the Dolma/
    # RedPajama *.jsonl.gz corpus format, completing the container
    # trio with webdataset tar and WARC). Docs serialize to gzipped
    # JSONL shards (applyInPandas assembly, byte-deterministic) and
    # parse back through the Column-level newline-split + from_json
    # reader; the oracle states the roundtrip identity against the
    # documents table.
    from pandas_weights_spark.sources.jsonl import (
        from_jsonl_shards,
        to_jsonl_shards,
    )

    docs = _docs(spark, sf_dir)
    shards = to_jsonl_shards(
        docs, ["doc_id", "text", "lang", "n_chars"], n_shards=8,
        gzip_shard=True,
    )
    back = from_jsonl_shards(
        shards, "doc_id long, text string, lang string, n_chars long"
    )
    return back.select("doc_id", "text", "lang", "n_chars")


_ORACLE["jsonl_roundtrip"] = """
    SELECT doc_id, text, lang, n_chars FROM documents
"""


def _q_charset_decode(spark, sf_dir):
    # r10 (VERDICT r9 #1 carried item): charset-aware HTTP body decode
    # end to end. Each doc becomes an HTTP response page in a charset
    # chosen by a SQL-expressible rule — ASCII-only docs split between
    # windows-1252 (even doc_id, with a cp1252-only suffix appended)
    # and Shift_JIS (odd, with a Japanese suffix); non-ASCII docs stay
    # UTF-8. Pages are ENCODED in that charset (encode_text), wrapped
    # in WARC response records whose Content-Type carries the charset
    # param (per-row Column, r10), shard-packed, parsed back, and
    # decoded via the BOM>header>meta>default sniffer. The oracle
    # states the roundtrip identity: decoded text must equal the page
    # the rule implies — the cp1252/shift_jis bodies are NOT valid
    # UTF-8, so the r8/r9 blind F.decode(...,'UTF-8') pipeline would
    # hash-mismatch here (mojibake), which is the point of the gate.
    from pandas_weights_spark.sources.warc import (
        decode_http_body,
        encode_text,
        from_warc_shards,
        to_warc_shards,
        warc_record,
    )

    docs = _docs(spark, sf_dir)
    is_ascii = F.octet_length("text") == F.length("text")
    w1252 = is_ascii & (F.col("doc_id") % 4 == 0)
    gbk = is_ascii & (F.col("doc_id") % 4 == 2)
    sjis = is_ascii & (F.col("doc_id") % 2 != 0)
    label = (
        F.when(w1252, F.lit("windows-1252"))
        .when(gbk, F.lit("GBK"))  # WHATWG remap: decoded as gb18030
        .when(sjis, F.lit("Shift_JIS"))
        .otherwise(F.lit("utf-8"))
    )
    page = (
        F.when(w1252, F.concat("text", F.lit(" — café naïve £")))
        .when(gbk, F.concat("text", F.lit(" 中文测试页")))
        .when(sjis, F.concat("text", F.lit(" 日本語テキスト")))
        .otherwise(F.col("text"))
    )
    uri = F.concat(
        F.lit("https://charset.example.org/doc/"),
        F.col("doc_id").cast("string"),
    )
    rec = warc_record(
        uri,
        F.lit("2026-01-01T00:00:00Z"),
        encode_text(page, label),
        "response",
        content_type=F.concat(F.lit("text/html; charset="), label),
    )
    shards = to_warc_shards(
        docs.select(rec.alias("rec")), "rec", n_shards=8,
        gzip_records=True,
    )
    back = from_warc_shards(shards)
    d = decode_http_body(F.col("http_body"), F.col("http_headers"))
    return back.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        d.alias("d"),
    ).select(
        "doc_id",
        F.col("d.charset").alias("charset"),
        F.col("d.charset_source").alias("charset_source"),
        F.col("d.text").alias("text"),
    )


def _q_robots_directives(spark, sf_dir):
    # r10: the non-rule robots.txt directives (functions/robots.py
    # robots_directives — previously a documented gap). Same host
    # fixture shape as robots_filter: every host's '*' group carries
    # Crawl-delay: 2 and a group-adjacent Sitemap; even-digit hosts
    # ALSO carry a databot group with Crawl-delay: 7.5 plus a bogus
    # non-numeric delay (ignored); one host-level Sitemap line sits
    # outside all groups. Crawling as databot: the delay is
    # group-SELECTED (7.5 on databot-group hosts, else 2), sitemaps
    # are host-scoped (both lines, sorted) per the sitemaps.org
    # extension. The oracle states both in closed form.
    from pandas_weights_spark.functions.robots import (
        robots_directives,
    )

    docs = _docs(spark, sf_dir)
    host = F.concat(F.col("source"), F.lit(".example.com"))
    even = (
        F.ascii(F.substring(F.col("source"), -1, 1)) % 2 == 0
    )
    star = F.concat(
        F.lit(
            "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"
            "Sitemap: https://"
        ),
        host,
        F.lit("/sm-star.xml\n"),
    )
    databot = F.lit(
        "\nUser-agent: databot\nDisallow: /beta/\n"
        "Crawl-delay: 7.5\nCrawl-delay: bogus\n"
    )
    tail = F.concat(
        F.lit("\nSitemap: https://"), host, F.lit("/sm-global.xml\n")
    )
    robots = docs.select("source").distinct().select(
        host.alias("host"),
        F.concat(
            star,
            F.when(even, databot).otherwise(F.lit("")),
            tail,
        ).alias("txt"),
    )
    out = robots_directives(robots, "host", "txt", agent="databot")
    return out.select(
        "host",
        "crawl_delay",
        F.concat_ws("|", "sitemaps").alias("sitemaps"),
    )


_ORACLE["robots_directives"] = """
    SELECT source || '.example.com' AS host,
      CAST(CASE WHEN ascii(substr(source, -1, 1)) % 2 = 0
           THEN 7.5 ELSE 2.0 END AS DOUBLE) AS crawl_delay,
      'https://' || source || '.example.com/sm-global.xml|' ||
      'https://' || source || '.example.com/sm-star.xml' AS sitemaps
    FROM (SELECT DISTINCT source FROM documents)
"""


def _q_lang_id_ngram(spark, sf_dir):
    # r10 frontier slab (VERDICT r9 item 8): trainable character-
    # n-gram language ID (Cavnar-Trenkle 1994, the public design
    # fastText-style LID refines) replacing reliance on the fixed
    # marker-word heuristic. Profiles train on the corpus's own lang
    # labels (docs with doc_id%5 != 0, top-40 trigrams per label);
    # docs with doc_id%5 == 0 are held out and classified by add-one
    # multinomial NB over the union profile vocabulary. The oracle
    # replays the whole chain: gram fan-out, per-label top-k window,
    # smoothed log-probs, per-doc sums, argmax with lexicographic
    # tie-break, 'und' when no gram hits.
    from pandas_weights_spark.functions.text import (
        char_ngram_lang_profile,
        ngram_lang_id,
    )

    docs = _docs(spark, sf_dir)
    prof = char_ngram_lang_profile(
        docs.where(F.col("doc_id") % 5 != 0), "text", "lang",
        n=3, top_k=40,
    )
    return ngram_lang_id(
        docs.where(F.col("doc_id") % 5 == 0), "text", "doc_id", prof,
        labels=["de", "en", "es", "fr", "zh"], n=3,
    )


_ORACLE["lang_id_ngram"] = r"""
    WITH tr AS (
      SELECT lang, lower(text) AS t FROM documents WHERE doc_id % 5 != 0
    ), trg AS (
      SELECT lang, substr(t, CAST(i AS INT), 3) AS gram
      FROM (
        SELECT lang, t,
               unnest(range(1, greatest(length(t) - 2, 1) + 1)) AS i
        FROM tr
      )
    ), trg3 AS (
      SELECT lang, gram FROM trg WHERE length(gram) = 3
    ), pm AS (
      SELECT lang, gram, CAST(COUNT(*) AS DOUBLE) AS mass
      FROM trg3 GROUP BY 1, 2
    ), pr AS (
      SELECT lang, gram, mass FROM (
        SELECT *, row_number() OVER (
          PARTITION BY lang ORDER BY mass DESC, gram) AS rk
        FROM pm
      ) WHERE rk <= 40
    ), wl AS (
      SELECT lang, SUM(mass) AS W FROM pr GROUP BY lang
    ), vv AS (
      SELECT COUNT(DISTINCT gram) AS V FROM pr
    ), wide AS (
      SELECT gram,
        ln(COALESCE(SUM(CASE WHEN lang='de' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='de') + (SELECT V FROM vv) + 1) AS lp0,
        ln(COALESCE(SUM(CASE WHEN lang='en' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='en') + (SELECT V FROM vv) + 1) AS lp1,
        ln(COALESCE(SUM(CASE WHEN lang='es' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='es') + (SELECT V FROM vv) + 1) AS lp2,
        ln(COALESCE(SUM(CASE WHEN lang='fr' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='fr') + (SELECT V FROM vv) + 1) AS lp3,
        ln(COALESCE(SUM(CASE WHEN lang='zh' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='zh') + (SELECT V FROM vv) + 1) AS lp4
      FROM pr GROUP BY gram
    ), te AS (
      SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id % 5 = 0
    ), teg AS (
      SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram
      FROM (
        SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - 2, 1) + 1)) AS i
        FROM te
      )
    ), teg3 AS (
      SELECT doc_id, gram FROM teg WHERE length(gram) = 3
    ), sc AS (
      SELECT doc_id, SUM(lp0) AS s0, SUM(lp1) AS s1, SUM(lp2) AS s2,
             SUM(lp3) AS s3, SUM(lp4) AS s4
      FROM teg3 JOIN wide USING (gram) GROUP BY doc_id
    ), fin AS (
      SELECT b.doc_id, sc.s0, sc.s1, sc.s2, sc.s3, sc.s4,
             greatest(sc.s0, sc.s1, sc.s2, sc.s3, sc.s4) AS best
      FROM (SELECT DISTINCT doc_id FROM te) b
      LEFT JOIN sc ON b.doc_id = sc.doc_id
    )
    SELECT doc_id,
      CASE WHEN best IS NULL THEN 'und'
           WHEN s0 = best THEN 'de'
           WHEN s1 = best THEN 'en'
           WHEN s2 = best THEN 'es'
           WHEN s3 = best THEN 'fr'
           WHEN s4 = best THEN 'zh'
           ELSE 'und' END AS pred_lang,
      round(best, 6) AS score
    FROM fin
"""


def _q_charset_stats(spark, sf_dir):
    # r10 frontier slab, paired with charset_decode: the per-charset
    # hygiene rollup a crawl pipeline reports — doc counts, decoded
    # chars, and U+FFFD replacement-character counts (the mojibake /
    # UTF-8-validity metric). Corruption is injected deliberately:
    # cp1252 rows with doc_id%16==0 get a trailing 0x9D byte, which
    # is UNDEFINED in windows-1252 and decodes to exactly one
    # replacement char — so the replacement counters are provably
    # nonzero and the oracle states them in closed form.
    from pandas_weights_spark.functions.text import (
        utf8_replacement_count,
    )
    from pandas_weights_spark.sources.warc import (
        decode_http_body,
        encode_text,
        from_warc_shards,
        to_warc_shards,
        warc_record,
    )

    docs = _docs(spark, sf_dir)
    is_ascii = F.octet_length("text") == F.length("text")
    w1252 = is_ascii & (F.col("doc_id") % 2 == 0)
    sjis = is_ascii & (F.col("doc_id") % 2 != 0)
    label = (
        F.when(w1252, F.lit("windows-1252"))
        .when(sjis, F.lit("Shift_JIS"))
        .otherwise(F.lit("utf-8"))
    )
    page = (
        F.when(w1252, F.concat("text", F.lit(" — café naïve £")))
        .when(sjis, F.concat("text", F.lit(" 日本語テキスト")))
        .otherwise(F.col("text"))
    )
    corrupted = w1252 & (F.col("doc_id") % 16 == 0)
    payload = encode_text(page, label)
    payload = F.when(
        corrupted, F.concat(payload, F.unhex(F.lit("9D")))
    ).otherwise(payload)
    uri = F.concat(
        F.lit("https://cs.example.org/doc/"),
        F.col("doc_id").cast("string"),
    )
    rec = warc_record(
        uri, F.lit("2026-01-01T00:00:00Z"), payload, "response",
        content_type=F.concat(F.lit("text/html; charset="), label),
    )
    shards = to_warc_shards(
        docs.select(rec.alias("rec")), "rec", n_shards=8,
        gzip_records=True,
    )
    back = from_warc_shards(shards)
    d = decode_http_body(F.col("http_body"), F.col("http_headers"))
    per = back.select(d.alias("d")).select(
        F.col("d.charset").alias("charset"),
        F.length("d.text").cast("long").alias("n_chars"),
        utf8_replacement_count(F.col("d.text")).alias("n_repl"),
    )
    return per.groupBy("charset").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_repl").cast("long").alias("total_repl"),
        F.sum((F.col("n_repl") > 0).cast("long"))
        .cast("long")
        .alias("corrupt_docs"),
    )


_ORACLE["charset_stats"] = """
    WITH a AS (
      SELECT doc_id,
        CASE
          WHEN strlen(text) = length(text) AND doc_id % 2 = 0
            THEN 'cp1252'
          WHEN strlen(text) = length(text) THEN 'shift_jis'
          ELSE 'utf-8'
        END AS charset,
        CASE
          WHEN strlen(text) = length(text) AND doc_id % 2 = 0
            THEN length(text || ' — café naïve £')
          WHEN strlen(text) = length(text)
            THEN length(text || ' 日本語テキスト')
          ELSE length(text)
        END AS page_chars,
        (strlen(text) = length(text) AND doc_id % 16 = 0) AS corr
      FROM documents
    )
    SELECT charset,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(page_chars + CASE WHEN corr THEN 1 ELSE 0 END)
           AS BIGINT) AS total_chars,
      CAST(SUM(CASE WHEN corr THEN 1 ELSE 0 END) AS BIGINT)
        AS total_repl,
      CAST(SUM(CASE WHEN corr THEN 1 ELSE 0 END) AS BIGINT)
        AS corrupt_docs
    FROM a GROUP BY charset
"""


# strlen() is DuckDB's byte length of a VARCHAR (length() is chars):
# ASCII-only test replayed as strlen = length
_ORACLE["charset_decode"] = """
    SELECT doc_id,
      CASE
        WHEN strlen(text) = length(text) AND doc_id % 4 = 0
          THEN 'cp1252'
        WHEN strlen(text) = length(text) AND doc_id % 4 = 2
          THEN 'gb18030'
        WHEN strlen(text) = length(text) THEN 'shift_jis'
        ELSE 'utf-8'
      END AS charset,
      'header' AS charset_source,
      CASE
        WHEN strlen(text) = length(text) AND doc_id % 4 = 0
          THEN text || ' — café naïve £'
        WHEN strlen(text) = length(text) AND doc_id % 4 = 2
          THEN text || ' 中文测试页'
        WHEN strlen(text) = length(text)
          THEN text || ' 日本語テキスト'
        ELSE text
      END AS text
    FROM documents
"""


def _q_ccnet_buckets(spark, sf_dir):
    # r10: CCNet's final selection stage (Wenzek et al. 2019 §4.4 —
    # functions/text.py ccnet_ppl_buckets): per-shard perplexity
    # terciles head/middle/tail, keep head+middle.  The ladder end to
    # end: capped {2,3} tables → modified-KN perplexity (explicit
    # per-order discounts — the capped tables cannot support
    # count-of-counts estimation) → rank cut per source host.  Both
    # engines order by (round(ppl, 6), doc_id), so the ntile
    # assignment is deterministic and identical; docs with < 3 tokens
    # emit no LM row and drop out in BOTH (inner join / CTE shape).
    from pandas_weights_spark.functions.text import (
        ccnet_ppl_buckets,
        ngram_lm_score,
        ngram_model_tables,
    )

    docs = _docs(spark, sf_dir)
    # r16: the two capped count tables come from ONE fused corpus
    # pass (text.ngram_model_tables — guide §1.2/§2.4; the r15 shape
    # still ran the scan+tokenize+explode+cap pipeline once per
    # order). Row sets identical to ngram_counts per order (pinned);
    # the r15 lazy lineage cut now lives on the fused ≤10000-row
    # result inside the builder (the MKN ladder consumes each table
    # from several subtrees). Output unchanged (oracle-checked).
    tabs = ngram_model_tables(docs, "text", {2: 5000, 3: 5000})
    bgt, tgt = tabs[2], tabs[3]
    sc = ngram_lm_score(
        docs, "text", "doc_id", None, {2: bgt, 3: tgt}, None,
        alpha=0.5, smoothing="mkn",
        discounts={2: (0.4, 1.1, 1.9), 3: (0.5, 1.3, 2.2)},
    ).select("doc_id", F.round(F.col("ppl"), 6).alias("ppl"))
    scored = docs.select("doc_id", "source").join(sc, "doc_id")
    return ccnet_ppl_buckets(
        scored, "ppl", "doc_id", by=["source"]
    ).select("doc_id", "source", "ppl", "bucket", "keep")


_ORACLE["ccnet_buckets"] = r"""
    WITH dt AS (
      SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    bp AS (
      SELECT p.a AS w1, p.b AS w2 FROM (
        SELECT unnest(CASE WHEN len(w) >= 2
                      THEN [{'a': w[i], 'b': w[i+1]}
                            for i in range(1, len(w))]
                      ELSE [] END) AS p
        FROM dt
      )
    ),
    bgr AS (
      SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS mass FROM bp
      GROUP BY w1, w2
      ORDER BY mass DESC, w1, w2 LIMIT 5000
    ),
    tp AS (
      SELECT p.a AS w1, p.b AS w2, p.c AS w3 FROM (
        SELECT unnest(CASE WHEN len(w) >= 3
                      THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                            for i in range(1, len(w) - 1)]
                      ELSE [] END) AS p
        FROM dt
      )
    ),
    tgr AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS DOUBLE) AS mass FROM tp
      GROUP BY w1, w2, w3
      ORDER BY mass DESC, w1, w2, w3 LIMIT 5000
    ),
    tmg AS (
      SELECT w1, w2, SUM(mass) AS m,
             SUM(CASE WHEN mass = 1.0 THEN 1.0 ELSE 0.0 END) AS k1,
             SUM(CASE WHEN mass = 2.0 THEN 1.0 ELSE 0.0 END) AS k2,
             SUM(CASE WHEN mass >= 3.0 THEN 1.0 ELSE 0.0 END) AS k3
      FROM tgr GROUP BY w1, w2
    ),
    cc2 AS (
      SELECT w2, w3, CAST(COUNT(*) AS DOUBLE) AS cc
      FROM tgr GROUP BY w2, w3
    ),
    cd2 AS (
      SELECT w2, SUM(cc) AS cm,
             SUM(CASE WHEN cc = 1.0 THEN 1.0 ELSE 0.0 END) AS k1,
             SUM(CASE WHEN cc = 2.0 THEN 1.0 ELSE 0.0 END) AS k2,
             SUM(CASE WHEN cc >= 3.0 THEN 1.0 ELSE 0.0 END) AS k3
      FROM cc2 GROUP BY w2
    ),
    c1 AS (
      SELECT w2 AS term, CAST(COUNT(*) AS DOUBLE) AS c1
      FROM bgr GROUP BY w2
    ),
    t0 AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS T,
             COUNT(DISTINCT w2) AS V1
      FROM bgr
    ),
    dtrip AS (
      SELECT doc_id, p.a AS w1, p.b AS w2, p.c AS w3 FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 3
                      THEN [{'a': w[i], 'b': w[i+1], 'c': w[i+2]}
                            for i in range(1, len(w) - 1)]
                      ELSE [] END) AS p
        FROM dt
      )
    ),
    scmkn AS (
      SELECT d.doc_id,
             ln(
               COALESCE(greatest(tgr.mass - (CASE
                     WHEN tgr.mass = 1.0 THEN 0.5
                     WHEN tgr.mass = 2.0 THEN 1.3
                     ELSE 2.2 END), 0.0) / tmg.m, 0.0)
               + COALESCE((0.5 * tmg.k1 + 1.3 * tmg.k2
                           + 2.2 * tmg.k3) / tmg.m, 1.0) * (
                   COALESCE(greatest(cc2.cc - (CASE
                         WHEN cc2.cc = 1.0 THEN 0.4
                         WHEN cc2.cc = 2.0 THEN 1.1
                         ELSE 1.9 END), 0.0) / cd2.cm, 0.0)
                   + COALESCE((0.4 * cd2.k1 + 1.1 * cd2.k2
                               + 1.9 * cd2.k3) / cd2.cm, 1.0) * (
                       (COALESCE(c1.c1, 0.0) + 0.5)
                       / (t0.T + 0.5 * (t0.V1 + 1))
                   )
               )
             ) AS lp
      FROM dtrip d
      LEFT JOIN tgr ON d.w1 = tgr.w1 AND d.w2 = tgr.w2
                   AND d.w3 = tgr.w3
      LEFT JOIN tmg ON d.w1 = tmg.w1 AND d.w2 = tmg.w2
      LEFT JOIN cc2 ON d.w2 = cc2.w2 AND d.w3 = cc2.w3
      LEFT JOIN cd2 ON d.w2 = cd2.w2
      LEFT JOIN c1 ON d.w3 = c1.term
      CROSS JOIN t0
    ),
    ppl AS (
      SELECT doc_id, round(exp(-AVG(lp)), 6) AS ppl
      FROM scmkn GROUP BY doc_id
    ),
    nt AS (
      SELECT p.doc_id, d0.source, p.ppl,
             ntile(3) OVER (PARTITION BY d0.source
                            ORDER BY p.ppl ASC, p.doc_id ASC) AS b
      FROM ppl p JOIN documents d0 ON d0.doc_id = p.doc_id
    )
    SELECT doc_id, source, ppl,
           (['head', 'middle', 'tail'])[b] AS bucket,
           b <= 2 AS keep
    FROM nt
"""


def _q_pipeline_funnel(spark, sf_dir):
    # r10: curation-funnel attrition report (functions/quality.py
    # pipeline_funnel) — the observability table every filtering
    # pipeline publishes: three cumulative gates (lang == 'en',
    # token_count >= 8, a %7 holdout) weighted by TOKEN mass, so the
    # funnel reports data volume, not doc counts. ONE aggregate pass;
    # masses are integer-valued doubles, so distributed summation
    # order cannot perturb them and the oracle's closed-form scalar
    # CTE matches bit-exactly (rates are exact integer ratios).
    from pandas_weights_spark.functions.quality import pipeline_funnel
    from pandas_weights_spark.functions.text import token_count

    docs = _docs(spark, sf_dir)
    ntok = token_count(F.col("text")).cast("double")
    gates = [
        ("lang_en", F.col("lang") == F.lit("en")),
        ("min_tokens", token_count(F.col("text")) >= 8),
        ("held_in", F.col("doc_id") % 7 != 0),
    ]
    return pipeline_funnel(docs, gates, weight=ntok)


_ORACLE["pipeline_funnel"] = r"""
    WITH t AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN 0.0
                  ELSE CAST(len(string_split_regex(trim(text), '\s+'))
                            AS DOUBLE)
             END AS ntok
      FROM documents
    ), m AS (
      SELECT COALESCE(SUM(ntok), 0.0) AS m0,
             COALESCE(SUM(CASE WHEN lang = 'en' THEN ntok END),
                      0.0) AS m1,
             COALESCE(SUM(CASE WHEN lang = 'en' AND ntok >= 8
                           THEN ntok END), 0.0) AS m2,
             COALESCE(SUM(CASE WHEN lang = 'en' AND ntok >= 8
                           AND doc_id % 7 <> 0 THEN ntok END),
                      0.0) AS m3
      FROM t
    )
    SELECT 0 AS stage, 'input' AS gate, m0 AS survivors,
           0.0 AS dropped, m0 / m0 AS survival_rate FROM m
    UNION ALL
    SELECT 1, 'lang_en', m1, m0 - m1, m1 / m0 FROM m
    UNION ALL
    SELECT 2, 'min_tokens', m2, m1 - m2, m2 / m0 FROM m
    UNION ALL
    SELECT 3, 'held_in', m3, m2 - m3, m3 / m0 FROM m
"""


def _q_html_tables(spark, sf_dir):
    # r11: structured TABLE recovery from HTML (functions/html.py
    # extract_tables) — tables → rows → entity-decoded cell texts,
    # with the messy real-page shapes planted in the fixture: omitted
    # closing tags (<tr><td>a<td>b), a header row of <th> cells, an
    # empty cell, caption junk before the first row (dropped), a
    # nested inline tag, numeric + named entities in cells, and a
    # second table on every third doc. The oracle replays the same
    # constants through RE2 (html.py emits the SQL); rows flatten via
    # double posexplode ≡ DuckDB's parallel unnest + generate_series
    # zip. Row-local HOFs — zero shuffle at any scale.
    import pandas_weights_spark.functions.html as H

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    h = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p>"),
        F.lit('<table id="t1"><tr><th>Key</th><th>Val&#233;</th></tr>'),
        F.lit("<tr><td>doc<td>"), did, F.lit("</tr>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<tr><td> padded </td><td><b>"),
                F.col("source"),
                F.lit("</b></td><td></td></tr>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</table>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("<table><caption>cap</caption><tr><td>"),
                F.col("source"),
                F.lit(" &amp; co</td></tr></table>"),
            ),
        ).otherwise(F.lit("")),
        # r12: a spanning table on every 4th doc — colspan=2 over a
        # hanging rowspan; expand_spans=True renders the rectangular
        # grid [['a','a','b'],['c','d','b']] (closed-form in the
        # oracle; expansion is the pinned identity on the span-free
        # tables above)
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(
                '<table><tr><td colspan=2>a</td><td rowspan="2">b'
                "</td></tr><tr><td>c<td>d</tr></table>"
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    tabled = docs.select(
        "doc_id", H.extract_tables(h, expand_spans=True).alias("tables")
    )
    rows = tabled.select(
        "doc_id", F.posexplode("tables").alias("t_idx", "rows")
    ).select(
        "doc_id", "t_idx", F.posexplode("rows").alias("r_idx", "cells")
    )
    return rows.select(
        "doc_id",
        F.col("t_idx").cast("long").alias("t_idx"),
        F.col("r_idx").cast("long").alias("r_idx"),
        F.size("cells").cast("long").alias("n_cells"),
        F.array_join("cells", "\x1f").alias("cells"),
    )


def _html_tables_sql() -> str:
    import pandas_weights_spark.functions.html as H

    return f"""
    WITH d AS (
      SELECT doc_id,
        '<html><body><p>' || text || '</p>'
        || '<table id="t1"><tr><th>Key</th><th>Val&#233;</th></tr>'
        || '<tr><td>doc<td>' || CAST(doc_id AS VARCHAR) || '</tr>'
        || CASE WHEN doc_id % 2 = 0
             THEN '<tr><td> padded </td><td><b>' || source
               || '</b></td><td></td></tr>'
             ELSE '' END
        || '</table>'
        || CASE WHEN doc_id % 3 = 0
             THEN '<table><caption>cap</caption><tr><td>' || source
               || ' &amp; co</td></tr></table>'
             ELSE '' END
        || CASE WHEN doc_id % 4 = 0
             THEN '<table><tr><td colspan=2>a</td><td rowspan="2">b'
               || '</td></tr><tr><td>c<td>d</tr></table>'
             ELSE '' END
        || '</body></html>' AS h
      FROM documents
    ), tb AS (
      SELECT doc_id, {H.extract_tables_sql('h')} AS tables FROM d
    ), t AS (
      SELECT doc_id, len(tables) AS n_tabs,
             unnest(tables) AS rws,
             unnest(generate_series(0, len(tables) - 1)) AS t_idx
      FROM tb
    ), r AS (
      SELECT doc_id, n_tabs, t_idx,
             unnest(rws) AS cells,
             unnest(generate_series(0, len(rws) - 1)) AS r_idx
      FROM t
    )
    -- the span-free tables replay the grid algorithm verbatim
    -- (expand_spans is the pinned identity there); the crafted
    -- spanning table (always LAST when doc_id%4=0) replays its
    -- rectangular expansion closed-form: colspan=2 'a' repeats,
    -- rowspan=2 'b' hangs into row 1 -> [a,a,b] / [c,d,b]
    SELECT doc_id, CAST(t_idx AS BIGINT) AS t_idx,
           CAST(r_idx AS BIGINT) AS r_idx,
           CAST(CASE WHEN doc_id % 4 = 0 AND t_idx = n_tabs - 1
                THEN 3 ELSE len(cells) END AS BIGINT) AS n_cells,
           CASE WHEN doc_id % 4 = 0 AND t_idx = n_tabs - 1
                THEN CASE WHEN r_idx = 0
                     THEN 'a' || chr(31) || 'a' || chr(31) || 'b'
                     ELSE 'c' || chr(31) || 'd' || chr(31) || 'b' END
                ELSE array_to_string(cells, chr(31)) END AS cells
    FROM r
"""


_ORACLE["html_tables"] = _html_tables_sql()


def _q_c4_fineweb(spark, sf_dir):
    # r11 (VERDICT r10 "What's missing" #1): C4's line/page rule
    # filters (Raffel et al. 2020 §2.2) + FineWeb's three custom
    # document filters (Penedo et al. 2024) — functions/quality.py
    # c4_filter / fineweb_flags. Each doc becomes a 9-line page with
    # planted rule triggers: a no-terminal-punctuation nav line
    # (%3), a policy-phrase line (%4), a javascript line (%5), a
    # sub-minimum-words line, a padded line (strip check), a lorem
    # ipsum line (%7), a curly-brace line (%11), and a duplicated
    # line (%2, drives the FineWeb dup-char fraction). The oracle
    # replays every rule in closed form from the SAME module
    # constants (end marks, policy phrases, strip regex — emitted,
    # not copied), and the sentence gate reuses the established
    # split_sentences_sql pair. All fractions are single IEEE
    # divisions of integer counts: bit-exact across engines. Pure
    # row-local Column algebra — zero shuffle at any scale.
    from pandas_weights_spark.functions.quality import (
        c4_filter,
        fineweb_flags,
    )

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    l2 = F.concat(
        F.lit("This is retained sentence number "),
        did.cast("string"),
        F.lit(" of the fixture."),
    )
    page = F.concat_ws(
        "\n",
        F.col("text"),
        l2,
        F.when(
            did % 3 == 0,
            F.lit("a navigation line with no terminal punctuation"),
        ).otherwise(
            F.lit("Another good sentence appears right here.")
        ),
        F.when(
            did % 4 == 0,
            F.lit(
                "This site uses cookies and you accept the "
                "Privacy Policy."
            ),
        ).otherwise(
            F.lit("A third retained sentence lands safely today.")
        ),
        F.when(
            did % 5 == 0,
            F.lit(
                "Please enable JavaScript to continue reading "
                "this page."
            ),
        ).otherwise(F.lit("Too short.")),
        F.lit(
            "   Padded sentence with leading and trailing "
            "whitespace retained intact.   "
        ),
        F.when(
            did % 7 == 0,
            F.lit("Insert the lorem ipsum placeholder paragraph now."),
        ).otherwise(
            F.lit("Final sentence of the page wraps up nicely.")
        ),
        F.when(
            did % 11 == 0,
            F.lit("code sample with a brace { inside it."),
        ).otherwise(
            F.lit("One more concluding sentence for good measure.")
        ),
        F.when(did % 2 == 0, l2).otherwise(
            F.lit("A unique closing line rounds out the document.")
        ),
    )
    staged = c4_filter(
        docs.select("doc_id", page.alias("text")), "text"
    )
    fw = fineweb_flags(F.col("text"))
    return staged.select(
        "doc_id",
        "c4_n_lines",
        "c4_n_lines_kept",
        "c4_n_sentences",
        "c4_has_lorem_ipsum",
        "c4_has_curly_brace",
        "c4_keep",
        F.md5(F.col("c4_text")).alias("c4_fp"),
        fw["fw_punct_line_frac"].alias("fw_punct_line_frac"),
        fw["fw_dup_line_char_frac"].alias("fw_dup_line_char_frac"),
        fw["fw_short_line_frac"].alias("fw_short_line_frac"),
        fw["ok_punct_lines"].alias("ok_punct_lines"),
        fw["ok_dup_line_chars"].alias("ok_dup_line_chars"),
        fw["ok_short_lines"].alias("ok_short_lines"),
        fw["keep"].alias("fw_keep"),
    )


def _c4_fineweb_sql() -> str:
    from pandas_weights_spark.functions.quality import (
        C4_END_MARKS,
        C4_POLICY_PHRASES,
        _LINE_STRIP_RE,
    )
    from pandas_weights_spark.functions.text import (
        split_sentences_sql,
    )

    end_re = "[" + "".join(C4_END_MARKS).replace("'", "''") + "]$"
    strip = _LINE_STRIP_RE.replace("\t", "\\t").replace("\f", "\\f")
    phrases = " AND ".join(
        f"NOT contains(lower(s), '{p}')" for p in C4_POLICY_PHRASES
    )
    keep_line = (
        f"regexp_matches(s, '{end_re}') AND "
        "len(list_filter(str_split_regex(s, '[ \\t]+'), "
        "w -> w != '')) >= 3 AND "
        "NOT contains(lower(s), 'javascript') AND " + phrases
    )
    n_sent = f"len({split_sentences_sql('c4_text')})"
    return f"""
    WITH d AS (
      SELECT doc_id, concat_ws(chr(10),
        text,
        'This is retained sentence number ' ||
          CAST(doc_id AS VARCHAR) || ' of the fixture.',
        CASE WHEN doc_id % 3 = 0
          THEN 'a navigation line with no terminal punctuation'
          ELSE 'Another good sentence appears right here.' END,
        CASE WHEN doc_id % 4 = 0
          THEN 'This site uses cookies and you accept the Privacy Policy.'
          ELSE 'A third retained sentence lands safely today.' END,
        CASE WHEN doc_id % 5 = 0
          THEN 'Please enable JavaScript to continue reading this page.'
          ELSE 'Too short.' END,
        '   Padded sentence with leading and trailing whitespace retained intact.   ',
        CASE WHEN doc_id % 7 = 0
          THEN 'Insert the lorem ipsum placeholder paragraph now.'
          ELSE 'Final sentence of the page wraps up nicely.' END,
        CASE WHEN doc_id % 11 = 0
          THEN 'code sample with a brace {{ inside it.'
          ELSE 'One more concluding sentence for good measure.' END,
        CASE WHEN doc_id % 2 = 0
          THEN 'This is retained sentence number ' ||
            CAST(doc_id AS VARCHAR) || ' of the fixture.'
          ELSE 'A unique closing line rounds out the document.' END
      ) AS page FROM documents
    ), s AS (
      SELECT doc_id, page,
        list_transform(string_split(page, chr(10)),
          l -> regexp_replace(l, '{strip}', '', 'g')) AS sl
      FROM d
    ), k AS (
      SELECT doc_id, page, sl,
        list_filter(sl, s -> {keep_line}) AS kept
      FROM s
    ), c AS (
      SELECT doc_id, page, sl, kept,
        array_to_string(kept, chr(10)) AS c4_text
      FROM k
    ), c2 AS (
      SELECT doc_id, page, sl, kept, c4_text,
        CAST({n_sent} AS BIGINT) AS n_sent,
        contains(lower(page), 'lorem ipsum') AS lorem,
        contains(page, '{{') AS curly,
        CAST(len(list_filter(sl,
          s -> regexp_matches(s, '{end_re}'))) AS DOUBLE)
          / CAST(len(sl) AS DOUBLE) AS punctf,
        CAST(len(list_filter(sl, s -> length(s) < 30)) AS DOUBLE)
          / CAST(len(sl) AS DOUBLE) AS shortf
      FROM c
    ), lc AS (
      SELECT doc_id, line, COUNT(*) AS cnt, length(line) AS ln
      FROM (SELECT doc_id, unnest(string_split(page, chr(10)))
            AS line FROM d)
      GROUP BY doc_id, line
    ), lstats AS (
      SELECT doc_id,
        CAST(SUM((cnt - 1) * ln) AS DOUBLE)
          / CAST(NULLIF(SUM(cnt * ln), 0) AS DOUBLE) AS dupf
      FROM lc GROUP BY doc_id
    )
    SELECT c2.doc_id,
      CAST(len(sl) AS BIGINT) AS c4_n_lines,
      CAST(len(kept) AS BIGINT) AS c4_n_lines_kept,
      n_sent AS c4_n_sentences,
      lorem AS c4_has_lorem_ipsum,
      curly AS c4_has_curly_brace,
      (NOT lorem AND NOT curly AND n_sent >= 5) AS c4_keep,
      md5(c4_text) AS c4_fp,
      punctf AS fw_punct_line_frac,
      dupf AS fw_dup_line_char_frac,
      shortf AS fw_short_line_frac,
      punctf > 0.12 AS ok_punct_lines,
      COALESCE(dupf, 0.0) < 0.1 AS ok_dup_line_chars,
      shortf < 0.67 AS ok_short_lines,
      (punctf > 0.12 AND COALESCE(dupf, 0.0) < 0.1
       AND shortf < 0.67) AS fw_keep
    FROM c2 JOIN lstats ON c2.doc_id = lstats.doc_id
"""


_ORACLE["c4_fineweb"] = _c4_fineweb_sql()


#: fixture tail shared by the readability query and its oracle — an
#: abbreviation (Dr.), an e.g., a question, and an exclamation so the
#: sentence splitter, silent-e and -le syllable rules all fire.
_READ_TAIL = (
    " incomprehensible tables. Was it e.g. a simple ruse? "
    "Make no mistake!"
)


def _q_readability(spark, sf_dir):
    # r11: the classic readability panel (functions/quality.py
    # readability_metrics — Flesch 1948, Kincaid 1975, ARI 1967,
    # Coleman–Liau 1975, LIX 1968, type-token ratio) as row-local
    # Column algebra over ONE token array + ONE sentence split (the
    # quality_panel producer-projection discipline). Each doc gains a
    # crafted tail exercising the abbreviation-protected sentence
    # splitter and both syllable edge rules (silent-e "mistake"/-le
    # "tables"/"simple"). Every formula is integer masses feeding
    # single IEEE divisions in mirrored order; ROUND 6 absorbs ulps.
    # Zero shuffle — the panel pipelines into the parquet scan.
    from pandas_weights_spark.functions.quality import (
        readability_panel,
    )

    aug = F.concat(
        F.col("text"),
        F.lit(" Dr. Smith saw "),
        F.col("doc_id").cast("string"),
        F.lit(_READ_TAIL),
    )
    staged = readability_panel(
        _docs(spark, sf_dir).withColumn("__t__", aug), "__t__"
    )
    return staged.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round("flesch", 6).alias("flesch"),
        F.round("fk_grade", 6).alias("fk_grade"),
        F.round("ari", 6).alias("ari"),
        F.round("coleman_liau", 6).alias("coleman_liau"),
        F.round("lix", 6).alias("lix"),
        F.round("ttr", 6).alias("ttr"),
    )


def _readability_sql() -> str:
    from pandas_weights_spark.functions.quality import (
        syllable_count_sql,
    )
    from pandas_weights_spark.functions.text import (
        split_sentences_sql,
    )

    letters = "length(regexp_replace(w, '[^A-Za-z]', '', 'g'))"
    alnum = "length(regexp_replace(w, '[^A-Za-z0-9]', '', 'g'))"
    return f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' Dr. Smith saw ' || CAST(doc_id AS VARCHAR)
                  || '{_READ_TAIL}' AS t
      FROM documents
    ),
    tok AS (
      SELECT doc_id,
             regexp_split_to_array(trim(t), '\\s+') AS ws,
             {split_sentences_sql('t')} AS sents
      FROM aug
    ),
    agg AS (
      SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS W,
        CAST(greatest(len(sents), 1) AS BIGINT) AS S,
        CAST(list_sum(list_transform(ws,
          w -> {syllable_count_sql('w')})) AS BIGINT) AS Y,
        CAST(list_sum(list_transform(ws, w -> {letters}))
          AS BIGINT) AS L,
        CAST(list_sum(list_transform(ws, w -> {alnum}))
          AS BIGINT) AS C,
        CAST(len(list_filter(ws, w -> {letters} > 6))
          AS BIGINT) AS LW,
        CAST(len(list_distinct(list_transform(ws, w -> lower(w))))
          AS BIGINT) AS D
      FROM tok
    )
    SELECT doc_id,
      W AS n_words,
      S AS n_sentences,
      Y AS n_syllables,
      round(206.835 - 1.015 * (CAST(W AS DOUBLE) / CAST(S AS DOUBLE))
            - 84.6 * (CAST(Y AS DOUBLE) / CAST(W AS DOUBLE)), 6)
        AS flesch,
      round(0.39 * (CAST(W AS DOUBLE) / CAST(S AS DOUBLE))
            + 11.8 * (CAST(Y AS DOUBLE) / CAST(W AS DOUBLE))
            - 15.59, 6) AS fk_grade,
      round(4.71 * (CAST(C AS DOUBLE) / CAST(W AS DOUBLE))
            + 0.5 * (CAST(W AS DOUBLE) / CAST(S AS DOUBLE))
            - 21.43, 6) AS ari,
      round(0.0588 * (100.0 * CAST(L AS DOUBLE) / CAST(W AS DOUBLE))
            - 0.296 * (100.0 * CAST(S AS DOUBLE) / CAST(W AS DOUBLE))
            - 15.8, 6) AS coleman_liau,
      round((CAST(W AS DOUBLE) / CAST(S AS DOUBLE))
            + 100.0 * (CAST(LW AS DOUBLE) / CAST(W AS DOUBLE)), 6)
        AS lix,
      round(CAST(D AS DOUBLE) / CAST(W AS DOUBLE), 6) AS ttr
    FROM agg
"""


_ORACLE["readability"] = _readability_sql()


def _q_html_meta(spark, sf_dir):
    # r11: page-metadata extraction (functions/html.py extract_meta)
    # — meta description (entity-decoded), OpenGraph title/
    # description, canonical link, and the publication date with the
    # documented source priority (article:published_time meta >
    # <time datetime> > JSON-LD datePublished). The fixture exercises
    # both attribute orders (odd docs reverse name/content, %3 docs
    # reverse rel/href), absence (og:description only on even docs),
    # all three date sources (%3 classes), priority (every %5 doc
    # plants a DECOY <time> that must lose to the meta tag), and an
    # unparseable date (%13 docs publish 'soon' → DATE NULL). Single
    # regexp_extract passes, zero shuffle; the oracle rebuilds the
    # SAME fixture string and replays via extract_meta_sql.
    from pandas_weights_spark.functions.html import extract_meta

    did = F.col("doc_id")
    ds = F.concat(
        F.lit("2024-"),
        F.lpad((did % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((did % 28 + 1).cast("string"), 2, "0"),
    )
    raw_ds = F.when(did % 13 == 0, F.lit("soon")).otherwise(ds)
    ids = did.cast("string")
    desc_val = F.concat(
        F.lit("Caf&#233; guide &amp; tips "), ids
    )
    meta_desc = F.when(
        did % 2 == 1,
        F.concat(
            F.lit('<meta content="'),
            desc_val,
            F.lit('" name="description">'),
        ),
    ).otherwise(
        F.concat(
            F.lit('<meta name="description" content="'),
            desc_val,
            F.lit('">'),
        )
    )
    og_title = F.concat(
        F.lit('<meta property="og:title" content="OG Title '),
        ids,
        F.lit('">'),
    )
    og_desc = F.when(
        did % 2 == 0,
        F.concat(
            F.lit('<meta property="og:description" content="OG '),
            F.lit('description '),
            ids,
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    canon = F.when(
        did % 3 == 0,
        F.concat(
            F.lit('<link rel="canonical" href="https://ex.org/p/'),
            ids,
            F.lit('">'),
        ),
    ).otherwise(
        F.concat(
            F.lit('<link href="https://ex.org/p/'),
            ids,
            F.lit('" rel="canonical">'),
        )
    )
    pub = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(
                    '<meta property="article:published_time" '
                    'content="'
                ),
                raw_ds,
                F.lit('T08:30:00Z">'),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit('<time datetime="'),
                raw_ds,
                F.lit('">posted</time>'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(
                    '<script type="application/ld+json">'
                    '{"datePublished": "'
                ),
                raw_ds,
                F.lit('"}</script>'),
            )
        )
    )
    decoy = F.when(
        did % 5 == 0, F.lit('<time datetime="1999-01-01">old</time>')
    ).otherwise(F.lit(""))
    page = F.concat(
        F.lit("<html><head><title>t</title>"),
        meta_desc,
        og_title,
        og_desc,
        canon,
        pub,
        F.lit("</head><body>"),
        decoy,
        F.col("text"),
        F.lit("</body></html>"),
    )
    staged = _docs(spark, sf_dir).withColumn("__h__", page)
    m = extract_meta(F.col("__h__"))
    return staged.select(
        "doc_id", *[v.alias(k) for k, v in m.items()]
    )


def _html_meta_sql() -> str:
    from pandas_weights_spark.functions.html import extract_meta_sql

    m = extract_meta_sql("h")
    cols = ",\n      ".join(f"{v} AS {k}" for k, v in m.items())
    return f"""
    WITH fix AS (
      SELECT doc_id,
        '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
          || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
          AS ds
      FROM documents
    ),
    page AS (
      SELECT d.doc_id,
        '<html><head><title>t</title>'
        || CASE WHEN d.doc_id % 2 = 1
             THEN '<meta content="Caf&#233; guide &amp; tips '
                  || CAST(d.doc_id AS VARCHAR) || '" name="description">'
             ELSE '<meta name="description" content="Caf&#233; guide '
                  || '&amp; tips ' || CAST(d.doc_id AS VARCHAR) || '">'
           END
        || '<meta property="og:title" content="OG Title '
           || CAST(d.doc_id AS VARCHAR) || '">'
        || CASE WHEN d.doc_id % 2 = 0
             THEN '<meta property="og:description" content="OG '
                  || 'description ' || CAST(d.doc_id AS VARCHAR) || '">'
             ELSE '' END
        || CASE WHEN d.doc_id % 3 = 0
             THEN '<link rel="canonical" href="https://ex.org/p/'
                  || CAST(d.doc_id AS VARCHAR) || '">'
             ELSE '<link href="https://ex.org/p/'
                  || CAST(d.doc_id AS VARCHAR) || '" rel="canonical">'
           END
        || CASE
             WHEN d.doc_id % 3 = 0
             THEN '<meta property="article:published_time" content="'
                  || (CASE WHEN d.doc_id % 13 = 0 THEN 'soon'
                      ELSE f.ds END) || 'T08:30:00Z">'
             WHEN d.doc_id % 3 = 1
             THEN '<time datetime="'
                  || (CASE WHEN d.doc_id % 13 = 0 THEN 'soon'
                      ELSE f.ds END) || '">posted</time>'
             ELSE '<script type="application/ld+json">'
                  || '{{"datePublished": "'
                  || (CASE WHEN d.doc_id % 13 = 0 THEN 'soon'
                      ELSE f.ds END) || '"}}</script>'
           END
        || '</head><body>'
        || CASE WHEN d.doc_id % 5 = 0
             THEN '<time datetime="1999-01-01">old</time>'
             ELSE '' END
        || d.text || '</body></html>' AS h
      FROM documents d JOIN fix f ON d.doc_id = f.doc_id
    )
    SELECT doc_id,
      {cols}
    FROM page
"""


_ORACLE["html_meta"] = _html_meta_sql()


def _q_token_budget(spark, sf_dir):
    # r11: per-(lang, source) token-budget report (functions/
    # datasheet.py token_budget) — docs, whitespace tokens, BPE-regex
    # subword tokens, UTF-8 bytes, and the fertility ratios a mixture
    # plan weighs groups by. ONE map-side-combined aggregate on the
    # tiny key space; per-row counts are scan-pipelined regexes. All
    # integer sums + single divisions: bit-exact replay, ROUND 6 on
    # the two ratios only.
    from pandas_weights_spark.functions.datasheet import token_budget

    return token_budget(
        _docs(spark, sf_dir), "text", by=("lang", "source")
    )


_ORACLE["token_budget"] = f"""
    WITH staged AS (
      SELECT lang, source,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+'))
        END AS wt,
        len(regexp_extract_all(text,
          '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
          AS bt,
        coalesce(octet_length(CAST(text AS BLOB)), 0) AS nb
      FROM documents
    )
    SELECT lang, source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(wt) AS BIGINT) AS ws_tokens,
      CAST(sum(bt) AS BIGINT) AS bpe_tokens,
      CAST(sum(nb) AS BIGINT) AS utf8_bytes,
      round(CAST(sum(bt) AS DOUBLE) * 1024.0
            / CAST(sum(nb) AS DOUBLE), 6) AS tokens_per_kib,
      round(CAST(sum(nb) AS DOUBLE)
            / CAST(sum(bt) AS DOUBLE), 6) AS bytes_per_token
    FROM staged
    GROUP BY lang, source
"""


def _q_ann_recall(spark, sf_dir):
    # r11: retrieval-quality metrics (functions/similarity.py
    # retrieval_metrics) — per-query recall@5 / MRR / binary-nDCG@5
    # of the LSH top-5 against the exact brute-force top-5, the
    # numbers that tune planes/nprobe before an ANN deploy. Both
    # rankings are ALREADY deterministic cross-engine (the
    # hyperplane literals derive from the seed, reused from the
    # ann_topk oracle pair); the metrics are two top-k-bounded hash
    # joins + one per-query aggregate. log2 mirrored as ln/ln2 with
    # the same double literal; ROUND 6.
    from pandas_weights_spark.functions.similarity import (
        retrieval_metrics,
        topk_bruteforce,
        topk_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = topk_bruteforce(queries, emb, k=5)
    approx = topk_lsh(queries, emb, k=5, planes=4)
    out = retrieval_metrics(approx, exact, 5)
    return out.select(
        "query_id",
        F.round("recall_at_k", 6).alias("recall_at_k"),
        F.round("mrr", 6).alias("mrr"),
        F.round("ndcg", 6).alias("ndcg"),
    )


def _ann_recall_sql() -> str:
    ln2 = "0.6931471805599453"
    return f"""
    WITH ex AS (SELECT query_id, neighbor_id, rank
                FROM ({_ANN_EXACT_SQL}) WHERE rank <= 5),
    ap AS (SELECT query_id, neighbor_id, rank
           FROM ({_ann_lsh_sql()}) WHERE rank <= 5),
    j AS (
      SELECT ex.query_id, ex.neighbor_id,
             ex.rank AS er, ap.rank AS ar
      FROM ex LEFT JOIN ap
        ON ex.query_id = ap.query_id
       AND ex.neighbor_id = ap.neighbor_id
    )
    SELECT query_id,
      round(CAST(sum(CASE WHEN ar IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        AS recall_at_k,
      round(max(CASE WHEN er = 1 AND ar IS NOT NULL
                     THEN 1.0 / ar ELSE 0.0 END), 6) AS mrr,
      round(sum(CASE WHEN ar IS NOT NULL
                     THEN 1.0 / (ln(ar + 1.0) / {ln2})
                     ELSE 0.0 END)
            / sum(1.0 / (ln(er + 1.0) / {ln2})), 6) AS ndcg
    FROM j GROUP BY query_id
"""


_ORACLE["ann_recall"] = _ann_recall_sql()


def _q_classifier_eval(spark, sf_dir):
    # r11: threshold sweep + calibration + binned ROC-AUC
    # (functions/classifier.py classifier_eval) — the report that
    # decides WHERE to cut a quality-classifier score. Fixture:
    # deterministic Knuth-hash score quantized to 1000 levels
    # (bin-stable across engines) and a label correlated with the
    # score XOR a %7 noise flip, so the curve is neither degenerate
    # nor perfect. One ≤20-key bin aggregate, windows only over the
    # aggregated bin rows (the rank-over-40-rows discipline), 1-row
    # AUC broadcast back. Integer masses + single mirrored divisions;
    # ROUND 6.
    from pandas_weights_spark.functions.classifier import (
        classifier_eval,
    )

    did = F.col("doc_id")
    pm = F.pmod(did * F.lit(2654435761), F.lit(1000))
    score = pm.cast("double") / F.lit(999.0)
    label = (
        ((pm >= 500) != (did % 7 == 0)).cast("int")
    )
    staged = _docs(spark, sf_dir).select(
        score.alias("score"), label.alias("label")
    )
    return classifier_eval(staged, "score", "label", n_bins=20)


_ORACLE["classifier_eval"] = """
    WITH labeled AS (
      SELECT CAST(pm AS DOUBLE) / 999.0 AS s,
             CASE WHEN (pm >= 500) <> (doc_id % 7 = 0)
                  THEN 1 ELSE 0 END AS y
      FROM (SELECT doc_id, ((doc_id * 2654435761) % 1000) AS pm
            FROM documents)
    ),
    binned AS (
      SELECT least(CAST(floor(s * 20) AS INT), 19) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             sum(s) AS ssum
      FROM labeled GROUP BY 1
    ),
    cum AS (
      SELECT bin, n, n_pos,
             ssum / CAST(n AS DOUBLE) AS mean_score,
             CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
             CAST(sum(n_pos) OVER w AS BIGINT) AS cum_tp,
             CAST(sum(n) OVER w - sum(n_pos) OVER w AS BIGINT)
               AS cum_fp
      FROM binned
      WINDOW w AS (ORDER BY bin DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT CAST(sum(n_pos) AS DOUBLE) AS P,
             CAST(sum(n - n_pos) AS DOUBLE) AS N
      FROM binned
    ),
    seg AS (
      SELECT c.*, t.P, t.N,
        (CAST(cum_fp AS DOUBLE) / t.N
         - lag(CAST(cum_fp AS DOUBLE) / t.N, 1, 0.0)
             OVER (ORDER BY bin DESC))
        * (CAST(cum_tp AS DOUBLE) / t.P
           + lag(CAST(cum_tp AS DOUBLE) / t.P, 1, 0.0)
               OVER (ORDER BY bin DESC)) / 2.0 AS piece
      FROM cum c CROSS JOIN tot t
    ),
    auc AS (SELECT coalesce(sum(piece), 0.0) AS a FROM seg)
    SELECT bin,
      CAST(bin AS DOUBLE) / 20.0 AS threshold,
      n, n_pos,
      round(mean_score, 6) AS mean_score,
      round(frac_pos, 6) AS frac_pos,
      cum_tp, cum_fp,
      round(CAST(cum_tp AS DOUBLE)
            / CAST(cum_tp + cum_fp AS DOUBLE), 6) AS precision,
      round(CAST(cum_tp AS DOUBLE) / P, 6) AS recall,
      round(2.0 * (CAST(cum_tp AS DOUBLE)
                   / CAST(cum_tp + cum_fp AS DOUBLE))
                * (CAST(cum_tp AS DOUBLE) / P)
            / ((CAST(cum_tp AS DOUBLE)
                / CAST(cum_tp + cum_fp AS DOUBLE))
               + (CAST(cum_tp AS DOUBLE) / P)), 6) AS f1,
      round((SELECT a FROM auc), 6) AS auc
    FROM seg
"""


def _q_knn_density(spark, sf_dir):
    # r11: self-knn graph + embedding-space local density
    # (functions/similarity.py knn_graph / knn_density — the DataComp/
    # SemDeDup density signal: cluster cores and outliers both get
    # pruned in curation). Bruteforce strategy here (exact, oracle-
    # replayable); the 'ivf' strategy is the scale path — a SHUFFLE
    # join on the cell key with NO corpus-sized broadcast, pinned
    # probe-all ≡ bruteforce by tests. Ranking is by UNROUNDED cosine
    # (ties to the smaller dst) in both engines; each edge cosine
    # rounds to 6 before the density mean, so the replay is exact
    # (5-term mean, ROUND 6 absorbs sum-order ulps).
    from pandas_weights_spark.functions.similarity import knn_density

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_density(emb, k=5, strategy="bruteforce")


_ORACLE["knn_density"] = """
    WITH scored AS (
      SELECT q.vec_id AS src, c.vec_id AS dst,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[]))
               AS cos
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT src, dst, round(cos, 6) AS cosine,
             row_number() OVER (PARTITION BY src
                                ORDER BY cos DESC, dst) AS rn
      FROM scored
    )
    SELECT src AS vec_id,
           round(avg(cosine), 6) AS density,
           max(cosine) AS nn_cosine,
           CAST(count(*) AS BIGINT) AS n_neighbors
    FROM ranked WHERE rn <= 5
    GROUP BY src
"""


def _q_html_markdown(spark, sf_dir):
    # r11: HTML -> Markdown rendering (functions/html.py
    # html_to_markdown — the structure-preserving representation LLM
    # corpora keep where html_to_text flattens). The fixture walks the
    # whole rewrite table: h1 with entities, bold/italic, bold INSIDE
    # an anchor (rule-order pin), tight list with an omitted </li>,
    # fenced pre/code on even docs vs inline code on odd, blockquote
    # with a numeric charref, hr, img. The oracle rebuilds the same
    # page and replays the SAME ordered rule table (html_to_markdown_
    # sql emits it; RE2 \\N vs Java $N is the only divergence). Pure
    # regexp chain, zero shuffle; md5-pinned like every long-text row.
    did = F.col("doc_id")
    ids = did.cast("string")
    page = F.concat(
        F.lit("<html><head><title>x</title><style>p{}</style>"),
        F.lit("</head><body><h1>"),
        F.upper("source"),
        F.lit(" &amp; doc "),
        ids,
        F.lit('</h1><p>Lead with <strong>bold</strong>, '
              '<em>italic</em>, and a <a href="/p/'),
        ids,
        F.lit('">deep <b>link</b></a>.</p><ul><li>alpha '),
        ids,
        F.lit("<li>beta</li></ul>"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit("<pre><code>x = "),
                ids,
                F.lit("\nreturn x</code></pre>"),
            ),
        ).otherwise(
            F.concat(
                F.lit("<p>inline <code>f("),
                ids,
                F.lit(")</code> call</p>"),
            )
        ),
        F.lit("<blockquote>Quote &#8212; cited</blockquote><hr>"),
        F.lit('<img src="/img/'),
        ids,
        # r13: a table page — pipe_tables=True renders it as GFM
        # pipe rows (th header, inline bold in a cell, a literal
        # pipe that must escape, an empty cell) instead of the r12
        # paragraph flatten; both renders (plain + escaped) walk it
        F.lit('.png"><table><caption>c</caption><tr><th>K</th>'
              "<th>V &amp; u</th></tr><tr><td><b>id</b></td><td>"),
        ids,
        F.lit("|x</td></tr><tr><td></td><td>ok</td></tr></table><p>"),
        F.col("text"),
        # r12: literal metachars + an entity-materialized star — the
        # escaped render must neutralize all of them while the
        # generated marks and the code interior stay intact
        F.lit(" star *lit* under_score #tag [br] tick `x` "
              "ent &#42;y&#42;</p></body></html>"),
    )
    # both renders derive from ONE sentinel render behind a real
    # projection barrier (the html_parts discipline) — the ~30-regex
    # chain runs once per doc, not once per output column; plain-
    # render parity with html_to_markdown is pinned in tests.
    # Column trees are immutable — memoize the constructed render
    # (the _EXTRACT_COLS discipline: the bench reconstructs the
    # query per iteration, and with the r13 pipe-table pre-pass the
    # sentinel cascade is a few hundred operators of pure py4j to
    # rebuild)
    from pandas_weights_spark.functions.html import (
        md_escaped_from_sentinels,
        md_from_sentinels,
        md_render_sentinels,
    )

    cols = _MDQ_COLS.get("cols")
    if cols is None:
        md = md_from_sentinels(F.col("__mds__"))
        md_esc = md_escaped_from_sentinels(F.col("__mds__"))
        cols = {
            "__mds__": md_render_sentinels(
                F.col("__h__"), pipe_tables=True
            ),
            "md_fp": F.md5(md),
            "n_chars": F.length(md).cast("long"),
            "md_esc_fp": F.md5(md_esc),
            "n_esc_chars": F.length(md_esc).cast("long"),
        }
        _MDQ_COLS["cols"] = cols
    return (
        _docs(spark, sf_dir)
        .withColumn("__h__", page)
        .withColumn("__mds__", cols["__mds__"])
        .select(
            "doc_id",
            cols["md_fp"].alias("md_fp"),
            cols["n_chars"].alias("n_chars"),
            cols["md_esc_fp"].alias("md_esc_fp"),
            cols["n_esc_chars"].alias("n_esc_chars"),
        )
    )


#: _q_html_markdown's memoized Column trees (the _EXTRACT_COLS
#: discipline) — built once per process, reused across bench
#: iterations.
_MDQ_COLS: dict = {}


def _html_markdown_sql() -> str:
    from pandas_weights_spark.functions.html import (
        html_to_markdown_sql,
    )

    md = html_to_markdown_sql("h", pipe_tables=True)
    md_esc = html_to_markdown_sql("h", escape=True, pipe_tables=True)
    return f"""
    WITH page AS (
      SELECT doc_id,
        '<html><head><title>x</title><style>p{{}}</style>'
        || '</head><body><h1>' || upper(source) || ' &amp; doc '
        || CAST(doc_id AS VARCHAR)
        || '</h1><p>Lead with <strong>bold</strong>, '
        || '<em>italic</em>, and a <a href="/p/'
        || CAST(doc_id AS VARCHAR)
        || '">deep <b>link</b></a>.</p><ul><li>alpha '
        || CAST(doc_id AS VARCHAR) || '<li>beta</li></ul>'
        || CASE WHEN doc_id % 2 = 0
             THEN '<pre><code>x = ' || CAST(doc_id AS VARCHAR)
                  || chr(10) || 'return x</code></pre>'
             ELSE '<p>inline <code>f(' || CAST(doc_id AS VARCHAR)
                  || ')</code> call</p>'
           END
        || '<blockquote>Quote &#8212; cited</blockquote><hr>'
        || '<img src="/img/' || CAST(doc_id AS VARCHAR)
        || '.png"><table><caption>c</caption><tr><th>K</th>'
        || '<th>V &amp; u</th></tr><tr><td><b>id</b></td><td>'
        || CAST(doc_id AS VARCHAR)
        || '|x</td></tr><tr><td></td><td>ok</td></tr></table><p>'
        || text
        || ' star *lit* under_score #tag [br] tick `x` '
        || 'ent &#42;y&#42;</p></body></html>' AS h
      FROM documents
    )
    SELECT doc_id,
      md5({md}) AS md_fp,
      CAST(length({md}) AS BIGINT) AS n_chars,
      md5({md_esc}) AS md_esc_fp,
      CAST(length({md_esc}) AS BIGINT) AS n_esc_chars
    FROM page
"""


_ORACLE["html_markdown"] = _html_markdown_sql()


def _q_semantic_decontam(spark, sf_dir):
    # r11: embedding-level decontamination (functions/decontam.py
    # semantic_overlap) — the semantic complement of the 13-gram
    # decontam query: paraphrased benchmark leakage that shares no
    # shingle still lands at cosine ~= 1. Benchmark fixture = every
    # 10th embedding SCALED BY 2 (cosine is scale-invariant, so the
    # corpus original must hit ~1.0 against its scaled copy — the
    # planted leak), everything else sits far below the 0.99 gate.
    # Shape: broadcast benchmark x streamed corpus (BNL, allowlisted),
    # per-corpus-id max via ONE struct-max aggregate with map-side
    # combine; ties to the smaller benchmark id. The oracle replays
    # scoring + argmax via row_number; ROUND 6 on the cosine.
    from pandas_weights_spark.functions.decontam import (
        semantic_overlap,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("bid"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") * F.lit(2.0)
        ).alias("bv"),
    )
    out = semantic_overlap(
        emb,
        bench,
        threshold=0.99,
        corpus_id="vec_id",
        corpus_vec="embedding",
        bench_id="bid",
        bench_vec="bv",
    )
    return out.select(
        "vec_id",
        F.round("max_cosine", 6).alias("max_cosine"),
        F.col("nearest_bench_id").cast("long").alias(
            "nearest_bench_id"
        ),
        "contaminated",
    )


_ORACLE["semantic_decontam"] = """
    WITH bench AS (
      SELECT vec_id AS bid,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x * 2.0) AS bv
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    scored AS (
      SELECT c.vec_id, b.bid,
             list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    b.bv) AS cos
      FROM embeddings c CROSS JOIN bench b
    ),
    ranked AS (
      SELECT vec_id, bid, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, bid) AS rn
      FROM scored
    )
    SELECT vec_id,
           round(cos, 6) AS max_cosine,
           CAST(bid AS BIGINT) AS nearest_bench_id,
           cos >= 0.99 AS contaminated
    FROM ranked WHERE rn = 1
"""


def _q_hybrid_search(spark, sf_dir):
    # r10: hybrid retrieval via reciprocal-rank fusion
    # (functions/search.py rrf_fuse — Cormack et al. 2009, k=60): the
    # SAME eight queries run both a lexical BM25 top-10 (docs 0..7's
    # first-3-token queries, the bm25 fixture) and an exact embedding
    # cosine top-10 (embeddings 0..7 as query vectors; vec_id is the
    # doc key for this fixture), fused by sum of reciprocal ranks and
    # re-ranked. Two rankings -> the fused sum is IEEE-commutative, so
    # the DuckDB replay (both rank computations + the fusion) is
    # bit-exact; ties break to the lower doc id in both engines.
    from pandas_weights_spark.functions.search import bm25_topk, rrf_fuse
    from pandas_weights_spark.functions.similarity import topk_bruteforce
    from pandas_weights_spark.functions.text import tokens as _tk

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    queries = docs.where(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("qid"),
        F.concat_ws(" ", F.slice(_tk(F.col("text")), 1, 3)).alias(
            "qtext"
        ),
    )
    lex = bm25_topk(
        docs, "text", "doc_id", queries, "qid", "qtext", k=10
    ).select("query_id", "doc_id", "rank")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sem = topk_bruteforce(qv, emb, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, sem], "query_id", "doc_id", k=60.0).select(
        "query_id",
        "doc_id",
        F.round("rrf_score", 6).alias("rrf_score"),
        F.col("rank").cast("long").alias("rank"),
    )


_ORACLE["hybrid_search"] = f"""
    WITH lex AS (
      SELECT query_id, doc_id, rank FROM ({_bm25_sql()})
    ), sem AS (
      SELECT query_id, neighbor_id AS doc_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(c.embedding AS DOUBLE[]),
                   CAST(q.embedding AS DOUBLE[])) DESC,
                 c.vec_id) AS rank
        FROM embeddings c CROSS JOIN (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8
        ) q
      ) WHERE rank <= 10
    ), fu AS (
      SELECT query_id, doc_id, 1.0 / (60.0 + rank) AS c FROM lex
      UNION ALL
      SELECT query_id, doc_id, 1.0 / (60.0 + rank) FROM sem
    ), sc AS (
      SELECT query_id, doc_id, SUM(c) AS s FROM fu GROUP BY 1, 2
    )
    SELECT query_id, doc_id, round(s, 6) AS rrf_score,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY s DESC, doc_id
           ) AS BIGINT) AS rank
    FROM sc
"""


def _q_hits(spark, sf_dir):
    # r10: HITS hubs/authorities (functions/graph.py hits — Kleinberg
    # 1999) over a synthesized domain link graph: source domain links
    # to 'src{(doc_id*11+5)%25}' per doc (multi-edges fold to
    # weights; domains 20-24 never appear as sources, so they are
    # pure authorities with hub 0 — and some in-degree-0 sources are
    # pure hubs with authority 0). The oracle unrolls 2 alternating
    # L2-normalized half-steps as chained CTEs — the recurrence and
    # normalization algebra are pinned; longer-run convergence is
    # pytest-pinned against numpy power iteration.
    from pandas_weights_spark.functions.graph import hits

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    edges = (
        docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                ((F.col("doc_id") * 11 + 5) % 25).cast("string"),
            ).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    out = hits(edges, weight=F.col("w"), iters=2)
    return out.select(
        "node",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


_ORACLE["hits"] = """
    -- r10: 2 unrolled HITS iterations (graph.hits' exact algebra):
    -- a <- normalize_l2(W^T h); h <- normalize_l2(W a), from h0 = 1
    WITH e AS (
      SELECT source AS s,
             'src' || CAST((doc_id * 11 + 5) % 25 AS VARCHAR) AS t,
             CAST(COUNT(*) AS DOUBLE) AS w
      FROM documents GROUP BY 1, 2
    ), nodes AS (
      SELECT DISTINCT s AS n FROM e
      UNION SELECT DISTINCT t FROM e
    ), h0 AS (
      SELECT n, 1.0 AS v FROM nodes
    ), a1r AS (
      SELECT e.t AS n, SUM(e.w * h0.v) AS c
      FROM e JOIN h0 ON h0.n = e.s GROUP BY 1
    ), a1n AS (SELECT sqrt(SUM(c * c)) AS nm FROM a1r),
    a1 AS (
      SELECT nodes.n, COALESCE(a1r.c, 0.0) / a1n.nm AS v
      FROM nodes LEFT JOIN a1r ON a1r.n = nodes.n, a1n
    ), h1r AS (
      SELECT e.s AS n, SUM(e.w * a1.v) AS c
      FROM e JOIN a1 ON a1.n = e.t GROUP BY 1
    ), h1n AS (SELECT sqrt(SUM(c * c)) AS nm FROM h1r),
    h1 AS (
      SELECT nodes.n, COALESCE(h1r.c, 0.0) / h1n.nm AS v
      FROM nodes LEFT JOIN h1r ON h1r.n = nodes.n, h1n
    ), a2r AS (
      SELECT e.t AS n, SUM(e.w * h1.v) AS c
      FROM e JOIN h1 ON h1.n = e.s GROUP BY 1
    ), a2n AS (SELECT sqrt(SUM(c * c)) AS nm FROM a2r),
    a2 AS (
      SELECT nodes.n, COALESCE(a2r.c, 0.0) / a2n.nm AS v
      FROM nodes LEFT JOIN a2r ON a2r.n = nodes.n, a2n
    ), h2r AS (
      SELECT e.s AS n, SUM(e.w * a2.v) AS c
      FROM e JOIN a2 ON a2.n = e.t GROUP BY 1
    ), h2n AS (SELECT sqrt(SUM(c * c)) AS nm FROM h2r),
    h2 AS (
      SELECT nodes.n, COALESCE(h2r.c, 0.0) / h2n.nm AS v
      FROM nodes LEFT JOIN h2r ON h2r.n = nodes.n, h2n
    )
    SELECT h2.n AS node, round(h2.v, 6) AS hub,
           round(a2.v, 6) AS authority
    FROM h2 JOIN a2 ON a2.n = h2.n
"""


def _q_anchor_stats(spark, sf_dir):
    # r10: inbound anchor-text profile per target host
    # (functions/html.py extract_anchors / anchor_stats — how other
    # pages DESCRIBE a host, the classic web relevance signal).
    # Fixture: every doc's page carries three anchors — an absolute
    # link to src{(doc_id+3)%20}.example.com whose text exercises
    # entity decode ('Read &amp; more k'), a RELATIVE link (self edge
    # by the link_graph convention) whose text exercises the
    # label-flatten ('home\npage' -> 'home page'), and an EMPTY-text
    # absolute link to hub.example.com. The oracle states the rollup
    # in CLOSED FORM (an independent spec, not a regex replay — the
    # regex chain itself is pinned by the extract_anchors DuckDB
    # parity test): counts, distinct non-empty texts, and the
    # (count desc, text asc) top anchor with NULL when every inbound
    # anchor is empty.
    from pandas_weights_spark.functions.html import anchor_stats

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<p><a href="https://src'),
        ((F.col("doc_id") + 3) % 20).cast("string"),
        F.lit('.example.com/p'), did,
        F.lit('">Read &amp; more '),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('</a></p><a href="/rel'), did,
        F.lit('">home\npage</a>'),
        F.lit('<a href="https://hub.example.com/x'), did,
        F.lit('"></a>'),
    )
    pages = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        html.alias("html"),
    )
    return anchor_stats(pages, "html", "host")


_ORACLE["anchor_stats"] = """
    WITH pairs AS (
      SELECT 'src' || CAST((doc_id + 3) % 20 AS VARCHAR)
             || '.example.com' AS dst,
             'Read & more ' || CAST(doc_id % 7 AS VARCHAR) AS anchor
      FROM documents
      UNION ALL
      SELECT source || '.example.com', 'home page' FROM documents
      UNION ALL
      SELECT 'hub.example.com', '' FROM documents
    ), cnt AS (
      SELECT dst, anchor, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2
    ), roll AS (
      SELECT dst, anchor, n,
             row_number() OVER (
               PARTITION BY dst
               ORDER BY CASE WHEN length(anchor) > 0 THEN 0 ELSE 1 END,
                        n DESC, anchor ASC) AS rk,
             SUM(n) OVER (PARTITION BY dst) AS nl,
             SUM(CASE WHEN length(anchor) > 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY dst) AS nt
      FROM cnt
    )
    SELECT dst,
           CAST(nl AS BIGINT) AS n_links,
           CAST(nt AS BIGINT) AS n_texts,
           CASE WHEN length(anchor) > 0 THEN anchor END AS top_anchor,
           CASE WHEN length(anchor) > 0 THEN n END AS top_n
    FROM roll WHERE rk = 1
"""


def _q_lang_mix(spark, sf_dir):
    # r10: per-document language MIXTURE from per-sentence LID
    # (functions/text.py sentence_lang_mix) — the mixed-language
    # detector monolingual pipelines threshold on. Same trained
    # profile as lang_id_ngram (docs %5 != 0, top-40 trigrams per
    # label); the held-out fifth is split into sentences, each
    # sentence classified by the identical broadcast NB model ('und'
    # counts as a language), then rolled up per doc: sentence count,
    # majority language (ties to the lexicographically first),
    # majority fraction, distinct languages. The oracle replays the
    # FULL chain: sentence split, gram fan-out, profile, per-sentence
    # argmax, per-doc majority window.
    from pandas_weights_spark.functions.text import (
        char_ngram_lang_profile,
        sentence_lang_mix,
    )

    docs = _docs(spark, sf_dir)
    prof = char_ngram_lang_profile(
        docs.where(F.col("doc_id") % 5 != 0), "text", "lang",
        n=3, top_k=40,
    )
    return sentence_lang_mix(
        docs.where(F.col("doc_id") % 5 == 0), "text", "doc_id", prof,
        labels=["de", "en", "es", "fr", "zh"], n=3,
    )


def _lang_mix_sql() -> str:
    from pandas_weights_spark.functions.text import split_sentences_sql

    s = split_sentences_sql("text")
    return rf"""
    WITH tr AS (
      SELECT lang, lower(text) AS t FROM documents WHERE doc_id % 5 != 0
    ), trg AS (
      SELECT lang, substr(t, CAST(i AS INT), 3) AS gram
      FROM (
        SELECT lang, t,
               unnest(range(1, greatest(length(t) - 2, 1) + 1)) AS i
        FROM tr
      )
    ), trg3 AS (
      SELECT lang, gram FROM trg WHERE length(gram) = 3
    ), pm AS (
      SELECT lang, gram, CAST(COUNT(*) AS DOUBLE) AS mass
      FROM trg3 GROUP BY 1, 2
    ), pr AS (
      SELECT lang, gram, mass FROM (
        SELECT *, row_number() OVER (
          PARTITION BY lang ORDER BY mass DESC, gram) AS rk
        FROM pm
      ) WHERE rk <= 40
    ), wl AS (
      SELECT lang, SUM(mass) AS W FROM pr GROUP BY lang
    ), vv AS (
      SELECT COUNT(DISTINCT gram) AS V FROM pr
    ), wide AS (
      SELECT gram,
        ln(COALESCE(SUM(CASE WHEN lang='de' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='de') + (SELECT V FROM vv) + 1) AS lp0,
        ln(COALESCE(SUM(CASE WHEN lang='en' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='en') + (SELECT V FROM vv) + 1) AS lp1,
        ln(COALESCE(SUM(CASE WHEN lang='es' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='es') + (SELECT V FROM vv) + 1) AS lp2,
        ln(COALESCE(SUM(CASE WHEN lang='fr' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='fr') + (SELECT V FROM vv) + 1) AS lp3,
        ln(COALESCE(SUM(CASE WHEN lang='zh' THEN mass END), 0) + 1)
          - ln((SELECT W FROM wl WHERE lang='zh') + (SELECT V FROM vv) + 1) AS lp4
      FROM pr GROUP BY gram
    ), hd AS (
      SELECT doc_id, {s} AS sa FROM documents WHERE doc_id % 5 = 0
    ), se AS (
      SELECT doc_id, CAST(i AS INT) AS sent_idx,
             lower(sa[CAST(i AS INT)]) AS t
      FROM (
        SELECT doc_id, sa, unnest(range(1, len(sa) + 1)) AS i FROM hd
      )
    ), sg AS (
      SELECT doc_id, sent_idx, substr(t, CAST(j AS INT), 3) AS gram
      FROM (
        SELECT doc_id, sent_idx, t,
               unnest(range(1, greatest(length(t) - 2, 1) + 1)) AS j
        FROM se
      )
    ), sg3 AS (
      SELECT doc_id, sent_idx, gram FROM sg WHERE length(gram) = 3
    ), sc AS (
      SELECT doc_id, sent_idx, SUM(lp0) AS s0, SUM(lp1) AS s1,
             SUM(lp2) AS s2, SUM(lp3) AS s3, SUM(lp4) AS s4
      FROM sg3 JOIN wide USING (gram) GROUP BY 1, 2
    ), fin AS (
      SELECT b.doc_id, b.sent_idx, sc.s0, sc.s1, sc.s2, sc.s3, sc.s4,
             greatest(sc.s0, sc.s1, sc.s2, sc.s3, sc.s4) AS best
      FROM se b
      LEFT JOIN sc ON b.doc_id = sc.doc_id
                  AND b.sent_idx = sc.sent_idx
    ), pred AS (
      SELECT doc_id,
        CASE WHEN best IS NULL THEN 'und'
             WHEN s0 = best THEN 'de'
             WHEN s1 = best THEN 'en'
             WHEN s2 = best THEN 'es'
             WHEN s3 = best THEN 'fr'
             WHEN s4 = best THEN 'zh'
             ELSE 'und' END AS pl
      FROM fin
    ), cnt AS (
      SELECT doc_id, pl, COUNT(*) AS n FROM pred GROUP BY 1, 2
    ), roll AS (
      SELECT doc_id, pl, n,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY n DESC, pl ASC) AS rk,
             SUM(n) OVER (PARTITION BY doc_id) AS tot,
             COUNT(*) OVER (PARTITION BY doc_id) AS nl
      FROM cnt
    )
    SELECT doc_id,
           CAST(tot AS BIGINT) AS n_sentences,
           pl AS majority_lang,
           CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS majority_frac,
           CAST(nl AS BIGINT) AS n_langs
    FROM roll WHERE rk = 1
"""


_ORACLE["lang_mix"] = _lang_mix_sql()


def _q_snapshot_delta(spark, sf_dir):
    # r10: incremental-recrawl snapshot diff (functions/dedup.py
    # snapshot_delta).  Old crawl = doc_id % 10 != 0; new crawl =
    # doc_id % 7 != 0 with every %5==0 page's content edited — so the
    # matrix covers all four statuses: added (%10==0, %7!=0), removed
    # (%7==0, %10!=0), changed (in both, %5==0 → odd multiples of 5),
    # unchanged (the rest).  Content identity is content_key's
    # md5(lower(trim(text))), the dedup_exact convention.  ONE
    # key-hash shuffle per side (full-outer equi-join), no fan-out.
    from pandas_weights_spark.functions.dedup import (
        content_key,
        snapshot_delta,
    )

    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 10 != 0).select(
        "doc_id", content_key(F.col("text")).alias("fp")
    )
    new = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        content_key(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" updated")),
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    return snapshot_delta(old, new, ["doc_id"], "fp")


_ORACLE["snapshot_delta"] = """
    WITH o AS (
      SELECT doc_id, md5(lower(trim(text))) AS fp
      FROM documents WHERE doc_id % 10 <> 0
    ),
    n AS (
      SELECT doc_id,
             md5(lower(trim(CASE WHEN doc_id % 5 = 0
                            THEN text || ' updated'
                            ELSE text END))) AS fp
      FROM documents WHERE doc_id % 7 <> 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           o.fp AS old_fp, n.fp AS new_fp,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp = n.fp THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


# --- driver correctness-window ROTATION POLICY (r11) -----------------
#
# The driver's correctness snapshot checks only the FIRST 50 keys of
# queries().  r10 ordered newest-first as a one-shot, which left the 30
# back-of-dict queries driver-unchecked for a whole round (VERDICT r10
# "What's wrong" #2).  The ordering is now COMPUTED from explicit sets
# so the window rotates every round.  r11 closed the round at 90
# registered queries — the every-OTHER-round guarantee's feasibility
# bound (n ≤ 90) is exactly saturated — so the policy is widened, as
# the registry test's message prescribes, to a THREE-round guarantee:
# no query goes driver-unchecked three rounds running.
#
#   front  = added or engine-touched THIS round  (hard signal on new code)
#   stale2 = checked in NEITHER of the last two windows (must re-check
#            NOW or it goes 3 rounds dark)
#   stale1 = unchecked last round, checked the round before
#   back   = checked last round and untouched    (rotate out)
#
# Per-round procedure (tests/test_registry.py enforces the outcome):
#   1. at round start, shift the windows: _PREV_WINDOW2 takes
#      _PREV_WINDOW's value, _PREV_WINDOW takes the key set of the
#      previous round's CORRECTNESS_r{N}.json (= that round's first 50);
#   2. reset _NEW_THIS_ROUND / _TOUCHED_THIS_ROUND to (), then append
#      every query you add, and every existing query whose engine code
#      path changes, as you work.
# Hard feasibility: |front ∪ stale2| ≤ 50 every round (asserted);
# advisory headroom bound n ≤ 140 (asserted with a widen-again message).

#: first-50 window of CORRECTNESS_r15.json (driver-checked last round).
_PREV_WINDOW: frozenset = frozenset({
    "cdx_index", "punkt_context", "semdedup_incremental",
    "mink_prob", "neardup_incremental", "punkt_abbrevs",
    "html_markdown", "c4_fineweb", "semdedup", "code_detect",
    "tfidf_top_terms", "text_metrics", "doc_weighted_stats",
    "weighted_tests", "resample_2d", "resample_rules",
    "resample_quantile", "neardup_clusters", "ewm_mean",
    "corr_cov_matrix", "group_skew_kurt", "value_counts",
    "group_corr", "wet_roundtrip", "readability", "html_meta",
    "token_budget", "ann_recall", "html_tables", "pipeline_funnel",
    "hybrid_search", "anchor_stats", "lang_mix", "charset_decode",
    "charset_stats", "lang_id_ngram", "web_hygiene",
    "warc_roundtrip", "pdf_extract", "spearman_corr",
    "aligned_corr_cov", "grouping_sets", "hash_split",
    "pack_sequences", "dedup_exact", "asof_join", "neardup_pairs",
    "linfit", "ann_topk", "range_join",
})

#: first-50 window of CORRECTNESS_r14.json (driver-checked two rounds
#: back) — the second history term of the three-round guarantee.
_PREV_WINDOW2: frozenset = frozenset({
    "wat_roundtrip", "cdx_index", "unimax_alloc", "meta_robots",
    "class_tfidf", "sitemap_parse", "mink_prob",
    "neardup_incremental", "dsir_select", "pq_topk",
    "weighted_sample", "tfidf_top_terms", "decontam", "calibration",
    "session_agg", "stream_resample", "multimodal_features",
    "phrase_hits", "zipf_stats", "semantic_decontam", "knn_density",
    "classifier_eval", "c4_fineweb", "hits", "snapshot_delta",
    "ccnet_buckets", "robots_directives", "quality_classifier",
    "semdedup", "edit_join", "bm25", "pagerank", "rp_project",
    "mixture_sample", "html_extract", "sentences",
    "jsonl_roundtrip", "robots_filter", "link_graph", "code_detect",
    "datasheet", "global_stats", "null_semantics", "group_mean",
    "group_var", "group_quantile", "group_quantile_binned",
    "group_mad", "group_zscore", "crosstab",
})

#: queries ADDED in the current round (r16) — always in the window.
#: r16 is an optimization round: no new queries.
_NEW_THIS_ROUND: tuple = ()

#: pre-existing queries whose ENGINE code path changed this round —
#: forced back into the window even if checked last round.
_TOUCHED_THIS_ROUND: tuple = (
    "mink_prob",         # r16: the three capped LM model tables
                         #   (vocab/bigram/trigram, 5000 each) come
                         #   from ONE fused corpus pass
                         #   (text.ngram_model_tables: one tokenize +
                         #   one explode + one aggregate + one salted
                         #   grouped top-k) instead of three separate
                         #   scan+explode+cap pipelines; per-order
                         #   row sets identical (pinned in
                         #   tests/test_text.py), output unchanged
    "ccnet_buckets",     # r16: same fusion for its {2,3} capped
                         #   count tables (one corpus pass instead
                         #   of two)
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    allq = _all_queries()
    priority = set(_NEW_THIS_ROUND) | set(_TOUCHED_THIS_ROUND)
    front = [n for n in allq if n in priority]
    rest = [n for n in allq if n not in priority]
    stale2 = [
        n for n in rest
        if n not in _PREV_WINDOW and n not in _PREV_WINDOW2
    ]
    stale1 = [
        n for n in rest
        if n not in _PREV_WINDOW and n in _PREV_WINDOW2
    ]
    back = [n for n in rest if n in _PREV_WINDOW]
    return {n: allq[n] for n in front + stale2 + stale1 + back}


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # stable REGISTRATION order (r10 head, then r6-r9, then r1-r5);
    # the driver-facing order is computed by queries() above.
    return {
        # --- r14 queries ---
        "wat_roundtrip": _q_wat_roundtrip,
        "cdx_index": _q_cdx_index,
        "unimax_alloc": _q_unimax_alloc,
        "meta_robots": _q_meta_robots,
        # --- r13 queries ---
        "punkt_context": _q_punkt_context,
        "semdedup_incremental": _q_semdedup_incremental,
        "class_tfidf": _q_class_tfidf,
        "sitemap_parse": _q_sitemap_parse,
        "wet_roundtrip": _q_wet_roundtrip,
        "mink_prob": _q_mink_prob,
        # --- r12 queries ---
        "neardup_incremental": _q_neardup_incremental,
        "punkt_abbrevs": _q_punkt_abbrevs,
        "phrase_hits": _q_phrase_hits,
        "zipf_stats": _q_zipf_stats,
        # --- r11 queries ---
        "readability": _q_readability,
        "html_meta": _q_html_meta,
        "semantic_decontam": _q_semantic_decontam,
        "html_markdown": _q_html_markdown,
        "knn_density": _q_knn_density,
        "token_budget": _q_token_budget,
        "classifier_eval": _q_classifier_eval,
        "ann_recall": _q_ann_recall,
        "c4_fineweb": _q_c4_fineweb,
        "html_tables": _q_html_tables,
        # --- r10 queries (newest first — see ORDERING CONTRACT) ---
        "pipeline_funnel": _q_pipeline_funnel,
        "hybrid_search": _q_hybrid_search,
        "hits": _q_hits,
        "anchor_stats": _q_anchor_stats,
        "lang_mix": _q_lang_mix,
        "snapshot_delta": _q_snapshot_delta,
        "ccnet_buckets": _q_ccnet_buckets,
        "charset_decode": _q_charset_decode,
        "charset_stats": _q_charset_stats,
        "lang_id_ngram": _q_lang_id_ngram,
        "robots_directives": _q_robots_directives,
        # --- r6-r9 queries (rotated into the checked window in r10) ---
        "quality_classifier": _q_quality_classifier,
        "dsir_select": _q_dsir_select,
        "semdedup": _q_semdedup,
        "web_hygiene": _q_web_hygiene,
        "edit_join": _q_edit_join,
        "bm25": _q_bm25,
        "pagerank": _q_pagerank,
        "pq_topk": _q_pq_topk,
        "rp_project": _q_rp_project,
        "mixture_sample": _q_mixture_sample,
        "html_extract": _q_html_extract,
        "warc_roundtrip": _q_warc_roundtrip,
        "sentences": _q_sentences,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "robots_filter": _q_robots_filter,
        "link_graph": _q_link_graph,
        "code_detect": _q_code_detect,
        "datasheet": _q_datasheet,
        "pdf_extract": _q_pdf_extract,
        # --- r1-r5 queries, original order (oldest rotate out back) ---
        "global_stats": _q_global_stats,
        "null_semantics": _q_null_semantics,
        "group_mean": _q_group_mean,
        "group_var": _q_group_var,
        "group_quantile": _q_group_quantile,
        "group_quantile_binned": _q_group_quantile_binned,
        "group_mad": _q_group_mad,
        "group_zscore": _q_group_zscore,
        "crosstab": _q_crosstab,
        "weighted_tests": _q_weighted_tests,
        "resample_2d": _q_resample_2d,
        "resample_rules": _q_resample_rules,
        "resample_quantile": _q_resample_quantile,
        "neardup_clusters": _q_neardup_clusters,
        "ewm_mean": _q_ewm_mean,
        "corr_cov_matrix": _q_corr_cov_matrix,
        "group_skew_kurt": _q_group_skew_kurt,
        "value_counts": _q_value_counts,
        "group_corr": _q_group_corr,
        "spearman_corr": _q_spearman_corr,
        "aligned_corr_cov": _q_aligned_corr_cov,
        "grouping_sets": _q_grouping_sets,
        "weighted_sample": _q_weighted_sample,
        "hash_split": _q_hash_split,
        "pack_sequences": _q_pack_sequences,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "dedup_exact": _q_dedup_exact,
        "text_metrics": _q_text_metrics,
        "asof_join": _q_asof_join,
        "doc_weighted_stats": _q_doc_weighted_stats,
        "neardup_pairs": _q_neardup_pairs,
        "linfit": _q_linfit,
        "ann_topk": _q_ann_topk,
        "range_join": _q_range_join,
        "weighted_cms": _q_weighted_cms,
        "ewm_pair": _q_ewm_pair,
        "group_transforms": _q_group_transforms,
        "qcut": _q_qcut,
        "pivot_table": _q_pivot_table,
        "bloom_semi_join": _q_bloom_semi_join,
        "weighted_centroids": _q_weighted_centroids,
        "window_stats": _q_window_stats,
        "star_join_mean": _q_star_join_mean,
        "grouped_apply": _q_grouped_apply,
        "chunk_docs": _q_chunk_docs,
        "decontam": _q_decontam,
        "calibration": _q_calibration,
        "session_agg": _q_session_agg,
        "stream_resample": _q_stream_resample,
        "multimodal_features": _q_multimodal_features,
    }


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLE)
