"""Plan-shape tests: the performance contract is structural (SURVEY.md
§4.3) — one shuffle per grouping, map-side partials, no Python eval in
expression paths, filters pushed to the parquet scan."""

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import wt
from pandas_weights_spark import plans as P
from pandas_weights_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return load_table(spark, SF, "lineitem")


class TestAggPlans:
    def test_grouped_mean_single_shuffle_with_partials(self, lineitem):
        df = wt(lineitem, "l_quantity").groupby("l_returnflag").mean()
        P.assert_single_shuffle_agg(df)

    def test_agg_all_fuses_into_one_pass(self, lineitem):
        df = (
            wt(lineitem, "l_quantity")
            .groupby("l_returnflag")[["l_extendedprice"]]
            .agg_all(["count", "sum", "mean", "var", "std"])
        )
        P.assert_single_shuffle_agg(df)

    def test_moment_partial_aggregate_counts(self, lineitem):
        # each statistic aggregates only the moment sums it reads, with
        # no min_count guard around Σw·x (already NULL when no row is
        # valid): mean = Σw·x, W per column; mean/var/std/count share
        # Σw·x, Σw·x², W per column
        import re

        cols = ["l_extendedprice", "l_discount", "l_tax"]
        w = wt(lineitem, "l_quantity")

        def partials(df):
            return len(re.findall(r"partial_\w+\(", P.physical_plan(df)))

        assert partials(w[cols].mean()) == 6
        assert partials(
            w.groupby("l_returnflag")[cols].agg_all(
                ["mean", "var", "std", "count"]
            )
        ) == 9

    def test_global_agg_no_hash_exchange(self, lineitem):
        df = wt(lineitem, "l_quantity").mean(subset=["l_extendedprice"])
        plan = P.physical_plan(df)
        assert "partial_" in plan
        assert "Exchange hashpartitioning" not in plan

    def test_grouped_corr_single_shuffle(self, lineitem):
        df = (
            wt(lineitem, "l_quantity")[["l_returnflag", "l_extendedprice", "l_discount"]]
            .groupby("l_returnflag")
            .corr()
        )
        P.assert_single_shuffle_agg(df)

    def test_no_python_eval_anywhere(self, lineitem):
        from pandas_weights_spark.functions.text import lang_id, quality_score

        docs = load_table(lineitem.sparkSession, SF, "documents")
        df = docs.select(lang_id(F.col("text")), quality_score(F.col("text")))
        assert not P.has_python_eval(df)
        df2 = wt(lineitem, "l_quantity").groupby("l_returnflag").var()
        assert not P.has_python_eval(df2)


class TestScanPruning:
    def test_filter_pushdown_reaches_scan(self, lineitem):
        df = (
            wt(lineitem.where(F.col("l_returnflag") == "A"), "l_quantity")
            .groupby("l_linestatus")[["l_extendedprice"]]
            .sum()
        )
        filters = P.pushed_filters(df)
        assert any("l_returnflag" in f for f in filters), filters

    def test_column_pruning_reaches_scan(self, lineitem):
        df = (
            wt(lineitem, "l_quantity")
            .groupby("l_returnflag")[["l_extendedprice"]]
            .mean()
        )
        plan = P.physical_plan(df)
        import re

        m = re.search(r"ReadSchema: ([^\n]*)", plan)
        assert m, plan
        read = m.group(1)
        # only the key, the weight, and the selected value column are read
        assert "l_extendedprice" in read and "l_quantity" in read
        assert "l_comment" not in read and "l_partkey" not in read


class TestNewOperatorPlans:
    def test_rowwise_stats_no_exchange(self, lineitem):
        # axis=1 stats are row-local expressions — nothing to shuffle
        df = wt(lineitem, "l_quantity").row_var(
            subset=["l_extendedprice", "l_discount", "l_tax"]
        )
        assert P.count_exchanges(df) == 0
        assert not P.has_python_eval(df)

    def test_rolling_single_exchange_one_window(self, lineitem):
        df = (
            wt(
                lineitem.select(
                    "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
                ),
                "l_quantity",
            )
            .rolling(3, order_by=["l_linenumber"], partition_by=["l_orderkey"])
            .mean()
        )
        plan = P.physical_plan(df)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Window") == 1, plan  # all aggs share one window
        assert not P.has_python_eval(df)

    def test_mixed_frames_share_one_window_exec(self, lineitem):
        # rolling.col exposes stats as Columns so a rolling AND an
        # expanding frame over the same partition+order evaluate in ONE
        # WindowExec: one shuffle, one sort — not one pass per frame.
        wdf = wt(
            lineitem.select(
                "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
            ),
            "l_quantity",
        )
        roll = wdf.rolling(
            3, order_by=["l_linenumber"], partition_by=["l_orderkey"]
        )
        exp = wdf.expanding(
            order_by=["l_linenumber"], partition_by=["l_orderkey"]
        )
        df = wdf.df.select(
            "l_orderkey",
            "l_linenumber",
            roll.col("mean", "l_extendedprice").alias("r"),
            exp.col("var", "l_extendedprice").alias("e"),
        )
        plan = P.physical_plan(df)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Window") == 1, plan
        assert plan.count("Sort") == 1, plan
        assert not P.has_python_eval(df)

    def test_quantile_reuses_window_exchange(self, lineitem):
        df = (
            wt(lineitem, "l_quantity")
            .groupby("l_returnflag")[["l_extendedprice"]]
            .quantile([0.5, 0.9])
        )
        # window partitioning == grouping key → agg rides the same shuffle
        assert P.count_exchanges(df) == 1, P.physical_plan(df)

    def test_spearman_rank_windows_are_banded(self, lineitem):
        # the cumulative-count windows must partition by (keys, band),
        # never by the group keys alone over the distinct-value frame —
        # the banded prefix sum keeps ranking parallel when the key has
        # 3 distinct values and the ranked column is near-unique
        from pandas_weights_spark.corr import spearman_corr

        df = spearman_corr(
            wt(lineitem, "l_quantity"),
            "l_extendedprice",
            "l_discount",
            by=["l_returnflag"],
        )
        plan = P.physical_plan(df)
        import re

        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, plan
        for spec in specs:
            # every ordered-window spec is either banded (partitioned by
            # (keys, __bandx__/__bandy__)) or runs over the <=
            # bands-rows-per-group offset frame (which orders by band)
            assert "__band" in spec, spec
        # rank pipeline shape: no melt/explode, no rank join-back on the
        # value, no row-id regroup — ranks ride the two banded window
        # sorts directly (generate = explode would mean the r3 melt came
        # back)
        assert "Generate" not in plan, plan
        # r4: exactly TWO full scans — one grouping-sets band-count
        # pass feeding BOTH columns' offset maps (a per-column branch
        # lets Catalyst split the Expand and rescan per column), one
        # final rank pass. The band-bound sample runs eagerly before
        # this plan and is not part of it.
        assert plan.count("Scan parquet") == 2, plan
        # The transform must be agg -> join-back -> map, NOT a
        # Window.partitionBy(keys) over the whole table: with a
        # low-cardinality key the window would funnel the entire
        # dataset into a handful of tasks at scale.
        df = (
            wt(lineitem, "l_quantity")
            .groupby("l_returnflag")[["l_extendedprice"]]
            .zscore()
        )
        plan = P.physical_plan(df)
        assert "Window" not in plan, plan
        # the group-moments side still aggregates with map-side partials
        assert "partial_" in plan
        assert not P.has_python_eval(df)

    def test_similarity_and_dedup_no_python_eval(self, spark):
        from pandas_weights_spark.functions.dedup import (
            minhash_near_duplicates,
            ngram_jaccard_near_duplicates,
        )

        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        for df in (
            minhash_near_duplicates(docs, "text", "doc_id", threshold=0.5),
            ngram_jaccard_near_duplicates(docs, "text", "doc_id", threshold=0.5),
        ):
            assert not P.has_python_eval(df)

    def test_weighted_sample_is_take_ordered(self, lineitem):
        # πps sample must compile to TakeOrdered (per-partition top-n,
        # no full sort / full shuffle) with the filter pushed to the scan
        from pandas_weights_spark.sample import weighted_sample

        df = weighted_sample(
            lineitem, F.col("l_quantity"), 100, ["l_orderkey", "l_linenumber"]
        )
        plan = P.physical_plan(df)
        assert "TakeOrderedAndProject" in plan, plan
        assert "Exchange hashpartitioning" not in plan
        assert "PushedFilters: [IsNotNull(l_quantity)" in plan
        assert not P.has_python_eval(df)

    def test_hash_split_no_exchange(self, lineitem):
        from pandas_weights_spark.sample import hash_split

        df = hash_split(
            lineitem, {"train": 0.8, "test": 0.2}, ["l_orderkey", "l_linenumber"]
        )
        assert P.count_exchanges(df) == 0
        assert not P.has_python_eval(df)

    def test_cov_single_shuffle(self, lineitem):
        df = (
            wt(lineitem, "l_quantity")[
                ["l_returnflag", "l_extendedprice", "l_discount"]
            ]
            .groupby("l_returnflag")
            .cov()
        )
        P.assert_single_shuffle_agg(df)

    def test_histogram_single_shuffle(self, lineitem):
        from pandas_weights_spark.frame import WeightedSeries

        s = WeightedSeries(lineitem, "l_extendedprice", F.col("l_quantity"))
        P.assert_single_shuffle_agg(s.histogram(0.0, 60000.0, 12))

    def test_topk_broadcasts_queries(self, spark):
        from pandas_weights_spark.functions.similarity import topk_bruteforce

        emb = load_table(spark, SF, "embeddings")
        q = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        plan = P.physical_plan(topk_bruteforce(q, emb, k=3))
        assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
        assert P.count_exchanges(topk_bruteforce(q, emb, k=3)) <= 1

    def test_asof_join_single_shuffle_no_bnl(self, spark):
        # union + ordered-carry: ONE hash shuffle on the by-key; never a
        # BroadcastNestedLoopJoin / CartesianProduct (the naive
        # inequality-join plans, quadratic at scale).
        from pandas_weights_spark.functions.asof import asof_join
        from pandas_weights_spark.sources import load_table

        ev = load_table(spark, SF, "events")
        left = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        right = ev.where(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("value").alias("view_value")
        )
        df = asof_join(left, right, on="ts", by=["user_id"])
        plan = P.physical_plan(df)
        assert P.count_exchanges(df) == 1, plan
        assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
        assert not P.has_python_eval(df)

    def test_ewm_one_exchange_bounded_windows(self, lineitem):
        # banded rescale: one hash shuffle; the in-band prefix window is
        # partitioned by (keys, band) — never an unbounded ordered
        # window over the bare partition keys; one scan (no self-join
        # duplicating the input lineage).
        df = (
            wt(
                lineitem.select(
                    "l_orderkey",
                    "l_linenumber",
                    "l_extendedprice",
                    "l_quantity",
                    "l_returnflag",
                ),
                "l_quantity",
            )[["l_extendedprice"]]
            .ewm(
                order_by=["l_orderkey", "l_linenumber"],
                partition_by=["l_returnflag"],
                alpha=0.1,
            )
            .mean()
        )
        plan = P.physical_plan(df)
        assert P.count_exchanges(df) == 1, plan
        assert plan.count("Scan parquet") == 1, plan
        assert "__pw_ewm_band__" in plan, plan
        assert not P.has_python_eval(df)


class TestCdfAndVariantPlans:
    def test_cdf_tot_fused_into_band_window(self, lineitem):
        # the group total rides the same WindowExec as the exclusive
        # band offset — no separate groupBy(keys) aggregate + join for
        # the denominator. Shape: range agg+join, band-mass agg, ONE
        # window pass over band totals joined back, then the
        # tie-inclusive RANGE-frame cumulative sum DIRECTLY over the
        # rows (no distinct-value agg, no join back on (keys, value)).
        df = (
            wt(lineitem, "l_quantity")
            .groupby("l_returnflag")[["l_extendedprice"]]
            .cdf()
        )
        plan = P.physical_plan(df)
        # the denominator __tw_<col>__ must be produced INSIDE a Window
        # node (second frame of the band-offset WindowExec), not by its
        # own aggregate + join
        assert any(
            "Window [" in line and "__tw_" in line
            for line in plan.splitlines()
        ), plan
        # joins: range join (x2 lineage branches, AQE-reused at
        # runtime) + band-offset join = 3; more would mean the
        # per-value join-back came back
        n_joins = sum(plan.count(j) for j in
                      ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
        assert n_joins <= 4, plan
        # the per-row cumulative sum must be a RANGE frame (ties
        # included), not a distinct-value detour
        assert "RangeFrame" in plan, plan

    def test_ewm_variant_one_exchange(self, lineitem):
        # adjust=False / ignore_na=True run per-column L-banded windows;
        # hashpartitioning(keys) satisfies every window clustering, so
        # the whole plan still has ONE exchange.
        for kw in ({"ignore_na": True}, {"adjust": False},
                   {"adjust": False, "ignore_na": True}):
            df = (
                wt(
                    lineitem.select(
                        "l_orderkey", "l_linenumber", "l_extendedprice",
                        "l_quantity", "l_returnflag",
                    ),
                    "l_quantity",
                )[["l_extendedprice"]]
                .ewm(
                    order_by=["l_orderkey", "l_linenumber"],
                    partition_by=["l_returnflag"],
                    alpha=0.1,
                    **kw,
                )
                .mean()
            )
            plan = P.physical_plan(df)
            assert P.count_exchanges(df) == 1, (kw, plan)
            assert plan.count("Scan parquet") == 1, (kw, plan)
            assert not P.has_python_eval(df)


class TestRound5Plans:
    def test_chunk_neardup_no_python_no_cartesian(self, spark):
        from pandas_weights_spark.functions.dedup import (
            chunk_near_duplicates,
        )

        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        df = chunk_near_duplicates(docs, "text", "doc_id", chunk_tokens=32)
        assert not P.has_python_eval(df)
        plan = P.physical_plan(df)
        assert "CartesianProduct" not in plan

    def test_minhash_join_no_python_no_cartesian(self, spark):
        from pandas_weights_spark.functions.dedup import minhash_join

        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        probes = docs.select(
            (F.col("doc_id") + 1000).alias("pid"), "text"
        ).limit(20)
        df = minhash_join(docs, probes, "text", "text", "doc_id", "pid")
        assert not P.has_python_eval(df)
        assert "CartesianProduct" not in P.physical_plan(df)

    def test_quality_panel_single_tokenize(self, spark):
        # the fused panel's producer projection must SURVIVE: exactly
        # one split-on-whitespace (tokenize) and one split-on-newline
        # in the plan — a collapse back to per-metric re-splits fails
        from pandas_weights_spark.functions.quality import quality_panel

        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        plan = P.physical_plan(quality_panel(docs))
        assert plan.count("split(trim(text") <= 1, plan
        assert not P.has_python_eval(quality_panel(docs))

    def test_lm_score_broadcasts_vocab(self, spark):
        from pandas_weights_spark.functions.text import unigram_lm_score
        from pandas_weights_spark.functions.vocab import build_vocabulary

        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        vocab = build_vocabulary(docs, "text", max_size=100)
        df = unigram_lm_score(docs, "text", "doc_id", vocab)
        plan = P.physical_plan(df)
        assert "BroadcastHashJoin" in plan
        assert not P.has_python_eval(df)

    def test_bpe_pair_counts_partial_agg(self, spark):
        from pandas_weights_spark.functions.vocab import (
            bpe_pair_counts,
            bpe_word_table,
        )

        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        pc = bpe_pair_counts(bpe_word_table(docs, "text"))
        assert P.has_partial_aggregation(pc)
        assert not P.has_python_eval(pc)
