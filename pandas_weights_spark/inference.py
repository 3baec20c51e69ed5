"""Weighted hypothesis-test statistics (engine extension — the
reference stops at descriptive moments, SURVEY.md §2.6; these are the
inferential counterparts built from the SAME moment kernels, under the
engine's frequency-weight convention: Σw plays n, ddof subtracts from
Σw).

No p-values are emitted: Spark has no t/χ² CDF builtin and a Python
UDF for one scalar per group would poison the whole-stage-codegen
plan; the (statistic, dof) pair is the deliverable (tail probabilities
are a driver-side table lookup away and deliberately out of the data
plan).

Scale shapes:

* ``weighted_ttest`` — Welch's unequal-variance two-sample t. ONE
  conditionally-masked moment aggregate computes both samples' count /
  mean / variance per ``by`` group (same one-shuffle shape as
  ``agg_all``), then the t statistic and Welch–Satterthwaite dof are
  row-local algebra on the 1-row-per-group result.
* ``weighted_chi2`` — χ² independence of two categoricals. ONE
  ``groupBy(r, c)`` aggregate emits the observed cell masses in a
  single map-side-combining pass; row totals, column totals, the grand
  total, expected masses and the χ² sum are then re-aggregations of
  the tiny cell table (R×C rows) — the raw data is scanned exactly
  once.
"""

from __future__ import annotations

import math

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandas_weights_spark import _stats
from pandas_weights_spark.frame import WEIGHT_COL
from pandas_weights_spark.quantile import _mass

__all__ = [
    "weighted_ttest",
    "weighted_chi2",
    "weighted_anova",
    "weighted_entropy",
    "weighted_mutual_information",
    "weighted_info_panel",
]


def _entropy(total: Column, mlm: Column) -> Column:
    """Shannon entropy in nats of a mass distribution from its total
    ``W`` and ``Σ m·ln m``: ``−Σ p ln p = ln W − (Σ m ln m)/W``, so
    each category needs only its own mass — no join of the total back
    onto the categories."""
    return F.log(total) - F.try_divide(mlm, total)


def weighted_ttest(
    wdf,
    value: str,
    group_col: str,
    group_a,
    group_b,
    by: Optional[Sequence[str]] = None,
    ddof: int = 1,
) -> DataFrame:
    """Welch's two-sample t statistic between the rows where
    ``group_col == group_a`` and ``== group_b`` (optionally per ``by``
    key): columns ``n_a/mean_a/var_a``, same for ``b``, ``t_stat``,
    ``df`` (Welch–Satterthwaite). ``n`` is the weight mass Σw; any
    guard failure (empty side, non-positive variance base) yields NULL
    — the kernels' convention.
    """
    keys = list(by or [])
    for c in [value, group_col, *keys]:
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    x = wdf._value_sql(value)
    w = _stats.q(WEIGHT_COL)
    aggs = []
    for tag, gv in (("a", group_a), ("b", group_b)):
        mask = f"({_stats.q(group_col)} <=> {_stats.lit(gv)})"
        xm = f"CASE WHEN {mask} THEN {x} END"
        wm = f"CASE WHEN {mask} THEN {w} END"
        aggs += [
            f"{_stats.stat_sql('count', xm, wm)} AS n_{tag}",
            f"{_stats.stat_sql('mean', xm, wm)} AS mean_{tag}",
            f"{_stats.stat_sql('var', xm, wm, ddof=ddof)} AS var_{tag}",
        ]
    g = _stats.aggregate(wdf.df, aggs, keys)
    se2a = "try_divide(var_a, n_a)"
    se2b = "try_divide(var_b, n_b)"
    se2 = f"({se2a} + {se2b})"
    t = f"try_divide((mean_a - mean_b), sqrt({se2}))"
    one = _stats.num(1.0)
    df_w = (
        f"try_divide(({se2} * {se2}), (try_divide(({se2a} * {se2a}), (n_a - {one}))"
        f" + try_divide(({se2b} * {se2b}), (n_b - {one}))))"
    )
    return g.selectExpr(
        *[_stats.q(k) for k in keys],
        "n_a", "mean_a", "var_a", "n_b", "mean_b", "var_b",
        f"CASE WHEN ({se2} > 0) THEN {t} END AS t_stat",
        f"CASE WHEN ({se2} > 0) THEN {df_w} END AS df",
    )


def weighted_chi2(
    wdf,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """χ² test of independence between two categorical columns over
    the weighted contingency table: one row with ``chi2``, ``dof`` =
    (R−1)(C−1), ``n`` (grand mass), and ``cramers_v`` =
    √(χ² / (n·min(R−1, C−1))). NULL categories are ordinary buckets.

    The raw rows are read once: ``groupBy(row, col).sum(w)`` gives the
    observed cell table, the row and column totals re-aggregate it, the
    grand total and R re-aggregate the row totals, and C is the size of
    the R×C grid over R — so every consumer reuses the cell table's one
    exchange.
    """
    for c in (row_col, col_col):
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    r, c = _stats.q(row_col), _stats.q(col_col)
    # reserved names: a user category column may be called o, rt, g, ...
    o, rk, ck, rt, ct, g, nr, k = (
        f"__pw_chi2_{s}__" for s in ("o", "rk", "ck", "rt", "ct", "g", "nr", "k")
    )
    cells = wdf.df.groupBy(F.col(r), F.col(c)).agg(
        F.expr(f"sum({_stats.q(WEIGHT_COL)}) AS {o}")
    )
    rtot = cells.groupBy(F.expr(f"{r} AS {rk}")).agg(F.expr(f"sum({o}) AS {rt}"))
    ctot = cells.groupBy(F.expr(f"{c} AS {ck}")).agg(F.expr(f"sum({o}) AS {ct}"))
    grand = rtot.selectExpr(f"sum({rt}) AS {g}", f"count(1) AS {nr}")
    # the FULL R×C grid, not just observed combos: an empty cell has
    # O = 0 but E = rt·ct/g > 0 and still contributes E to the χ² sum
    # (scipy/pandas semantics), so every term stays a non-negative
    # (O−E)²/E. Null-safe cell join (cell keys are unique, so one row
    # per grid point): NULL categories are ordinary buckets. Everything
    # below the cell aggregate is R×C rows — all joins broadcast.
    j = (
        rtot.crossJoin(ctot)
        .join(cells, F.expr(f"({rk} <=> {r}) AND ({ck} <=> {c})"), how="left")
        .crossJoin(F.broadcast(grand))
    )
    obs = f"coalesce({o}, {_stats.num(0.0)})"
    e = f"(({rt} * {ct}) / {g})"
    agg = j.selectExpr(
        f"sum(try_divide((({obs} - {e}) * ({obs} - {e})), {e})) AS chi2",
        # every grid row carries the same grand total and R; an empty
        # grid means an empty input, R = C = 0
        f"min({g}) AS n",
        f"coalesce(min({nr}), 0) AS {nr}",
        f"count(1) AS {k}",
    )
    rr = f"({nr} - 1)"
    cc = f"(coalesce(CAST(try_divide({k}, {nr}) AS BIGINT), 0) - 1)"
    return agg.selectExpr(
        "chi2",
        f"CAST(({rr} * {cc}) AS BIGINT) AS dof",
        "n",
        f"sqrt(try_divide(chi2, (n * CAST(least({rr}, {cc}) AS DOUBLE)))) AS cramers_v",
    )


def weighted_anova(
    wdf,
    value: str,
    group_col: str,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """One-way ANOVA F statistic across the levels of ``group_col``
    (optionally per ``by`` key): ``f_stat``, ``df_between`` = k−1,
    ``df_within`` = W−k, ``n`` = grand mass W, ``k`` = level count.

    Frequency-weight convention throughout (Σw plays n, like every
    kernel): SSB = Σ_g W_g (m_g − m)², SSW = Σ_g Σ w(x − m_g)².

    Scale shape: ONE groupBy(by…, group) moment pass over the raw rows
    (map-side combining), then the F algebra re-aggregates the tiny
    k-rows-per-key table — the raw data is scanned exactly once. NULL
    group levels are ordinary buckets; rows with NULL value or weight
    contribute nothing (the kernels' mask).
    """
    keys = list(by or [])
    for c in [value, group_col, *keys]:
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    x = wdf._value(value)
    w = wdf.weights
    # the quantile family's mass rule (entropy/gini/ks/mwu): NULL
    # value/weight AND non-positive weights contribute nothing
    m = _mass(x, w)
    per = wdf.df.groupBy(*[F.col(k) for k in keys], F.col(group_col)).agg(
        F.sum(m).alias("__wg__"),
        F.sum(m * x).alias("__sg__"),
        F.sum(m * x * x).alias("__ssg__"),
    ).where(F.col("__wg__") > 0)
    wg, sg, ssg = F.col("__wg__"), F.col("__sg__"), F.col("__ssg__")
    # per-level within-group sum of squares: Σwx² − (Σwx)²/W_g
    within = ssg - F.try_divide(sg * sg, wg)
    agg = per.groupBy(*[F.col(k) for k in keys]).agg(
        F.sum(wg).alias("__W__"),
        F.sum(sg).alias("__S__"),
        F.sum(ssg).alias("__SS__"),
        F.sum(within).alias("__ssw__"),
        F.count(F.lit(1)).alias("__k__"),
    )
    W, S, SS = F.col("__W__"), F.col("__S__"), F.col("__SS__")
    ssw = F.col("__ssw__")
    k = F.col("__k__")
    sst = SS - F.try_divide(S * S, W)
    ssb = sst - ssw
    df_b = (k - F.lit(1)).cast("double")
    df_w = W - k.cast("double")
    f = F.try_divide(
        F.try_divide(ssb, df_b), F.try_divide(ssw, df_w)
    )
    return agg.select(
        *keys,
        F.when((df_b > 0) & (df_w > 0) & (ssw > 0), f).alias("f_stat"),
        df_b.alias("df_between"),
        df_w.alias("df_within"),
        W.alias("n"),
        k.cast("long").alias("k"),
    )


def weighted_entropy(
    wdf,
    cat_col: str,
    by: Optional[Sequence[str]] = None,
    base: Optional[float] = None,
) -> DataFrame:
    """Shannon entropy of ``cat_col``'s weight-mass distribution
    (optionally per ``by`` key): ``entropy`` = −Σ p·ln p (natural log
    by default; pass ``base=2`` for bits), ``n_categories``, ``n`` =
    total mass. NULL categories are ordinary buckets; non-positive
    weights contribute nothing.

    ONE groupBy(by…, cat) mass pass, then the entropy sum re-aggregates
    the tiny category table. −Σ p ln p is computed as
    ``ln W − (Σ m ln m)/W`` so each category needs only its own mass —
    no join of the total back onto categories.
    """
    keys = list(by or [])
    for c in [cat_col, *keys]:
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    w = wdf.weights
    m = _mass(None, w)
    per = wdf.df.groupBy(*[F.col(k) for k in keys], F.col(cat_col)).agg(
        F.sum(m).alias("__m__")
    ).where(F.col("__m__") > 0)
    mm = F.col("__m__")
    agg = per.groupBy(*[F.col(k) for k in keys]).agg(
        F.sum(mm).alias("__W__"),
        F.sum(mm * F.log(mm)).alias("__mlm__"),
        F.count(F.lit(1)).alias("__k__"),
    )
    W = F.col("__W__")
    h_nats = _entropy(W, F.col("__mlm__"))
    h = h_nats if base is None else h_nats / F.lit(math.log(base))
    return agg.select(
        *keys,
        F.when(W > 0, h).alias("entropy"),
        F.col("__k__").cast("long").alias("n_categories"),
        W.alias("n"),
    )


def weighted_info_panel(
    wdf,
    value: str,
    cat_a: str,
    cat_b: str,
    ks_group_a,
    ks_group_b,
    bands: int = 256,
    checkpoint: bool = True,
) -> DataFrame:
    """The whole information/dispersion panel — one-way ANOVA F of
    ``value`` across ``cat_a``, weight-mass entropy of ``cat_a``,
    mutual information between ``cat_a`` and ``cat_b``, Gini of
    ``value``, and the two-sample KS statistic of ``value`` between
    ``cat_a`` levels ``ks_group_a``/``ks_group_b`` — computed with TWO
    raw-data passes instead of five, reproducing the standalone
    kernels' values exactly.

    Shared-scan shape:

    * ONE ``GROUPING SETS ((a,b),(a),(b),())`` pass carries both the
      entropy/MI mass (``w > 0``) and the ANOVA per-level value
      moments (value-and-weight mask); entropy + MI + the F statistic
      then re-aggregate the tiny cell table in one aggregate.
    * ONE banded-prefix pass (:func:`~pandas_weights_spark.quantile.
      _banded_cums`) carries all four cumulative masses — Gini's
      (w, wx) and KS's per-side (a, b) — through the same band
      windows; both statistics fall out of one final aggregate.

    Output: tagged long rows ``(t, v)`` with t ∈ {anova, entropy, mi,
    gini, ks}.

    ``checkpoint=True`` (default) cuts lineage on the reused cell
    table with a lazy ``localCheckpoint`` — faster (each consumer
    reuses the materialized blocks), but executor loss fails the job
    instead of recomputing and the blocks pin executor storage until
    the DataFrame is garbage-collected. Pass ``checkpoint=False`` to
    keep recoverable pure-lineage plans.
    """
    from pandas_weights_spark.quantile import (
        _banded_cums,
        _gini,
        _ks,
        _two_sample,
    )

    for c in (value, cat_a, cat_b):
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    x = wdf._value(value)
    w = wdf.weights
    xd = x.cast("double")
    m_ent = _mass(None, w)
    m_an = _mass(x, w)
    gs = wdf.df.groupingSets(
        [[cat_a, cat_b], [cat_a], [cat_b], []], cat_a, cat_b
    ).agg(
        F.sum(m_ent).alias("__m__"),
        F.sum(m_an).alias("__wg__"),
        F.sum(m_an * xd).alias("__sg__"),
        F.sum(m_an * xd * xd).alias("__ssg__"),
        # the value range rides the same pass: donated to the banded
        # spine below as its band bounds, so no separate min/max probe
        # reads the raw data a fifth time
        F.min(xd).alias("__xlo__"),
        F.max(xd).alias("__xhi__"),
        F.grouping(cat_a).alias("__ga__"),
        F.grouping(cat_b).alias("__gb__"),
    )
    # LAZY lineage cut on the CELL table — `info` consumes it once and
    # the donated `bounds` twice more (the banded frame references its
    # broadcast from both sides of the offsets join, and exchange reuse
    # does not fire across the differently-pruned subtrees), so without
    # the cut the full grouping-sets raw pass executed three times. The
    # table is |levels(a)|·|levels(b)|-sized; deterministic sums, rows
    # unchanged (oracle-checked). Gated by ``checkpoint``: the cut
    # trades executor-loss recompute and pinned executor storage for
    # speed; checkpoint=False keeps pure-lineage plans.
    if checkpoint:
        gs = gs.localCheckpoint(eager=False)
    bounds = gs.agg(F.min("__xlo__"), F.max("__xhi__"))
    ga, gb = F.col("__ga__"), F.col("__gb__")
    lvl_x = (ga == 0) & (gb == 1)
    lvl_y = (ga == 1) & (gb == 0)
    lvl_xy = (ga == 0) & (gb == 0)
    lvl_g = (ga == 1) & (gb == 1)
    mm = F.col("__m__")
    wg, sg, ssg = F.col("__wg__"), F.col("__sg__"), F.col("__ssg__")
    pos = mm > 0
    apos = wg > 0
    info = gs.agg(
        # entropy / MI: Σm·ln m per grouping level + the grand mass
        F.sum(F.when(lvl_x & pos, mm * F.log(mm))).alias("__xml__"),
        F.sum(F.when(lvl_y & pos, mm * F.log(mm))).alias("__yml__"),
        F.sum(F.when(lvl_xy & pos, mm * F.log(mm))).alias("__jml__"),
        F.sum(F.when(lvl_g, mm)).alias("__G__"),
        # ANOVA: per-level moments ride the x-marginal rows
        F.sum(F.when(lvl_x & apos, wg)).alias("__W__"),
        F.sum(F.when(lvl_x & apos, ssg)).alias("__SS__"),
        F.sum(F.when(lvl_x & apos, sg)).alias("__S__"),
        F.sum(
            F.when(lvl_x & apos, ssg - F.try_divide(sg * sg, wg))
        ).alias("__ssw__"),
        F.sum(F.when(lvl_x & apos, F.lit(1))).alias("__k__"),
    )
    G = F.col("__G__")
    h = lambda c: _entropy(G, F.col(c))  # noqa: E731
    mi = h("__xml__") + h("__yml__") - h("__jml__")
    W, S, SS = F.col("__W__"), F.col("__S__"), F.col("__SS__")
    ssw, k = F.col("__ssw__"), F.col("__k__").cast("double")
    sst = SS - F.try_divide(S * S, W)
    df_b, df_w = k - F.lit(1.0), W - k
    f_stat = F.try_divide(
        F.try_divide(sst - ssw, df_b), F.try_divide(ssw, df_w)
    )
    part1 = info.select(
        F.expr("stack(3, 'anova', 0d, 'entropy', 0d, 'mi', 0d) AS (t, z)"),
        F.when((df_b > 0) & (df_w > 0) & (ssw > 0), f_stat).alias("__f__"),
        F.when(G > 0, h("__xml__")).alias("__h__"),
        F.when(G > 0, mi).alias("__mi__"),
    ).select(
        "t",
        F.when(F.col("t") == "anova", F.col("__f__"))
        .when(F.col("t") == "entropy", F.col("__h__"))
        .otherwise(F.col("__mi__"))
        .alias("v"),
    )

    frame, spines = _banded_cums(
        wdf,
        {
            value: {
                "m": m_an,
                "s": m_an * xd,
                **_two_sample(x, w, cat_a, ks_group_a, ks_group_b),
            }
        },
        [],
        bands,
        bounds=bounds,
    )
    gini_aggs, gini = _gini(x, m_an, spines[value])
    ks_aggs, ks = _ks(x, spines[value])
    part2 = frame.agg(*gini_aggs, *ks_aggs).select(
        F.expr("stack(2, 'gini', 0d, 'ks', 0d) AS (t, z)"),
        gini.alias("__gini__"),
        ks.alias("__k__"),
    ).select(
        "t",
        F.when(F.col("t") == "gini", F.col("__gini__"))
        .otherwise(F.col("__k__"))
        .alias("v"),
    )
    return part1.unionByName(part2)


def weighted_mutual_information(
    wdf,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mutual information between two categoricals over the weighted
    contingency table: one row with ``mi`` = Σ p_xy ln(p_xy/(p_x p_y))
    (nats), marginal entropies ``h_x``/``h_y``, joint ``h_xy``,
    normalized ``nmi`` = mi/√(h_x·h_y), and ``n`` (grand mass).

    One grouping-sets scan — cells, both marginals and the grand total
    in one map-side-combining pass;
    the information sums then re-aggregate the R×C cell table using
    only entropies (MI = H(x) + H(y) − H(x,y), so no cell↔marginal
    join at all). Zero cells contribute nothing (lim p→0 p·ln p = 0).
    """
    for c in (x_col, y_col):
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    w = wdf.weights
    m = _mass(None, w)
    gs = wdf.df.groupingSets(
        [[x_col, y_col], [x_col], [y_col], []], x_col, y_col
    ).agg(
        F.sum(m).alias("__m__"),
        F.grouping(x_col).alias("__gx__"),
        F.grouping(y_col).alias("__gy__"),
    ).where(F.col("__m__") > 0)
    mm = F.col("__m__")
    # Σ m·ln m per grouping level + the grand total, all in one pass
    # over the tiny grouping-sets output
    lvl = (
        F.when((F.col("__gx__") == 0) & (F.col("__gy__") == 0), "xy")
        .when((F.col("__gx__") == 0) & (F.col("__gy__") == 1), "x")
        .when((F.col("__gx__") == 1) & (F.col("__gy__") == 0), "y")
        .otherwise("g")
    )
    t = gs.select(lvl.alias("__lvl__"), mm.alias("__m__"))
    agg = t.groupBy().pivot("__lvl__", ["xy", "x", "y", "g"]).agg(
        F.sum(F.col("__m__") * F.log("__m__")).alias("mlm"),
        F.sum("__m__").alias("w"),
    )
    W = F.col("g_w")
    h = lambda tag: _entropy(W, F.col(f"{tag}_mlm"))  # noqa: E731
    hx, hy, hxy = h("x"), h("y"), h("xy")
    mi = hx + hy - hxy
    return agg.select(
        F.when(W > 0, mi).alias("mi"),
        F.when(W > 0, F.try_divide(mi, F.sqrt(hx * hy))).alias("nmi"),
        F.when(W > 0, hx).alias("h_x"),
        F.when(W > 0, hy).alias("h_y"),
        F.when(W > 0, hxy).alias("h_xy"),
        W.alias("n"),
    )
