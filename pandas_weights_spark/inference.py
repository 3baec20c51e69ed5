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
  ``GROUPING SETS ((r,c),(r),(c),())`` aggregate emits observed cell
  masses, row totals, column totals, and the grand total in a single
  map-side-combining pass; expected masses and the χ² sum are then a
  self-contained re-aggregation of the tiny cell table (R×C rows) —
  the raw data is scanned exactly once.
"""

from __future__ import annotations

import math

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_weights_spark import _stats

__all__ = [
    "weighted_ttest",
    "weighted_chi2",
    "weighted_anova",
    "weighted_entropy",
    "weighted_mutual_information",
    "weighted_info_panel",
]


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
    x = wdf._value(value)
    w = wdf.weights
    sides = {"a": group_a, "b": group_b}
    aggs = []
    for tag, gv in sides.items():
        mask = F.col(group_col).eqNullSafe(F.lit(gv))
        xm = F.when(mask, x)
        wm = F.when(mask, w)
        aggs += [
            _stats.w_count(xm, wm).alias(f"n_{tag}"),
            _stats.w_stat("mean", xm, wm).alias(f"mean_{tag}"),
            _stats.w_stat("var", xm, wm, ddof=ddof).alias(f"var_{tag}"),
        ]
    g = (
        wdf.df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
        if keys
        else wdf.df.agg(*aggs)
    )
    na, nb = F.col("n_a"), F.col("n_b")
    va, vb = F.col("var_a"), F.col("var_b")
    se2a = F.try_divide(va, na)
    se2b = F.try_divide(vb, nb)
    se2 = se2a + se2b
    t = F.try_divide(F.col("mean_a") - F.col("mean_b"), F.sqrt(se2))
    df_w = F.try_divide(
        se2 * se2,
        F.try_divide(se2a * se2a, na - F.lit(1.0))
        + F.try_divide(se2b * se2b, nb - F.lit(1.0)),
    )
    return g.select(
        *keys,
        "n_a", "mean_a", "var_a", "n_b", "mean_b", "var_b",
        F.when(se2 > 0, t).alias("t_stat"),
        F.when(se2 > 0, df_w).alias("df"),
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

    The observed/marginal masses come from ONE grouping-sets pass over
    the raw rows; everything after operates on the R×C cell table.
    """
    for c in (row_col, col_col):
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    w = wdf.weights
    gs = wdf.df.groupingSets(
        [[row_col, col_col], [row_col], [col_col], []],
        row_col, col_col,
    ).agg(
        F.sum(w).alias("m"),
        F.grouping(row_col).alias("__pw_gr__"),
        F.grouping(col_col).alias("__pw_gc__"),
    )
    cells = gs.where((F.col("__pw_gr__") == 0) & (F.col("__pw_gc__") == 0)).select(
        row_col, col_col, F.col("m").alias("o")
    )
    rtot = gs.where((F.col("__pw_gr__") == 0) & (F.col("__pw_gc__") == 1)).select(
        row_col, F.col("m").alias("rt")
    )
    ctot = gs.where((F.col("__pw_gr__") == 1) & (F.col("__pw_gc__") == 0)).select(
        col_col, F.col("m").alias("ct")
    )
    grand = gs.where((F.col("__pw_gr__") == 1) & (F.col("__pw_gc__") == 1)).select(
        F.col("m").alias("g")
    )
    # the FULL R×C grid, not just observed combos: an empty cell has
    # O = 0 but E = rt·ct/g > 0 and still contributes E to the χ² sum
    # (scipy/pandas semantics). Null-safe cell join: NULL categories
    # are ordinary buckets. Everything below the grouping-sets pass is
    # R×C rows — all joins broadcast.
    grid = rtot.crossJoin(ctot)
    j = grid.join(
        cells,
        on=[
            grid[row_col].eqNullSafe(cells[row_col]),
            grid[col_col].eqNullSafe(cells[col_col]),
        ],
        how="left",
    ).crossJoin(F.broadcast(grand))
    o = F.coalesce(F.col("o"), F.lit(0.0))
    e = F.col("rt") * F.col("ct") / F.col("g")
    term = F.try_divide((o - e) * (o - e), e)
    agg = (
        j.agg(
            F.sum(term).alias("chi2"),
            # every grid row carries the same grand total
            F.min("g").alias("n"),
        )
        .crossJoin(F.broadcast(rtot.agg(F.count(F.lit(1)).alias("_r"))))
        .crossJoin(F.broadcast(ctot.agg(F.count(F.lit(1)).alias("_c"))))
    )
    rr = F.col("_r") - F.lit(1)
    cc = F.col("_c") - F.lit(1)
    return agg.select(
        "chi2",
        (rr * cc).cast("long").alias("dof"),
        "n",
        F.sqrt(
            F.try_divide(
                F.col("chi2"),
                F.col("n") * F.least(rr, cc).cast("double"),
            )
        ).alias("cramers_v"),
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
    # mask matches every sibling kernel (entropy/gini/ks/mwu): NULL
    # value/weight AND non-positive weights contribute nothing
    m = F.when(x.isNotNull() & w.isNotNull() & (w > 0), w).otherwise(
        F.lit(0.0)
    )
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
    m = F.when(w.isNotNull() & (w > 0), w).otherwise(F.lit(0.0))
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
    h_nats = F.log(W) - F.try_divide(F.col("__mlm__"), W)
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
    from pandas_weights_spark.quantile import _banded_cums

    for c in (value, cat_a, cat_b):
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    x = wdf._value(value)
    w = wdf.weights
    xd = x.cast("double")
    m_ent = F.when(w.isNotNull() & (w > 0), w).otherwise(F.lit(0.0))
    m_an = F.when(x.isNotNull() & w.isNotNull() & (w > 0), w).otherwise(
        F.lit(0.0)
    )
    gs = wdf.df.groupingSets(
        [[cat_a, cat_b], [cat_a], [cat_b], []], cat_a, cat_b
    ).agg(
        F.sum(m_ent).alias("__m__"),
        F.sum(m_an).alias("__wg__"),
        F.sum(m_an * xd).alias("__sg__"),
        F.sum(m_an * xd * xd).alias("__ssg__"),
        # value range rides the SAME pass (r6): donated to the banded
        # spine below as band bounds, shaving the separate min/max
        # probe — the fifth raw read — from the plan
        F.min(xd).alias("__xlo__"),
        F.max(xd).alias("__xhi__"),
        F.grouping(cat_a).alias("__ga__"),
        F.grouping(cat_b).alias("__gb__"),
    )
    # r15: LAZY lineage cut on the CELL table (guide §5) — `info`
    # consumes it once and the donated `bounds` twice more (the
    # banded frame references its broadcast from both sides of the
    # offsets join, and exchange reuse does not fire across the
    # differently-pruned subtrees), so without the cut the full
    # grouping-sets raw pass executed three times. The table is
    # |levels(a)|·|levels(b)|-sized; deterministic sums, rows
    # unchanged (oracle-checked). Gated by ``checkpoint`` (r16,
    # ADVICE r15): the cut trades executor-loss recompute and pinned
    # executor storage for speed; checkpoint=False keeps pure-lineage
    # plans.
    if checkpoint:
        gs = gs.localCheckpoint(eager=False)
    bounds = gs.agg(
        F.min("__xlo__").alias("__lo__"), F.max("__xhi__").alias("__hi__")
    )
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
    h = lambda c: F.log(G) - F.try_divide(F.col(c), G)  # noqa: E731
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

    ok = x.isNotNull() & w.isNotNull() & (w > 0)
    ma = F.when(
        ok & F.col(cat_a).eqNullSafe(F.lit(ks_group_a)), w
    ).otherwise(F.lit(0.0))
    mb = F.when(
        ok & F.col(cat_a).eqNullSafe(F.lit(ks_group_b)), w
    ).otherwise(F.lit(0.0))
    m_g = F.when(ok, w).otherwise(F.lit(0.0))
    frame, cums, tots = _banded_cums(
        wdf, value, [],
        {"m": m_g, "s": m_g * xd, "a": ma, "b": mb}, bands=bands,
        bounds=bounds,
    )
    fa = F.try_divide(F.col(cums["a"]), F.col(tots["a"]))
    fb = F.try_divide(F.col(cums["b"]), F.col(tots["b"]))
    d = F.when(x.isNotNull(), F.abs(fa - fb))
    both = frame.agg(
        F.sum(m_g * (xd * F.col(cums["m"]) - F.col(cums["s"]))).alias(
            "__num__"
        ),
        F.min(F.col(tots["m"])).alias("__Wg__"),
        F.min(F.col(tots["s"])).alias("__Sg__"),
        F.max(d).alias("__ks__"),
        F.min(F.col(tots["a"])).alias("__na__"),
        F.min(F.col(tots["b"])).alias("__nb__"),
    )
    part2 = both.select(
        F.expr("stack(2, 'gini', 0d, 'ks', 0d) AS (t, z)"),
        F.try_divide(
            F.col("__num__"), F.col("__Wg__") * F.col("__Sg__")
        ).alias("__gini__"),
        F.when(
            (F.col("__na__") > 0) & (F.col("__nb__") > 0), F.col("__ks__")
        ).alias("__k__"),
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

    Same single grouping-sets scan as :func:`weighted_chi2` — cells,
    both marginals and the grand total in one map-side-combining pass;
    the information sums then re-aggregate the R×C cell table using
    only entropies (MI = H(x) + H(y) − H(x,y), so no cell↔marginal
    join at all). Zero cells contribute nothing (lim p→0 p·ln p = 0).
    """
    for c in (x_col, y_col):
        if c not in wdf.df.columns:
            raise KeyError(f"column {c!r} not in frame")
    w = wdf.weights
    m = F.when(w.isNotNull() & (w > 0), w).otherwise(F.lit(0.0))
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
    h = lambda tag: F.log(W) - F.try_divide(F.col(f"{tag}_mlm"), W)  # noqa: E731
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
