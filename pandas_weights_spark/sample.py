"""Weighted sampling operators (training-data pipeline extensions).

Not in the reference (SURVEY.md §2.6 records the absence — it has no
sampling surface at all); these are the operations a large-scale
training-data pipeline needs: draw a weighted subset of a corpus, draw
per-stratum quotas, and assign deterministic train/val/test splits.

Design constraints, in priority order:

1. **Deterministic.** All "randomness" derives from
   :func:`uniform_hash` — an md5-based uniform in (0, 1) computed from
   the row's key columns and a seed. Same rows + same seed → same
   sample, on any cluster size, any partitioning, any engine. That also
   makes every operator exactly expressible as ANSI SQL for the DuckDB
   oracle (the md5 digit arithmetic is mirrored term-for-term so the
   IEEE doubles are bit-identical).
2. **No transcendentals.** Weighted selection uses *sequential Poisson
   sampling* (Ohlsson 1998): rank by ``u / w`` ascending and keep the
   first ``n`` — an order-sampling approximation of probability-
   proportional-to-size without the ``u^(1/w)`` / ``ln(u)/w`` key of
   Efraimidis-Spirakis. Division is exactly rounded in IEEE 754, so
   Spark and the oracle rank identically bit-for-bit; ``pow``/``ln``
   are only faithfully rounded and could disagree at the margin.
3. **Scale.** :func:`weighted_sample` is threshold-guarded: ``n`` at
   or under the window group-limit threshold is ``orderBy(key).
   limit(n)`` — Spark's TakeOrdered, whose driver merge holds
   ``n × partitions`` candidate rows (bounded by the ≤ 1000-row
   threshold); above it the selection routes through the salted
   executor-side two-stage of topk.py, because a TakeOrdered at
   πps-real ``n`` (millions of docs over a 100 TB scan's 50 k+
   splits) is a driver OOM, not a slowdown.
   :func:`stratified_sample` is a rank-limited window with
   group-limit pushdown (salted above the threshold — topk.py).
   :func:`hash_split` is a pure map — no shuffle at all.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "uniform_hash",
    "temperature_rates",
    "temperature_sample",
    "unimax_rates",
    "mixture_materialize",
    "weighted_sample",
    "poisson_sample",
    "stratified_sample",
    "hash_split",
    "cap_per_group",
    "kfold_split",
]

_HEX = "0123456789abcdef"


def uniform_hash(key_cols: Sequence[Column], seed: int = 42) -> Column:
    """Deterministic uniform in (0, 1) from md5 of the key columns.

    The first 8 hex digits of ``md5(concat_ws('|', keys…, seed))`` form
    a 32-bit integer ``v``; the uniform is ``v · 2⁻³² + 2⁻³³`` (the
    offset keeps it strictly positive — safe as a divisor). This equals
    the digit sum ``Σ digit_i · 16^-(i+1) + 2⁻³³`` the SQL oracle mirror
    computes *bit-for-bit*: every term is a small integer at a
    power-of-two scale, so each partial sum is exact IEEE arithmetic.
    The engine uses the single-``conv`` form because one md5 per row
    beats eight — expression-level CSE does not merge repeated md5
    calls inside a codegen'd Filter, which made the digit-sum form 8×
    the hash work in sampling filters.

    Each key is ``coalesce(cast(k as string), '\\0null')`` before the
    concat: ``concat_ws`` silently SKIPS null arguments, so without the
    sentinel two key tuples differing only in NULL placement — e.g.
    ``(NULL, 'a')`` vs ``('a', NULL)`` — would collide to the same
    uniform and correlate their sample/split decisions. The NUL-byte
    sentinel cannot appear in data that also casts to the same string.
    """
    enc = [
        F.coalesce(c.cast("string"), F.lit("\x00null")) for c in key_cols
    ]
    h = F.md5(F.concat_ws("|", *enc, F.lit(str(seed))))
    v = F.conv(F.substring(h, 1, 8), 16, 10).cast("long").cast("double")
    return v * F.lit(2.0**-32) + F.lit(2.0**-33)


def uniform_hash_sql(key_cols: Sequence[str], seed: int = 42) -> str:
    """The DuckDB mirror of :func:`uniform_hash` (same term order)."""
    keys = ", ".join(
        f"coalesce(CAST({k} AS VARCHAR), chr(0) || 'null')" for k in key_cols
    )
    h = f"md5(concat_ws('|', {keys}, '{seed}'))"
    terms = " + ".join(
        f"CAST(instr('{_HEX}', substring({h}, {i + 1}, 1)) - 1 AS DOUBLE)"
        f" * {16.0 ** -(i + 1)!r}"
        for i in range(8)
    )
    return f"({terms} + {2.0**-33!r})"


def weighted_sample(
    df: DataFrame,
    weight: Column,
    n: int,
    key_cols: Sequence[str],
    seed: int = 42,
) -> DataFrame:
    """Draw ``n`` rows with probability ~proportional to ``weight``.

    Sequential Poisson sampling: rank ascending by ``u / w`` (ties broken
    by the key columns) and keep the first ``n``. Rows with NULL or
    non-positive weight are excluded — they have no selection
    probability.

    Execution is scale-guarded on the session's window group-limit
    threshold (the :func:`~pandas_weights_spark.topk.partitioned_topk`
    convention). ``n`` at or under it executes as TakeOrdered
    (per-partition top-``n`` partials, then a DRIVER merge of the
    per-partition candidate sets — ``n × partitions`` rows on the
    driver, bounded by the ≤ 1000-row threshold). Above it — πps
    sampling n = millions of documents from a 100 TB scan is the
    normal pipeline use, and there the candidate sets from every
    input split land on the driver, not an executor — selection
    routes through
    :func:`~pandas_weights_spark.topk.global_top_by_mass`: salted
    per-bucket rank, one spillable executor-side re-rank of
    ``≤ buckets × n`` survivors, nothing n-sized on the driver.
    Identical row set either way (topk.py's exactness invariant); no
    output ordering is promised in the salted regime (samples are
    consumed as sets). :func:`poisson_sample` is the map-only
    alternative when expected-size semantics suffice.
    """
    from pandas_weights_spark.topk import capped_top

    u = uniform_hash([F.col(c) for c in key_cols], seed)
    w = weight.cast("double")
    ranked = df.where(w.isNotNull() & (w > 0)).withColumn(
        "__pw_skey__", u / w
    )
    order = [F.col("__pw_skey__").asc(), *[F.col(c) for c in key_cols]]
    return capped_top(ranked, "__pw_skey__", order, int(n)).drop(
        "__pw_skey__"
    )


def poisson_sample(
    df: DataFrame,
    weight: Column,
    expected_n: int,
    key_cols: Sequence[str],
    seed: int = 42,
    total_weight: Optional[float] = None,
) -> DataFrame:
    """Poisson πps sampling: include each row independently with
    probability ``min(1, expected_n · w / Σw)``.

    The scale-extreme variant: after one tiny aggregate for ``Σw``
    (skippable by passing ``total_weight``), selection is a PURE MAP —
    no sort, no TakeOrdered merge, no shuffle of any kind — so it
    composes with arbitrary downstream plans at any corpus size. Sample
    size is random with mean ≤ ``expected_n`` (exactly ``expected_n``
    when no weight is capped); use :func:`weighted_sample` when an exact
    count matters.
    """
    w = weight.cast("double")
    if total_weight is None:
        total_weight = (
            df.where(w.isNotNull() & (w > 0))
            .agg(F.sum(w).alias("t"))
            .collect()[0]["t"]
        )
    if not total_weight or total_weight <= 0:
        return df.where(F.lit(False))
    u = uniform_hash([F.col(c) for c in key_cols], seed)
    p = F.least(
        F.lit(1.0), F.lit(float(expected_n)) * w / F.lit(float(total_weight))
    )
    return df.where(w.isNotNull() & (w > 0) & (u < p))


def stratified_sample(
    df: DataFrame,
    weight: Column,
    n_per_stratum: int,
    by: Sequence[str],
    key_cols: Sequence[str],
    seed: int = 42,
) -> DataFrame:
    """Per-stratum :func:`weighted_sample`: up to ``n_per_stratum`` rows
    from every ``by`` group, weight-proportional within the group.

    Selection goes through partitioned_topk (topk.py): for ordinary
    quotas the rank-limited window is scale-safe even with FEW strata
    (the optimizer's Partial WindowGroupLimit pre-filters each map task
    to its local top-``n`` per stratum before the shuffle, so a 3-strata
    100 TB input never funnels into 3 sort tasks); quotas above the
    pushdown threshold switch to a salted two-stage top-k that selects
    exactly the same rows.
    """
    from pandas_weights_spark.topk import partitioned_topk

    u = uniform_hash([F.col(c) for c in key_cols], seed)
    w = weight.cast("double")
    return partitioned_topk(
        df.where(w.isNotNull() & (w > 0)),
        part_by=list(by),
        order_by=[(u / w).asc(), *[F.col(c) for c in key_cols]],
        k=n_per_stratum,
        salt_by=list(key_cols),
    ).drop("__pw_rank__")


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    key_cols: Sequence[str],
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Assign each row a deterministic split label (train/val/test…).

    ``fractions`` maps label → fraction; they must sum to ~1. The
    assignment is a pure map over :func:`uniform_hash` — no shuffle, no
    state, stable under re-partitioning and re-runs, and any row's split
    can be recomputed from its keys alone (the property that keeps
    train/test membership stable as a 100 TB corpus is re-processed
    incrementally).
    """
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = uniform_hash([F.col(c) for c in key_cols], seed)
    expr: Optional[Column] = None
    acc = 0.0
    labels = list(fractions.items())
    for label, frac in labels[:-1]:
        acc += frac
        cond = u < F.lit(acc)
        expr = (
            F.when(cond, F.lit(label))
            if expr is None
            else expr.when(cond, F.lit(label))
        )
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def cap_per_group(
    df: DataFrame,
    keys: Sequence[str],
    n: int,
    order_by: Optional[Sequence[Column]] = None,
    seed: int = 42,
    key_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Keep at most ``n`` rows per ``keys`` group — the per-domain /
    per-source quota cap of a corpus pipeline.

    ``order_by`` picks WHICH rows survive (e.g. quality score
    descending); without it, a deterministic md5-uniform order over
    ``key_cols`` (required in that case) yields a uniform random cap,
    reproducible across runs. One row_number window partitioned by the
    group keys — parallel across groups; a single giant group bounds at
    its own size like any per-group top-n.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if order_by is None:
        if not key_cols:
            raise ValueError(
                "cap_per_group without order_by needs key_cols= for the "
                "deterministic random order"
            )
        order_by = [uniform_hash([F.col(c) for c in key_cols], seed)]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    return (
        df.withColumn("__pw_rn__", F.row_number().over(w))
        .where(F.col("__pw_rn__") <= n)
        .drop("__pw_rn__")
    )


def kfold_split(
    df: DataFrame,
    k: int,
    key_cols: Sequence[str],
    seed: int = 42,
    fold_col: str = "fold",
) -> DataFrame:
    """Assign each row a deterministic fold id in ``[0, k)`` for k-fold
    cross-validation — the same shuffle-free md5-uniform map as
    :func:`hash_split`, so membership is stable under re-partitioning,
    re-runs, and incremental re-processing; ``fold(row)`` is
    recomputable from the row's keys alone. Filter ``fold != i`` /
    ``fold == i`` for the train/test pair of fold i."""
    if k < 2:
        raise ValueError("k must be >= 2")
    u = uniform_hash([F.col(c) for c in key_cols], seed)
    return df.withColumn(
        fold_col, F.floor(u * F.lit(float(k))).cast("int")
    )


def temperature_rates(
    df: DataFrame,
    group_col: str,
    weight: Optional[Column] = None,
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-smoothed sampling DISTRIBUTION over groups
    (languages/sources): ``(group, mass, p_raw, p_temp)`` with
    ``p_temp(g) ∝ mass(g)^α`` — the standard multilingual-corpus
    rebalancing rule (exponent-smoothed sampling, as popularized by the
    multilingual-BERT / XLM-R line of work, public): ``α = 1``
    reproduces the natural distribution, ``α → 0`` the uniform one;
    in between, low-resource groups are upsampled relative to their
    share.

    One map-side-combining mass aggregate (the output is
    group-cardinality-sized); NULL groups are ordinary buckets;
    non-positive weights carry no mass.
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    w = weight if weight is not None else F.lit(1.0)
    w = w.cast("double")
    m = F.when(w.isNotNull() & (w > 0), w).otherwise(F.lit(0.0))
    masses = df.groupBy(F.col(group_col).alias("group")).agg(
        F.sum(m).alias("mass")
    ).where(F.col("mass") > 0)
    tot = F.sum("mass").over(Window.partitionBy())
    tot_t = F.sum(F.pow("mass", F.lit(float(alpha)))).over(
        Window.partitionBy()
    )
    return masses.select(
        "group",
        "mass",
        (F.col("mass") / tot).alias("p_raw"),
        (F.pow("mass", F.lit(float(alpha))) / tot_t).alias("p_temp"),
    )


def unimax_rates(
    df: DataFrame,
    group_col: str,
    budget: float,
    weight: Optional[Column] = None,
    max_epochs: float = 4.0,
) -> DataFrame:
    """UniMax allocation over groups (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining", ICLR — public paper): distribute a
    total training ``budget`` (tokens; rows when ``weight`` is None)
    across languages/sources as UNIFORMLY as possible subject to a
    per-group repetition cap of ``max_epochs`` epochs — the paper's
    answer to temperature sampling's two failure modes (head
    languages starved at low α, tail languages over-epoched at high
    α). Water-filling: groups ascend by capped supply
    ``cap = mass · max_epochs``; a group whose cap fits under the
    running uniform share is taken WHOLE (capped), everyone else
    splits the remaining budget equally — the standard allocation,
    here in closed form: with caps sorted ascending the capped
    prefix is exactly the groups with ``cap ≤ (budget − cum_prev) /
    remaining``, so two bounded window passes compute it without a
    sequential loop.

    Output per group: ``(group, mass, cap, capped, alloc, epochs,
    p_alloc)`` — ``epochs = alloc / mass`` (≤ max_epochs by
    construction), ``p_alloc`` the group's share of what was
    actually allocated (= budget unless the whole supply fits, in
    which case every group is capped and the leftover is unspent).
    Feed ``{group: alloc}`` into :func:`mixture_materialize` to
    materialize the corpus.

    Scale shape: one map-side-combining mass aggregate (the
    :func:`temperature_rates` shape), then windows over the
    GROUP-CARDINALITY table only (languages/sources — tens of rows;
    the classifier_eval window-over-aggregate discipline). NULL
    groups are ordinary buckets; non-positive weights carry no mass.
    """
    if budget <= 0:
        raise ValueError("budget must be > 0")
    if max_epochs <= 0:
        raise ValueError("max_epochs must be > 0")
    w = weight if weight is not None else F.lit(1.0)
    w = w.cast("double")
    m = F.when(w.isNotNull() & (w > 0), w).otherwise(F.lit(0.0))
    masses = (
        df.groupBy(F.col(group_col).alias("group"))
        .agg(F.sum(m).alias("mass"))
        .where(F.col("mass") > 0)
        .withColumn("cap", F.col("mass") * F.lit(float(max_epochs)))
    )
    b = F.lit(float(budget))
    order = Window.orderBy(F.col("cap").asc(), F.col("group"))
    cum_prev = F.coalesce(
        F.sum("cap").over(
            order.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    i = F.row_number().over(order)
    everything = Window.partitionBy()
    k = F.count(F.lit(1)).over(everything)
    capped = F.col("cap") <= (
        (b - cum_prev) / (k - i + F.lit(1)).cast("double")
    )
    staged = masses.select(
        "group", "mass", "cap", capped.alias("capped")
    )
    s_capped = F.coalesce(
        F.sum(F.when(F.col("capped"), F.col("cap"))).over(everything),
        F.lit(0.0),
    )
    n_capped = F.sum(
        F.when(F.col("capped"), F.lit(1)).otherwise(F.lit(0))
    ).over(everything)
    k2 = F.count(F.lit(1)).over(everything)
    share = (b - s_capped) / (k2 - n_capped).cast("double")
    alloc = F.when(F.col("capped"), F.col("cap")).otherwise(share)
    alloced = staged.select(
        "group", "mass", "cap", "capped", alloc.alias("alloc")
    )
    tot = F.sum("alloc").over(Window.partitionBy())
    return alloced.select(
        "group",
        "mass",
        "cap",
        "capped",
        "alloc",
        (F.col("alloc") / F.col("mass")).alias("epochs"),
        (F.col("alloc") / tot).alias("p_alloc"),
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    target_rows: int,
    key_cols: Sequence[str],
    weight: Optional[Column] = None,
    alpha: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Temperature-rebalanced corpus sample: draw ≈ ``target_rows``
    rows whose GROUP distribution follows the α-smoothed rates of
    :func:`temperature_rates` instead of the natural skew.

    Per-group inclusion probability ``min(1, target·p_temp(g) /
    n_g)`` (``n_g`` = the group's row count) applied as a PURE MAP
    over the deterministic md5 uniform — after one tiny per-group
    aggregate, no shuffle of the data, reproducible under
    re-partitioning (the :func:`poisson_sample` contract). A group too
    small for its boosted quota caps at taking ALL its rows (the
    standard low-resource saturation).
    """
    if target_rows < 1:
        raise ValueError("target_rows must be >= 1")
    w = weight if weight is not None else F.lit(1.0)
    rates = temperature_rates(df, group_col, weight=w, alpha=alpha)
    counts = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n_g")
    )
    per_group = rates.join(counts, "group").select(
        # private name so a user column called "group" survives the join
        F.col("group").alias("__pw_tsg__"),
        F.least(
            F.lit(1.0),
            F.lit(float(target_rows)) * F.col("p_temp") / F.col("n_g"),
        ).alias("__p__"),
    )
    u = uniform_hash([F.col(c) for c in key_cols], seed)
    joined = df.join(
        F.broadcast(per_group),
        df[group_col].eqNullSafe(per_group["__pw_tsg__"]),
        "inner",
    )
    return joined.where(u < F.col("__p__")).drop("__pw_tsg__", "__p__")


def mixture_materialize(
    df: DataFrame,
    domain_col: str,
    targets: dict,
    key_cols: Sequence[str],
    weight: Optional[Column] = None,
    seed: int = 42,
    max_repeat: float = 64.0,
) -> DataFrame:
    """STATIC domain re-mixing to absolute mass targets — the
    materialization step of a DoReMi/GPT-style data-mixture recipe
    (public literature: domain weights are decided elsewhere; this
    turns "give me X tokens of domain d" into an actual corpus).
    For each domain ``d`` with available mass ``A_d`` (Σ ``weight``,
    default 1/row — pass token counts to budget in tokens) and target
    ``T_d``, the repeat factor ``k_d = T_d / A_d`` materializes every
    row ``⌊k_d⌋`` times plus one more with probability ``frac(k_d)``
    — exact in expectation for UPSAMPLING (epochs over the domain,
    the standard practice) and plain Bernoulli thinning for
    ``k_d ≤ 1``. Output = input schema + ``epoch`` (0-based copy
    index). Domains absent from ``targets`` drop entirely.

    Deterministic: the partial copy keeps iff
    ``uniform_hash(key_cols…, epoch, seed) < frac(k_d)`` — the
    md5-uniform contract shared with :func:`poisson_sample`, so the
    materialized corpus is identical under any partitioning and
    SQL-oracle-replayable.

    Scale shape: ONE tiny per-domain mass aggregate (collected —
    bounded by ``len(targets)``, validated against ``max_repeat``
    there), then a pure map: broadcast-joined rates, a row-local
    ``sequence``/``explode`` fan-out of ``⌈k_d⌉`` epochs, and the
    hash filter. No data-sized shuffle anywhere.
    """
    if not targets:
        raise ValueError("targets must name at least one domain")
    for d, t in targets.items():
        if t is None or float(t) < 0:
            raise ValueError(f"target for domain {d!r} must be >= 0")
    w = weight if weight is not None else F.lit(1.0)
    w = w.cast("double")
    m = F.when(w.isNotNull() & (w > 0), w).otherwise(F.lit(0.0))
    dom = F.col(domain_col)
    masses = {
        r["d"]: float(r["mass"])
        for r in df.where(
            dom.isin(list(targets)) if None not in targets
            else (dom.isin([d for d in targets if d is not None])
                  | dom.isNull())
        )
        .groupBy(dom.alias("d"))
        .agg(F.sum(m).alias("mass"))
        .collect()
    }
    rates = {}
    for d, t in targets.items():
        a = masses.get(d, 0.0)
        if a <= 0:
            if float(t) > 0:
                raise ValueError(
                    f"domain {d!r} has no available mass but a positive "
                    f"target {t}"
                )
            continue
        k = float(t) / a
        if k > max_repeat:
            raise ValueError(
                f"domain {d!r} needs repeat factor {k:.1f} > "
                f"max_repeat={max_repeat} — raise max_repeat explicitly "
                "if you really want that many epochs"
            )
        rates[d] = k
    if not rates:
        return df.where(F.lit(False)).withColumn(
            "epoch", F.lit(0).cast("int")
        )
    k_expr = None
    for d, k in sorted(rates.items(), key=lambda kv: str(kv[0])):
        cond = dom.isNull() if d is None else (dom == F.lit(d))
        k_expr = (
            F.when(cond, F.lit(k)) if k_expr is None
            else k_expr.when(cond, F.lit(k))
        )
    k_col = k_expr.otherwise(F.lit(None).cast("double"))
    reps = F.floor(k_col).cast("int")
    frac = k_col - F.floor(k_col)
    fanned = (
        df.withColumn("__pw_k__", k_col)
        .where(F.col("__pw_k__").isNotNull())
        .withColumn(
            "epoch",
            F.explode(
                F.sequence(
                    F.lit(0), F.floor(F.col("__pw_k__")).cast("int")
                )
            ),
        )
    )
    u = uniform_hash(
        [F.col(c) for c in key_cols] + [F.col("epoch")], seed
    )
    keep = (F.col("epoch") < reps) | (u < frac)
    return fanned.where(keep).drop("__pw_k__")
