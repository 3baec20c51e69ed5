"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
NeurIPS — public paper). Given a small TARGET corpus (the
distribution you want more of: Wikipedia, books, a domain) and the
RAW corpus, estimate per-document importance weights under a
bag-of-hashed-n-grams generative model and resample the raw corpus
toward the target — the standard pretraining-data selection method
that needs no trained classifier (the reference has no ML/data-
selection surface at all, SURVEY.md §2.6; this extends the engine's
selection family: quality classifier, mixture materialization,
temperature sampling).

Model (the paper's): a document is a bag of hashed n-gram features
``f``; under distribution ``p`` its likelihood is ``Π p[f]^count(f)``,
so the log importance weight is the linear form

    log w(doc) = Σ_f count(doc, f) · (log p_target[f] − log p_raw[f])

with Laplace-smoothed bucket probabilities
``p[f] = (cnt[f] + α) / (total + α·n_buckets)``. Selection is
Gumbel top-k — sampling WITHOUT replacement proportional to ``w``
(Vieira 2014, public): add an independent Gumbel to each log weight
and take the global top-k.

Scale design:

* **Bucket counts** (:func:`dsir_bucket_counts`) — one explode +
  groupBy per corpus; output is ≤ ``n_buckets`` rows no matter the
  corpus size (the hashing trick bounds state exactly like the
  quality classifier's gradient). Features reuse
  :func:`~pandas_weights_spark.functions.classifier.
  hashed_token_features` — md5 bucket ids, portable to a SQL oracle.
* **Log-ratio table** (:func:`dsir_log_ratio`, or
  :func:`dsir_log_ratio_sliced` when the target is a labeled slice
  of the raw corpus) — bounded at ≤ 2·``n_buckets`` rows; totals ride
  a global window inside the same pass, so the whole table
  materializes in one stage.
* **Scoring** (:func:`dsir_score`) — explode features, BROADCAST-join
  the ratio table (≤ n_buckets rows, always broadcastable), sum per
  document: one shuffle keyed by the document id. No Python in the
  hot path; everything is Column algebra.
* **Resampling** (:func:`dsir_gumbel_topk`) — map-only key
  construction (the engine's md5 ``uniform_hash`` → Gumbel), then a
  scale-guarded global top-k: ``k`` at or under the session's window
  group-limit threshold keeps ``orderBy().limit(k)``
  (TakeOrderedAndProject — per-partition top-k partials, driver
  merge bounded by ``partitions × threshold`` rows); above it the
  selection routes through
  :func:`~pandas_weights_spark.topk.global_top_by_mass`'s salted
  executor-side two-stage — DSIR's real ``k`` is MILLIONS of
  documents out of a raw corpus scan, and a TakeOrdered at that
  ``k`` holds ``partitions × k`` rows on the driver (the exact OOM
  topk.py documents). Identical row set either way; deterministic
  under reshuffling/seed.

Determinism: bucket ids and uniforms are md5 arithmetic (bit-exact in
the DuckDB oracle); log/ratio algebra is IEEE-deterministic given the
exact integer counts; per-doc sums vary across partitionings only at
ulp level like every distributed sum (oracle rows round to 6 dp).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandas_weights_spark.functions.classifier import hashed_token_features
from pandas_weights_spark.sample import uniform_hash

__all__ = [
    "dsir_doc_bucket_counts",
    "dsir_bucket_counts",
    "dsir_log_ratio",
    "dsir_log_ratio_sliced",
    "dsir_score",
    "dsir_gumbel_topk",
]


def dsir_doc_bucket_counts(
    df: DataFrame,
    text_col: str,
    id_cols: Sequence[str],
    n_buckets: int = 1 << 13,
    ngrams: Sequence[int] = (1, 2),
    lowercase: bool = True,
    seed: int = 42,
    portable: bool = True,
) -> DataFrame:
    """PER-DOCUMENT hashed-bucket counts ``(*id_cols, bucket, cnt)`` —
    the tokenize-once producer for the whole DSIR chain: corpus-level
    counts are ``groupBy("bucket").agg(sum("cnt"))`` over this (or a
    filtered slice of it — a target that is a SLICE of the raw corpus
    needs no second featurization pass), and :func:`dsir_score`
    accepts it via ``doc_counts=`` to skip re-featurizing. Persist it
    when both derive from one frame: one explode+md5 pass instead of
    three.

    The (ids, bucket) groupBy is map-side combinable and shrinks the
    downstream ratio join's fan-in from per-occurrence to
    per-distinct-bucket — strictly less shuffle than the direct path
    at any scale.
    """
    ids = list(id_cols)
    feats = hashed_token_features(
        F.col(text_col),
        n_features=n_buckets,
        ngrams=ngrams,
        lowercase=lowercase,
        seed=seed,
        portable=portable,
    )
    return (
        df.select(*[F.col(c) for c in ids], F.explode(feats).alias("bucket"))
        .groupBy(*ids, "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )


def dsir_bucket_counts(
    df: DataFrame,
    text_col: str,
    n_buckets: int = 1 << 13,
    ngrams: Sequence[int] = (1, 2),
    lowercase: bool = True,
    seed: int = 42,
    portable: bool = True,
) -> DataFrame:
    """Hashed n-gram bucket OCCURRENCE counts for a corpus:
    ``(bucket, cnt)``, ≤ ``n_buckets`` rows. Repeated grams count by
    multiplicity (the bag-of-words model needs term frequencies, not
    presence). NULL documents contribute nothing.
    """
    feats = hashed_token_features(
        F.col(text_col),
        n_features=n_buckets,
        ngrams=ngrams,
        lowercase=lowercase,
        seed=seed,
        portable=portable,
    )
    return (
        df.select(F.explode(feats).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )


def dsir_log_ratio(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-bucket ``log p_target[f] − log p_raw[f]`` with Laplace-α
    smoothing: ``(bucket, log_ratio)``, one row per bucket seen in
    EITHER corpus (unseen-in-both buckets contribute a constant that
    cancels nowhere — but a doc can only reference buckets its own
    grams hash to, and those appear in the raw table by construction
    when scoring the raw corpus; scoring a THIRD corpus left-joins
    and falls back to the smoothed-zero ratio via ``fallback_ratio``
    in :func:`dsir_score`).

    Totals are computed inside the same pass (global window over the
    ≤ 2·n_buckets joined rows — see :func:`_ratio_from_joined`);
    ``alpha`` > 0 keeps every log finite. When the target is a slice
    of the raw corpus, prefer :func:`dsir_log_ratio_sliced` — it
    needs no second count table and no full-outer join.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (keeps smoothed probs finite)")
    t = target_counts.withColumnRenamed("cnt", "__ct__")
    r = raw_counts.withColumnRenamed("cnt", "__cr__")
    joined = t.join(r, "bucket", "full_outer")
    return _ratio_from_joined(joined, n_buckets, alpha)


def _ratio_from_joined(
    joined: DataFrame, n_buckets: int, alpha: float
) -> DataFrame:
    """(bucket, __ct__, __cr__) → (bucket, log_ratio). Totals via a
    GLOBAL window — bounded by ≤ 2·n_buckets input rows (the k-bounded
    global-window pattern), and one stage instead of two scalar-agg
    jobs + crossJoins: the ratio table materializes in a single pass,
    which matters because downstream broadcasts re-trigger this plan.
    """
    from pyspark.sql import Window

    a = float(alpha)
    w = Window.partitionBy()
    tt = F.coalesce(F.sum("__ct__").over(w), F.lit(0.0))
    tr = F.coalesce(F.sum("__cr__").over(w), F.lit(0.0))
    lr = (
        F.log(
            (F.coalesce(F.col("__ct__"), F.lit(0.0)) + F.lit(a))
            / (tt + F.lit(a * n_buckets))
        )
        - F.log(
            (F.coalesce(F.col("__cr__"), F.lit(0.0)) + F.lit(a))
            / (tr + F.lit(a * n_buckets))
        )
    )
    return joined.select("bucket", lr.alias("log_ratio"))


def dsir_log_ratio_sliced(
    doc_counts: DataFrame,
    is_target: Column,
    n_buckets: int,
    alpha: float = 1.0,
) -> DataFrame:
    """Log-ratio table for the common "target is a LABELED SLICE of
    the raw corpus" case (DSIR's own setup — e.g. source == 'wiki'):
    one twin aggregation over :func:`dsir_doc_bucket_counts` output
    produces both corpora's counts — no second featurization pass, no
    full-outer join, no separate totals jobs. ``is_target`` is any
    boolean Column over ``doc_counts``'s id columns.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (keeps smoothed probs finite)")
    per_bucket = doc_counts.groupBy("bucket").agg(
        F.sum(F.when(is_target, F.col("cnt"))).alias("__ct__"),
        F.sum("cnt").alias("__cr__"),
    )
    return _ratio_from_joined(per_bucket, n_buckets, alpha)


def dsir_score(
    df: DataFrame,
    text_col: str,
    log_ratio: DataFrame,
    id_cols: Sequence[str],
    n_buckets: int = 1 << 13,
    ngrams: Sequence[int] = (1, 2),
    lowercase: bool = True,
    seed: int = 42,
    fallback_ratio: Optional[Column] = None,
    out_col: str = "log_importance",
    doc_counts: Optional[DataFrame] = None,
    portable: bool = True,
) -> DataFrame:
    """Append per-document ``log w`` to ``df``: per-doc bucket counts
    (``doc_counts`` if given — the :func:`dsir_doc_bucket_counts`
    tokenize-once path — else featurized here), broadcast-join
    ``log_ratio``, sum ``cnt · ratio`` per document, join back on
    ``id_cols``. A bucket absent from the ratio table (possible only
    when scoring a corpus that fed NEITHER count table) falls back to
    ``fallback_ratio`` (default 0.0 — i.e. "uninformative").
    Documents with NULL text stay NULL (the text family's
    null-preserving rule); documents with no grams score 0.

    Feature params MUST match the ones used for the count tables —
    same ``n_buckets``/``ngrams``/``lowercase``/``seed`` — or the
    buckets are meaningless; they are arguments rather than captured
    state so the count tables can be persisted/reloaded as plain
    parquet between runs (train-once / score-many).
    """
    ids = list(id_cols)
    fb = fallback_ratio if fallback_ratio is not None else F.lit(0.0)
    if doc_counts is None:
        doc_counts = dsir_doc_bucket_counts(
            df,
            text_col,
            ids,
            n_buckets=n_buckets,
            ngrams=ngrams,
            lowercase=lowercase,
            seed=seed,
            portable=portable,
        )
    sums = (
        doc_counts.join(F.broadcast(log_ratio), "bucket", "left")
        .groupBy(*ids)
        .agg(
            F.sum(
                F.col("cnt") * F.coalesce(F.col("log_ratio"), fb)
            ).alias("__lw__")
        )
    )
    return df.join(sums, ids, "left").select(
        *df.columns,
        F.when(
            F.col(text_col).isNotNull(),
            F.coalesce(F.col("__lw__"), F.lit(0.0)),
        ).alias(out_col),
    )


def dsir_gumbel_topk(
    df: DataFrame,
    log_weight: Column,
    k: int,
    id_cols: Sequence[str],
    seed: int = 42,
    key_col: str = "gumbel_key",
) -> DataFrame:
    """Gumbel top-k resampling: sample ``k`` rows WITHOUT replacement
    with probability proportional to ``exp(log_weight)`` by ranking
    ``log_weight + Gumbel(id)`` and keeping the global top ``k``
    (Vieira 2014 — the Gumbel-max trick applied k times at once;
    Xie et al. select this way). The Gumbel is
    ``−ln(−ln(u))`` with ``u`` the engine's deterministic md5 uniform
    over ``id_cols`` — the draw is reproducible across runs, seeds
    select different samples, and rows with NULL ``log_weight`` never
    qualify. Ties (measure-zero with continuous noise, but possible
    on rounded inputs) break by ``id_cols`` ascending for a stable
    result set.

    Execution is scale-guarded on the session's window group-limit
    threshold (the :func:`~pandas_weights_spark.topk.partitioned_topk`
    convention): ``k`` at or under it compiles to
    TakeOrderedAndProject — per-partition top-k partials, then a
    driver merge bounded by ``partitions × threshold`` rows; ABOVE it
    (DSIR's real regime — k = millions of training documents from a
    raw corpus scan) the TakeOrdered driver reduce would hold
    ``partitions × k`` rows (the driver-OOM topk.py:50–54 documents),
    so selection routes through
    :func:`~pandas_weights_spark.topk.global_top_by_mass`: salted
    per-bucket rank, then a single spillable executor-side re-rank of
    ``≤ buckets × k`` survivors — nothing k-sized ever lands on the
    driver. Both plans produce EXACTLY the same row set (the salted
    stage never drops a true top-k row — topk.py's invariant).
    Returns ``df``'s columns plus ``key_col``; no output ordering is
    promised in the salted regime (samples are consumed as sets).
    """
    from pandas_weights_spark.topk import capped_top

    if k < 1:
        raise ValueError("k must be >= 1")
    ids = list(id_cols)
    u = uniform_hash([F.col(c) for c in ids], seed=seed)
    g = -F.log(-F.log(u))
    keyed = df.select(
        *df.columns, (log_weight + g).alias(key_col)
    ).where(F.col(key_col).isNotNull())
    order = [F.col(key_col).desc(), *[F.col(c).asc() for c in ids]]
    return capped_top(keyed, key_col, order, int(k))
