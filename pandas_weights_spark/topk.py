"""Partitioned top-k with a scale-aware execution choice.

``Window.partitionBy(part).orderBy(...)`` + ``row_number() <= k`` is the
idiomatic per-partition top-k, and for ``k`` up to
``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000) Spark's
``InferWindowGroupLimit`` rule makes it scale-safe on its own: a
*Partial* ``WindowGroupLimit`` runs below the exchange, so every map
task pre-filters to its local top-k per group and only
``k × map_partitions`` rows per group ever shuffle or hit the final
per-group sort — even when the partition key has 3 distinct values over
100 TB (pinned by tests/test_plans.py).

Above the threshold the optimizer leaves the raw window in place, and a
low-cardinality partition key funnels every row into a handful of sort
tasks. For that regime this module salts the first pass:

1. rank within ``(part, salt)`` where ``salt = hash(row id) % buckets``
   — parallelism is ``|parts| × buckets``; keep rows ranked ``<= k``;
2. re-rank the ≤ ``buckets × k`` survivors per partition in the plain
   window.

The salted result is EXACTLY the unsalted top-k: every true top-k row
has at most k−1 rows ahead of it globally, hence at most k−1 ahead of it
inside its own salt bucket, so stage 1 never drops it. Ties must be
broken to a total order by ``order_by`` (callers append a unique id),
otherwise "top-k" itself is ill-defined.

:func:`partitioned_topk` picks the plan automatically: the single
window (one exchange, group-limit pushdown) when ``k`` is under the
session's threshold, the salted two-stage otherwise.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["partitioned_topk", "global_top_by_mass", "capped_top"]


def global_top_by_mass(
    df: DataFrame,
    mass_col: str,
    order_cols: "Sequence[Column]",
    cap: int,
) -> DataFrame:
    """EXACT global top-``cap`` row SET under ``order_cols`` (which
    must be a total order — callers append tie-break columns) without
    the driver merge a plain ``orderBy().limit(cap)`` implies: Spark
    compiles that to TakeOrdered, whose driver reduce holds
    ``partitions × cap`` rows — at cap = 500 k over a 1000-executor
    scan that is a driver OOM, not a slowdown. Routes through
    :func:`partitioned_topk` with a CONSTANT partition key instead:
    the salted two-stage keeps everything executor-side (per-salt
    rank, ≤ ``buckets × cap`` survivors re-ranked in one task whose
    sort can spill). Same rows as ``orderBy(order_cols).limit(cap)``;
    no global output ordering is promised — capped tables are
    consumed as sets (broadcast model tables), never as streams.
    ``mass_col`` is unused beyond documentation-by-signature (the
    order columns already encode it); kept so call sites read as
    "top cap by mass".

    Salting hashes the xxhash64-HASHABLE columns only (r15, ADVICE
    r14): a map-typed payload column would fail ``xxhash64`` at
    analysis time, and the salt only routes rows to stage-1
    sub-sorts — ANY deterministic row hash yields the same top-cap
    row set (the exactness invariant above), so narrowing the hash
    input never changes the result."""
    salt_cols = [
        f.name for f in df.schema.fields if _hashable_type(f.dataType)
    ] or list(df.columns)
    out = partitioned_topk(
        df.withColumn("__g__", F.lit(1)),
        part_by=["__g__"],
        order_by=list(order_cols),
        k=int(cap),
        salt_by=salt_cols,  # deterministic row identity
        rank_col="__rk__",
    )
    return out.drop("__g__", "__rk__")


def capped_top(
    df: DataFrame,
    mass_col: str,
    order_cols: "Sequence[Column]",
    cap: int,
) -> DataFrame:
    """EXACT top-``cap`` row SET under ``order_cols`` (a total order),
    scale-guarded: at or under the session's window group-limit
    threshold the cut is ``orderBy().limit(cap)`` — TakeOrdered, whose
    per-partition heaps keep the driver merge at ``partitions ×
    threshold`` rows; above it that merge would hold ``partitions ×
    cap`` rows on the driver, so the cut routes through the
    executor-side :func:`global_top_by_mass` instead. Identical row
    set either way (the salted stage's exactness invariant); no output
    ordering is promised in the salted regime."""
    if int(cap) <= _group_limit_threshold(df):
        return df.orderBy(*order_cols).limit(int(cap))
    return global_top_by_mass(df, mass_col, order_cols, int(cap))


def _hashable_type(dt) -> bool:
    """True when ``xxhash64`` accepts a column of this type (maps are
    the documented unsupported case, including nested ones)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    return True

_ColRef = Union[str, Column]

_THRESHOLD_CONF = "spark.sql.optimizer.windowGroupLimitThreshold"


def _cols(refs: Sequence[_ColRef]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in refs]


def _group_limit_threshold(df: DataFrame) -> int:
    try:
        return int(df.sparkSession.conf.get(_THRESHOLD_CONF))
    except Exception:
        return 1000


def partitioned_topk(
    df: DataFrame,
    part_by: Sequence[_ColRef],
    order_by: Sequence[_ColRef],
    k: int,
    salt_by: Sequence[_ColRef],
    salt_buckets: int = 32,
    rank_col: str = "__pw_rank__",
    force_salt: Optional[bool] = None,
) -> DataFrame:
    """Top-``k`` rows per ``part_by`` partition under ``order_by``
    (a total order), with the final rank (1-based) in ``rank_col``.

    ``salt_by`` identifies rows (any deterministic, roughly-uniform
    columns — an id, the sample key); it only routes rows to stage-1
    sub-sorts in the salted regime and never affects which rows win.
    ``force_salt`` overrides the automatic plan choice (used by tests).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if salt_buckets < 1:
        raise ValueError("salt_buckets must be >= 1")
    part = _cols(part_by)
    order = _cols(order_by)
    final = Window.partitionBy(*part).orderBy(*order)
    use_salt = (
        force_salt
        if force_salt is not None
        else k > _group_limit_threshold(df)
    )
    if use_salt:
        salt = F.pmod(F.xxhash64(*_cols(salt_by)), F.lit(salt_buckets))
        df = (
            df.withColumn("__pw_salt__", salt)
            .withColumn(
                rank_col,
                F.row_number().over(
                    Window.partitionBy(*part, F.col("__pw_salt__")).orderBy(
                        *order
                    )
                ),
            )
            .where(F.col(rank_col) <= k)
            .drop("__pw_salt__")
        )
    return (
        df.withColumn(rank_col, F.row_number().over(final))
        .where(F.col(rank_col) <= k)
    )
