"""Structured Streaming support for the weighted aggregates
(SURVEY.md §2.6: the reference's resample is batch-only; the engine's
moment-sum design makes the same statistics streaming-safe for free).

Every §2 statistic is built from associative+commutative partial sums
(Σw, Σwx, Σwx², masked counts — see ``_stats``), so they run unchanged
under incremental execution: map-side partials merge into state exactly
like they merge across batch partitions. ``weighted_resample_stream``
is the streaming twin of :class:`~pandas_weights_spark.resample.
WeightedResampler` — same kernels, plus a watermark for late data and
state eviction.

Usage::

    stream = spark.readStream.schema(schema).parquet(dir)
    agg = weighted_resample_stream(
        stream, weights="w", on="ts", rule="10min",
        watermark="30 minutes", stats=("count", "sum", "mean"),
    )
    agg.writeStream.outputMode("append").trigger(availableNow=True)...

Output mode notes: ``append`` emits each window once, after the
watermark passes it (the streaming analog of a closed resample bucket);
``update``/``complete`` emit running values.
"""

from __future__ import annotations

import datetime as dt
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_weights_spark.frame import WEIGHT_COL, wt
from pandas_weights_spark.groupby import _STATS, _stat_exprs
from pandas_weights_spark.resample import parse_rule

__all__ = [
    "weighted_resample_stream",
    "weighted_groupby_stream",
    "weighted_session_stream",
    "streaming_exact_dedup",
    "weighted_running_stats_stream",
    "streaming_asof_join",
    "streaming_heavy_hitters",
    "streaming_tdigest",
    "streaming_weight_diagnostics",
    "streaming_trim_params",
    "streaming_bottom_k_sample",
    "streaming_distinct_counts",
    "streaming_neardup_candidates",
    "streaming_semdedup_candidates",
]


def weighted_resample_stream(
    stream: DataFrame,
    weights: Union[str, "F.Column"],
    on: str,
    rule: Union[str, dt.timedelta],
    watermark: str = "1 hour",
    stats: Sequence[str] = ("count", "sum", "mean"),
    value_cols: Sequence[str] | None = None,
    na_weight: float | None = None,
    **stat_kwargs,
) -> DataFrame:
    """Weighted time-window aggregation over a streaming DataFrame.

    Tumbling windows of ``rule`` (fixed-frequency rules only — calendar
    rules need batch ``date_trunc``); epoch-aligned (``origin="epoch"``:
    a stream has no "first row" to anchor ``start_day`` on). Emits
    ``window_start`` plus ``{col}_{stat}`` columns.
    """
    kind, secs = parse_rule(rule)
    if kind != "fixed":
        raise ValueError("streaming resample supports fixed-frequency rules only")
    bad = [s for s in stats if s not in _STATS]
    if bad:
        raise ValueError(f"unknown statistics: {bad}")

    wdf = wt(stream, weights, na_weight=na_weight)
    cols = value_cols or [c for c in wdf.numeric_columns() if c != on]
    if not cols:
        raise ValueError("no numeric columns to aggregate")
    exprs = [e for c in cols for e in _stat_exprs(wdf, c, stats, **stat_kwargs)]
    return (
        wdf.df.withWatermark(on, watermark)
        .groupBy(F.window(F.col(on), f"{secs} seconds"))
        .agg(*[F.expr(e) for e in exprs])
        .withColumn("window_start", F.col("window.start"))
        .drop("window")
    )


def weighted_groupby_stream(
    stream: DataFrame,
    weights: Union[str, "F.Column"],
    keys: Sequence[str],
    on: str,
    watermark: str = "1 hour",
    stats: Sequence[str] = ("count", "sum", "mean"),
    value_cols: Sequence[str] | None = None,
    **stat_kwargs,
) -> DataFrame:
    """Keyed weighted aggregation over a stream (running per-key stats).

    The watermark on ``on`` bounds state; output mode ``update`` emits
    refreshed rows per trigger.
    """
    wdf = wt(stream, weights)
    cols = value_cols or [
        c for c in wdf.numeric_columns() if c not in keys and c != on
    ]
    if not cols:
        raise ValueError("no numeric columns to aggregate")
    exprs = [e for c in cols for e in _stat_exprs(wdf, c, stats, **stat_kwargs)]
    return (
        wdf.df.withWatermark(on, watermark)
        .groupBy(*keys)
        .agg(*[F.expr(e) for e in exprs])
    )


def weighted_session_stream(
    stream: DataFrame,
    weights: Union[str, "F.Column"],
    keys: Sequence[str],
    on: str,
    gap: str = "5 minutes",
    watermark: str = "1 hour",
    stats: Sequence[str] = ("count", "sum", "mean"),
    value_cols: Sequence[str] | None = None,
    **stat_kwargs,
) -> DataFrame:
    """Weighted aggregates over *session* windows (activity bursts
    separated by ``gap`` of silence) — native ``F.session_window``, so
    Spark's incremental session-merge state store does the heavy
    lifting; the weighted kernels ride along as ordinary aggregate
    expressions. Emits ``keys…, session_start, session_end`` plus
    ``{col}_{stat}``.

    Works identically on a batch DataFrame (no watermark needed there).
    """
    bad = [s for s in stats if s not in _STATS]
    if bad:
        raise ValueError(f"unknown statistics: {bad}")
    wdf = wt(stream, weights)
    cols = value_cols or [
        c for c in wdf.numeric_columns() if c not in keys and c != on
    ]
    if not cols:
        raise ValueError("no numeric columns to aggregate")
    exprs = [e for c in cols for e in _stat_exprs(wdf, c, stats, **stat_kwargs)]
    df = wdf.df
    if df.isStreaming:
        df = df.withWatermark(on, watermark)
    return (
        df.groupBy(*keys, F.session_window(F.col(on), gap))
        .agg(*[F.expr(e) for e in exprs])
        .withColumn("session_start", F.col("session_window.start"))
        .withColumn("session_end", F.col("session_window.end"))
        .drop("session_window")
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str,
    on: str,
    watermark: str = "1 hour",
    normalize: bool = True,
) -> DataFrame:
    """Streaming exact dedup: emit only the first occurrence of each
    content digest, with state bounded by the watermark
    (``dropDuplicatesWithinWatermark``) — the streaming twin of
    :func:`pandas_weights_spark.functions.dedup.exact_dedup`.

    State is keyed on the 32-char digest, not the document payload, so
    the state store stays small no matter how large documents are.
    Duplicates arriving later than ``watermark`` after the original are
    not guaranteed to drop — size the watermark to the pipeline's
    reordering bound.
    """
    from pandas_weights_spark.functions.dedup import content_key

    keyed = stream.withColumn(
        "__ck__", content_key(F.col(text_col), normalize)
    )
    if keyed.isStreaming:
        keyed = keyed.withWatermark(on, watermark)
        return keyed.dropDuplicatesWithinWatermark(["__ck__"]).drop("__ck__")
    return keyed.dropDuplicates(["__ck__"]).drop("__ck__")


def streaming_asof_join(
    stream_left: DataFrame,
    static_right: DataFrame,
    on: str,
    by: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance=None,
    allow_exact_matches: bool = True,
    suffix: str = "_right",
    max_static_rows: int = 10_000_000,
) -> DataFrame:
    """Streaming as-of join: each left (stream) row picks up the
    nearest static_right row along ``on`` per ``by`` key — the
    streaming twin of :func:`pandas_weights_spark.functions.asof.
    asof_join` (same output schema, NULL-``on`` handling, tolerance,
    and exact-match semantics, pinned by a differential test).

    Shape: the right side is a DIMENSION table (feature store /
    slowly-changing lookup) — it is collected once, sorted, and
    broadcast to every executor; each micro-batch then runs an
    Arrow-batched ``pandas.merge_asof`` against it. Stateless: no
    watermark, no state store, output mode ``append``, and each left
    row is emitted exactly once. Spark's window functions are
    unsupported on streams, so the batch union+carry shape cannot run
    here — the broadcast-merge is the streaming-native equivalent for
    a static right side. (A stream-stream as-of needs
    ``transformWithState``-style buffering and is out of scope; union
    the right stream into a table and re-broadcast per restart, or
    use the batch operator on availableNow snapshots.)

    The right side is collected to the driver; ``max_static_rows``
    bounds that collect (counted FIRST, so an oversized dimension fails
    loudly before it can exhaust driver memory — same convention as
    ``frame_apply.max_rows``).

    Works on a batch ``stream_left`` too (same per-batch path), which
    is what the differential test exploits.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    by = list(by or [])
    for c in [on, *by]:
        if c not in stream_left.columns:
            raise KeyError(f"column {c!r} not in left frame")
        if c not in static_right.columns:
            raise KeyError(f"column {c!r} not in right frame")
    if static_right.isStreaming:
        raise ValueError(
            "streaming_asof_join needs a STATIC right side (dimension "
            "table); for stream-stream use the batch operator over "
            "availableNow snapshots"
        )
    payload_cols = [c for c in static_right.columns if c not in by]
    out_names = {
        c: (c + suffix if (c == on or c in stream_left.columns) else c)
        for c in payload_cols
    }
    collisions = sorted(set(out_names.values()) & set(stream_left.columns))
    if collisions:
        raise ValueError(
            f"as-of output column(s) {collisions} already exist in the "
            f"left frame; rename them or pass a different suffix="
        )

    import pandas as pd
    from pyspark.sql import types as T

    # one collect of the dimension table, NULL-`on` rows dropped (no
    # position on the axis — batch operator does the same), pre-sorted
    # for merge_asof; the matched ordering value rides as a payload
    # column so the output mirrors the batch f"{on}{suffix}" column
    usable = static_right.where(F.col(on).isNotNull())
    n_static = usable.count()
    if n_static > max_static_rows:
        raise ValueError(
            f"streaming_asof_join: static right side has {n_static:,} "
            f"usable rows, above max_static_rows={max_static_rows:,}; "
            "this path collects and broadcasts the dimension table — "
            "shrink/pre-aggregate it, or raise max_static_rows to "
            "accept the driver-memory cost"
        )
    right_pdf = usable.toPandas().rename(
        columns={c: out_names[c] for c in payload_cols if c != on}
    )
    right_pdf[out_names[on]] = right_pdf[on]
    # merge_asof requires a GLOBAL sort on `on` (by-groups internal)
    right_pdf = right_pdf.sort_values(on, kind="mergesort").reset_index(drop=True)
    # ties at (by, on): batch keeps the LAST right row in sort order;
    # merge_asof also picks the last of equal keys — aligned.

    if tolerance is None:
        tol = None
    elif isinstance(tolerance, (int, float)) and not isinstance(
        tolerance, bool
    ):
        tol = tolerance
    else:
        tol = pd.Timedelta(tolerance)

    right_schema = {f.name: f.dataType for f in static_right.schema.fields}
    out_schema = T.StructType(
        list(stream_left.schema.fields)
        + [
            T.StructField(out_names[c], right_schema[c])
            for c in payload_cols
        ]
    )
    out_cols = [f.name for f in out_schema.fields]

    def _null_norm_tuples(frame):
        # composite by-key with NULL==NULL semantics: the batch operator
        # window-partitions on the by tuple, where NULLs form a group
        # like any other value — normalize every missing value to None
        # so equal tuples hash equal in merge_asof's by matching
        return [
            tuple(None if pd.isna(v) else v for v in t)
            for t in frame[by].itertuples(index=False, name=None)
        ]

    if by:
        nn_mask = right_pdf[by].notna().all(axis=1)
        rp_nn = right_pdf[nn_mask].reset_index(drop=True)
        rp_nu = right_pdf[~nn_mask].reset_index(drop=True)
        rp_nu["__pw_by__"] = _null_norm_tuples(rp_nu)
        rp_nu = rp_nu.drop(columns=by)
    else:
        rp_nn, rp_nu = right_pdf, None
    sc = stream_left.sparkSession.sparkContext
    bc = sc.broadcast((rp_nn, rp_nu))

    def _asof(left_part, right_part, by_arg):
        if len(right_part) == 0:
            return left_part  # reindex below fills NULL payload
        return pd.merge_asof(
            left_part,
            right_part,
            on=on,
            by=by_arg,
            direction=direction,
            tolerance=tol,
            allow_exact_matches=allow_exact_matches,
        )

    def run(batches):
        import numpy as np

        rp_nn, rp_nu = bc.value
        widen: dict = {}
        aligned = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if by and not aligned:
                # Arrow hands a column containing NULLs to pandas as
                # float64, so the two sides of the same Spark type can
                # disagree (int64 vs float64) — widen BOTH sides to the
                # common numeric dtype (right once per task, left per
                # batch; by-key values in the merge path are non-null,
                # so the cast is lossless)
                for c in by:
                    lt, rt = pdf[c].dtype, rp_nn[c].dtype
                    if lt != rt and lt.kind in "iuf" and rt.kind in "iuf":
                        widen[c] = np.result_type(lt, rt)
                if widen:
                    rp_nn = rp_nn.astype(widen)
                aligned = True
            ok = pdf[on].notna()
            good = pdf[ok].sort_values(on, kind="mergesort")
            parts = []
            if by:
                # rows with a NULL in any by key still match — against
                # right rows with the SAME NULL pattern (batch parity);
                # tuple-keyed path, off the vectorized hot path
                nn = good[by].notna().all(axis=1)
                good_nn, good_nu = good[nn], good[~nn]
                if len(good_nn):
                    lc = {
                        c: t
                        for c, t in widen.items()
                        if good_nn[c].dtype != t
                    }
                    if lc:
                        good_nn = good_nn.astype(lc)
                    parts.append(_asof(good_nn, rp_nn, by))
                if len(good_nu):
                    gn = good_nu.copy()
                    gn["__pw_by__"] = _null_norm_tuples(gn)
                    m = _asof(gn, rp_nu, "__pw_by__")
                    parts.append(m.drop(columns="__pw_by__"))
            elif len(good):
                parts.append(_asof(good, rp_nn, None))
            bad = pdf[~ok]
            if len(bad):
                parts.append(bad)
            if not parts:
                parts = [pdf.iloc[0:0]]
            merged = (
                parts[0]
                if len(parts) == 1
                else pd.concat(parts, ignore_index=True)
            )
            yield merged.reindex(columns=out_cols)

    return stream_left.mapInPandas(run, out_schema)


def weighted_running_stats_stream(
    stream: DataFrame,
    weights: str,
    keys: Sequence[str],
    value_col: str,
    ddof: int = 1,
) -> DataFrame:
    """Per-key *running* weighted stats as a custom stateful operator
    (``applyInPandasWithState``).

    Built-in streaming aggregation (``weighted_groupby_stream``) already
    covers running totals; this operator exists for semantics the agg
    path cannot express: it emits one row *per key per micro-batch* with
    the running count/sum/mean/var AND the batch's own contribution
    (``batch_rows``) — i.e. output keyed on (key, batch) rather than key.

    State is four moment scalars per key (Σw, Σwx, Σwx², n) — merged
    associatively with each batch's partial sums, so state size is O(1)
    per key no matter how much data streams through. The per-batch
    reduction happens in Arrow-vectorized pandas; only the 4-number
    state crosses batches.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("w", DoubleType()),
            StructField("wx", DoubleType()),
            StructField("wxx", DoubleType()),
            StructField("n", LongType()),
        ]
    )
    out_fields = [StructField(k, StringType()) for k in keys] + [
        StructField("batch_rows", LongType()),
        StructField("w_count", DoubleType()),
        StructField("w_sum", DoubleType()),
        StructField("w_mean", DoubleType()),
        StructField("w_var", DoubleType()),
    ]
    out_schema = StructType(out_fields)

    def update(key, pdfs, state):
        w = wx = wxx = 0.0
        n = 0
        if state.exists:
            w, wx, wxx, n = state.get
        rows = 0
        for pdf in pdfs:
            valid = pdf[[value_col, weights]].dropna()
            rows += len(pdf)
            w += float((valid[weights]).sum())
            wx += float((valid[value_col] * valid[weights]).sum())
            wxx += float(
                (valid[value_col] * valid[value_col] * valid[weights]).sum()
            )
            n += len(valid)
        state.update((w, wx, wxx, n))
        mean = wx / w if w > 0 else None
        denom = w - ddof
        var = (wxx - wx * wx / w) / denom if w > 0 and denom > 0 else None
        yield pd.DataFrame(
            [list(key) + [rows, w, wx, mean, var]],
            columns=[f.name for f in out_fields],
        )

    return (
        stream.groupBy(*keys)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_heavy_hitters(
    stream: DataFrame,
    item_col: str,
    weight_col: str,
    capacity: int = 64,
    num_shards: int = 16,
) -> DataFrame:
    """Streaming weighted heavy hitters: a sharded batched
    **Misra–Gries** summary as a custom stateful operator — the
    streaming twin of :func:`~pandas_weights_spark.functions.sketch.
    weighted_heavy_hitters` (which needs the whole table per pass).

    Sharding: items route to ``xxhash64(item) % num_shards`` groups, so
    state updates parallelize across ``num_shards`` tasks and EVERY
    occurrence of an item lands in one shard (its summary sees the
    item's full mass). Per shard the state is ≤ ``capacity`` (item,
    mass) pairs plus an error budget: each micro-batch's exact
    per-item masses (one Arrow-vectorized pandas groupby) merge into
    the summary; on overflow every counter drops by the
    ``(capacity+1)``-th largest mass and non-positive counters leave
    (the batched Misra–Gries decrement: the drop is paid by ≥
    capacity+1 counters at once, so the accumulated error ``err`` obeys
    ``err ≤ shard_mass / (capacity+1)``).

    Emits per shard per micro-batch: ``(shard, item, est_mass, err,
    shard_mass)`` for every retained item. Guarantees, for item mass
    ``M`` within its shard: ``est_mass ≤ M ≤ est_mass + err``, and any
    item with ``M > shard_mass / (capacity + 1)`` is retained — so
    filtering downstream on ``est_mass + err ≥ φ·total`` yields a
    SUPERSET of the true φ-heavy hitters (exactify by re-aggregating
    only those candidates).

    State is O(capacity) per shard forever — no full-cardinality state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")

    state_schema = StructType(
        [
            StructField("items", ArrayType(StringType())),
            StructField("masses", ArrayType(DoubleType())),
            StructField("err", DoubleType()),
            StructField("total", DoubleType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("shard", IntegerType()),
            StructField("item", StringType()),
            StructField("est_mass", DoubleType()),
            StructField("err", DoubleType()),
            StructField("shard_mass", DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        counts: dict = {}
        err = 0.0
        total = 0.0
        if state.exists:
            items, masses, err, total = state.get
            counts = dict(zip(items, masses))
        for pdf in pdfs:
            valid = pdf[["__pw_item__", "__pw_w__"]].dropna()
            total += float(valid["__pw_w__"].sum())
            for item, m in (
                valid.groupby("__pw_item__")["__pw_w__"].sum().items()
            ):
                counts[item] = counts.get(item, 0.0) + float(m)
        if len(counts) > capacity:
            delta = sorted(counts.values(), reverse=True)[capacity]
            counts = {
                i: v - delta for i, v in counts.items() if v - delta > 0
            }
            err += delta
        state.update(
            (list(counts), [counts[i] for i in counts], err, total)
        )
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(counts),
                "item": list(counts),
                "est_mass": [counts[i] for i in counts],
                "err": [err] * len(counts),
                "shard_mass": [total] * len(counts),
            }
        )

    keyed = stream.select(
        (
            F.pmod(F.xxhash64(F.col(item_col).cast("string")),
                   F.lit(num_shards))
        ).cast("int").alias("__pw_shard__"),
        F.col(item_col).cast("string").alias("__pw_item__"),
        F.col(weight_col).cast("double").alias("__pw_w__"),
    )
    return keyed.groupBy("__pw_shard__").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_tdigest(
    stream: DataFrame,
    value_col: str,
    weight_col: str,
    keys: Sequence[str],
    delta: int = 100,
) -> DataFrame:
    """Streaming t-digest quantile sketch per key — the streaming twin
    of :func:`~pandas_weights_spark.functions.tdigest.tdigest_aggregate`,
    via ``applyInPandasWithState`` (the pattern proven by
    :func:`streaming_heavy_hitters`).

    The digest IS the state: per key, centroid (means, weights) arrays
    plus (min, max, total) — O(delta) scalars forever, no matter how
    much data streams through. Each micro-batch compresses its own
    points into a partial digest (Arrow-vectorized numpy) and merges it
    into the state with the same k1-scale compress the batch operator
    uses, so the mergeability guarantee (merge(digest(A), digest(B)) ≈
    digest(A ∪ B), rank error O(√(q(1−q))/delta)) carries over
    micro-batch by micro-batch.

    Emits one digest row per key per micro-batch (``update`` output
    semantics): ``keys…, td_means, td_weights, td_min, td_max,
    td_total`` — feed the latest row per key to
    :func:`~pandas_weights_spark.functions.tdigest.tdigest_quantiles`
    (row-local, batch or foreachBatch) for quantile estimates.

    NULL/NaN values or weights and ``w ≤ 0`` carry no mass (the
    quantile family's rule). Works on a batch DataFrame too (the
    stateful operator degenerates to one "batch").
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    from pandas_weights_spark.functions.tdigest import (
        _compress,
        _digest_of,
    )

    if delta < 10:
        raise ValueError("delta must be >= 10")
    keys = list(keys)
    if not keys:
        raise ValueError(
            "streaming_tdigest needs >= 1 key column (stateful operators "
            "are keyed); add a constant column for a global digest"
        )

    digest_fields = [
        StructField("td_means", ArrayType(DoubleType())),
        StructField("td_weights", ArrayType(DoubleType())),
        StructField("td_min", DoubleType()),
        StructField("td_max", DoubleType()),
        StructField("td_total", DoubleType()),
    ]
    state_schema = StructType(digest_fields)
    out_schema = StructType(
        [stream.schema[k] for k in keys] + digest_fields
    )

    def update(key, pdfs, state):
        if state.exists:
            means, weights, lo, hi, total = state.get
            means = np.asarray(means, float)
            weights = np.asarray(weights, float)
        else:
            means = np.empty(0)
            weights = np.empty(0)
            lo, hi, total = None, None, 0.0
        for pdf in pdfs:
            d = _digest_of(
                pdf[value_col].to_numpy(dtype=float),
                pdf[weight_col].to_numpy(dtype=float),
                delta,
            )
            if d is None:
                continue
            m, w, blo, bhi, btot = d
            means = np.concatenate([means, m])
            weights = np.concatenate([weights, w])
            lo = blo if lo is None else min(lo, blo)
            hi = bhi if hi is None else max(hi, bhi)
            total += btot
        if total > 0:
            means, weights = _compress(means, weights, delta)
        # plain-Python scalars only: numpy types break state pickling
        m_out = [float(x) for x in means]
        w_out = [float(x) for x in weights]
        lo_out = None if lo is None else float(lo)
        hi_out = None if hi is None else float(hi)
        state.update((m_out, w_out, lo_out, hi_out, float(total)))
        yield pd.DataFrame(
            [[*key, m_out, w_out, lo_out, hi_out, float(total)]],
            columns=[f.name for f in out_schema.fields],
        )

    return stream.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_weight_diagnostics(
    stream: DataFrame,
    weight_col: str,
    keys: Sequence[str],
) -> DataFrame:
    """Streaming twin of :func:`~pandas_weights_spark.calibration.
    weight_diagnostics` (r6, VERDICT r5 item 8): per-key RUNNING
    weight-QA — ``n``, ``sum_w``, Kish ``n_eff``, ``deff``, ``cv_w``,
    ``min_w``, ``max_w`` — emitted once per key per micro-batch, so a
    calibration pipeline watches its weights degrade live instead of
    at end-of-day.

    State is five scalars per key (n, Σw, Σw², min, max), merged
    associatively with each batch's Arrow-vectorized partials (the
    running-stats pattern) — the running diagnostics are therefore
    EXACT: the last emission per key equals the batch operator on the
    full data, not an approximation. NULL/non-positive weights carry
    no mass (the calibration family's rule).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    keys = list(keys)
    if not keys:
        raise ValueError(
            "streaming_weight_diagnostics needs >= 1 key column; add a "
            "constant column for global diagnostics"
        )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("sw", DoubleType()),
            StructField("sww", DoubleType()),
            StructField("mn", DoubleType()),
            StructField("mx", DoubleType()),
        ]
    )
    out_schema = StructType(
        [stream.schema[k] for k in keys]
        + [
            StructField("n", LongType()),
            StructField("sum_w", DoubleType()),
            StructField("n_eff", DoubleType()),
            StructField("deff", DoubleType()),
            StructField("cv_w", DoubleType()),
            StructField("min_w", DoubleType()),
            StructField("max_w", DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        import math

        n, sw, sww = 0, 0.0, 0.0
        mn = mx = None
        if state.exists:
            n, sw, sww, mn, mx = state.get
        for pdf in pdfs:
            w = pdf[weight_col].to_numpy(dtype=float)
            w = w[np.isfinite(w) & (w > 0)]
            if not len(w):
                continue
            n += int(len(w))
            sw += float(w.sum())
            sww += float((w * w).sum())
            bmn, bmx = float(w.min()), float(w.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        state.update((n, sw, sww, mn, mx))
        n_eff = (sw * sw / sww) if sww > 0 else None
        deff = (n / n_eff) if n_eff else None
        mean_w = sw / n if n else None
        var_w = (sww / n - mean_w * mean_w) if n else None
        cv_w = (
            math.sqrt(max(var_w, 0.0)) / mean_w
            if mean_w not in (None, 0.0) and var_w is not None
            else None
        )
        yield pd.DataFrame(
            [[*key, n, sw if n else None, n_eff, deff, cv_w, mn, mx]],
            columns=[f.name for f in out_schema.fields],
        )

    return stream.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_trim_params(
    stream: DataFrame,
    weight_col: str,
    keys: Sequence[str],
    upper_q: float = 0.99,
    lower_q: Optional[float] = None,
    delta: int = 200,
) -> DataFrame:
    """Streaming twin of :func:`~pandas_weights_spark.calibration.
    trim_weights`'s PARAMETER computation (r6, VERDICT r5 item 8):
    per key per micro-batch the running trim caps and rescale ratio —
    ``upper_bound`` (the running ``upper_q`` weight quantile),
    ``lower_bound`` (``lower_q`` or NULL), and ``ratio`` =
    Σw / Σclip(w) so ``clip(w, lo, up) · ratio`` preserves the running
    total mass ("trim and redistribute"). Apply the latest row per key
    to incoming rows as a broadcast map (the same two-scalars+ratio
    shape as the batch operator).

    State per key: one t-digest (O(delta) centroids — the
    :func:`streaming_tdigest` machinery) plus the exact running Σw.
    The quantile bounds and the clipped mass are digest ESTIMATES
    (centroid means clamp into [lo, up]; rank error
    O(√(q(1−q))/delta)) — the documented streaming approximation,
    vs. the batch operator's exact/binned scan. NULL/non-positive
    weights carry no mass.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    from pandas_weights_spark.functions.tdigest import (
        _compress,
        _digest_of,
        _quantile_from_digest,
    )

    if not 0.0 < upper_q <= 1.0:
        raise ValueError("upper_q must be in (0, 1]")
    if lower_q is not None and not 0.0 <= lower_q < upper_q:
        raise ValueError("lower_q must be in [0, upper_q)")
    if delta < 10:
        raise ValueError("delta must be >= 10")
    keys = list(keys)
    if not keys:
        raise ValueError(
            "streaming_trim_params needs >= 1 key column; add a "
            "constant column for global trimming"
        )
    state_schema = StructType(
        [
            StructField("td_means", ArrayType(DoubleType())),
            StructField("td_weights", ArrayType(DoubleType())),
            StructField("td_min", DoubleType()),
            StructField("td_max", DoubleType()),
            StructField("td_total", DoubleType()),
            StructField("sw", DoubleType()),
        ]
    )
    out_schema = StructType(
        [stream.schema[k] for k in keys]
        + [
            StructField("upper_bound", DoubleType()),
            StructField("lower_bound", DoubleType()),
            StructField("ratio", DoubleType()),
            StructField("sum_w", DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        if state.exists:
            means, weights, lo, hi, total, sw = state.get
            means = np.asarray(means, float)
            weights = np.asarray(weights, float)
        else:
            means = np.empty(0)
            weights = np.empty(0)
            lo, hi, total, sw = None, None, 0.0, 0.0
        for pdf in pdfs:
            w = pdf[weight_col].to_numpy(dtype=float)
            w = w[np.isfinite(w) & (w > 0)]
            if not len(w):
                continue
            sw += float(w.sum())
            # unit mass per row — the batch operator's "each row one
            # case" quantile convention (calibration.py trim_weights)
            d = _digest_of(w, np.ones_like(w), delta)
            if d is None:
                continue
            m, ww, blo, bhi, btot = d
            means = np.concatenate([means, m])
            weights = np.concatenate([weights, ww])
            lo = blo if lo is None else min(lo, blo)
            hi = bhi if hi is None else max(hi, bhi)
            total += btot
        if total > 0:
            means, weights = _compress(means, weights, delta)
        state.update((
            [float(x) for x in means],
            [float(x) for x in weights],
            None if lo is None else float(lo),
            None if hi is None else float(hi),
            float(total),
            float(sw),
        ))
        up = _quantile_from_digest(means, weights, lo, hi, total, upper_q)
        lo_b = (
            _quantile_from_digest(
                means, weights, lo, hi, total, lower_q
            )
            if lower_q is not None and total > 0
            else None
        )
        ratio = None
        if up is not None and total > 0:
            # clipped-mass ESTIMATE from the centroids: Σ count·clip(mean)
            clipped = np.minimum(np.asarray(means, float), up)
            if lo_b is not None:
                clipped = np.maximum(clipped, lo_b)
            tmass = float((clipped * np.asarray(weights, float)).sum())
            ratio = sw / tmass if tmass else 1.0
        yield pd.DataFrame(
            [[*key, up, lo_b, ratio, sw if total else None]],
            columns=[f.name for f in out_schema.fields],
        )

    return stream.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_distinct_counts(
    stream: DataFrame,
    cols: Sequence[str],
    keys: Sequence[str],
    on: Optional[str] = None,
    watermark: str = "1 hour",
    window: Optional[str] = None,
    lg_config_k: int = 12,
) -> DataFrame:
    """Running per-key distinct-count estimates over a stream — the
    streaming twin of :func:`pandas_weights_spark.functions.distinct.
    hll_sketches`: DataSketches-HLL sketch aggregates are associative
    and commutative, so they run as ordinary streaming aggregation
    state (a few KB per (key, column), never the raw distinct set).

    Emits ``keys…, {col}_hll (binary sketch), {col}_distinct
    (estimate)`` per key, refreshed each trigger (``update`` output
    mode). The sketches merge downstream with ``hll_union_agg`` —
    store a day's sketches and union across days without rescanning.
    Works on a batch DataFrame too.

    State contract (r6, ADVICE r5): with ``window=None`` (default) the
    aggregation keys are exactly ``keys`` — state is ONE sketch per
    (key, column), a few KB each, which never finalizes, so no
    watermark is applied (a watermark on a non-windowed key set bounds
    nothing; r5 set one anyway, inert). Unbounded only in KEY
    CARDINALITY — the sketch per key stays O(2^lg_config_k). Pass
    ``window`` (e.g. ``"1 hour"``, with ``on`` naming the event-time
    column) to aggregate per tumbling event-time window instead; then
    the ``watermark`` genuinely evicts finalized windows and total
    state is bounded by (keys x live windows).
    """
    cols = list(cols)
    if not cols:
        raise ValueError("cols must name at least one column")
    df = stream
    group_keys = list(keys)
    if window is not None:
        if on is None:
            raise ValueError("window= requires on= (the event-time column)")
        if df.isStreaming:
            df = df.withWatermark(on, watermark)
        df = df.withColumn("__win__", F.window(F.col(on), window))
        group_keys = ["__win__"] + group_keys
    # hll_sketch_agg accepts int/bigint/string/binary only — hash other
    # types through their canonical string form (distinct-preserving)
    dtypes = dict(df.dtypes)
    def _key(c):
        t = dtypes.get(c, "")
        if t in ("int", "bigint", "string", "binary"):
            return F.col(c)
        return F.col(c).cast("string")
    aggs = [
        F.hll_sketch_agg(_key(c), F.lit(lg_config_k)).alias(f"{c}_hll")
        for c in cols
    ]
    out = df.groupBy(*group_keys).agg(*aggs)
    for c in cols:
        out = out.withColumn(
            f"{c}_distinct", F.hll_sketch_estimate(F.col(f"{c}_hll"))
        )
    if window is not None:
        out = out.withColumnRenamed("__win__", "window")
    return out


def streaming_neardup_candidates(
    stream: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    per_bucket_capacity: int = 64,
    min_est_jaccard: float = 0.0,
) -> DataFrame:
    """Streaming near-duplicate CANDIDATE pairs — banded MinHash LSH as
    a custom stateful operator: each arriving document's row-local
    signature (:func:`~pandas_weights_spark.functions.dedup.
    minhash_signature` — no aggregation, so it streams as a pure map)
    explodes into band keys; per band bucket the state keeps the most
    recent ``per_bucket_capacity`` (id, signature) entries, and a new
    arrival emits one candidate row per stored collision:
    ``(id_new, id_old, band_idx, est_jaccard)`` with ``est_jaccard`` =
    the matching-minhash fraction (the unbiased Jaccard estimator).

    Bounded state is the deliberate trade: a true streaming near-dup
    needs every past signature; capping each bucket at K recent
    entries bounds memory FOREVER at ``buckets × K × num_hashes``
    hashes and detects duplicates against the recent past — the
    standard streaming-LSH compromise (evicting oldest first). Pairs
    colliding in several bands emit once per band — ``dropDuplicates``
    downstream, or treat multiplicity as collision strength. Exact
    verification (full Jaccard on texts) is a downstream batch join —
    candidates are the streaming-hard part.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from pandas_weights_spark.functions.dedup import (
        _band_keys,
        _rows_per_band,
        minhash_signature,
    )

    if per_bucket_capacity < 1:
        raise ValueError("per_bucket_capacity must be >= 1")
    r = _rows_per_band(num_hashes, bands)

    sig = minhash_signature(
        F.col(text_col), num_hashes=num_hashes, shingle_size=shingle_size
    )
    keyed = (
        stream.select(
            F.col(id_col).cast("string").alias("__id__"),
            sig.alias("__sig__"),
        )
        .select(
            "__id__", "__sig__",
            F.posexplode(
                _band_keys(F.col("__sig__"), bands, r, True)
            ).alias("band_idx", "band_hash"),
        )
    )

    state_schema = StructType(
        [
            StructField("ids", ArrayType(StringType())),
            StructField("sigs", ArrayType(ArrayType(StringType()))),
        ]
    )
    out_schema = StructType(
        [
            StructField("id_new", StringType()),
            StructField("id_old", StringType()),
            StructField("band_idx", IntegerType()),
            StructField("est_jaccard", DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        band_idx = int(key[0])
        ids: list = []
        sigs: list = []
        if state.exists:
            s_ids, s_sigs = state.get
            ids = list(s_ids)
            sigs = [list(s) for s in s_sigs]
        out = []
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                new_id = row["__id__"]
                new_sig = list(row["__sig__"])
                for old_id, old_sig in zip(ids, sigs):
                    if old_id == new_id:
                        continue
                    est = sum(
                        1 for a, b in zip(new_sig, old_sig) if a == b
                    ) / float(len(new_sig))
                    if est >= min_est_jaccard:
                        out.append([new_id, old_id, band_idx, est])
                ids.append(new_id)
                sigs.append(new_sig)
                if len(ids) > per_bucket_capacity:
                    ids = ids[-per_bucket_capacity:]
                    sigs = sigs[-per_bucket_capacity:]
        state.update((ids, sigs))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )

    return keyed.groupBy("band_idx", "band_hash").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_semdedup_candidates(
    stream: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: "list[list[float]]",
    threshold: float = 0.95,
    per_cell_capacity: int = 64,
) -> DataFrame:
    """Streaming SEMANTIC-duplicate candidate pairs — SemDeDup (Abbas
    et al. 2023) lifted to a stateful streaming operator. The batch
    :func:`~pandas_weights_spark.functions.similarity.semantic_dedup`
    needs trained centroids anyway; with the centroid matrix as a
    plan literal, cell assignment is row-local
    (:func:`~pandas_weights_spark.functions.similarity.nearest_cell`
    — a pure map, so it streams), and the stateful step keeps the
    ``per_cell_capacity`` most recent UNIT-normalized vectors per
    cell. A new arrival emits ``(id_new, id_old, cell, cos)`` for
    every stored same-cell neighbor with cosine ≥ ``threshold``
    (6-dp rounded).

    Bounded state is the same deliberate trade as
    :func:`streaming_neardup_candidates`: memory is capped FOREVER at
    ``n_cells × per_cell_capacity × d`` doubles, detecting semantic
    duplicates against the recent past with oldest-first eviction.
    Pairs are per-cell by construction (SemDeDup's own locality
    assumption — cross-cell near-duplicates are the algorithm's
    documented miss in batch too). Zero-norm vectors have no cosine
    and are skipped (not stored). Survivor selection / exact
    re-verification stays a downstream batch step; candidates are the
    streaming-hard part. For UNBOUNDED history with batch-cadence
    snapshots, use
    :func:`~pandas_weights_spark.functions.dedup.semantic_dedup_incremental`
    (r13) — same centroid contract, full drop/state semantics, no
    capacity eviction.
    """
    import math as _math

    import numpy as _np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from pandas_weights_spark.functions.similarity import nearest_cell

    if per_cell_capacity < 1:
        raise ValueError("per_cell_capacity must be >= 1")
    if not 0.0 <= threshold <= 1.0:
        raise ValueError("threshold must be in [0, 1]")

    keyed = stream.select(
        F.col(id_col).cast("string").alias("__id__"),
        F.col(vec_col).alias("__v__"),
        nearest_cell(F.col(vec_col), centroids).alias("__cell__"),
    ).where(F.col("__v__").isNotNull() & F.col("__cell__").isNotNull())

    state_schema = StructType(
        [
            StructField("ids", ArrayType(StringType())),
            StructField("vecs", ArrayType(ArrayType(DoubleType()))),
        ]
    )
    out_schema = StructType(
        [
            StructField("id_new", StringType()),
            StructField("id_old", StringType()),
            StructField("cell", IntegerType()),
            StructField("cos", DoubleType()),
        ]
    )
    thr = float(threshold)
    cap = int(per_cell_capacity)

    def update(key, pdfs, state):
        cell = int(key[0])
        ids: list = []
        vecs: list = []
        if state.exists:
            s_ids, s_vecs = state.get
            ids = list(s_ids)
            vecs = [list(v) for v in s_vecs]
        out = []
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                new_id = row["__id__"]
                x = _np.asarray(row["__v__"], float)
                nrm = _math.sqrt(float((x * x).sum()))
                if nrm == 0.0 or not _math.isfinite(nrm):
                    continue  # no cosine — skip AND don't store
                u = (x / nrm).tolist()
                for old_id, old_u in zip(ids, vecs):
                    if old_id == new_id:
                        continue
                    c = round(
                        float(
                            _np.dot(
                                _np.asarray(u), _np.asarray(old_u)
                            )
                        ),
                        6,
                    )
                    if c >= thr:
                        out.append([new_id, old_id, cell, c])
                ids.append(new_id)
                vecs.append(u)
                if len(ids) > cap:
                    ids = ids[-cap:]
                    vecs = vecs[-cap:]
        state.update((ids, vecs))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )

    return keyed.groupBy("__cell__").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_bottom_k_sample(
    stream: DataFrame,
    keys: Sequence[str],
    key_cols: Sequence[str],
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Per-key streaming UNIFORM sample of exactly ≤ k rows — the
    deterministic reservoir (r6): instead of random replacement, keep
    the k rows with the SMALLEST md5 uniforms (bottom-k sampling,
    order-statistics equivalent of a uniform k-sample; cf. the
    KMV/bottom-k sketch literature, public). Because the uniform is
    :func:`~pandas_weights_spark.sample.uniform_hash` of ``key_cols``,
    the sample is a pure FUNCTION of the ids seen so far — identical
    on any partitioning, any batch arrival order, and identical to
    the batch twin ``partitioned_topk(df, keys, [u.asc()], k)`` over
    the same data (exact parity, not just distributional).

    Emits each key's CURRENT sample every micro-batch (``update``
    semantics): ``keys…, sample array<struct<u double, id string>>``
    — ids stringified from ``key_cols`` (join back on them for
    payloads; keeping full rows in state would unbound it). State is
    exactly ≤ k (u, id) pairs per key, forever.
    """
    import numpy as np  # noqa: F401
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from pandas_weights_spark.sample import uniform_hash

    if k < 1:
        raise ValueError("k must be >= 1")
    keys = list(keys)
    if not keys:
        raise ValueError(
            "streaming_bottom_k_sample needs >= 1 key column"
        )
    u = uniform_hash([F.col(c) for c in key_cols], seed)
    ident = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in key_cols]
    )
    src = stream.select(
        *keys, u.alias("__u__"), ident.alias("__id__")
    )
    pair = StructType(
        [StructField("u", DoubleType()), StructField("id", StringType())]
    )
    state_schema = StructType(
        [
            StructField("us", ArrayType(DoubleType())),
            StructField("ids", ArrayType(StringType())),
        ]
    )
    out_schema = StructType(
        [stream.schema[kk] for kk in keys]
        + [StructField("sample", ArrayType(pair))]
    )

    def update(key, pdfs, state):
        us: "list[float]" = []
        ids: "list[str]" = []
        if state.exists:
            us, ids = list(state.get[0]), list(state.get[1])
        pool = list(zip(us, ids))
        for pdf in pdfs:
            pool.extend(
                zip(pdf["__u__"].tolist(), pdf["__id__"].tolist())
            )
        # dedup by id (re-deliveries keep one entry), then bottom-k
        # by (u, id) — the deterministic total order
        best: "dict[str, float]" = {}
        for uu, ii in pool:
            if ii not in best or uu < best[ii]:
                best[ii] = uu
        top = sorted(
            ((uu, ii) for ii, uu in best.items())
        )[: int(k)]
        state.update((
            [float(uu) for uu, _ in top],
            [ii for _, ii in top],
        ))
        yield pd.DataFrame(
            [[*key, [(float(uu), ii) for uu, ii in top]]],
            columns=[f.name for f in out_schema.fields],
        )

    return src.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
