"""Similarity search over embedding columns (``array<float>``).

Two paths (SURVEY.md §2.6 / BASELINE.json north star):

* :func:`topk_bruteforce` — exact cosine top-k. The query set is
  broadcast (it is small by construction); the corpus streams through
  map-side, so the only shuffle is the final per-query top-k, which is
  bounded by ``|queries| × k`` rows after partial aggregation. This is
  the correctness baseline at any corpus size.
* :func:`topk_lsh` — approximate path: random-hyperplane buckets prune
  the corpus before the exact rerank. At 100 TB the bucket join replaces
  the full scan-per-query; recall is tunable via ``planes`` (fewer
  planes → bigger buckets → higher recall, more compute).

Vector math is pure JVM expressions (``zip_with`` + ``aggregate``) in
deterministic sequential order — no UDF, no Arrow transfer, and the
per-row dot product is reproducible bit-for-bit across engines.
"""

from __future__ import annotations

import math
import random
from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "semantic_dedup",
    "dot",
    "l2_norm",
    "cosine_similarity",
    "weighted_centroids",
    "topk_bruteforce",
    "hyperplane_bucket",
    "topk_lsh",
    "train_ivf_centroids",
    "nearest_cell",
    "assign_cells_arrow",
    "probe_cells",
    "topk_ivf",
    "quantize_embedding",
    "dequantize_embedding",
    "topk_quantized",
    "knn_graph",
    "knn_density",
    "retrieval_metrics",
]


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared tail of every top-k path: rank ``(query_id, neighbor_id,
    cosine)`` candidates per query, keep the first ``k``.

    Query count is tiny relative to the corpus, so scale-safety of the
    per-query ranking matters: partitioned_topk (topk.py) rides the
    optimizer's Partial WindowGroupLimit for ordinary ``k`` (map tasks
    pre-filter to local top-k before the shuffle) and switches to the
    salted two-stage plan when ``k`` exceeds the pushdown threshold.
    """
    from pandas_weights_spark.topk import partitioned_topk

    return partitioned_topk(
        scored,
        part_by=["query_id"],
        order_by=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
        salt_by=["neighbor_id"],
        rank_col="rank",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cosine"), 6).alias("cosine"),
        "rank",
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (deterministic for floats)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def _rounded_cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """The dedup family's pair-verify cosine: one dot per candidate
    over the pre-computed norms ``na``/``nb`` (float-identical to
    :func:`cosine_similarity`'s ``|a|·|b|`` order), rounded to 6 dp
    before any threshold. Boundary decisions are therefore made on the
    rounded value, so a SQL oracle whose reduction order differs by
    ulps reaches the same keep/drop set."""
    return F.round(F.try_divide(dot(a, b), na * nb), 6)


def weighted_centroids(
    df: DataFrame, vec_col: str, weight: Column, by: Sequence[str]
) -> DataFrame:
    """Per-group weighted centroid: dimension-wise ``Σ w·v / Σ w`` —
    the §2 weighted-mean kernel lifted to array columns.

    ``posexplode`` + one groupBy(keys, dim): the shuffle key space is
    ``|groups| × dim``, independent of row count, and partial aggregation
    compresses each partition to at most that many rows before the
    exchange. Output long form: (keys…, dim, centroid).
    """
    exploded = df.select(
        *by,
        weight.cast("double").alias("__w__"),
        F.posexplode(F.col(vec_col)).alias("dim", "__v__"),
    )
    return exploded.groupBy(*by, "dim").agg(
        F.try_divide(
            F.sum(F.col("__v__").cast("double") * F.col("__w__")),
            F.sum(F.when(F.col("__v__").isNotNull(), F.col("__w__"))),
        ).alias("centroid")
    )


def topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × streamed corpus.

    Ties break on corpus id (deterministic). Output:
    (query_id, neighbor_id, cosine, rank).
    """
    # norms are computed ONCE per side before the join (|Q| + |corpus|
    # sqrt-folds instead of one per candidate pair); the float result is
    # identical to cosine_similarity's |a|·|b| order, so oracle parity holds
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qv__"),
            l2_norm(F.col(query_vec)).alias("__qn__"),
        )
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv__"),
        l2_norm(F.col(corpus_vec)).alias("__cn__"),
    )
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        F.try_divide(
            dot(F.col("__qv__"), F.col("__cv__")),
            F.col("__qn__") * F.col("__cn__"),
        ).alias("cosine"),
    )
    return _rank_topk(scored, k)


def _hyperplanes(dim: int, planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side constants,
    shipped into the plan as literals — a few KB, not data)."""
    rng = random.Random(seed)
    out = []
    for _ in range(planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        out.append([x / n for x in v])
    return out


def hyperplane_bucket(vec: Column, dim: int, planes: int, seed: int = 42) -> Column:
    """Sign-pattern bucket id (string of 0/1) from random hyperplanes."""
    hps = _hyperplanes(dim, planes, seed)
    bits = [
        F.when(dot(vec, F.array(*[F.lit(x) for x in hp])) >= 0, "1").otherwise("0")
        for hp in hps
    ]
    return F.concat(*bits)


def topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    planes: int = 6,
    seed: int = 42,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: hyperplane-bucket equi-join prunes the corpus,
    then exact cosine + rank within the shared bucket.

    With p planes the corpus is cut ~2^p-fold per query. Candidates that
    fall outside the query's bucket are missed (that is the approximation);
    raise recall by lowering ``planes`` or probing neighbor buckets.
    """
    dim = corpus.select(F.size(F.col(corpus_vec)).alias("d")).first()["d"]
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv__"),
        l2_norm(F.col(query_vec)).alias("__qn__"),
        hyperplane_bucket(F.col(query_vec), dim, planes, seed).alias("__b__"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv__"),
        l2_norm(F.col(corpus_vec)).alias("__cn__"),
        hyperplane_bucket(F.col(corpus_vec), dim, planes, seed).alias("__b__"),
    )
    scored = c.join(F.broadcast(q), on="__b__").select(
        "query_id",
        "neighbor_id",
        F.try_divide(
            dot(F.col("__qv__"), F.col("__cv__")),
            F.col("__qn__") * F.col("__cn__"),
        ).alias("cosine"),
    )
    return _rank_topk(scored, k)


def _kmeanspp_weighted(units, weights, k):
    """Deterministic driver-side weighted k-means++ (greedy variant:
    argmax weight·distance instead of a random draw — reproducible by
    construction) over the SMALL k-means|| candidate set. ``units``
    are unit-normalized rows; cosine distance d = 1 − max cos to the
    chosen set. Already-chosen indices are excluded from the argmax,
    so even when every remaining score weight·(1−cos) is 0 (all
    candidates coincide with the chosen set) the selection never
    repeats an index. Returns the chosen INDICES."""
    n = len(units)
    if k > n:
        raise ValueError(
            f"corpus has fewer than n_cells={k} distinct vectors"
        )
    chosen = [max(range(n), key=lambda i: (weights[i], -i))]
    taken = {chosen[0]}
    best = [float(units[c] @ units[chosen[0]]) for c in range(n)]
    while len(chosen) < k:
        nxt = max(
            (i for i in range(n) if i not in taken),
            key=lambda i: (
                weights[i] * max(0.0, 1.0 - best[i]),
                -i,
            ),
        )
        chosen.append(nxt)
        taken.add(nxt)
        for i in range(n):
            s = float(units[i] @ units[nxt])
            if s > best[i]:
                best[i] = s
    return chosen


def _kmeans_parallel_init(
    corpus, corpus_vec, n_cells, id_col, rounds, oversample, seed
) -> list[list[float]]:
    """k-means|| seeding (Bahmani et al., "Scalable k-means++", VLDB
    2012 — public paper): ``rounds`` distributed passes each sample
    every point with probability ``min(1, l·d(x,C)/φ)`` (d = cosine
    distance to the current candidate set, φ = Σd — the spherical
    analog of the paper's squared-L2 cost), candidates are weighted
    by their assignment counts, and a deterministic driver-side
    weighted k-means++ reduces them to ``n_cells`` seeds. All
    randomness is the engine's md5-uniform keyed by (id, round) — a
    deterministic per-row expression, so the two passes per round
    (φ aggregate, then the sampling filter) recompute identical
    values; the only partitioning sensitivity is the φ SUM's ulp-level
    reduction order, which can flip a sample decision only on a
    measure-zero boundary. Driver traffic is candidates only
    (≈ 1 + rounds·l vectors)."""
    import numpy as _np

    from pandas_weights_spark.sample import uniform_hash

    v = F.col(corpus_vec)
    nn = corpus.where(v.isNotNull())
    first = nn.orderBy(id_col).limit(1).select(corpus_vec).collect()
    if not first:
        raise ValueError("k-means|| needs at least one non-null vector")
    cand = [[float(x) for x in first[0][corpus_vec]]]
    l = float(oversample)
    for r in range(int(rounds)):
        cos = F.try_divide(
            F.array_max(
                F.transform(_cell_scores(v, cand), lambda s: s["s"])
            ),
            l2_norm(v),
        )
        d = F.greatest(F.lit(0.0), F.lit(1.0) - F.coalesce(cos, F.lit(1.0)))
        phi = nn.agg(F.sum(d).alias("p")).collect()[0]["p"] or 0.0
        if phi <= 0.0:
            break  # every point already coincides with a candidate
        u = uniform_hash([F.col(id_col)], seed=seed + r)
        picked = (
            nn.where(u < F.lit(l) * d / F.lit(float(phi)))
            .select(corpus_vec)
            .collect()
        )
        cand.extend(
            [float(x) for x in row[corpus_vec]] for row in picked
        )
    # dedupe candidates (distinct rows with identical vectors can both
    # be sampled in one round) — duplicate candidates would split
    # assignment counts and could surface as duplicate IVF centroids;
    # the candidate set is small (≈ 1 + rounds·l), so O(n²·d) is fine
    uniq: list[list[float]] = []
    for c in cand:
        if c not in uniq:
            uniq.append(c)
    cand = uniq
    # weight candidates by assignment counts (one pass)
    counts = (
        nn.select(nearest_cell(v, cand).alias("__c__"))
        .groupBy("__c__")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    wmap = {r["__c__"]: float(r["n"]) for r in counts}
    weights = [wmap.get(i, 0.0) for i in range(len(cand))]
    if len(cand) < n_cells:
        # tiny corpus / tiny oversample: pad with lowest-id vectors
        pad = (
            nn.orderBy(id_col).limit(n_cells).select(corpus_vec).collect()
        )
        for row in pad:
            if len(cand) >= n_cells:
                break
            vec = [float(x) for x in row[corpus_vec]]
            if vec not in cand:
                cand.append(vec)
                weights.append(1.0)
    if len(cand) < n_cells:
        raise ValueError(
            f"corpus has fewer than n_cells={n_cells} distinct vectors"
        )
    units = []
    for c in cand:
        a = _np.asarray(c, float)
        nrm = float(_np.sqrt((a * a).sum())) or 1.0
        units.append(a / nrm)
    chosen = _kmeanspp_weighted(units, weights, n_cells)
    return [cand[i] for i in chosen]


def train_ivf_centroids(
    corpus: DataFrame,
    corpus_vec: str,
    n_cells: int,
    id_col: str,
    iters: int = 2,
    arrow: bool = False,
    init: str = "first",
    rounds: int = 5,
    oversample: Optional[float] = None,
    seed: int = 42,
) -> list[list[float]]:
    """Coarse IVF quantizer: k-means on cosine similarity.

    ``init='first'`` (default) seeds with the ``n_cells`` lowest-id
    vectors — deterministic and cheap, but degenerate when adjacent
    ids are correlated (a single crawl shard's vectors all land in
    one region). ``init='kmeans||'`` (r7) runs the Bahmani et al.
    2012 scalable-k-means++ seeding — ``rounds`` distributed
    cost-proportional sampling passes (md5-uniform randomness:
    byte-reproducible) + a deterministic driver-side weighted
    k-means++ reduction — which spreads seeds across the data's
    actual clusters before Lloyd ever runs (tests pin the adversarial
    ordering where 'first' collapses). ``oversample`` defaults to
    ``2·n_cells`` per round.

    Then ``iters`` distributed Lloyd rounds: assignment is a JVM-side
    codegen argmax over centroid literals (``arrow=True`` switches to
    the batched-matmul :func:`assign_cells_arrow` — the hot path at
    large ``n_cells``, same argmax up to reduction-order ulps);
    re-estimation is one groupBy(cell) with a per-dimension ``avg``
    column — map-side partials mean only n_cells × dim numbers cross
    the wire, never the vectors themselves. Only the k×d centroid
    table (a few KB) ever reaches the driver, so the same code trains
    on a 10^11-row corpus.
    """
    if init not in ("first", "kmeans||"):
        raise ValueError("init must be 'first' or 'kmeans||'")
    if init == "kmeans||":
        cents = _kmeans_parallel_init(
            corpus, corpus_vec, n_cells, id_col, rounds,
            oversample if oversample is not None else 2.0 * n_cells,
            seed,
        )
    else:
        # a NULL vector carries no direction: seed from the lowest-id
        # non-NULL vectors, as the k-means|| path does
        rows = (
            corpus.where(F.col(corpus_vec).isNotNull())
            .orderBy(id_col).limit(n_cells).select(corpus_vec)
            .collect()
        )
        if not rows:
            raise ValueError("train_ivf_centroids needs at least one non-null vector")
        cents = [list(map(float, r[corpus_vec])) for r in rows]
    for _ in range(iters):
        # assign first, explode second: a generator in the same select as
        # the struct-field argmax trips Spark's analyzer (field names
        # degrade to col1/col2 and the `.i` access fails to resolve)
        dim = len(cents[0])
        if arrow:
            assigned = assign_cells_arrow(
                corpus.select(F.col(corpus_vec).alias("__v__")),
                "__v__",
                cents,
                out_col="__cell__",
            )
        else:
            assigned = corpus.select(
                nearest_cell(F.col(corpus_vec), cents).alias("__cell__"),
                F.col(corpus_vec).alias("__v__"),
            )
        # per-dimension avg columns: map-side partials shuffle only
        # n_cells × dim numbers, never the vectors (vs a posexplode
        # shuffle of rows × dim)
        comp = (
            assigned.groupBy("__cell__")
            .agg(
                *[
                    F.avg(F.element_at("__v__", i + 1)).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        new = {r["__cell__"]: [r[f"m{i}"] for i in range(dim)] for r in comp}
        cents = [new.get(i, cents[i]) for i in range(len(cents))]
    return cents


def _cell_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """Per-cell ``(score, cell_id)`` structs for one vector.

    The centroid matrix ships as ONE nested-array literal (a single
    Literal plan node — a k×d unrolled expression tree makes Catalyst
    analysis the bottleneck, dwarfing execution). Centroids are
    L2-normalized driver-side and the query vector's own norm is a
    positive constant across cells, so plain dot against unit centroids
    gives the same ordering as cosine — no per-cell norm work at all.
    """
    units = []
    for c in centroids:
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        units.append([x / n for x in c])
    mat = F.lit(units)
    return F.zip_with(
        mat,
        F.sequence(F.lit(0), F.lit(len(units) - 1)),
        lambda c, i: F.struct(dot(vec, c).alias("s"), i.alias("i")),
    )


def nearest_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """Argmax-cosine cell id as a pure Column expression (centroids are
    plan literals). Ties resolve to the larger cell index (struct max)."""
    return F.array_max(_cell_scores(vec, centroids))["i"]


def assign_cells_arrow(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    out_col: str = "cell",
    norm_col: "str | None" = None,
) -> DataFrame:
    """Arrow-batched twin of :func:`nearest_cell`: input schema +
    ``out_col`` (argmax-cosine cell id; same larger-index tie rule),
    plus the vector's L2 norm as ``norm_col`` when asked (the
    callers that need cosine later get it from the same pass).

    Why it exists: higher-order-function expressions (``zip_with`` /
    ``aggregate``) are interpreted per ELEMENT, so the n·k·d argmax
    is the wall-clock bottleneck of every IVF-shaped pipeline at
    large k — measured ~7 s/Lloyd-iteration at n=5k, k=64, d=64 on
    32 cores. One numpy matmul per Arrow batch is two orders faster
    and keeps the identical data flow. Scores differ from the HOF
    path only at matmul-reduction-order ulp level (same unit-centroid
    preparation), so assignments agree except on exact-tie
    boundaries; the HOF path stays the oracle-portable reference
    (the minhash portable/fast duality). NULL vectors get NULL cell.
    """
    units = []
    for c in centroids:
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        units.append([x / n for x in c])
    u = np.asarray(units, float)  # k × d
    k = u.shape[0]
    fields = list(df.schema.fields) + [
        T.StructField(out_col, T.IntegerType())
    ]
    if norm_col is not None:
        fields.append(T.StructField(norm_col, T.DoubleType()))
    out_schema = T.StructType(fields)
    cols = df.columns

    def run(batches):
        import pandas as pd

        for pdf in batches:
            vals = pdf[vec_col]
            mask = vals.notna().to_numpy()
            cell = np.empty(len(pdf), dtype=object)
            cell[~mask] = None
            nrm = np.empty(len(pdf), dtype=object)
            nrm[~mask] = None
            if mask.any():
                x = np.vstack([np.asarray(v, float) for v in vals[mask]])
                s = x @ u.T  # n × k
                # np.argmax takes the FIRST max; the engine rule is
                # larger index wins — argmax over the reversed axis
                idx = (k - 1) - np.argmax(s[:, ::-1], axis=1)
                cell[mask] = [int(i) for i in idx]
                if norm_col is not None:
                    nn = np.sqrt((x * x).sum(axis=1))
                    nrm[mask] = [float(v) for v in nn]
            out = {c: pdf[c] for c in cols}
            out[out_col] = cell
            if norm_col is not None:
                out[norm_col] = nrm
            yield pd.DataFrame(out)

    return df.mapInPandas(run, out_schema)


def probe_cells(
    vec: Column, centroids: list[list[float]], nprobe: int
) -> Column:
    """The ``nprobe`` nearest cell ids (descending similarity) as an array."""
    ranked = F.reverse(F.array_sort(_cell_scores(vec, centroids)))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["i"])


def topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k: coarse-quantize the corpus into ``n_cells`` cells, probe
    only the ``nprobe`` cells nearest each query, exact-rank inside them.

    The scale path complements :func:`topk_lsh`: the corpus side is
    partition-pruned by cell (a ``nprobe/n_cells`` fraction scanned per
    query) and the per-cell join key is dense and balanced. With
    ``nprobe == n_cells`` the result is *exactly* ``topk_bruteforce``
    (every cell probed) — the correctness invariant the tests and the
    SQL oracle pin down.

    Pass ``centroids`` to reuse a trained quantizer (e.g. persisted from
    a previous run) instead of re-training.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, corpus_vec, n_cells, id_col=corpus_id, iters=iters
        )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv__"),
        l2_norm(F.col(corpus_vec)).alias("__cn__"),
        nearest_cell(F.col(corpus_vec), centroids).alias("__cell__"),
    )
    # two-step select: the probe-cell array is computed before the
    # generator (see analyzer note in train_ivf_centroids)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv__"),
        l2_norm(F.col(query_vec)).alias("__qn__"),
        probe_cells(F.col(query_vec), centroids, nprobe).alias("__cells__"),
    ).select(
        "query_id", "__qv__", "__qn__", F.explode("__cells__").alias("__cell__")
    )
    scored = c.join(F.broadcast(q), on="__cell__").select(
        "query_id",
        "neighbor_id",
        F.try_divide(
            dot(F.col("__qv__"), F.col("__cv__")),
            F.col("__qn__") * F.col("__cn__"),
        ).alias("cosine"),
    )
    return _rank_topk(scored, k)


def quantize_embedding(vec: Column, bits: int = 8) -> Column:
    """Per-vector scalar quantization of ``array<float|double>`` to
    ``struct(codes array<int>, lo double, hi double)`` — the standard
    int8 storage/bandwidth compression for ANN corpora (4 bytes/dim →
    1, so shuffles and broadcast candidates shrink 4×; parquet dictionary
    and byte-packing handle the physical width).

    ``code = round((x − lo)/(hi − lo) · (2^bits − 1))`` with the
    vector's own [min, max] range (asymmetric per-vector scale); a
    constant vector quantizes to code 0 with ``lo`` carrying the value.
    All double arithmetic in fixed op order — an equivalent SQL engine
    reproduces the codes digit-for-digit.
    """
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    levels = float((1 << bits) - 1)
    v = F.transform(vec, lambda x: x.cast("double"))
    lo = F.array_min(v)
    hi = F.array_max(v)
    codes = F.when(
        hi > lo,
        F.transform(
            v,
            lambda x: F.round((x - lo) / (hi - lo) * F.lit(levels), 0).cast(
                "int"
            ),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return F.struct(codes.alias("codes"), lo.alias("lo"), hi.alias("hi"))


def dequantize_embedding(q: Column, bits: int = 8) -> Column:
    """Inverse of :func:`quantize_embedding`:
    ``x ≈ lo + code · (hi − lo)/(2^bits − 1)`` as ``array<double>``."""
    levels = float((1 << bits) - 1)
    lo, hi = q["lo"], q["hi"]
    return F.transform(
        q["codes"],
        lambda c: lo + c.cast("double") * (hi - lo) / F.lit(levels),
    )


def topk_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    bits: int = 8,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against a scalar-quantized corpus:
    float queries score against the dequantized codes. Same plan shape
    as :func:`topk_bruteforce` (broadcast queries, corpus streams
    map-side, |Q|·k-bounded final top-k); the corpus side moves 4×
    fewer bytes. Approximation error is the quantization step — recall
    vs exact is pinned by tests."""
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        dequantize_embedding(
            quantize_embedding(F.col(corpus_vec), bits), bits
        ).alias(corpus_vec),
    )
    return topk_bruteforce(
        queries, c, k,
        query_id=query_id, corpus_id="neighbor_id",
        query_vec=query_vec, corpus_vec=corpus_vec,
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: "int | str" = 256,
    threshold: float = 0.95,
    iters: int = 2,
    centroids: "list[list[float]] | None" = None,
    arrow: bool = False,
    target_cell_rows: "int | None" = None,
    checkpoint: bool = True,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public paper): k-means-cluster the embeddings,
    then drop every document whose cosine similarity to a LOWER-id
    document in the SAME cluster is ≥ ``threshold`` (min-id survivor,
    the dedup family's rule). Catches paraphrase/translation
    duplicates that n-gram dedup misses, at a cost bounded by the
    per-cluster quadratic — ``n_cells`` is the knob: expected cluster
    size ``n/n_cells``, so size it to keep clusters executor-small
    (SemDeDup's own design argument). ``n_cells='auto'`` applies the
    same sizing rule as :func:`knn_graph` (one ``count()`` →
    :func:`auto_n_cells`; ``target_cell_rows`` defaults to
    :data:`KNN_TARGET_CELL_ROWS`).

    Returns ``(id_col, cell, is_survivor)``. ``centroids`` accepts a
    pre-trained quantizer (:func:`train_ivf_centroids` — the
    train-once/apply-many pattern); ``None`` trains here with
    ``iters`` Lloyd rounds. Assignment is a JVM-side argmax over the
    centroid literal (``arrow=True``: the batched-matmul
    :func:`assign_cells_arrow` fast path — same argmax up to
    reduction-order ulps at exact-tie boundaries); the only
    data-sized shuffle is the cell self-join, which never leaves a
    cell.

    ``checkpoint=True`` (default) cuts lineage on the reused
    intermediate with a lazy ``localCheckpoint`` — faster (each
    consumer reuses the materialized blocks), but executor loss
    fails the job instead of recomputing and the blocks pin
    executor storage until the DataFrame is garbage-collected.
    Pass ``checkpoint=False`` to keep recoverable pure-lineage
    plans.
    """
    if n_cells == "auto":
        n_cells = auto_n_cells(
            df.count(),
            KNN_TARGET_CELL_ROWS
            if target_cell_rows is None
            else target_cell_rows,
        )
    elif not isinstance(n_cells, int):
        raise ValueError(
            f"n_cells must be an int or 'auto', got {n_cells!r}"
        )
    if centroids is None:
        centroids = train_ivf_centroids(
            df, vec_col, n_cells, id_col, iters=iters, arrow=arrow
        )
    v = F.col(vec_col)
    if arrow:
        # batched-matmul assignment + norm from ONE Arrow pass; the
        # pair-verify cosine below is unchanged, and its 6-dp
        # round-then-threshold absorbs the norm's reduction-order ulps
        assigned = assign_cells_arrow(
            df.where(v.isNotNull()).select(
                F.col(id_col), v.alias("__v__")
            ),
            "__v__",
            centroids,
            out_col="cell",
            norm_col="__n__",
        ).select(id_col, "__v__", "__n__", "cell")
    else:
        assigned = df.where(v.isNotNull()).select(
            F.col(id_col),
            v.alias("__v__"),
            l2_norm(v).alias("__n__"),
            nearest_cell(v, centroids).alias("cell"),
        )
    # r15: LAZY lineage cut (the dedup-family pattern) — the assigned
    # table feeds BOTH sides of the cell self-join and the survivor
    # join-back, so the argmax/matmul assignment re-executed three
    # times per run. Deterministic per evaluation; rows unchanged.
    # Gated by ``checkpoint`` (r16, ADVICE r15): the cut trades
    # executor-loss recompute and pinned executor storage for speed;
    # checkpoint=False keeps pure-lineage plans.
    if checkpoint:
        assigned = assigned.localCheckpoint(eager=False)
    a = assigned.alias("a")
    b = assigned.alias("b")
    losers = (
        a.join(
            b,
            on=[
                F.col("a.cell") == F.col("b.cell"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .where(
            _rounded_cosine(
                F.col("a.__v__"), F.col("b.__v__"),
                F.col("a.__n__"), F.col("b.__n__"),
            )
            >= threshold
        )
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("__loser__", F.lit(True))
    )
    return (
        assigned.join(losers, id_col, "left")
        .select(
            id_col,
            "cell",
            F.col("__loser__").isNull().alias("is_survivor"),
        )
    )


def _knn_ivf_arrow(
    df: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    centroids: "list[list[float]]",
    nprobe: int,
) -> DataFrame:
    """Arrow fast path of the IVF self-knn: cell assignment, probe
    ranking, and the per-cell query×corpus scoring all run as numpy
    matmuls over Arrow batches (the ``assign_cells_arrow`` /
    ``semantic_dedup(arrow=True)`` duality — the interpreted HOF dot
    is the wall-clock bottleneck at n·nprobe/n_cells pairs). Data
    flow is identical to the JVM path: corpus rows carry their cell,
    probes meet them in a cogrouped per-cell kernel that emits each
    query's LOCAL top-k, and the global ``_rank_topk`` merges cells.
    Cosines differ from the HOF path only at matmul-reduction-order
    ulps; the bruteforce strategy stays the oracle-exact reference.
    """
    units = []
    for cvec in centroids:
        n = math.sqrt(sum(x * x for x in cvec)) or 1.0
        units.append([x / n for x in cvec])
    u = np.asarray(units, float)  # n_cells × d
    ncell = u.shape[0]
    npb = min(int(nprobe), ncell)

    id_type = df.schema[id_col].dataType
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__")
    )
    corpus = assign_cells_arrow(
        base, "__v__", centroids, out_col="__cell__", norm_col="__n__"
    )

    probe_schema = T.StructType(
        [
            T.StructField("__id__", id_type),
            T.StructField("__v__", T.ArrayType(T.DoubleType())),
            T.StructField("__n__", T.DoubleType()),
            T.StructField("__cell__", T.IntegerType()),
        ]
    )

    def probes(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):  # an empty Arrow batch would crash vstack
                continue
            x = np.vstack(
                [np.asarray(v, float) for v in pdf["__v__"]]
            )
            s = x @ u.T  # n × ncell
            # top-nprobe cells, descending score; larger index wins a
            # tie (the engine's array_max rule) — stable argsort over
            # the reversed axis, same trick as assign_cells_arrow
            order = np.argsort(-s[:, ::-1], axis=1, kind="stable")
            cells = (ncell - 1) - order[:, :npb]
            nrm = np.sqrt((x * x).sum(axis=1))
            ids = pdf["__id__"].to_numpy()
            vecs = list(pdf["__v__"])
            rows = {
                "__id__": np.repeat(ids, npb),
                "__v__": [
                    vecs[i] for i in np.repeat(np.arange(len(pdf)), npb)
                ],
                "__n__": np.repeat(nrm, npb),
                "__cell__": cells.reshape(-1),
            }
            yield pd.DataFrame(rows)

    q = base.mapInPandas(probes, probe_schema)

    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def cell_topk(left, right):
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            )
        qx = np.vstack([np.asarray(v, float) for v in left["__v__"]])
        cx = np.vstack([np.asarray(v, float) for v in right["__v__"]])
        qn = left["__n__"].to_numpy(float)
        cn = right["__n__"].to_numpy(float)
        qid = left["__id__"].to_numpy()
        nid = right["__id__"].to_numpy()
        s = (qx @ cx.T) / np.outer(qn, cn)
        out_q, out_n, out_c = [], [], []
        kk = min(k, s.shape[1])
        for i in range(s.shape[0]):
            row = s[i].copy()
            row[nid == qid[i]] = -np.inf  # self excluded
            # local top-k by (-cosine, neighbor_id)
            order = np.lexsort((nid, -row))[:kk]
            order = order[np.isfinite(row[order])]
            # emit the ORIGINAL id values (never int()-coerce): the
            # declared out_schema carries the source id_type, so
            # string/float ids round-trip and Arrow enforces the type
            out_q.extend([qid[i]] * len(order))
            out_n.extend(nid[j] for j in order)
            out_c.extend(float(row[j]) for j in order)
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
        )

    cand = (
        q.groupBy("__cell__")
        .cogroup(corpus.groupBy("__cell__"))
        .applyInPandas(lambda l, r: cell_topk(l, r), out_schema)
    )
    return _rank_topk(cand, k).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "cosine",
        "rank",
    )


#: knn_graph auto cell sizing: target expected rows per IVF cell.
#: Per-cell join work is |cell|²·(nprobe/n_cells)-ish, so cells must
#: stay executor-small; 4096² ≈ 16M pair-dots per cell is comfortably
#: one task.
KNN_TARGET_CELL_ROWS = 4096

#: expected-cell-size bound past which a fixed n_cells draws a loud
#: warning (the n²/n_cells blowup footgun).
KNN_CELL_WARN_ROWS = 65536


def auto_n_cells(
    n_rows: int, target_cell_rows: int = KNN_TARGET_CELL_ROWS
) -> int:
    """The ``n_cells='auto'`` sizing rule of :func:`knn_graph`:
    ``clamp(ceil(n_rows / target_cell_rows), 1, 2**20)`` — expected
    cell size ≈ ``target_cell_rows``, so the per-cell quadratic stays
    one executor task no matter the corpus size."""
    return min(
        max(1, -(-int(n_rows) // max(1, int(target_cell_rows)))),
        2 ** 20,
    )


def knn_graph(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "bruteforce",
    n_cells: "int | str" = 16,
    nprobe: int = 4,
    iters: int = 2,
    centroids: "list[list[float]] | None" = None,
    arrow: bool = False,
    target_cell_rows: int = KNN_TARGET_CELL_ROWS,
    check_cell_size: bool = False,
) -> DataFrame:
    """k-nearest-neighbor graph of an embedding table against ITSELF
    (self-edges excluded): ``(src, dst, cosine, rank)`` with exactly
    ``k`` edges per source (fewer only when the table has ≤ k rows).

    ``strategy='bruteforce'`` scores all pairs — exact, O(n²), for
    eval-sized tables and the oracle. ``strategy='ivf'`` is the scale
    path: both sides carry their IVF cell id and meet in a SHUFFLE
    join on the cell key — cell-partitioned co-location, NO broadcast
    of a corpus-sized side (the existing ``topk_ivf`` broadcasts its
    query side because queries are few; a self-knn's query side IS the
    corpus, so it must shuffle). Approximate unless
    ``nprobe == n_cells``, which reproduces bruteforce exactly (pinned
    by tests, same invariant as ``topk_ivf``).

    ``n_cells`` is the scale knob, exactly as in
    :func:`semantic_dedup`: expected cell size is ``n/n_cells`` and
    the per-cell join work is |cell|²-ish, so SIZE IT WITH ``n`` to
    keep cells executor-small — the default 16 is an eval-table
    setting, NOT a 100M-row setting (16 cells at 100M rows funnels
    ~n²/16 pairs through a 16-key skewed shuffle).
    ``n_cells='auto'`` does this for you: one ``count()`` of ``df``,
    then ``n_cells = clamp(ceil(n / target_cell_rows), 1, 2**20)``
    (``target_cell_rows`` defaults to :data:`KNN_TARGET_CELL_ROWS`).
    With a FIXED ``n_cells``, pass ``check_cell_size=True`` to spend
    one ``count()`` validating it: a ``RuntimeWarning`` fires when the
    expected cell size ``n/n_cells`` exceeds
    :data:`KNN_CELL_WARN_ROWS` (fixed mode without the check never
    counts and trusts you).

    ``arrow=True`` (requires ``strategy='ivf'``) runs assignment,
    probe ranking, and the per-cell scoring as numpy matmuls
    (:func:`_knn_ivf_arrow` — 5.9 → 1.4 s at the sf0.1 bench shape;
    identical edges to the JVM path with shared centroids, pinned).
    """
    if strategy not in ("bruteforce", "ivf"):
        raise ValueError(
            f"strategy must be 'bruteforce' or 'ivf', got {strategy!r}"
        )
    if n_cells == "auto":
        if strategy != "ivf":
            raise ValueError("n_cells='auto' requires strategy='ivf'")
        n_cells = auto_n_cells(df.count(), target_cell_rows)
    elif not isinstance(n_cells, int):
        raise ValueError(
            f"n_cells must be an int or 'auto', got {n_cells!r}"
        )
    elif check_cell_size and strategy == "ivf":
        n_rows = df.count()
        if n_rows / max(1, n_cells) > KNN_CELL_WARN_ROWS:
            import warnings

            warnings.warn(
                f"knn_graph: expected IVF cell size "
                f"{n_rows / n_cells:.0f} rows ({n_rows} rows / "
                f"{n_cells} cells) exceeds {KNN_CELL_WARN_ROWS}; the "
                f"per-cell join is quadratic in cell size — raise "
                f"n_cells (rule: n/target_cell_rows) or use "
                f"n_cells='auto'",
                RuntimeWarning,
                stacklevel=2,
            )
    if arrow:
        if strategy != "ivf":
            raise ValueError("arrow=True requires strategy='ivf'")
        if centroids is None:
            centroids = train_ivf_centroids(
                df, vec_col, n_cells, id_col=id_col, iters=iters,
                arrow=True,
            )
        return _knn_ivf_arrow(df, k, id_col, vec_col, centroids, nprobe)
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv__"),
        l2_norm(F.col(vec_col)).alias("__cn__"),
    )
    q = df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv__"),
        l2_norm(F.col(vec_col)).alias("__qn__"),
    )
    cos = F.try_divide(
        dot(F.col("__qv__"), F.col("__cv__")),
        F.col("__qn__") * F.col("__cn__"),
    )
    if strategy == "bruteforce":
        pairs = c.crossJoin(q)
    else:
        if centroids is None:
            centroids = train_ivf_centroids(
                df, vec_col, n_cells, id_col=id_col, iters=iters
            )
        c = c.withColumn(
            "__cell__", nearest_cell(F.col("__cv__"), centroids)
        )
        q = q.select(
            "query_id", "__qv__", "__qn__",
            probe_cells(F.col("__qv__"), centroids, nprobe).alias(
                "__cells__"
            ),
        ).select(
            "query_id", "__qv__", "__qn__",
            F.explode("__cells__").alias("__cell__"),
        )
        pairs = c.join(q, on="__cell__")  # shuffle join, both sides big
    scored = pairs.where(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", cos.alias("cosine"))
    return _rank_topk(scored, k).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "cosine",
        "rank",
    )


def knn_density(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **knn_kwargs,
) -> DataFrame:
    """Embedding-space local density per row — mean and max cosine to
    the ``k`` nearest neighbors (the DataComp/SemDeDup-style density
    signal: dense points are near-redundant cluster cores, sparse
    points are outliers/noise; both tails get pruned or downweighted
    in corpus curation). Output ``(id_col, density, nn_cosine,
    n_neighbors)``.

    One aggregation over :func:`knn_graph` edges — the mean is over
    the graph's ROUNDED edge cosines (6 dp), so the DuckDB oracle
    replays it exactly.
    """
    edges = knn_graph(df, k, id_col, vec_col, **knn_kwargs)
    return edges.groupBy(F.col("src").alias(id_col)).agg(
        F.round(F.avg("cosine"), 6).alias("density"),
        F.max("cosine").alias("nn_cosine"),
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
    )


def retrieval_metrics(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_id: str = "query_id",
    neighbor_id: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query quality of an APPROXIMATE top-k ranking against the
    EXACT one — the numbers that tune ``nprobe``/``planes``/PQ bits
    before a corpus-wide ANN deploy:

    - ``recall_at_k`` — |approx∩exact| / |exact| within rank ≤ k;
    - ``mrr`` — 1/rank of the exact TOP-1 neighbor inside the approx
      list (0.0 when missed);
    - ``ndcg`` — binary-relevance nDCG@k (relevant = member of the
      exact top-k), ideal DCG normalized over |exact| positions.

    Both inputs use the ``topk_*``/``knn_graph`` output contract
    (query, neighbor, rank). Queries present only in ``exact`` (the
    approximate index returned nothing) still appear, scored 0. Two
    hash joins on (query, neighbor) + one per-query aggregate — the
    join keys are top-k-bounded, never corpus-sized.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    ln2 = 0.6931471805599453
    ex = exact.where(F.col(rank_col) <= k).select(
        F.col(query_id).alias("__q__"),
        F.col(neighbor_id).alias("__n__"),
        F.col(rank_col).alias("__er__"),
    )
    ap = approx.where(F.col(rank_col) <= k).select(
        F.col(query_id).alias("__q__"),
        F.col(neighbor_id).alias("__n__"),
        F.col(rank_col).alias("__ar__"),
    )
    j = ex.join(ap, ["__q__", "__n__"], "left")
    hit = F.col("__ar__").isNotNull()
    dcg = F.sum(
        F.when(hit, 1.0 / (F.log(F.col("__ar__") + 1.0) / ln2))
        .otherwise(F.lit(0.0))
    )
    idcg = F.sum(1.0 / (F.log(F.col("__er__") + 1.0) / ln2))
    mrr = F.max(
        F.when(
            (F.col("__er__") == 1) & hit, 1.0 / F.col("__ar__")
        ).otherwise(F.lit(0.0))
    )
    return j.groupBy(F.col("__q__").alias(query_id)).agg(
        F.try_divide(
            F.sum(hit.cast("int")).cast("double"),
            F.count(F.lit(1)).cast("double"),
        ).alias("recall_at_k"),
        mrr.alias("mrr"),
        F.try_divide(dcg, idcg).alias("ndcg"),
    )
