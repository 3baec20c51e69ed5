"""Deduplication operators for document pipelines (SURVEY.md §2.6 /
BASELINE.json north star): exact, MinHash+LSH near-dup, n-gram Jaccard,
SimHash, embedding-cosine near-dup.

Design for 100 TB:

* **Exact dedup** — hash-groupBy on a content digest: one shuffle keyed
  on md5(text), no full-text comparison, no driver involvement.
* **MinHash near-dup** — one banded-LSH kernel of four steps, each
  defined once here; :func:`minhash_near_duplicates`,
  :func:`minhash_join`, :func:`chunk_near_duplicates`,
  :func:`minhash_dedup_incremental`, :func:`lsh_candidate_pairs` and
  the streaming candidates are compositions of them:

  1. *signature* — permutation *i* hashes every shingle with a seed
     (:func:`_perm_hash`: md5 of ``"{i} " || shingle``, whose hex
     strings order the same in every engine, or seeded ``xxhash64``
     when ``portable=False``) and keeps the minimum. The pipelines use
     the aggregation form (:func:`minhash_signatures_agg`: explode the
     shingles, map-side partial MIN per document);
     :func:`minhash_signature` is the row-local array form streams use.
  2. *band keys* — :func:`_band_keys` hashes each band's ``r``
     signature elements into one key.
  3. *bucket join* — :func:`_banded` posexplodes each table's keys
     into ``(band_idx, band_hash)`` rows and :func:`_bucket_pairs`
     equi-joins them. The key is short and uniformly distributed, so
     the shuffle is balanced and the quadratic term is confined to
     same-bucket collisions.
  4. *verify* — :func:`_verified` keeps the candidates whose exact
     Jaccard over distinct shingle sets, rounded to 6 dp, reaches the
     threshold.
* **Embedding near-dup** — random-hyperplane buckets, then the rounded
  cosine verify of :mod:`~pandas_weights_spark.functions.similarity`.

The kernels are JVM expressions; ``mapInPandas`` runs only where a
caller asks for it (``remove_duplicate_ngram_spans(portable=False)``,
``semantic_dedup_incremental(arrow=True)``).
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandas_weights_spark.functions.text import tokens, word_ngrams

__all__ = [
    "content_key",
    "exact_dedup",
    "duplicate_groups",
    "minhash_signature",
    "lsh_candidate_pairs",
    "jaccard",
    "minhash_near_duplicates",
    "lsh_tuning",
    "minhash_signatures_agg",
    "minhash_join",
    "chunk_near_duplicates",
    "remove_duplicate_spans",
    "simhash",
    "hamming_distance",
    "embedding_near_duplicates",
    "embedding_join",
    "ngram_jaccard_near_duplicates",
    "ngram_novelty",
    "snapshot_delta",
    "minhash_dedup_incremental",
    "semantic_dedup_incremental",
]


def content_key(text: Column, normalize=True) -> Column:
    """Content digest used as the exact-dedup grouping key.
    ``normalize``: ``True`` = lowercase + trim (the default),
    ``"ccnet"`` = :func:`~pandas_weights_spark.functions.text.
    ccnet_normalize` (case/accents/digits/punctuation folded — the
    CCNet paragraph-hash recipe, r7), ``"ccnet_nfkc"`` = the same
    with a leading NFKC pass (r11 — fullwidth forms, ligatures,
    combining marks; CJK/mixed-script crawls fold wrongly without
    it; takes the sanctioned Arrow surface), ``False`` = raw
    bytes."""
    if normalize in ("ccnet", "ccnet_nfkc"):
        from pandas_weights_spark.functions.text import ccnet_normalize

        t = ccnet_normalize(
            text,
            normalize_unicode=(
                "NFKC" if normalize == "ccnet_nfkc" else None
            ),
        )
    elif normalize:
        t = F.lower(F.trim(text))
    else:
        t = text
    return F.md5(t)


def argmax_survivors(
    df: DataFrame, keys: "Sequence[str]", id_col: str, score: Column
) -> DataFrame:
    """Per-key survivor ids under a QUALITY policy: the member with
    the maximum ``score`` wins, ties break to the minimum id, NULL
    scores rank lowest (an all-NULL group falls back to pure min-id —
    exactly the default policy). Returns ``(keys…, id_col)``.

    Shape: one key-keyed max aggregate, one key-keyed join back
    (same partitioning — AQE reuses the exchange), one min-id
    aggregate over the argmax slice. No window over raw rows, no
    row payload through the shuffle twice."""
    keys = list(keys)
    scored = df.select(*keys, F.col(id_col), score.alias("__s__"))
    best = scored.groupBy(*keys).agg(F.max("__s__").alias("__smax__"))
    return (
        scored.join(best, keys)
        .where(F.col("__s__").eqNullSafe(F.col("__smax__")))
        .groupBy(*keys)
        .agg(F.min(id_col).alias(id_col))
    )


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    normalize: bool = True,
    keep: Optional[Column] = None,
) -> DataFrame:
    """Keep one row per distinct content digest — by minimum id
    (default), or by MAXIMUM ``keep`` score (ties → minimum id,
    NULLs lowest) when a quality column is supplied: real pipelines
    keep the best-quality member of a duplicate family (longest
    text, highest LM score, most recent crawl), not the smallest id.

    One shuffle on the digest; survivor selection is a plain agg +
    semi-join back, so no row payload travels through the shuffle twice.
    """
    keyed = df.withColumn("__ck__", content_key(F.col(text_col), normalize))
    if keep is None:
        survivors = keyed.groupBy("__ck__").agg(F.min(id_col).alias(id_col))
    else:
        survivors = argmax_survivors(keyed, ["__ck__"], id_col, keep)
    return (
        keyed.join(survivors, on=["__ck__", id_col], how="inner")
        .drop("__ck__")
    )


def exact_dedup_incremental(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seen: Optional[DataFrame] = None,
    normalize=True,
    keep: Optional[Column] = None,
) -> "tuple[DataFrame, DataFrame]":
    """SNAPSHOT-incremental exact dedup — the daily-ingest shape: a
    new batch dedups first against the accumulated ``seen`` digest
    table from all PREVIOUS runs (one column ``content_key``; persist
    it as parquet between runs), then within itself (min-id or
    ``keep``-argmax survivors, exactly :func:`exact_dedup`). Returns
    ``(survivors, new_seen)`` where ``new_seen`` is the UPDATED digest
    table to persist for the next run (old digests ∪ this batch's —
    including digests of rows that lost to history, so re-crawled
    duplicates stay suppressed forever).

    Shape: one left-anti join against ``seen`` (broadcast when small,
    else a digest-keyed shuffle — digests are fixed 32-byte keys, the
    cheapest possible key), then the in-batch dedup's single digest
    shuffle; ``new_seen`` is a digest-level union + distinct, never
    row payloads.
    """
    keyed = df.withColumn(
        "__ck__", content_key(F.col(text_col), normalize)
    )
    batch_keys = keyed.select(
        F.col("__ck__").alias("content_key")
    ).distinct()
    if seen is not None:
        fresh = keyed.join(
            seen.select(F.col("content_key").alias("__ck__")),
            "__ck__",
            "left_anti",
        )
        new_seen = seen.select("content_key").unionByName(
            batch_keys
        ).distinct()
    else:
        fresh = keyed
        new_seen = batch_keys
    if keep is None:
        survivors = fresh.groupBy("__ck__").agg(
            F.min(id_col).alias(id_col)
        )
    else:
        survivors = argmax_survivors(fresh, ["__ck__"], id_col, keep)
    out = fresh.join(
        survivors, on=["__ck__", id_col], how="inner"
    ).drop("__ck__")
    return out, new_seen


def duplicate_groups(
    df: DataFrame, text_col: str, normalize: bool = True
) -> DataFrame:
    """(digest, n_dupes) for digests occurring more than once."""
    return (
        df.groupBy(content_key(F.col(text_col), normalize).alias("content_key"))
        .agg(F.count(F.lit(1)).alias("n_dupes"))
        .where(F.col("n_dupes") > 1)
    )


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Signature rows per LSH band; ``bands`` must divide
    ``num_hashes``."""
    r = num_hashes // bands
    if r * bands != num_hashes:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    return r


def _perm_hash(i: int, shingle: Column, portable: bool = True) -> Column:
    """Permutation *i* of the MinHash family: md5 hex of
    ``"{i} " || shingle`` — pure-ASCII string order, so the minimum is
    engine-portable, unlike engine-specific 64-bit hashes — or, with
    ``portable=False``, ``xxhash64`` seeded by *i*."""
    if portable:
        return F.md5(F.concat(F.lit(f"{i} "), shingle))
    return F.xxhash64(F.lit(i), shingle)


def _band_keys(sig: Column, bands: int, r: int, portable: bool) -> Column:
    """Band bucket keys of a signature array: band *b* hashes elements
    ``b·r … b·r+r−1`` — md5 of their '|'-joined strings (``concat_ws``
    skips NULL elements) or, with ``portable=False``, xxhash64 of the
    longs (no string materialized on the fast path). Signatures held as ``h0 … h{k-1}`` columns pass
    ``F.array(*h)``; the optimizer folds the element reads back into
    the columns."""
    if portable:
        return F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "|", *[sig[b * r + j] for j in range(r)]
                    )
                )
                for b in range(bands)
            ]
        )
    return F.array(
        *[
            F.xxhash64(*[sig[b * r + j] for j in range(r)])
            for b in range(bands)
        ]
    )


def _banded(df: DataFrame, id_col: str, keys: Column) -> DataFrame:
    """``(id_col, band_idx, band_hash)``: one row per band key."""
    return df.select(
        F.col(id_col), F.posexplode(keys).alias("band_idx", "band_hash")
    )


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int,
    bands: int,
    r: int,
    portable: bool = True,
) -> DataFrame:
    """:func:`_banded` keys of ``df``'s aggregation-form signatures."""
    sigs = minhash_signatures_agg(
        df, text_col, id_col, bands * r, shingle_size, portable=portable
    )
    h = F.array(*[F.col(f"h{i}") for i in range(bands * r)])
    return _banded(sigs, id_col, _band_keys(h, bands, r, portable))


def _ordered(a: Column, b: Column) -> "list[Column]":
    # self-join condition: each unordered pair once, never a row with
    # itself
    return [a < b]


def _bucket_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    out: "tuple[str, str]",
    cond=None,
) -> DataFrame:
    """Distinct id pairs, named ``out``, of two :func:`_banded` tables
    that share a ``(band_idx, band_hash)`` bucket — the LSH candidate
    step. ``cond(left_id_col, right_id_col)`` returns further join
    conditions (:func:`_ordered` for self-joins)."""
    lid = F.col(f"__l__.{left_id}")
    rid = F.col(f"__r__.{right_id}")
    on = [
        F.col("__l__.band_idx") == F.col("__r__.band_idx"),
        F.col("__l__.band_hash") == F.col("__r__.band_hash"),
    ]
    if cond is not None:
        on += cond(lid, rid)
    return (
        left.alias("__l__")
        .join(right.alias("__r__"), on=on)
        .select(lid.alias(out[0]), rid.alias(out[1]))
        .distinct()
    )


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int
) -> DataFrame:
    """``(id_col, distinct shingles)`` — the verify side of a
    MinHash pipeline."""
    return df.select(
        F.col(id_col),
        F.array_distinct(word_ngrams(F.col(text_col), shingle_size)),
    )


def _verified(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame,
    a: str,
    b: str,
    threshold: float,
) -> DataFrame:
    """``(a, b, jaccard)``: the candidate pairs whose exact Jaccard
    between ``left``'s set for ``a`` and ``right``'s set for ``b``
    (two-column ``(id, set)`` tables), rounded to 6 dp, is at least
    ``threshold``. Only candidate pairs meet their sets, so no set
    travels through the bucket shuffle."""
    return (
        pairs.join(left.toDF(a, "__sa__"), a)
        .join(right.toDF(b, "__sb__"), b)
        .select(
            a,
            b,
            F.round(jaccard(F.col("__sa__"), F.col("__sb__")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= F.lit(float(threshold)))
    )


def minhash_signature(
    text: Column, num_hashes: int = 16, shingle_size: int = 3
) -> Column:
    """MinHash signature as array<string> of length ``num_hashes``:
    element *i* is the minimum of :func:`_perm_hash` *i* over the
    shingles — the row-local form of :func:`minhash_signatures_agg`.
    """
    shingles = word_ngrams(text, shingle_size)

    def perm(i: int):
        # factory keeps the lambda unary — pyspark passes the array index
        # as a second argument to binary lambdas, which must not happen here
        return lambda s: _perm_hash(i, s)

    return F.array(
        *[F.array_min(F.transform(shingles, perm(i))) for i in range(num_hashes)]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 4,
    rows_per_band: Optional[int] = None,
    sig_len: Optional[int] = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) whose signatures collide in ≥1 band.

    Explodes each row into ``bands`` small (band_idx, band_hash) keys and
    self-joins — the classic LSH bucket join. Output is distinct pairs.

    Pass ``sig_len`` when known — otherwise a probe job runs the signature
    expression once to measure it.
    """
    sig = F.col(sig_col)
    n = sig_len or df.select(F.size(sig).alias("n")).first()["n"]
    r = rows_per_band or n // bands
    if r * bands > n:
        raise ValueError(f"bands={bands} x rows={r} exceeds signature length {n}")
    banded = _banded(df, id_col, _band_keys(sig, bands, r, True))
    return _bucket_pairs(
        banded, banded, id_col, id_col, ("id_a", "id_b"), _ordered
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over the *distinct* elements of two arrays."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    union = F.size(F.array_union(da, db)).cast("double")
    return F.try_divide(inter, union)


def minhash_signatures_agg(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_size: int = 3,
    portable: bool = True,
) -> DataFrame:
    """MinHash signatures via the aggregation formulation: explode
    shingles → ``groupBy(id).agg(MIN(md5(seed || shingle)) …)``.

    Equivalent values to :func:`minhash_signature` (same seeded md5
    string-min), but structured for scale and plan quality:

    * the shingle expression evaluates ONCE (in the Generate node), not
      once per permutation — the row-local array formulation duplicates
      the tokenize/slice tree into all ``num_hashes`` transforms, which
      blows up codegen;
    * map-side partial MIN compresses each partition to |docs|×k before
      the shuffle;
    * the aggregation ends in an Exchange, so a self-join over the
      signatures computes them once (ReuseExchange), not twice.

    Output: (id_col, h0 … h{k-1}).

    ``portable=False`` switches the permutation hashes from md5 hex
    strings (32 chars — engine-portable, DuckDB-replayable, the oracle
    path) to seeded ``xxhash64`` LONGs: 4× narrower shuffle rows and a
    far cheaper hash — the 100 TB hot path (the same portable/fast
    dual :mod:`~pandas_weights_spark.functions.decontam` offers). Both
    are valid MinHash families; candidate sets differ only by each
    family's own collision randomness, and the exact-Jaccard verify
    downstream is identical.
    """
    exploded = df.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), shingle_size)).alias("__s__"),
    )
    return exploded.groupBy(id_col).agg(
        *[
            F.min(_perm_hash(i, F.col("__s__"), portable)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    portable: bool = True,
) -> DataFrame:
    """End-to-end near-dup pipeline: shingle → minhash → LSH bucket join →
    exact-Jaccard verify. Returns (id_a, id_b, jaccard) above threshold.

    Uses the aggregation-formulation signatures (see
    :func:`minhash_signatures_agg`); the banded self-join reuses the
    signature exchange on both sides. The expensive exact Jaccard runs
    only on LSH candidates; shingle arrays are recomputed on the (small)
    candidate side rather than carried through the bucket shuffle.
    """
    r = _rows_per_band(num_hashes, bands)
    banded = _minhash_banded(
        df, text_col, id_col, shingle_size, bands, r, portable
    )
    pairs = _bucket_pairs(
        banded, banded, id_col, id_col, ("id_a", "id_b"), _ordered
    )
    sh = _shingle_sets(df, text_col, id_col, shingle_size)
    return _verified(pairs, sh, sh, "id_a", "id_b", threshold)


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str,
    right_text: str,
    left_id: str,
    right_id: str,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
) -> DataFrame:
    """Fuzzy TEXT join between two different tables: candidate pairs
    from banded-LSH signature collisions across the tables, verified by
    exact Jaccard — ``(left_id, right_id, jaccard)`` with jaccard ≥
    ``threshold``. The cross-table generalization of
    :func:`minhash_near_duplicates` (which self-joins one table): use
    it to fuzzy-match benchmark prompts against a corpus (decontam
    beyond exact n-gram containment), align two crawls, or link records
    by near-identical descriptions.

    Scale shape: each side gets aggregation-formulation signatures
    (map-side MIN partials); the banded join compares only bucket
    collisions — never |L|×|R|; the exact verify runs only on
    candidates. Output column names are the caller's id columns (they
    must differ).
    """
    r = _rows_per_band(num_hashes, bands)
    if left_id == right_id:
        raise ValueError("left_id and right_id must have distinct names")
    pairs = _bucket_pairs(
        _minhash_banded(left, left_text, left_id, shingle_size, bands, r),
        _minhash_banded(right, right_text, right_id, shingle_size, bands, r),
        left_id,
        right_id,
        (left_id, right_id),
    )
    return _verified(
        pairs,
        _shingle_sets(left, left_text, left_id, shingle_size),
        _shingle_sets(right, right_text, right_id, shingle_size),
        left_id,
        right_id,
        threshold,
    )


def chunk_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    cross_document_only: bool = True,
    sep: str = "#",
) -> DataFrame:
    """Repeated-SPAN detection across documents — the missing layer
    between document-level near-dup and full suffix-array substring
    dedup ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2021 — the 80% version at a fraction of the cost):
    slide fixed-token chunks over every document
    (:func:`~pandas_weights_spark.functions.packing.chunk_documents`),
    then run the MinHash → banded-LSH → exact-Jaccard pipeline on the
    CHUNKS, so a paragraph copied between two otherwise-different
    documents surfaces even though the documents themselves don't.

    Returns ``(doc_a, chunk_a, doc_b, chunk_b, jaccard)`` with doc ids
    cast to string (``sep`` must not occur in them — it keys the
    composite chunk identity). ``cross_document_only=True`` (default)
    drops same-document pairs INSIDE the bucket-join condition —
    adjacent overlapping chunks of one document always share
    ``overlap`` tokens and would otherwise flood the candidate set.

    Scale shape: chunking is a row-local posexplode (data grows by
    ~1/(1−overlap/chunk_tokens)); signatures use the aggregation
    formulation (map-side MIN partials); the banded join only ever
    compares bucket collisions. No all-pairs term anywhere.
    """
    from pandas_weights_spark.functions.packing import chunk_documents

    r = _rows_per_band(num_hashes, bands)
    chunks = chunk_documents(
        df, text_col, id_col, chunk_tokens, overlap
    ).select(
        F.concat_ws(
            sep,
            F.col(id_col).cast("string"),
            F.col("chunk_id").cast("string"),
        ).alias("__ck__"),
        "chunk_text",
    )
    banded = _minhash_banded(
        chunks, "chunk_text", "__ck__", shingle_size, bands, r
    )
    doc_of = lambda c: F.substring_index(c, sep, 1)  # noqa: E731

    def cond(a: Column, b: Column) -> "list[Column]":
        if cross_document_only:
            return [a < b, doc_of(a) != doc_of(b)]
        return [a < b]

    pairs = _bucket_pairs(
        banded, banded, "__ck__", "__ck__", ("ck_a", "ck_b"), cond
    )
    sh = _shingle_sets(chunks, "chunk_text", "__ck__", shingle_size)
    verified = _verified(pairs, sh, sh, "ck_a", "ck_b", threshold)
    return verified.select(
        F.substring_index("ck_a", sep, 1).alias("doc_a"),
        F.substring_index("ck_a", sep, -1).cast("long").alias("chunk_a"),
        F.substring_index("ck_b", sep, 1).alias("doc_b"),
        F.substring_index("ck_b", sep, -1).cast("long").alias("chunk_b"),
        "jaccard",
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    pairs: Optional[DataFrame] = None,
    sep: str = "#",
) -> DataFrame:
    """Repeated-span REMOVAL — the second half of substring-level dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better"): :func:`chunk_near_duplicates` FLAGS duplicated
    spans; this drops them from all-but-one document and re-stitches
    the survivors' text. Returns
    ``(id_col, text, n_chunks, n_dropped)``.

    Survivor convention (the dedup family's): a chunk DROPS iff it
    pairs above ``threshold`` with any strictly-earlier chunk in the
    global ``(doc id asc, chunk id asc)`` order — each duplicate
    family's first occurrence keeps its text (min-id survivor, exactly
    :func:`exact_dedup`'s policy lifted to spans). "Earlier doc" is
    the NUMERICALLY smaller id when both ids parse as numbers
    (``try_cast`` double), else the lexicographically smaller string —
    :func:`chunk_near_duplicates` stringifies doc ids into its
    composite chunk key, and raw string order would make id 20005
    "earlier" than id 5.

    Re-stitch semantics: chunks overlap, so each token is assigned to
    exactly ONE owning chunk — chunk *i* owns tokens
    ``[i*step+1, (i+1)*step]`` (``step = chunk_tokens − overlap``; the
    last chunk owns through the end). A document rebuilds as the
    space-join of its SURVIVING chunks' owned tokens in chunk order,
    so dropping a chunk removes precisely its owned span and never a
    surviving neighbor's tokens. Output text is therefore
    whitespace-NORMALIZED (single spaces) for every document —
    tokenize-and-rejoin is lossy w.r.t. original whitespace, the
    documented trade for a token-exact removal.

    ``pairs``: pass a precomputed :func:`chunk_near_duplicates` result
    (it MUST use the same ``chunk_tokens``/``overlap`` geometry);
    ``None`` recomputes internally with this call's parameters.

    Scale shape: the loser set is one ``distinct`` over the
    (candidate-bounded) pair table; the flagging join keys on
    ``(doc, chunk)`` against the exploded owned-span table (AQE
    broadcasts the loser side when small); the rebuild is the same
    sort-regroup shape as ``encode_documents`` — one data-sized
    shuffle, no driver involvement, no quadratic term.
    """
    step = chunk_tokens - overlap
    if pairs is None:
        pairs = chunk_near_duplicates(
            df, text_col, id_col, chunk_tokens=chunk_tokens,
            overlap=overlap, threshold=threshold, num_hashes=num_hashes,
            bands=bands, shingle_size=shingle_size, sep=sep,
        )
    dan = F.expr("try_cast(doc_a AS double)")
    dbn = F.expr("try_cast(doc_b AS double)")
    doc_lt = F.when(
        dan.isNotNull() & dbn.isNotNull() & (dan != dbn), dan < dbn
    ).otherwise(F.col("doc_a") < F.col("doc_b"))
    a_first = doc_lt | (
        (F.col("doc_a") == F.col("doc_b"))
        & (F.col("chunk_a") < F.col("chunk_b"))
    )
    losers = pairs.select(
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
            "__doc__"
        ),
        F.when(a_first, F.col("chunk_b")).otherwise(F.col("chunk_a")).alias(
            "__chunk__"
        ),
    ).distinct().withColumn("__drop__", F.lit(True))

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(
        F.lit(1), F.greatest(F.lit(1), n - F.lit(overlap)), F.lit(step)
    )
    last_start = F.element_at(starts, -1)
    owned = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / F.lit(step)).cast("long").alias("chunk_id"),
            F.concat_ws(
                " ",
                F.slice(
                    toks, s,
                    F.when(s == last_start, F.greatest(n - s + 1, F.lit(0)))
                    .otherwise(F.lit(step)),
                ),
            ).alias("owned"),
        ),
    )
    exploded = df.select(
        F.col(id_col), F.explode(owned).alias("__c__")
    ).select(
        F.col(id_col),
        F.col(id_col).cast("string").alias("__doc__"),
        F.col("__c__.chunk_id").alias("__chunk__"),
        F.col("__c__.owned").alias("__owned__"),
    )
    flagged = exploded.join(losers, ["__doc__", "__chunk__"], "left")
    keep = F.col("__drop__").isNull()
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            keep,
                            F.struct(
                                F.col("__chunk__").alias("c"),
                                F.col("__owned__").alias("t"),
                            ),
                        )
                    )
                ),
                lambda e: e["t"],
            ),
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias("n_dropped"),
    )


def _ngram_span_grams_fast(staged: DataFrame, L: int) -> DataFrame:
    """Arrow fast path for :func:`remove_duplicate_ngram_spans` window
    fingerprints: per-token 64-bit blake2b hashes + an O(n) polynomial
    ROLLING hash over each document (Rabin–Karp), instead of the
    portable path's O(n·L) md5-of-concat — the honest cost reduction
    that makes token-exact span dedup viable on long documents.
    Deterministic (fixed base, fixed token hash); 64-bit fingerprint
    collisions (spurious removals) are the documented trade vs the
    md5 oracle path. Output: (__doc__, __dn__, pos, g:long)."""
    out_schema = T.StructType(
        [
            T.StructField("__doc__", T.StringType()),
            T.StructField("__dn__", T.DoubleType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("g", T.LongType()),
        ]
    )

    def run(batches):
        import hashlib

        import pandas as pd

        B = 0x100000001B3  # FNV-1a prime as the polynomial base
        mask = (1 << 64) - 1
        BL = pow(B, L - 1, 1 << 64)

        def tok_hash(t: str) -> int:
            return int.from_bytes(
                hashlib.blake2b(
                    t.encode("utf-8"), digest_size=8
                ).digest(),
                "big",
            )

        for pdf in batches:
            docs: list = []
            dns: list = []
            poss: list = []
            gs: list = []
            for doc, dn, toks in zip(
                pdf["__doc__"], pdf["__dn__"], pdf["__toks__"]
            ):
                th = [tok_hash(t) for t in toks]
                n = len(th)
                if n < L:
                    continue
                h = 0
                for j in range(L):
                    h = (h * B + th[j]) & mask
                out_h = [h]
                for i in range(1, n - L + 1):
                    h = ((h - th[i - 1] * BL) * B + th[i + L - 1]) & mask
                    out_h.append(h)
                for p, hv in enumerate(out_h, start=1):
                    docs.append(doc)
                    dns.append(dn)
                    poss.append(p)
                    gs.append(hv - (1 << 64) if hv >= (1 << 63) else hv)
            if docs:
                yield pd.DataFrame(
                    {"__doc__": docs, "__dn__": dns, "pos": poss,
                     "g": gs}
                )

    return staged.mapInPandas(run, out_schema)


def remove_duplicate_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 32,
    portable: bool = True,
) -> DataFrame:
    """TOKEN-EXACT duplicated-span removal — the posting-list member
    of the suffix-array family ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2021, exact-substring dedup):
    every ``min_tokens``-token window is fingerprinted (md5 of the
    space-joined window), a window that occurs more than once globally
    keeps ONLY its first occurrence (numeric-aware doc order, then
    position), and every token covered by a non-first occurrence is
    removed. Any duplicated run of ≥ ``min_tokens`` tokens is removed
    exactly — including spans that straddle
    :func:`remove_duplicate_spans`'s chunk boundaries or hide inside
    otherwise-unique chunks (that function's documented exactness gap;
    this closes it for exact copies, at higher cost).

    Returns ``(id_col, text, n_tokens, n_removed)``; text is
    whitespace-normalized (tokenize-and-rejoin, the same documented
    trade as :func:`remove_duplicate_spans`). NULL/blank text yields
    ``("", 0, 0)``. md5 is 128-bit, so fingerprint collisions
    (spurious removal) are negligible by construction.

    Scale shape: the exploded window table is |tokens| rows. One
    gram-keyed groupBy (map-side count/min partials), one gram-keyed
    join back, one doc-keyed groupBy whose per-doc state is the doc's
    own duplicate-position list (row-bounded), one doc-keyed join;
    the coverage filter is row-local (O(n·|dups|) per doc via EXISTS
    over the sorted position array). No driver-side data, no
    all-pairs term.

    ``portable=True`` (default, the oracle path) fingerprints each
    window as md5 of its space-joined tokens — O(n·L) bytes hashed
    per doc, SQL-replayable. ``portable=False`` is the Arrow fast
    path: per-token 64-bit hashes + an O(n) Rabin–Karp ROLLING
    polynomial hash (:func:`_ngram_span_grams_fast`) — the minhash
    module's portable/fast duality; results agree up to 64-bit
    fingerprint collisions (tests pin agreement on real fixtures).
    """
    L = int(min_tokens)
    if L < 2:
        raise ValueError("min_tokens must be >= 2")
    t = F.col(text_col)
    toks = tokens(t)
    n_expr = F.when(
        t.isNull() | (F.length(F.trim(t)) == 0), F.lit(0)
    ).otherwise(F.size(toks))
    staged = df.select(
        F.col(id_col).alias("__id__"),
        F.col(id_col).cast("string").alias("__doc__"),
        # numeric ids order numerically ("5" before "20005"), ties /
        # non-numeric fall back to string order — the
        # remove_duplicate_spans convention
        F.coalesce(
            F.col(id_col).cast("string").try_cast("double"),
            F.lit(float("inf")),
        ).alias("__dn__"),
        toks.alias("__toks__"),
        n_expr.alias("__n__"),
    )
    if portable:
        grams = (
            staged.where(F.col("__n__") >= L)
            .select(
                "__doc__",
                "__dn__",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.col("__n__") - L + 1),
                        lambda p: F.struct(
                            p.alias("pos"),
                            F.md5(
                                F.concat_ws(
                                    " ", F.slice(F.col("__toks__"), p, L)
                                )
                            ).alias("g"),
                        ),
                    )
                ).alias("__w__"),
            )
            .select(
                "__doc__",
                "__dn__",
                F.col("__w__.pos").alias("pos"),
                F.col("__w__.g").alias("g"),
            )
        )
    else:
        grams = _ngram_span_grams_fast(
            staged.where(F.col("__n__") >= L).select(
                "__doc__", "__dn__", "__toks__"
            ),
            L,
        )
    firsts = (
        grams.groupBy("g")
        .agg(
            F.min(F.struct("__dn__", "__doc__", "pos")).alias("f"),
            F.count(F.lit(1)).alias("__cnt__"),
        )
        .where(F.col("__cnt__") > 1)
        .select(
            "g",
            F.col("f.__doc__").alias("__fdoc__"),
            F.col("f.pos").alias("__fpos__"),
        )
    )
    dup_pos = (
        grams.join(firsts, "g")
        .where(
            ~(
                (F.col("__doc__") == F.col("__fdoc__"))
                & (F.col("pos") == F.col("__fpos__"))
            )
        )
        .groupBy("__doc__")
        .agg(F.array_sort(F.collect_list("pos")).alias("__dp__"))
    )
    joined = staged.join(dup_pos, "__doc__", "left")
    dp = F.coalesce(F.col("__dp__"), F.array().cast("array<int>"))
    kept = F.when(
        F.col("__n__") >= 1,
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.col("__n__")),
                lambda i: F.struct(
                    i.alias("i"),
                    F.element_at(F.col("__toks__"), i).alias("t"),
                ),
            ),
            lambda s: ~F.exists(
                dp, lambda p: (s["i"] >= p) & (s["i"] < p + F.lit(L))
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:int,t:string>>"))
    return joined.select(
        F.col("__id__").alias(id_col),
        F.concat_ws(
            " ", F.transform(kept, lambda s: s["t"])
        ).alias("text"),
        F.col("__n__").cast("long").alias("n_tokens"),
        (F.col("__n__") - F.size(kept)).cast("long").alias("n_removed"),
    )


_HEX = "0123456789abcdef"


def simhash(text: Column, bits: int = 64) -> Column:
    """SimHash of the token set as a ``bits``-length binary string.

    Per bit: sum of ±1 contributions of each distinct token → majority
    sign. Token bit ``b`` is bit ``b % 4`` of hex digit ``b // 4`` of
    ``md5(token)`` — md5 instead of ``xxhash64`` keeps the fingerprint
    engine-portable, so the DuckDB oracle reproduces it digit-for-digit
    (__spark_entry__ ``simhash_neardup``). ``bits ≤ 128`` (md5 width).
    Row-local expressions only.
    """
    if bits > 128:
        raise ValueError("simhash supports at most 128 bits (md5 width)")
    toks = F.array_distinct(tokens(F.lower(text)))
    # hash each token ONCE: md5 → 32 hex-digit values (split's child
    # evaluates a single time per token — unlike referencing the md5
    # expression per bit, which re-hashed 32-128× in the r4 version)
    digitized = F.transform(
        toks,
        lambda t: F.transform(
            F.split(F.md5(t), ""),
            lambda c: F.instr(F.lit(_HEX), c) - F.lit(1),
        ),
    )
    # per-token ±1 contribution vector over all bits (integer ops on
    # the precomputed digits), then ONE fold summing the vectors
    contribs = F.transform(
        digitized,
        lambda d: F.array(
            *[
                F.when(
                    F.shiftright(F.get(d, b // 4), b % 4).bitwiseAND(F.lit(1))
                    == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
                for b in range(bits)
            ]
        ),
    )
    sums = F.aggregate(
        contribs,
        F.array_repeat(F.lit(0), bits),
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )
    return F.concat_ws(
        "",
        F.transform(
            sums, lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
    )


def hamming_distance(a: Column, b: Column, bits: int = 64) -> Column:
    """Hamming distance between two equal-length bit-strings."""
    diffs = [
        F.when(F.substring(a, i + 1, 1) != F.substring(b, i + 1, 1), 1).otherwise(0)
        for i in range(bits)
    ]
    total = diffs[0]
    for d in diffs[1:]:
        total = total + d
    return total


def _vec_width(df: DataFrame, vec_col: str, what: str) -> int:
    """Width of the widest non-NULL vector in ``df[vec_col]``. NULL
    vectors are skipped, so a NULL first row cannot poison the probe;
    ``what`` names the table in the error raised when it holds no
    vector at all."""
    d = (
        df.where(F.col(vec_col).isNotNull())
        .agg(F.max(F.size(F.col(vec_col))).alias("d"))
        .first()["d"]
    )
    if d is None:
        raise ValueError(
            f"{what} has no non-NULL '{vec_col}' vectors — cannot "
            "infer vector width"
        )
    return int(d)


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup: LSH-bucketed candidate generation
    (random-hyperplane signs) + exact cosine verify.

    See :mod:`pandas_weights_spark.functions.similarity` for the shared
    primitives; buckets bound the quadratic term exactly like MinHash
    banding does for text.
    """
    from pandas_weights_spark.functions.similarity import (
        _rounded_cosine,
        hyperplane_bucket,
        l2_norm,
    )

    dim = _vec_width(df, vec_col, "embedding_near_duplicates: table")
    # per-row norm computed ONCE before the self-join — the pair step then
    # does a single dot per candidate instead of dot + two norm folds
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("__n__"),
        hyperplane_bucket(F.col(vec_col), dim, bucket_planes, seed).alias("__b__"),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.__b__") == F.col("b.__b__"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _rounded_cosine(
                F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"),
                F.col("a.__n__"), F.col("b.__n__"),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    threshold: float = 0.95,
    bucket_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Fuzzy EMBEDDING join between two different tables: hyperplane-
    bucket collisions across the tables + exact cosine verify —
    ``(left_id, right_id, cosine)`` with cosine ≥ ``threshold``. The
    cross-table twin of :func:`embedding_near_duplicates` and the
    vector analog of :func:`minhash_join`: eval-set contamination
    checks against a corpus by EMBEDDING similarity (catches
    paraphrases n-gram containment misses), cross-crawl record linkage.

    Both sides bucket with the SAME seeded hyperplanes (bucket equality
    is only meaningful under one projection); vectors must share the
    width. Never |L|×|R| — the join key is the sign-pattern bucket.
    """
    from pandas_weights_spark.functions.similarity import (
        _rounded_cosine,
        hyperplane_bucket,
        l2_norm,
    )

    if left_id == right_id:
        raise ValueError("left_id and right_id must have distinct names")
    dim = _vec_width(left, left_vec, "embedding_join: left table")
    rdim = _vec_width(right, right_vec, "embedding_join: right table")
    if dim != rdim:
        raise ValueError(f"vector widths differ: {dim} vs {rdim}")

    def bucketed(df, id_col, vec_col):
        return df.select(
            F.col(id_col),
            F.col(vec_col).alias("__v__"),
            l2_norm(F.col(vec_col)).alias("__n__"),
            hyperplane_bucket(
                F.col(vec_col), dim, bucket_planes, seed
            ).alias("__b__"),
        )

    a = bucketed(left, left_id, left_vec).alias("a")
    b = bucketed(right, right_id, right_vec).alias("b")
    return (
        a.join(b, on=[F.col("a.__b__") == F.col("b.__b__")])
        .select(
            F.col(f"a.{left_id}"),
            F.col(f"b.{right_id}"),
            _rounded_cosine(
                F.col("a.__v__"), F.col("b.__v__"),
                F.col("a.__n__"), F.col("b.__n__"),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def ngram_jaccard_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_docs: Optional[int] = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup via a distributed shingle
    inverted index — no signatures, no approximation.

    Plan shape (all built-in ops, three shuffles, no UDFs):

    1. explode distinct shingles → ``(id, shingle)`` posting list;
    2. optionally drop shingles appearing in more than
       ``max_shingle_docs`` documents (stop-shingles) — this caps the
       quadratic candidate blow-up the same way banding does for
       MinHash, and at 100 TB it is mandatory: a single boilerplate
       shingle shared by 1M docs would otherwise emit 10^12 pairs;
    3. self-join the posting list on ``shingle`` (inverted index):
       each co-occurrence contributes one shared-shingle count;
    4. ``groupBy(pair)`` → ``|A ∩ B|``, then join per-doc shingle
       counts and compute ``|A∩B| / (|A| + |B| − |A∩B|)``.

    Exact-Jaccard complement to :func:`minhash_near_duplicates`: use
    this when recall must be 1.0 and shingle-frequency pruning is
    acceptable; use MinHash when it is not.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("__sh__"),
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz__"))
    if max_shingle_docs is not None:
        keep = (
            sh.groupBy("__sh__")
            .agg(F.count(F.lit(1)).alias("__df__"))
            .where(F.col("__df__") <= max_shingle_docs)
            .select("__sh__")
        )
        sh = sh.join(keep, on="__sh__", how="inner")
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            on=[
                F.col("a.__sh__") == F.col("b.__sh__"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("__shared__"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sz__", "__sza__")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sz__", "__szb__")
    out = (
        shared.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(
                    F.col("__shared__").cast("double"),
                    (F.col("__sza__") + F.col("__szb__") - F.col("__shared__")).cast(
                        "double"
                    ),
                ),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def ngram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-document n-gram NOVELTY: ``(id, n_shingles, n_novel,
    novelty)`` where ``novelty`` is the fraction of the document's
    distinct ``n``-grams appearing in NO other document — the standard
    corpus-analysis metric for duplication pressure / memorization risk
    (a document whose shingles all recur elsewhere contributes nothing
    new; cf. the duplication analyses in "Deduplicating Training Data
    Makes Language Models Better" — public paper). Use it to rank
    documents for dedup aggressiveness or to monitor a crawl's marginal
    value over time.

    Plan shape: explode distinct shingles → corpus document-frequency
    aggregate (map-side combine; the only data-sized shuffles are the
    DF aggregate keyed on the shingle and the per-doc regroup) → per-doc
    novel fraction. No joins against raw text, no quadratic term.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("__sh__"),
    )
    dfq = sh.groupBy("__sh__").agg(F.count(F.lit(1)).alias("__df__"))
    joined = sh.join(dfq, "__sh__")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("__df__") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
    ).select(
        id_col,
        "n_shingles",
        "n_novel",
        F.try_divide(
            F.col("n_novel").cast("double"),
            F.col("n_shingles").cast("double"),
        ).alias("novelty"),
    )


def lsh_tuning(
    threshold: float,
    num_hashes: int,
    false_negative_weight: float = 0.5,
) -> "tuple[int, int]":
    """Pick ``(bands, rows_per_band)`` for MinHash LSH banding at a
    target Jaccard ``threshold`` — the datasketch-style S-curve
    optimizer (public method): candidate probability at similarity s
    is ``1 − (1 − s^r)^b``; choose the factorization of ``num_hashes``
    minimizing the weighted integral of false positives (area under
    the curve below the threshold) and false negatives (area above
    ``1 − curve``), with ``false_negative_weight`` trading recall
    against candidate volume (raise it toward 1 for dedup pipelines
    where a missed duplicate costs more than an extra verify).

    Driver-side arithmetic over ≤ num_hashes factorizations — feed the
    result straight into ``minhash_near_duplicates(bands=b)`` (which
    requires ``bands | num_hashes``, exactly what this returns).

    Incremental caveat: when the result feeds
    :func:`minhash_dedup_incremental`, tune ONCE and pin — band keys
    persisted in state are only comparable across snapshots when
    every run uses the same ``(num_hashes, bands)`` (re-tuning
    mid-corpus silently empties the cross-snapshot candidate join;
    a changed ``num_hashes`` at least fails loudly on the signature
    array index)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    wfn = float(false_negative_weight)
    if not 0.0 <= wfn <= 1.0:
        raise ValueError("false_negative_weight must be in [0, 1]")
    wfp = 1.0 - wfn
    steps = 200
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        fp = 0.0
        fn = 0.0
        # integrate the S-curve on each side of the threshold
        dx_lo = threshold / steps
        for i in range(steps):
            s = (i + 0.5) * dx_lo
            fp += (1.0 - (1.0 - s**r) ** b) * dx_lo
        dx_hi = (1.0 - threshold) / steps
        for i in range(steps):
            s = threshold + (i + 0.5) * dx_hi
            fn += (1.0 - (1.0 - (1.0 - s**r) ** b)) * dx_hi
        err = wfp * fp + wfn * fn
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]


def minhash_dedup_incremental(
    df: DataFrame,
    text_col: str,
    id_col: str,
    state: Optional[DataFrame] = None,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    portable: bool = True,
    store_shingles: bool = False,
    checkpoint: bool = True,
) -> "tuple[DataFrame, DataFrame]":
    """SNAPSHOT-incremental NEAR-dup — the MinHash analog of
    :func:`exact_dedup_incremental` (r12, VERDICT r11 missing #2): a
    new crawl batch dedups against the accumulated signature STATE of
    all previous runs without re-verifying the historical corpus,
    then within itself. Returns ``(survivors, new_state)``.

    ``state`` rows are ``(id_col, sig array, sh array)`` — one row
    per historical document: its MinHash signature (band keys
    recompute row-locally from it, so persisted state is one
    compact table, not bands× bucket rows) and its distinct shingle
    DIGEST set for the exact-Jaccard verify — md5-prefix 16-char
    strings when ``portable`` (DuckDB-replayable), ``xxhash64``
    longs otherwise (8 B/shingle, the fast path). Jaccard over
    hashed shingle sets is the standard Broder (1997, "On the
    resemblance and containment of documents") estimator — digest
    collisions perturb it with probability ~|set|²/2⁶⁴ per pair,
    negligible against a rounded-6dp threshold — so state size is
    bounded at ≤16 B per distinct shingle FOREVER, instead of
    carrying ~3× the corpus text bytes. ``store_shingles=True`` is
    the escape hatch when bit-exact TEXT Jaccard is required: state
    then persists the raw shingle strings (state grows with corpus
    text — a loud, deliberate choice). Persist state as parquet
    between runs and feed it back; pass the SAME num_hashes/bands/
    shingle_size/portable/store_shingles every run (band keys must
    agree across snapshots — mismatched widths fail loudly on the
    array index). Digest-vs-text state mismatches also fail LOUDLY,
    by different mechanisms: with ``portable=False`` the long digests
    fail the verify join types against text state, while on the
    default ``portable=True`` path both text state (the r12 format)
    and md5-prefix digests are ``array<string>`` — a silent
    ~0-Jaccard hole — so this function PROBES one state element and
    raises unless it matches the 16-char-hex digest shape (one
    LIMIT-1 job per batch). Pre-r13 raw-shingle state must be
    rebuilt, or migrated in place with ``state.withColumn("sh",
    F.transform("sh", lambda s: F.substring(F.md5(s), 1, 16)))``.

    Per batch: (1) signatures via :func:`minhash_signatures_agg`
    (map-side-combined mins) plus a ROW-LOCAL digest-set column
    joined by id — measured faster at 100× than fusing
    ``collect_set`` into the signature aggregate, which pushes the
    whole explode through ``ObjectHashAggregate``'s sort-based
    fallback; (2) band-bucket join of batch vs state →
    cross-snapshot candidates, exact-Jaccard verified at
    ``threshold`` — a batch doc matching history DROPS (re-crawled
    near-dups stay suppressed forever); (3) the survivors-of-history
    dedup within the batch (banded self-join, verify, higher id of a
    verified pair drops — the family's min-id rule); (4)
    ``new_state`` = old state ∪ every batch doc not already present
    by id (state wins on id collision, so a re-crawl keeps its
    original signature).

    Scale shape: the only data-sized shuffles are the band-key joins
    (state never broadcasts); verification touches candidates only;
    state carries signatures + shingle digests, never text (unless
    ``store_shingles``). Jaccard compares ROUNDED (6 dp) like the
    rest of the family. State grows one row per first-seen id
    forever by design (suppression history IS the contract); to
    bound it, prune ``new_state`` before persisting — e.g. anti-join
    against ids retired from the corpus, or carry your own
    ``snapshot_id`` column and filter by age — the kernel only
    requires (id, sig, sh).

    ``checkpoint=True`` (default) cuts lineage on the reused
    intermediate with a lazy ``localCheckpoint`` — faster (each
    consumer reuses the materialized blocks), but executor loss
    fails the job instead of recomputing and the blocks pin
    executor storage until the DataFrame is garbage-collected.
    Pass ``checkpoint=False`` to keep recoverable pure-lineage
    plans.
    """
    r = _rows_per_band(num_hashes, bands)
    if state is not None and not store_shingles and portable:
        # state-format guard (ADVICE r13): r12 raw-shingle state and
        # md5-prefix digest state are both array<string>, so a stale
        # state file would otherwise flow through with ~0 Jaccard
        # intersections and cross-snapshot suppression silently off.
        # One LIMIT-1 probe per batch; real shingle text is
        # (astronomically) unlikely to be exactly 16 lowercase hex.
        probe = (
            state.select(F.explode("sh").alias("__e__"))
            .where(F.col("__e__").isNotNull())
            .limit(1)
            .collect()
        )
        if probe and not re.fullmatch(
            r"[0-9a-f]{16}", probe[0]["__e__"]
        ):
            raise ValueError(
                "state.sh does not hold md5-prefix-16 shingle digests "
                f"(sampled element {probe[0]['__e__']!r}) — this looks "
                "like pre-r13 raw-shingle state. Rebuild it, or "
                "migrate in place: state.withColumn('sh', F.transform("
                "'sh', lambda s: F.substring(F.md5(s), 1, 16))). For "
                "raw-text state, pass store_shingles=True."
            )
    sigs = minhash_signatures_agg(
        df, text_col, id_col, num_hashes, shingle_size,
        portable=portable,
    )
    grams = word_ngrams(F.col(text_col), shingle_size)
    if store_shingles:
        sh = F.array_distinct(grams)
    elif portable:
        sh = F.array_distinct(
            F.transform(
                grams, lambda s: F.substring(F.md5(s), 1, 16)
            )
        )
    else:
        sh = F.array_distinct(
            F.transform(grams, lambda s: F.xxhash64(s))
        )
    shdf = df.select(F.col(id_col), sh.alias("sh"))
    packed = sigs.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias(
            "sig"
        ),
    ).join(shdf, id_col)
    # r15: LAZY lineage cut (guide §5 — localCheckpoint over persist
    # when the intermediate's fault tolerance is not critical). The
    # signature table is consumed 4+ times below (band fan-out, both
    # verify joins, new_state) and — when snapshots chain in-session
    # — again by the NEXT batch's probe and cross joins, so without
    # the cut the whole explode+min aggregate re-executes per
    # consumer (measured 5.6 → 3.6 s on the two-batch bench entry).
    # Deterministic (md5/xxhash64 hashes), so recompute-vs-reuse
    # cannot change results; persisted-parquet state between RUNS is
    # unaffected. Gated by ``checkpoint`` (r16, ADVICE r15): the cut
    # trades fault tolerance for speed — checkpointed blocks skip
    # lineage recompute on executor loss (the job fails instead) and
    # pin executor storage until the DataFrame is garbage-collected,
    # which accumulates when many snapshots chain in one session.
    # Pass checkpoint=False to keep pure-lineage plans.
    if checkpoint:
        packed = packed.localCheckpoint(eager=False)

    def banded(st: DataFrame) -> DataFrame:
        keys = _band_keys(F.col("sig"), bands, r, portable)
        return _banded(st, id_col, keys)

    sets = packed.select(id_col, "sh")
    bn = banded(packed)
    if state is not None:
        cross = _bucket_pairs(
            bn, banded(state), id_col, id_col, ("__nid__", "__oid__")
        )
        hist_dups = (
            _verified(
                cross, sets, state.select(id_col, "sh"),
                "__nid__", "__oid__", threshold,
            )
            .select(F.col("__nid__").alias(id_col))
            .distinct()
        )
        fresh = df.join(hist_dups, id_col, "left_anti")
        bn_fresh = bn.join(hist_dups, id_col, "left_anti")
    else:
        fresh = df
        bn_fresh = bn
    pairs = _bucket_pairs(
        bn_fresh, bn_fresh, id_col, id_col, ("__aid__", "__bid__"),
        _ordered,
    )
    losers = (
        _verified(pairs, sets, sets, "__aid__", "__bid__", threshold)
        .select(F.col("__bid__").alias(id_col))
        .distinct()
    )
    survivors = fresh.join(losers, id_col, "left_anti")
    if state is not None:
        new_state = state.unionByName(
            packed.join(
                state.select(id_col), id_col, "left_anti"
            )
        )
    else:
        new_state = packed
    return survivors, new_state


def semantic_dedup_incremental(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: "list[list[float]]",
    state: Optional[DataFrame] = None,
    threshold: float = 0.95,
    arrow: bool = False,
    checkpoint: bool = True,
) -> "tuple[DataFrame, DataFrame]":
    """SNAPSHOT-incremental SEMANTIC dedup (r13, VERDICT r12 missing
    #4) — the embedding analog of :func:`minhash_dedup_incremental`
    and the batch analog of the streaming
    ``streaming_semdedup_candidates``: a new crawl batch drops its
    paraphrase-duplicates OF HISTORY against the persisted vector
    state (never re-verifying the historical corpus), then SemDeDup-
    dedups within itself
    (:func:`~pandas_weights_spark.functions.similarity.semantic_dedup`
    semantics — Abbas et al. 2023). Returns ``(survivors,
    new_state)``.

    ``centroids`` is the REQUIRED pre-trained quantizer
    (:func:`~pandas_weights_spark.functions.similarity.train_ivf_centroids`,
    the train-once/apply-many pattern): cell keys must agree across
    snapshots exactly like the MinHash band parameters, so training
    per-batch is deliberately impossible. ``state`` rows are
    ``(id_col, cell, v, norm)`` — one row per historical document
    with its cell, double vector, and L2 norm (norm persisted so the
    verify's ``dot/(n_a·n_b)`` shape — and therefore the 6-dp
    round-then-threshold boundary — is identical on every snapshot).
    Persist as parquet between runs; pass the SAME centroids and
    threshold every run.

    Per batch: (1) assign cells (JVM argmax, or ``arrow=True`` for
    the batched-matmul
    :func:`~pandas_weights_spark.functions.similarity.assign_cells_arrow`
    fast path); (2) batch ⋈ state CELL-LOCALLY, 6-dp cosine ≥
    ``threshold`` → the batch doc DROPS (re-crawled paraphrases stay
    suppressed forever); (3) survivors-of-history dedup within the
    batch (cell self-join, min-id survivor); (4) ``new_state`` = old
    state ∪ every assigned batch doc not already present by id
    (state wins on id collision; in-batch LOSERS enter state too —
    the family rule, so future near-dups of a loser still match).

    Scale shape: the only data-sized shuffles are the cell-keyed
    joins (state never broadcasts, pairs never leave a cell — size
    ``n_cells`` so cells stay executor-small, the SemDeDup design
    argument). NULL vectors never assign: they survive every batch
    and never enter state (documented, matching ``semantic_dedup``'s
    NULL handling). State grows one row per first-seen id forever
    (the suppression-history contract); prune before persisting
    exactly as for :func:`minhash_dedup_incremental` — the kernel
    only requires (id, cell, v, norm) under the SAME centroids.

    ``checkpoint=True`` (default) cuts lineage on the reused
    intermediate with a lazy ``localCheckpoint`` — faster (each
    consumer reuses the materialized blocks), but executor loss
    fails the job instead of recomputing and the blocks pin
    executor storage until the DataFrame is garbage-collected.
    Pass ``checkpoint=False`` to keep recoverable pure-lineage
    plans.
    """
    from pandas_weights_spark.functions.similarity import (
        _rounded_cosine,
        assign_cells_arrow,
        l2_norm,
        nearest_cell,
    )

    v = F.col(vec_col)
    nn = df.where(v.isNotNull()).select(F.col(id_col), v.alias("v"))
    if arrow:
        assigned = assign_cells_arrow(
            nn, "v", centroids, out_col="cell", norm_col="norm"
        ).select(id_col, "cell", "v", "norm")
    else:
        assigned = nn.select(
            F.col(id_col),
            nearest_cell(F.col("v"), centroids).alias("cell"),
            F.col("v"),
            l2_norm(F.col("v")).alias("norm"),
        )
    # r15: LAZY lineage cut, the minhash_dedup_incremental pattern —
    # the assigned table feeds the history join, both sides of the
    # in-batch self-join, and new_state (and the next snapshot when
    # chained in-session); without it the argmax/matmul assignment
    # re-executes per consumer. Deterministic per evaluation, so
    # results are unchanged. Gated by ``checkpoint`` (r16, ADVICE
    # r15): see minhash_dedup_incremental — the cut trades
    # executor-loss recompute and pinned executor storage for speed;
    # checkpoint=False keeps pure-lineage plans.
    if checkpoint:
        assigned = assigned.localCheckpoint(eager=False)

    def cos(x: str, y: str) -> Column:
        return _rounded_cosine(
            F.col(f"{x}.v"), F.col(f"{y}.v"),
            F.col(f"{x}.norm"), F.col(f"{y}.norm"),
        )

    if state is not None:
        hist_dups = (
            assigned.alias("n")
            .join(
                state.alias("o"),
                on=[F.col("n.cell") == F.col("o.cell")],
            )
            .where(cos("n", "o") >= F.lit(float(threshold)))
            .select(F.col(f"n.{id_col}").alias(id_col))
            .distinct()
        )
        fresh = df.join(hist_dups, id_col, "left_anti")
        fresh_assigned = assigned.join(hist_dups, id_col, "left_anti")
    else:
        fresh = df
        fresh_assigned = assigned
    losers = (
        fresh_assigned.alias("a")
        .join(
            fresh_assigned.alias("b"),
            on=[
                F.col("a.cell") == F.col("b.cell"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .where(cos("a", "b") >= F.lit(float(threshold)))
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    survivors = fresh.join(losers, id_col, "left_anti")
    if state is not None:
        new_state = state.unionByName(
            assigned.join(state.select(id_col), id_col, "left_anti")
        )
    else:
        new_state = assigned
    return survivors, new_state


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_col: str,
    status_col: str = "status",
) -> DataFrame:
    """Classify every document key across two corpus snapshots — the
    incremental-recrawl primitive: re-process only what changed
    instead of re-running the pipeline over the full corpus.

    Full-outer join on ``keys`` (each snapshot must already be unique
    per key — run :func:`exact_dedup` / ``dropDuplicates`` first);
    ``compare_col`` is the content identity (e.g. :func:`content_key`
    over the text).  Output: the key columns, ``old_<compare_col>`` /
    ``new_<compare_col>``, and ``status``:

    * ``added`` — key only in the new snapshot
    * ``removed`` — key only in the old snapshot
    * ``changed`` — in both, content identities differ
    * ``unchanged`` — in both, identical content (null-safe: two NULL
      identities compare equal, matching SQL ``IS NOT DISTINCT FROM``)

    Scale: ONE key-hash shuffle of each snapshot (the join), no
    fan-out, no driver state; with both snapshots bucketed/partitioned
    by key the exchange disappears entirely, and AQE handles skewed
    hot keys.  Presence is tracked with explicit flags, so a present
    row with a NULL content identity is never mistaken for an absent
    row.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must name at least one column")
    o = old.select(
        *keys,
        F.col(compare_col).alias(f"old_{compare_col}"),
        F.lit(True).alias("__in_old__"),
    )
    n = new.select(
        *keys,
        F.col(compare_col).alias(f"new_{compare_col}"),
        F.lit(True).alias("__in_new__"),
    )
    j = o.join(n, keys, "full_outer")
    in_old = F.coalesce(F.col("__in_old__"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new__"), F.lit(False))
    same = F.col(f"old_{compare_col}").eqNullSafe(
        F.col(f"new_{compare_col}")
    )
    status = (
        F.when(in_new & ~in_old, F.lit("added"))
        .when(in_old & ~in_new, F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        *keys,
        f"old_{compare_col}",
        f"new_{compare_col}",
        status.alias(status_col),
    )
