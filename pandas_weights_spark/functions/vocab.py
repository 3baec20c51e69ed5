"""Vocabulary building + document encoding — the tokenizer-prep stage
of a training pipeline (count-vectorizer semantics: top-V terms by
corpus mass, stable integer ids, OOV handling).

Scale design:

* :func:`build_vocabulary` — the order-1 word-gram mass kernel
  (``text._gram_mass``: ONE explode + map-side-combining term
  aggregate), then the threshold-guarded top-V cut
  (:func:`~pandas_weights_spark.topk.capped_top`: TakeOrdered at or
  under the session's window group-limit threshold, the salted
  executor-side cut above it, so nothing cap-sized ever lands on the
  driver; identical row sets by topk.py's exactness invariant). Ids
  come from one window over the V-row result (V is vocabulary-sized:
  thousands, not data-sized).
* :func:`encode_documents` — posexplode + a BROADCAST join against the
  V-row vocabulary (map-side lookup), then one groupBy(doc) rebuilding
  the id sequence with ``sort_array`` on (position, id) structs. One
  data-sized shuffle total (the regroup), which is the floor for an
  order-preserving encode.

Deterministic throughout: ties in mass rank by term text, so the same
corpus always produces the same vocabulary and ids.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandas_weights_spark.functions.text import _gram_mass, tokens
from pandas_weights_spark.topk import capped_top

__all__ = [
    "build_vocabulary",
    "encode_documents",
    "bpe_word_table",
    "bpe_pair_counts",
    "train_bpe",
    "encode_bpe",
    "GPT2_SPLIT_RE",
    "gpt2_byte_map",
    "gpt2_pretokenize",
    "byte_symbols",
    "bpe_byte_word_table",
    "train_bpe_bytes",
    "encode_bpe_bytes",
    "decode_bpe_bytes",
    "wordpiece_word_table",
    "train_wordpiece",
    "encode_wordpiece",
    "decode_wordpiece",
    "unigram_seed_table",
    "train_unigram_lm",
    "encode_unigram",
    "term_divergence",
]


def _capped_top(df: DataFrame, mass_col: str, key_col: str,
                cap: int) -> DataFrame:
    """EXACT top-``cap`` rows by ``(mass_col desc, key_col asc)`` — a
    total order (the key column is distinct by construction: these
    are post-aggregate word/term/piece tables) — through the
    threshold-guarded :func:`~pandas_weights_spark.topk.capped_top`.
    The word-table defaults here (50 k–1 M) sit far past the 1000-row
    default threshold, so they take its executor-side salted cut; no
    output ordering is promised there — the capped tables are consumed
    as sets (trainer state, broadcast joins)."""
    order = [F.col(mass_col).desc(), F.col(key_col).asc()]
    return capped_top(df, mass_col, order, cap)


def _top_words(
    df: DataFrame,
    text_col: str,
    weight: Optional[Column],
    lowercase: bool,
    cap: int,
) -> DataFrame:
    """``(word, freq)``: the top-``cap`` words by (weighted) corpus
    frequency, the word-table trainers' state — the order-1
    ``text._gram_mass`` aggregate (weight summed uncast, default 1 per
    occurrence) under the :func:`_capped_top` cut."""
    w = weight if weight is not None else F.lit(1.0)
    freqs = _gram_mass(df, text_col, [1], lowercase, w)
    return _capped_top(
        freqs.select(F.col("w1").alias("word"), F.col("mass").alias("freq")),
        "freq", "word", cap,
    )


def build_vocabulary(
    df: DataFrame,
    text_col: str,
    max_size: int = 50_000,
    min_mass: float = 1.0,
    weight: Optional[Column] = None,
    lowercase: bool = True,
) -> DataFrame:
    """Top-``max_size`` terms by (weighted) corpus mass:
    ``(term, term_id, mass)`` with ``term_id`` in ``[0, V)`` assigned
    by descending mass (ties by term text — fully deterministic).

    ``weight`` scales each document's token contributions (doc-level
    quality/duplication weights); default 1 per occurrence. It is
    summed uncast, so an integer weight gives a LONG mass.
    ``min_mass`` drops the long tail before the cut. The masses are
    the order-1 :func:`~pandas_weights_spark.functions.text._gram_mass`
    aggregate (no Python in the plan, so the table broadcasts into SQL
    scoring plans).
    """
    if max_size < 1:
        raise ValueError("max_size must be >= 1")
    w = weight if weight is not None else F.lit(1.0)
    masses = _gram_mass(df, text_col, [1], lowercase, w)
    masses = _capped_top(
        masses.select(F.col("w1").alias("term"), "mass")
        .where(F.col("mass") >= float(min_mass)),
        "mass", "term", max_size,
    )
    ids = Window.orderBy(F.col("mass").desc(), F.col("term"))
    return masses.select(
        "term",
        (F.row_number().over(ids) - 1).cast("int").alias("term_id"),
        "mass",
    )


def encode_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: DataFrame,
    oov_id: int = -1,
    drop_oov: bool = False,
    lowercase: bool = True,
) -> DataFrame:
    """Encode each document's token sequence against ``vocab``:
    ``(id_col, token_ids array<int>, n_tokens, n_oov)``. Order is
    preserved; out-of-vocabulary tokens become ``oov_id`` (or are
    dropped with ``drop_oov=True``).
    """
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    pos = df.select(
        F.col(id_col), F.posexplode(toks).alias("__pos__", "term")
    )
    joined = pos.join(
        F.broadcast(vocab.select("term", "term_id")), "term", "left"
    )
    tid = F.coalesce(F.col("term_id"), F.lit(int(oov_id)))
    enc = joined.groupBy(id_col).agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("__pos__").alias("p"),
                                        tid.alias("i")))
            ),
            lambda e: e["i"],
        ).alias("token_ids"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(
            F.when(F.col("term_id").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_oov"),
    )
    if drop_oov:
        enc = enc.select(
            id_col,
            F.filter(
                "token_ids", lambda i: i != F.lit(int(oov_id))
            ).alias("token_ids"),
            "n_tokens",
            "n_oov",
        )
    return enc


# ---------------------------------------------------------------------------
# BPE merge-rule training (Sennrich, Haddow & Birch, "Neural Machine
# Translation of Rare Words with Subword Units", 2016 — public paper).
#
# Scale design: the corpus collapses to its WORD-FREQUENCY table first
# (one explode + map-side-combining aggregate — the sufficient
# statistic; distinct words, not tokens). Every merge round then runs
# on that small table: one pair-count aggregate + a driver-side
# argmax (a 1-row TakeOrdered collect — the same bounded-collect
# pattern as graph.py's convergence probe), then a row-local fold
# applying the merge. Per-round localCheckpoint truncates the growing
# fold lineage exactly like the connected-components loop
# (graph.py:74-112). Nothing data-sized ever reaches the driver.
# ---------------------------------------------------------------------------


def _char_symbols(word: Column, end_of_word: str) -> Column:
    """Initial BPE symbol sequence: characters + the end-of-word marker
    as its own trailing symbol (Sennrich §3.2)."""
    return F.concat(F.split(word, ""), F.array(F.lit(end_of_word)))


def _merge_fold(
    syms: Column, left: str, right: str, merged: "Optional[str]" = None
) -> Column:
    """Greedy left-to-right application of ONE merge (left, right) →
    ``merged`` (default ``left||right``; WordPiece passes the
    ``##``-stripped join) over a symbol array — a single row-local
    fold."""
    if merged is None:
        merged = left + right
    zero = F.array().cast("array<string>")

    def step(acc: Column, s: Column) -> Column:
        # NB: size(acc) > 0 MUST stay the first conjunct — Spark's And
        # short-circuits left-to-right, guarding the ANSI out-of-bounds
        # element_at(-1) on the empty initial accumulator
        last = F.element_at(acc, -1)
        hit = (F.size(acc) > 0) & (last == F.lit(left)) & (s == F.lit(right))
        return F.when(
            hit,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(syms, zero, step)


def bpe_word_table(
    df: DataFrame,
    text_col: str,
    weight: Optional[Column] = None,
    lowercase: bool = True,
    max_words: int = 1_000_000,
    end_of_word: str = "</w>",
) -> DataFrame:
    """The BPE training state: ``(word, freq, syms)`` — distinct words
    with (weighted) corpus frequency and their current symbol split
    (initially characters + the end-of-word marker).

    ``max_words`` caps the state at the top words by frequency (the
    scale-guarded :func:`_capped_top` cut — executor-side salted
    top-k above the window group-limit threshold, r15); the dropped
    long tail is the standard practical bound on distributed BPE.
    """
    counted = _top_words(df, text_col, weight, lowercase, max_words)
    return counted.select(
        "word", "freq", _char_symbols(F.col("word"), end_of_word).alias("syms")
    )


def bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies over a word table:
    ``(left, right, freq)`` with every adjacent position counted,
    weighted by word frequency — the per-round BPE kernel."""
    syms = F.col("syms")
    n = F.size(syms)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(syms, 1, n - 1),
            F.slice(syms, 2, n - 1),
            lambda a, b: F.struct(a.alias("left"), b.alias("right")),
        ),
    ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
    return (
        words.select(F.col("freq").alias("__f__"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("__f__").alias("freq"))
    )


def _apply_merge_local(syms: "list[str]", left: str, right: str,
                       merged: str) -> "list[str]":
    """Driver twin of :func:`_merge_fold`: greedy left-to-right
    application of one merge over a Python symbol list — identical
    last-element test, so local and distributed training produce the
    same segmentations."""
    out: "list[str]" = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = merged
        else:
            out.append(s)
    return out


def _train_bpe_local(
    word_freqs: "list[tuple[str, float]]",
    num_merges: int,
    min_frequency: float,
    end_of_word: str,
    init_syms: "Optional[list[list[str]]]" = None,
) -> "tuple[list, list]":
    """Driver-side BPE merge loop over the COLLECTED capped word table
    — the fast path for real vocab sizes (VERDICT r5 item 3): the
    distributed loop pays one agg job + one 1-row collect per merge
    (~0.7 s/round ⇒ 32k merges ≈ 6 h of round-trips), while the word
    table is already bounded at ``max_words`` rows, so the whole merge
    loop fits on the driver with incremental pair-count maintenance
    (a lazy max-heap of (−freq, left, right) entries; stale entries
    are skipped on pop — the classic fast BPE trainer shape, cf.
    Sennrich et al. 2016 §3.2 and the reference implementation's
    ``get_pair_statistics``/``update_pair_statistics`` split, public).

    Determinism contract: identical merges to the distributed path —
    same greedy fold, same (freq desc, (left, right) asc) tie-break
    (Python tuple order == Spark's UTF8 string order: both compare by
    code point). Counts update by the same per-occurrence ±freq
    additions the distributed recount sums, so integer-valued
    frequencies (unweighted, or integral weights) match bit-exactly;
    arbitrary float weights can differ in ulp-level ties (where the
    distributed path is itself partitioning-dependent).
    """
    import heapq
    from collections import Counter, defaultdict

    # init_syms (r11, byte-level BPE): precomputed initial symbol
    # sequences (the byte-alphabet split, no end-of-word marker);
    # default = Sennrich character split + marker
    words = (
        [list(s) for s in init_syms]
        if init_syms is not None
        else [list(w) + [end_of_word] for w, _ in word_freqs]
    )
    freqs = [float(f) for _, f in word_freqs]
    pair_counts: "dict[tuple[str, str], float]" = defaultdict(float)
    pair_words: "dict[tuple[str, str], set[int]]" = defaultdict(set)
    for i, syms in enumerate(words):
        f = freqs[i]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += f
            pair_words[p].add(i)
    heap = [(-c, l, r) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list = []
    for rank in range(num_merges):
        # pop the max-count pair, skipping stale entries (count moved
        # since push — every change pushes a fresh entry, so the top
        # VALID entry is the true argmax with the right tie-break)
        best = None
        while heap:
            negc, left, right = heapq.heappop(heap)
            cur = pair_counts.get((left, right), 0.0)
            if cur > 0 and cur == -negc:
                best = (left, right, cur)
                break
        if best is None or best[2] < min_frequency:
            break
        left, right, freq = best
        merged = left + right
        merges.append((rank, left, right, merged, float(freq)))
        touched: "set[tuple[str, str]]" = set()
        for i in sorted(pair_words.pop((left, right), ())):
            f = freqs[i]
            old = words[i]
            new = _apply_merge_local(old, left, right, merged)
            if new == old:  # stale membership after earlier rounds
                continue
            oc = Counter(zip(old, old[1:]))
            nc = Counter(zip(new, new[1:]))
            for p in oc:
                m = oc[p] - nc.get(p, 0)
                for _ in range(m):  # per-occurrence, like the agg
                    pair_counts[p] -= f
                if p not in nc:
                    pair_words[p].discard(i)
                if m:
                    touched.add(p)
            for p in nc:
                m = nc[p] - oc.get(p, 0)
                for _ in range(m):
                    pair_counts[p] += f
                pair_words[p].add(i)
                if m:
                    touched.add(p)
            words[i] = new
        # the merged pair is fully eliminated by the greedy fold; zero
        # it explicitly so float residue can't resurrect it
        pair_counts.pop((left, right), None)
        touched.discard((left, right))
        for p in touched:
            c = pair_counts.get(p, 0.0)
            if c > 0:
                heapq.heappush(heap, (-c, p[0], p[1]))
            else:
                pair_counts.pop(p, None)
                if not pair_words.get(p):
                    pair_words.pop(p, None)
    segments = [
        (wf[0], freqs[i], words[i]) for i, wf in enumerate(word_freqs)
    ]
    return merges, segments


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int = 100,
    min_frequency: float = 2.0,
    weight: Optional[Column] = None,
    lowercase: bool = True,
    max_words: int = 1_000_000,
    end_of_word: str = "</w>",
    checkpoint_every: int = 4,
    mode: str = "auto",
) -> "tuple[DataFrame, DataFrame]":
    """Learn BPE merge rules: returns ``(merges, segments)``.

    ``merges`` — ``(rank, left, right, merged, freq)``, one row per
    learned rule in application order; fully deterministic (pair-count
    ties break by (left, right) text). ``segments`` — the final word
    table ``(word, freq, syms)``; training has already applied every
    merge to every word, so ENCODING is a broadcast join against this
    table (:func:`encode_bpe`) — no per-document merge replay.

    Stops early when no pair reaches ``min_frequency``.

    ``mode`` (r6): ``"distributed"`` runs the original per-round
    cluster loop (one agg job + one 1-row collect per merge);
    ``"local"`` collects the ``max_words``-capped word table ONCE and
    runs the merge loop driver-side (:func:`_train_bpe_local`) — the
    production path for real vocab sizes (32k merges in minutes, not
    hours of round-trips). ``"auto"`` picks local when
    ``num_merges >= 16`` (round-trip cost dominates), distributed
    below (skips the full-table collect for a handful of rounds).
    The two paths produce identical merges (same fold, same
    tie-break); the distributed path doubles as the differential
    oracle in tests/test_bpe.py.
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if mode not in ("auto", "local", "distributed"):
        raise ValueError("mode must be auto|local|distributed")
    words = bpe_word_table(
        df, text_col, weight=weight, lowercase=lowercase,
        max_words=max_words, end_of_word=end_of_word,
    )
    spark = df.sparkSession
    if mode == "local" or (mode == "auto" and num_merges >= 16):
        wf = [
            (r["word"], float(r["freq"]))
            for r in words.select("word", "freq").collect()
        ]
        merges, segments = _train_bpe_local(
            wf, num_merges, min_frequency, end_of_word
        )
        merges_df = spark.createDataFrame(
            merges,
            "rank int, left string, right string, merged string, "
            "freq double",
        )
        segs_df = spark.createDataFrame(
            segments, "word string, freq double, syms array<string>"
        )
        return merges_df, segs_df
    return _train_bpe_distributed(
        words, num_merges, min_frequency, checkpoint_every, spark
    )


def _train_bpe_distributed(
    words: DataFrame,
    num_merges: int,
    min_frequency: float,
    checkpoint_every: int,
    spark,
) -> "tuple[DataFrame, DataFrame]":
    """The per-round cluster merge loop over a prepared word table —
    shared by :func:`train_bpe` (char alphabet + marker) and
    :func:`train_bpe_bytes` (byte alphabet, r11)."""
    merges: list = []
    for rank in range(num_merges):
        # truncate the growing fold lineage every few rounds (graph.py
        # loop pattern; a handful of nested folds evaluates fine, and
        # skipping the per-round materialization job halves wall time)
        if rank % max(1, checkpoint_every) == 0:
            words = words.localCheckpoint(eager=True)
        top = (
            bpe_pair_counts(words)
            .orderBy(F.col("freq").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["freq"] < min_frequency:
            break
        left, right, freq = top[0]["left"], top[0]["right"], top[0]["freq"]
        merges.append((rank, left, right, left + right, float(freq)))
        words = words.withColumn(
            "syms", _merge_fold(F.col("syms"), left, right)
        )
    merges_df = spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, freq double"
    )
    return merges_df, words.localCheckpoint(eager=True)


def encode_bpe(
    df: DataFrame,
    text_col: str,
    id_col: str,
    segments: DataFrame,
    lowercase: bool = True,
    end_of_word: str = "</w>",
) -> DataFrame:
    """Encode documents against trained BPE ``segments``:
    ``(id_col, symbols array<string>, n_words, n_symbols, n_oov_words)``.

    Per-word segmentation is a BROADCAST join against the (small) word
    table — the segmentation was computed once at training; a word
    outside it falls back to its character split + marker (the
    training-table cap's documented behavior, NOT an error). Order is
    preserved by the same (position, payload) sort-regroup shape as
    :func:`encode_documents` — one data-sized shuffle.
    """
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    pos = df.select(
        F.col(id_col), F.posexplode(toks).alias("__pos__", "word")
    ).where(F.length("word") > 0)
    joined = pos.join(
        F.broadcast(segments.select("word", "syms")), "word", "left"
    )
    syms = F.coalesce(
        F.col("syms"), _char_symbols(F.col("word"), end_of_word)
    )
    return joined.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("__pos__").alias("p"), syms.alias("s"))
                    )
                ),
                lambda e: e["s"],
            )
        ).alias("symbols"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.size(syms)).cast("long").alias("n_symbols"),
        F.sum(F.when(F.col("syms").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov_words"),
    )


# --- byte-level BPE with GPT-2 pre-tokenization (r11) ----------------
#
# The tokenizer most code/LLM corpora actually ship (public design:
# openai/gpt-2 src/encoder.py, MIT): pre-tokenize with the GPT-2
# regex, map each pre-token's UTF-8 BYTES through the bytes_to_unicode
# bijection (so every symbol is a printable BMP char and no input is
# ever out-of-alphabet), then run ordinary BPE over those chars — no
# end-of-word marker (leading spaces live inside tokens).

#: the public GPT-2 pre-tokenizer regex (contractions, optionally
#: space-prefixed letter/number/punctuation runs, trailing-whitespace
#: lookahead). Java regex supports \p{L}/\p{N} and the lookahead, so
#: pre-tokenization is one Column-level regexp_extract_all — note the
#: lookahead makes this Java-only (no RE2/DuckDB replay; the
#: correctness story is the pure-Python differential + round-trip).
GPT2_SPLIT_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"
)


def gpt2_byte_map() -> "dict[int, str]":
    """The GPT-2 ``bytes_to_unicode`` bijection (public algorithm):
    printable ASCII and most of Latin-1 map to themselves; the 68
    control/space/soft-hyphen bytes map to U+0100.. so every byte is
    a visible, non-space BMP character."""
    bs = (
        list(range(0x21, 0x7F))
        + list(range(0xA1, 0xAD))
        + list(range(0xAE, 0x100))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(0x100 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


#: translate() pair for the non-identity part of the byte map — the
#: Column-side mapping is decode(bytes, latin-1) then one translate
_BYTE_MAP = gpt2_byte_map()
_BM_SRC = "".join(chr(b) for b, c in _BYTE_MAP.items() if chr(b) != c)
_BM_DST = "".join(c for b, c in _BYTE_MAP.items() if chr(b) != c)


def gpt2_pretokenize(text: Column) -> Column:
    """GPT-2 pre-tokens of a string Column (``array<string>``, raw
    text — byte mapping happens in :func:`byte_symbols`)."""
    return F.regexp_extract_all(text, F.lit(GPT2_SPLIT_RE), F.lit(0))


def byte_symbols(tok: Column) -> Column:
    """Initial byte-level symbol sequence of one pre-token: UTF-8
    bytes through the GPT-2 byte→unicode map, one single-char symbol
    per byte. Pure Column algebra: ``encode`` to UTF-8, ``decode``
    latin-1 (byte i → char i), one ``translate`` for the 68 remapped
    bytes, then split to chars."""
    latin = F.decode(F.encode(tok, "UTF-8"), "ISO-8859-1")
    return F.split(F.translate(latin, _BM_SRC, _BM_DST), "")


def _byte_symbols_py(tok: str) -> "list[str]":
    """Driver twin of :func:`byte_symbols`."""
    return [_BYTE_MAP[b] for b in tok.encode("utf-8")]


def bpe_byte_word_table(
    df: DataFrame,
    text_col: str,
    weight: Optional[Column] = None,
    max_words: int = 1_000_000,
) -> DataFrame:
    """Byte-level BPE training state: ``(word, freq, syms)`` over
    DISTINCT GPT-2 pre-tokens (whitespace runs included — they carry
    real mass), capped at the top ``max_words`` by frequency (the
    scale-guarded :func:`_capped_top` cut, the same practical bound
    as :func:`bpe_word_table`). No lowercasing, no marker —
    byte-level BPE is case- and whitespace-faithful by design."""
    w = weight if weight is not None else F.lit(1.0)
    rows = df.select(
        w.alias("__w__"),
        F.explode(gpt2_pretokenize(F.col(text_col))).alias("word"),
    ).where(F.length("word") > 0)
    counted = _capped_top(
        rows.groupBy("word").agg(F.sum("__w__").alias("freq")),
        "freq", "word", max_words,
    )
    return counted.select(
        "word", "freq", byte_symbols(F.col("word")).alias("syms")
    )


def train_bpe_bytes(
    df: DataFrame,
    text_col: str,
    num_merges: int = 100,
    min_frequency: float = 2.0,
    weight: Optional[Column] = None,
    max_words: int = 1_000_000,
    checkpoint_every: int = 4,
    mode: str = "auto",
) -> "tuple[DataFrame, DataFrame]":
    """Learn byte-level BPE merges (GPT-2 recipe): returns
    ``(merges, segments)`` shaped exactly like :func:`train_bpe`.
    Same local/distributed/auto mode contract and the same
    determinism (freq desc, (left, right) code-point asc tie-break);
    the two paths produce identical merges and double as each other's
    differential in tests. Because the alphabet is the byte map's
    256 chars, NO input is ever out-of-alphabet — encoding falls back
    to the byte split, never to an OOV sentinel."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if mode not in ("auto", "local", "distributed"):
        raise ValueError("mode must be auto|local|distributed")
    words = bpe_byte_word_table(
        df, text_col, weight=weight, max_words=max_words
    )
    spark = df.sparkSession
    if mode == "local" or (mode == "auto" and num_merges >= 16):
        wf = [
            (r["word"], float(r["freq"]))
            for r in words.select("word", "freq").collect()
        ]
        merges, segments = _train_bpe_local(
            wf,
            num_merges,
            min_frequency,
            end_of_word="",
            init_syms=[_byte_symbols_py(w_) for w_, _ in wf],
        )
        merges_df = spark.createDataFrame(
            merges,
            "rank int, left string, right string, merged string, "
            "freq double",
        )
        segs_df = spark.createDataFrame(
            segments, "word string, freq double, syms array<string>"
        )
        return merges_df, segs_df
    return _train_bpe_distributed(
        words, num_merges, min_frequency, checkpoint_every, spark
    )


def encode_bpe_bytes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    segments: DataFrame,
) -> DataFrame:
    """Encode documents against byte-level ``segments``: ``(id_col,
    symbols array<string>, n_pretokens, n_symbols,
    n_fallback_words)``. Pre-tokens outside the (capped) training
    table fall back to their BYTE split — with a 256-char closed
    alphabet there is no OOV, so round-tripping any UTF-8 input is
    total (:func:`decode_bpe_bytes` inverts exactly). Same broadcast
    join + (position, payload) sort-regroup as :func:`encode_bpe` —
    one data-sized shuffle, the floor for an order-preserving
    encode."""
    pos = df.select(
        F.col(id_col),
        F.posexplode(gpt2_pretokenize(F.col(text_col))).alias(
            "__pos__", "word"
        ),
    ).where(F.length("word") > 0)
    joined = pos.join(
        F.broadcast(segments.select("word", "syms")), "word", "left"
    )
    syms = F.coalesce(F.col("syms"), byte_symbols(F.col("word")))
    return joined.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("__pos__").alias("p"), syms.alias("s")
                        )
                    )
                ),
                lambda e: e["s"],
            )
        ).alias("symbols"),
        F.count(F.lit(1)).cast("long").alias("n_pretokens"),
        F.sum(F.size(syms)).cast("long").alias("n_symbols"),
        F.sum(F.when(F.col("syms").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_fallback_words"),
    )


def decode_bpe_bytes(symbols: Column) -> Column:
    """Exact inverse of the byte-level encode: join the symbols,
    translate the byte map back, reinterpret chars 0–255 as bytes
    (latin-1 encode), decode UTF-8. ``decode_bpe_bytes(
    encode.symbols) == original text`` for ANY input string — the
    no-OOV round-trip contract, property-tested.

    Byte 0 is restored with ``replace``, not ``translate``: Spark's
    ``translate`` treats a U+0000 REPLACEMENT char as the deletion
    marker (Java semantics), which silently dropped NUL bytes."""
    nul = _BM_SRC.index("\x00")
    src = _BM_SRC[:nul] + _BM_SRC[nul + 1 :]
    dst = _BM_DST[:nul] + _BM_DST[nul + 1 :]
    joined = F.array_join(symbols, "")
    latin = F.translate(joined, dst, src)
    latin = F.replace(latin, F.lit(_BM_DST[nul]), F.lit("\x00"))
    return F.decode(F.encode(latin, "ISO-8859-1"), "UTF-8")


# --- WordPiece (r11) --------------------------------------------------
#
# The BERT tokenizer's training criterion (Schuster & Nakajima 2012;
# the public HuggingFace-tokenizers trainer is the reference
# behavior): like BPE, but the merged pair maximizes the LIKELIHOOD
# score freq(pair) / (freq(left) · freq(right)) instead of raw pair
# frequency, and non-initial symbols carry the ``##`` continuation
# prefix from the start — the initial split of ``word`` is
# ``[w0, ##w1, ##w2, …]`` and merging ``(a, ##b)`` yields ``a + b``
# (the marker belongs to the POSITION, not the merged text).


def _wp_merge_text(left: str, right: str) -> str:
    return left + (right[2:] if right.startswith("##") else right)


def _wp_init_syms(word: str) -> "list[str]":
    cs = list(word)
    return [cs[0]] + ["##" + c for c in cs[1:]]


def _wp_char_symbols(word: Column) -> Column:
    """Column twin of :func:`_wp_init_syms`."""
    cs = F.split(word, "")
    marked = F.transform(
        cs, lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit("##"), c))
    )
    return marked


def wordpiece_word_table(
    df: DataFrame,
    text_col: str,
    weight: Optional[Column] = None,
    lowercase: bool = True,
    max_words: int = 1_000_000,
) -> DataFrame:
    """WordPiece training state: ``(word, freq, syms)`` with the
    ``##``-marked character split; same scale-guarded
    :func:`_capped_top` cut as :func:`bpe_word_table`."""
    counted = _top_words(df, text_col, weight, lowercase, max_words)
    return counted.select(
        "word", "freq", _wp_char_symbols(F.col("word")).alias("syms")
    )


def _train_wordpiece_local(
    word_freqs: "list[tuple[str, float]]",
    num_merges: int,
    min_frequency: float,
) -> "tuple[list, list]":
    """Driver-side WordPiece trainer — FULL recount per round (the
    likelihood score depends on SYMBOL counts, which shift on every
    merge, so the BPE heap's incremental maintenance doesn't apply;
    the word table is ``max_words``-capped, so R·W·L driver work is
    the honest simple loop). Tie-break: score desc, then (left,
    right) code-point asc — identical to the distributed path's
    orderBy."""
    from collections import Counter

    words = [_wp_init_syms(w) for w, _ in word_freqs]
    freqs = [float(f) for _, f in word_freqs]
    merges: list = []
    for rank in range(num_merges):
        pair_c: Counter = Counter()
        sym_c: Counter = Counter()
        for syms, f in zip(words, freqs):
            for s in syms:
                sym_c[s] += f
            for p in zip(syms, syms[1:]):
                pair_c[p] += f
        best = None
        for (l, r), c in pair_c.items():
            if c < min_frequency:
                continue
            score = c / (sym_c[l] * sym_c[r])
            key = (-score, l, r)
            if best is None or key < best[0]:
                best = (key, l, r, c, score)
        if best is None:
            break
        _, left, right, freq, score = best
        merged = _wp_merge_text(left, right)
        merges.append(
            (rank, left, right, merged, float(freq), float(score))
        )
        for i, syms in enumerate(words):
            out: "list[str]" = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = merged
                else:
                    out.append(s)
            words[i] = out
    segments = [
        (wf[0], freqs[i], words[i]) for i, wf in enumerate(word_freqs)
    ]
    return merges, segments


def train_wordpiece(
    df: DataFrame,
    text_col: str,
    num_merges: int = 100,
    min_frequency: float = 2.0,
    weight: Optional[Column] = None,
    lowercase: bool = True,
    max_words: int = 1_000_000,
    checkpoint_every: int = 4,
    mode: str = "auto",
) -> "tuple[DataFrame, DataFrame]":
    """Learn WordPiece merges: ``(merges, segments)`` where merges is
    ``(rank, left, right, merged, freq, score)`` in application order
    and segments is the fully-merged word table (encoding is a
    broadcast join — :func:`encode_wordpiece`). Same mode contract as
    :func:`train_bpe`; the distributed path recomputes pair AND
    symbol masses each round (two aggregates + a 1-row argmax
    collect) and doubles as the local trainer's differential."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if mode not in ("auto", "local", "distributed"):
        raise ValueError("mode must be auto|local|distributed")
    words = wordpiece_word_table(
        df, text_col, weight=weight, lowercase=lowercase,
        max_words=max_words,
    )
    spark = df.sparkSession
    if mode == "local" or (mode == "auto" and num_merges >= 16):
        wf = [
            (r["word"], float(r["freq"]))
            for r in words.select("word", "freq").collect()
        ]
        merges, segments = _train_wordpiece_local(
            wf, num_merges, min_frequency
        )
        merges_df = spark.createDataFrame(
            merges,
            "rank int, left string, right string, merged string, "
            "freq double, score double",
        )
        segs_df = spark.createDataFrame(
            segments, "word string, freq double, syms array<string>"
        )
        return merges_df, segs_df
    merges_rows: list = []
    for rank in range(num_merges):
        if rank % max(1, checkpoint_every) == 0:
            words = words.localCheckpoint(eager=True)
        syms_mass = (
            words.select(
                F.col("freq").alias("__f__"),
                F.explode("syms").alias("s"),
            )
            .groupBy("s")
            .agg(F.sum("__f__").alias("sfreq"))
        )
        top = (
            bpe_pair_counts(words)
            .where(F.col("freq") >= float(min_frequency))
            .join(
                F.broadcast(
                    syms_mass.select(
                        F.col("s").alias("left"),
                        F.col("sfreq").alias("__lf__"),
                    )
                ),
                "left",
            )
            .join(
                F.broadcast(
                    syms_mass.select(
                        F.col("s").alias("right"),
                        F.col("sfreq").alias("__rf__"),
                    )
                ),
                "right",
            )
            .select(
                "left", "right", "freq",
                (
                    F.col("freq") / (F.col("__lf__") * F.col("__rf__"))
                ).alias("score"),
            )
            .orderBy(
                F.col("score").desc(), F.col("left"), F.col("right")
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["left"], top[0]["right"]
        merged = _wp_merge_text(left, right)
        merges_rows.append(
            (
                rank, left, right, merged,
                float(top[0]["freq"]), float(top[0]["score"]),
            )
        )
        words = words.withColumn(
            "syms", _merge_fold(F.col("syms"), left, right, merged)
        )
    merges_df = spark.createDataFrame(
        merges_rows,
        "rank int, left string, right string, merged string, "
        "freq double, score double",
    )
    return merges_df, words.localCheckpoint(eager=True)


def encode_wordpiece(
    df: DataFrame,
    text_col: str,
    id_col: str,
    segments: DataFrame,
    lowercase: bool = True,
    unk: str = "[UNK]",
    mode: str = "lookup",
    max_input_chars_per_word: int = 100,
    merges: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Encode documents against trained WordPiece ``segments``:
    ``(id_col, pieces array<string>, n_words, n_pieces, n_unk_words)``
    — symbols carry the ``##`` continuation convention.

    ``mode='lookup'`` (default, the r11 behavior): a word outside the
    (capped) training WORD table becomes ONE ``unk`` piece — a
    deliberate divergence from HF inference kept because unknown-word
    mass is a corpus-quality signal. Broadcast join + (position,
    payload) sort-regroup, one data-sized shuffle.

    ``mode='greedy'`` (r12): HF/BERT ``WordpieceTokenizer`` inference
    — greedy LONGEST-MATCH of each word against the trained PIECE
    vocabulary (``##`` convention), so held-out words that decompose
    over the vocab get pieces, and ``unk`` only appears when no
    decomposition exists (or the word exceeds
    ``max_input_chars_per_word``, HF's guard, default 100). The
    vocabulary is what a real exported WordPiece vocab holds: the
    training BASE ALPHABET (first-char + ``##``-continuation chars of
    every table word) plus every learned piece — the distinct final
    symbols of ``segments``, plus ``merges.merged`` when the merge
    table is passed via ``merges=`` (intermediate pieces that were
    merged out of every table word still belong to the vocab). It is
    model-sized (lives under the capped word table), so it collects
    and rides a ``mapInPandas`` kernel — zero shuffle, no join;
    tokenization mirrors ``tokens()`` exactly (space-only trim +
    Java-``\\s`` split). Pinned by a pure-Python HF-style
    differential. NB: greedy segmentation of an in-table word may
    legitimately differ from its stored training segmentation (true
    of HF too — inference is longest-match, not merge replay)."""
    if mode not in ("lookup", "greedy"):
        raise ValueError(f"mode must be lookup|greedy, got {mode!r}")
    if mode == "greedy":
        return _encode_wordpiece_greedy(
            df, text_col, id_col, segments, lowercase, unk,
            int(max_input_chars_per_word), merges,
        )
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    pos = df.select(
        F.col(id_col), F.posexplode(toks).alias("__pos__", "word")
    ).where(F.length("word") > 0)
    joined = pos.join(
        F.broadcast(segments.select("word", "syms")), "word", "left"
    )
    syms = F.coalesce(F.col("syms"), F.array(F.lit(unk)))
    return joined.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("__pos__").alias("p"), syms.alias("s")
                        )
                    )
                ),
                lambda e: e["s"],
            )
        ).alias("pieces"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.size(syms)).cast("long").alias("n_pieces"),
        F.sum(F.when(F.col("syms").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unk_words"),
    )


def _encode_wordpiece_greedy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    segments: DataFrame,
    lowercase: bool,
    unk: str,
    max_chars: int,
    merges: "Optional[DataFrame]" = None,
) -> DataFrame:
    """HF-style greedy longest-match WordPiece inference — see
    :func:`encode_wordpiece`. The piece vocabulary (base alphabet of
    the table words + final segment symbols + optional merge outputs)
    is model-sized, so the collect is the sanctioned bounded kind
    (LID-profile discipline); each batch then encodes row-locally."""
    from pyspark.sql import types as T

    rows = segments.select("word", "syms").collect()
    vocab: set = set()
    for r in rows:
        vocab.update(r["syms"])
        w = r["word"]
        if w:
            # training base alphabet: 'h', '##u', '##g', ... — a real
            # WordPiece vocab always contains it (HF convention)
            vocab.add(w[0])
            vocab.update("##" + c for c in w[1:])
    if merges is not None:
        vocab.update(
            r["m"] for r in merges.select(
                F.col("merged").alias("m")
            ).distinct().collect()
        )
    if not vocab:
        raise ValueError("segments has no pieces to encode against")
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("pieces", T.ArrayType(T.StringType())),
            T.StructField("n_words", T.LongType()),
            T.StructField("n_pieces", T.LongType()),
            T.StructField("n_unk_words", T.LongType()),
        ]
    )
    lower = bool(lowercase)
    base = df.select(
        F.col(id_col).alias("__id__"), F.col(text_col).alias("__t__")
    )

    def run(batches):
        import re as _re

        import pandas as pd

        ws = _re.compile("[ \t\n\x0b\f\r]+")

        def word_pieces(w):
            # HF WordpieceTokenizer: length guard, then greedy
            # longest-match; any position with no match -> whole
            # word is UNK
            if len(w) > max_chars:
                return None
            out = []
            start = 0
            while start < len(w):
                end = len(w)
                cur = None
                while start < end:
                    sub = w[start:end]
                    if start > 0:
                        sub = "##" + sub
                    if sub in vocab:
                        cur = sub
                        break
                    end -= 1
                if cur is None:
                    return None
                out.append(cur)
                start = end
            return out

        for pdf in batches:
            ids, pcs, nw_, np_, nu_ = [], [], [], [], []
            for i, t in zip(pdf["__id__"], pdf["__t__"]):
                if not isinstance(t, str):
                    continue
                if lower:
                    t = t.lower()
                words = [
                    w for w in ws.split(t.strip(" ")) if len(w) > 0
                ]
                if not words:
                    # lookup mode emits no row for wordless docs
                    # (posexplode yields nothing) — mirror that
                    continue
                pieces, unk_n = [], 0
                for w in words:
                    wp = word_pieces(w)
                    if wp is None:
                        pieces.append(unk)
                        unk_n += 1
                    else:
                        pieces.extend(wp)
                ids.append(i)
                pcs.append(pieces)
                nw_.append(len(words))
                np_.append(len(pieces))
                nu_.append(unk_n)
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "pieces": pcs,
                        "n_words": nw_,
                        "n_pieces": np_,
                        "n_unk_words": nu_,
                    }
                )

    return base.mapInPandas(run, out_schema)


def unigram_seed_table(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 8,
    seed_size: int = 100_000,
    weight: Optional[Column] = None,
    lowercase: bool = True,
    max_words: int = 1_000_000,
) -> DataFrame:
    """Seed-piece candidates for unigram-LM tokenizer training
    (SentencePiece, Kudo 2018 §3): every substring of length
    ``1..max_piece_len`` of every word in the capped word table, with
    ``mass`` = Σ word-frequency per OCCURRENCE — the distributed,
    SQL-replayable half of :func:`train_unigram_lm`. Returns
    ``(piece, mass)``, the top ``seed_size`` by (mass desc, piece asc).

    Scale shape: the word table is the same ``max_words``-capped
    :func:`_capped_top` aggregate as :func:`bpe_word_table`; the
    substring fan-out is a row-local nested ``transform`` +
    ``flatten`` (every word emits ≤ ``len·max_piece_len`` pieces —
    bounded by the cap × word length), then ONE map-side-combining
    piece aggregate and a scale-guarded top-``seed_size`` cut.
    Nothing cap-sized lands on the driver in either cut (r15).
    """
    if max_piece_len < 1:
        raise ValueError("max_piece_len must be >= 1")
    counted = _top_words(df, text_col, weight, lowercase, max_words)
    n = F.length("word")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(max_piece_len), n - i + 1)
                ),
                lambda ln: F.substring(F.col("word"), i, ln),
            ),
        )
    )
    return _capped_top(
        counted.select(F.col("freq"), F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("mass")),
        "mass", "piece", seed_size,
    )


def _viterbi_segment(
    word: str, logp: "dict[str, float]", max_len: int, oov_logp: float
) -> "tuple[list[str], int]":
    """Best segmentation of ``word`` under piece log-probs: classic
    left-to-right DP. Unknown single characters score ``oov_logp``
    (coverage fallback — encoding never fails). Ties break toward the
    LONGER last piece (deterministic). Returns (pieces, n_oov)."""
    n = len(word)
    best = [float("-inf")] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j > 1:
                    continue
                lp = oov_logp
            score = best[j] + lp
            # strictly-greater keeps the SMALLEST j (longest last
            # piece) among exact ties because j ascends
            if score > best[i]:
                best[i] = score
                back[i] = j
    pieces: "list[str]" = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    n_oov = sum(1 for p in pieces if p not in logp)
    return pieces, n_oov


def _em_expected_counts(
    word_freqs: "list[tuple[str, float]]",
    logp: "dict[str, float]",
    max_len: int,
) -> "dict[str, float]":
    """One E-step: forward-backward expected piece counts over ALL
    segmentations of every word, weighted by word frequency — the
    marginal-count kernel of unigram-LM EM (Kudo 2018 §3.1). Words
    with zero-probability coverage gaps contribute via the single-char
    floor added at seeding, so alphas never all-sink."""
    import math

    counts: "dict[str, float]" = {}
    for word, freq in word_freqs:
        n = len(word)
        # forward: alpha[i] = logsumexp over segmentations of w[:i]
        alpha = [float("-inf")] * (n + 1)
        alpha[0] = 0.0
        for i in range(1, n + 1):
            acc = float("-inf")
            for j in range(max(0, i - max_len), i):
                lp = logp.get(word[j:i])
                if lp is None or alpha[j] == float("-inf"):
                    continue
                v = alpha[j] + lp
                acc = v if acc == float("-inf") else (
                    max(acc, v) + math.log1p(math.exp(-abs(acc - v)))
                )
            alpha[i] = acc
        if alpha[n] == float("-inf"):
            continue  # word not coverable (missing char) — skip
        # backward
        beta = [float("-inf")] * (n + 1)
        beta[n] = 0.0
        for j in range(n - 1, -1, -1):
            acc = float("-inf")
            for i in range(j + 1, min(n, j + max_len) + 1):
                lp = logp.get(word[j:i])
                if lp is None or beta[i] == float("-inf"):
                    continue
                v = beta[i] + lp
                acc = v if acc == float("-inf") else (
                    max(acc, v) + math.log1p(math.exp(-abs(acc - v)))
                )
            beta[j] = acc
        z = alpha[n]
        for j in range(n):
            if alpha[j] == float("-inf"):
                continue
            for i in range(j + 1, min(n, j + max_len) + 1):
                piece = word[j:i]
                lp = logp.get(piece)
                if lp is None or beta[i] == float("-inf"):
                    continue
                p = math.exp(alpha[j] + lp + beta[i] - z)
                if p > 0:
                    counts[piece] = counts.get(piece, 0.0) + freq * p
    return counts


def train_unigram_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 8000,
    max_piece_len: int = 8,
    seed_size: int = 100_000,
    em_iters: int = 2,
    shrink_factor: float = 0.75,
    weight: Optional[Column] = None,
    lowercase: bool = True,
    max_words: int = 1_000_000,
) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer TRAINING (Kudo 2018):
    seed a large candidate vocabulary from high-mass substrings, then
    alternate EM (forward-backward expected piece counts over all
    segmentations) with pruning (keep the top pieces by expected
    count; single characters never prune — coverage guarantee) until
    ``vocab_size`` remains. Returns ``(piece, logp)`` with
    ``Σ exp(logp) = 1`` — feed to :func:`encode_unigram`, and the
    piece table composes with
    :func:`~pandas_weights_spark.functions.text.unigram_lm_score`'s
    scoring shape.

    Scale shape (the BPE-local pattern, VERDICT r5 items 3/5): the
    distributed work is the two capped aggregates — the
    ``max_words`` word table and the ``seed_size``
    :func:`unigram_seed_table` (both scale-guarded
    :func:`_capped_top` cuts, both SQL-oracle-checkable); the EM
    loop then runs driver-side over
    those BOUNDED tables (the per-word DP has no SQL analog and every
    iteration needs the whole vocab — the driver is the right place
    once the state is capped). Deterministic: seeding, pruning, and
    normalization all tie-break by piece text; EM arithmetic is fixed
    iteration order (words sorted, pieces sorted).
    """
    import math

    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    if not 0.1 <= shrink_factor < 1.0:
        raise ValueError("shrink_factor must be in [0.1, 1)")
    counted = _top_words(df, text_col, weight, lowercase, max_words)
    # a word whose freq is NULL (seen only under NULL weights) or not
    # positive carries no mass and has no log-probability: skip it, and
    # the seed pieces found only in such words
    word_freqs = sorted(
        (r["word"], float(r["freq"]))
        for r in counted.collect()
        if r["freq"] is not None and r["freq"] > 0
    )
    seed = unigram_seed_table(
        df, text_col, max_piece_len=max_piece_len, seed_size=seed_size,
        weight=weight, lowercase=lowercase, max_words=max_words,
    )
    masses = {
        r["piece"]: float(r["mass"])
        for r in seed.collect()
        if r["mass"] is not None and r["mass"] > 0
    }
    # coverage floor: every character present in the word table gets a
    # piece even if the seed cut dropped it
    chars = {c for word, _ in word_freqs for c in word}
    for c in chars:
        masses.setdefault(c, 1.0)
    total = sum(masses.values())
    logp = {
        p: math.log(m / total) for p, m in sorted(masses.items())
    }

    def m_step(counts: "dict[str, float]") -> "dict[str, float]":
        tot = sum(counts.values())
        return {
            p: math.log(c / tot)
            for p, c in sorted(counts.items())
            if c > 0
        }

    spark = df.sparkSession
    while True:
        for _ in range(max(1, em_iters)):
            counts = _em_expected_counts(word_freqs, logp, max_piece_len)
            # single-char floor survives EM even at zero expected count
            for c in chars:
                counts.setdefault(c, 1e-12)
            logp = m_step(counts)
        n_now = len(logp)
        # single chars never prune, so len(chars) is the floor — stop
        # there even when vocab_size asks for less (coverage wins)
        if n_now <= max(vocab_size, len(chars)):
            break
        keep_n = max(vocab_size, int(n_now * shrink_factor))
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        budget = max(0, keep_n - len(chars))
        kept = {p for p, _ in multi[:budget]} | chars
        logp = {p: lp for p, lp in logp.items() if p in kept}
        # renormalize over the surviving vocabulary
        z = math.log(sum(math.exp(lp) for lp in logp.values()))
        logp = {p: lp - z for p, lp in sorted(logp.items())}
    out = sorted(logp.items())
    return spark.createDataFrame(out, "piece string, logp double")


def encode_unigram(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pieces: DataFrame,
    max_piece_len: int = 8,
    lowercase: bool = True,
    oov_logp: float = -100.0,
) -> DataFrame:
    """Viterbi-encode documents against a trained unigram-LM piece
    table: ``(id_col, pieces array<string>, n_pieces, n_oov_chars)``.
    Unknown characters fall back to single-char pieces at
    ``oov_logp`` — encoding never fails (the SentencePiece coverage
    convention). Ties break toward the longer last piece.

    The piece table collects ONCE on the driver (vocab-sized) and
    ships in the task closure; per-word DP runs in Arrow-batched
    ``mapInPandas`` — a genuine no-SQL-analog kernel (the allowed
    Pandas-UDF case).
    """
    logp = {r["piece"]: float(r["logp"]) for r in pieces.collect()}
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("pieces", T.ArrayType(T.StringType())),
            T.StructField("n_pieces", T.LongType()),
            T.StructField("n_oov_chars", T.LongType()),
        ]
    )
    lc = bool(lowercase)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids, plists, npc, noov = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                segs: "list[str]" = []
                oov = 0
                if text is not None:
                    for word in (text.lower() if lc else text).split():
                        ps, wo = _viterbi_segment(
                            word, logp, max_piece_len, oov_logp
                        )
                        segs.extend(ps)
                        oov += wo
                ids.append(did)
                plists.append(segs)
                npc.append(len(segs))
                noov.append(oov)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "pieces": plists,
                    "n_pieces": npc,
                    "n_oov_chars": noov,
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def term_divergence(
    vocab_a: DataFrame,
    vocab_b: DataFrame,
    alpha: float = 0.5,
) -> DataFrame:
    """Distribution divergence between two corpora's term-mass tables
    (both from :func:`build_vocabulary`): one row with ``kl_ab``,
    ``kl_ba`` (nats), ``js`` (Jensen–Shannon, symmetric, bounded by
    ln 2), ``n_terms_a``, ``n_terms_b``, ``n_union`` — the standard
    domain-shift diagnostic between two slices of a training corpus
    (old vs new crawl, source A vs source B, train vs eval).

    Smoothing: both distributions live on the UNION vocabulary with
    additive ``alpha`` — ``p(t) = (m_a(t) + α) / (W_a + α·U)`` — so
    every term has positive mass under both and the KLs are finite.

    Scale shape: one full-outer join of the two V-row tables (the only
    shuffle, vocabulary-sized), one totals aggregate (3 scalars to the
    driver — the calibration pattern: driver math on AGGREGATED data
    only), one final sum. Never touches the raw corpus.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    a = vocab_a.select("term", F.col("mass").alias("__ma__"))
    b = vocab_b.select("term", F.col("mass").alias("__mb__"))
    j = a.join(b, "term", "full_outer").select(
        F.coalesce("__ma__", F.lit(0.0)).alias("ma"),
        F.coalesce("__mb__", F.lit(0.0)).alias("mb"),
    )
    tot = j.agg(
        F.sum("ma").alias("wa"),
        F.sum("mb").alias("wb"),
        F.count(F.lit(1)).alias("u"),
    ).first()
    # an empty side sums to NULL; alpha smoothing still defines the
    # (uniform) distribution, so 0.0 is the right mass
    wa = float(tot["wa"] or 0.0)
    wb = float(tot["wb"] or 0.0)
    u = int(tot["u"])
    if u == 0:
        raise ValueError("both vocabularies are empty")
    p = (F.col("ma") + F.lit(float(alpha))) / F.lit(wa + alpha * u)
    q = (F.col("mb") + F.lit(float(alpha))) / F.lit(wb + alpha * u)
    m = (p + q) / F.lit(2.0)
    terms = j.select(
        (p * (F.log(p) - F.log(q))).alias("__ab__"),
        (q * (F.log(q) - F.log(p))).alias("__ba__"),
        (
            p * (F.log(p) - F.log(m)) / F.lit(2.0)
            + q * (F.log(q) - F.log(m)) / F.lit(2.0)
        ).alias("__js__"),
    )
    na = vocab_a.count()
    nb = vocab_b.count()
    return terms.agg(
        F.sum("__ab__").alias("kl_ab"),
        F.sum("__ba__").alias("kl_ba"),
        F.sum("__js__").alias("js"),
    ).select(
        "kl_ab", "kl_ba", "js",
        F.lit(na).cast("long").alias("n_terms_a"),
        F.lit(nb).cast("long").alias("n_terms_b"),
        F.lit(u).cast("long").alias("n_union"),
    )


def decode_wordpiece(pieces: Column, unk: str = "[UNK]") -> Column:
    """Inverse of :func:`encode_wordpiece` for in-vocabulary text:
    a ``##``-prefixed piece glues to the previous piece, any other
    piece starts a new space-separated word. Words that encoded to
    ``unk`` come back as the literal ``unk`` string — the information
    the BERT convention deliberately discards (unlike the byte-level
    BPE round trip, which is exact for any input; documented, pinned).
    Row-local fold, zero shuffle."""
    return F.aggregate(
        pieces,
        F.lit(""),
        lambda acc, p: F.when(
            p.startswith(F.lit("##")),
            F.concat(acc, F.substring(p, 3, 2147483647)),
        ).otherwise(
            F.when(acc == F.lit(""), p).otherwise(
                F.concat(acc, F.lit(" "), p)
            )
        ),
    )
