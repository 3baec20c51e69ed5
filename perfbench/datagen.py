"""Seeded input generators for the benchmark workloads.

Every table is computed on the JVM from ``spark.range`` with ``xxhash64``
as the random source and written as parquet, so the same seed gives the
same rows on any machine and no row passes through Python. The package
under test only ever sees the written files.
"""

from __future__ import annotations

import math
from dataclasses import asdict, dataclass

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

_MOD = 1 << 53
#: 2024-01-01T00:00:00Z — the first instant of every generated time range.
EPOCH0 = 1_704_067_200
LANGS = ("en", "de", "fr", "es", "it")
STOP_WORDS = ("the", "and", "of", "to", "with", "that")
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ra", "to", "vi", "su", "pe", "da", "gor",
    "lin", "mar", "ses", "tur", "qui", "bal", "den", "fos", "har", "jun",
    "kel", "mop", "nix", "pra", "rus", "sol", "tam", "ven", "wel", "yor",
    "zel", "ab", "ed", "ig", "om", "ul", "an", "es", "ir",
)
#: words per document for generated texts: [LEN_LO, LEN_LO + LEN_SPAN)
LEN_LO, LEN_SPAN = 80, 80
BENCH_LEN_LO, BENCH_LEN_SPAN = 30, 30
EMB_DIM = 16


def uniform(seed: int, salt: str, *cols: Column) -> Column:
    """Uniform double in [0, 1) keyed on ``(seed, salt, cols)``."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return F.pmod(h, F.lit(_MOD)).cast("double") / F.lit(float(_MOD))


def normal(seed: int, salt: str, *cols: Column) -> Column:
    """Standard normal via Box-Muller over two keyed uniforms."""
    u1 = F.lit(1.0) - uniform(seed, salt + "/a", *cols)
    u2 = uniform(seed, salt + "/b", *cols)
    return F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(2 * math.pi) * u2)


def _pick(values, u: Column) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (F.floor(u * len(values)) + 1).cast("int"))


# -- OLAP fact + dimension tables ---------------------------------------------


@dataclass(frozen=True)
class FactSpec:
    """Shape of the weighted fact table: ``rows`` split over ``files``
    parquet files; ``hot_frac`` of the rows carry key ``k = 0`` (the
    rest spread over the other 199 values); ``null_frac`` of each value
    column and of the weights is NULL; timestamps span ``days`` days."""

    rows: int
    files: int
    hot_frac: float
    null_frac: float
    days: int = 100
    keys: int = 200
    dims: int = 1000


def write_fact(spark: SparkSession, spec: FactSpec, seed: int, path: str) -> None:
    """Columns: ``id, k, seg, c, d, ts, x1, x2, x3, w``."""
    idc = F.col("id")

    def u(salt):
        return uniform(seed, salt, idc)

    def nullable(salt, expr):
        return F.when(u(salt) >= F.lit(spec.null_frac), expr)

    k_rest = (F.floor(u("k2") * (spec.keys - 1)) + 1).cast("int")
    k = F.when(u("k1") < F.lit(spec.hot_frac), F.lit(0)).otherwise(k_rest)
    x1 = F.lit(100.0) + F.lit(15.0) * normal(seed, "x1", idc)
    x2 = F.lit(0.6) * x1 + F.lit(10.0) * normal(seed, "x2", idc)
    x3 = F.exp(F.lit(3.0) + F.lit(0.5) * normal(seed, "x3", idc))
    secs = F.floor(u("ts") * (spec.days * 86400)).cast("long")
    (
        spark.range(0, spec.rows, 1, spec.files)
        .select(
            idc,
            k.alias("k"),
            F.floor(u("g") * 8).cast("int").alias("seg"),
            _pick([f"c{i}" for i in range(5)], u("c")).alias("c"),
            F.floor(u("d") * spec.dims).cast("int").alias("d"),
            F.timestamp_seconds(F.lit(EPOCH0) + secs).alias("ts"),
            nullable("n1", x1).alias("x1"),
            nullable("n2", x2).alias("x2"),
            nullable("n3", x3).alias("x3"),
            nullable("nw", F.lit(0.5) + F.lit(4.5) * u("w")).alias("w"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def write_dim(spark: SparkSession, spec: FactSpec, seed: int, path: str) -> None:
    """Dimension table ``d, region, factor`` keyed by the fact's ``d``."""
    idc = F.col("id")
    (
        spark.range(0, spec.dims, 1, 1)
        .select(
            idc.cast("int").alias("d"),
            _pick([f"r{i}" for i in range(10)], uniform(seed, "region", idc))
            .alias("region"),
            (F.lit(0.5) + uniform(seed, "factor", idc)).alias("factor"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


# -- text corpus with planted duplicates ---------------------------------------


@dataclass(frozen=True)
class CorpusSpec:
    """Corpus layout by id block, in this order: ``base`` original
    documents, ``exact`` verbatim copies of base documents, ``near``
    base copies with one word replaced and one appended, ``contam``
    documents that are verbatim benchmark passages (one passage each),
    ``semantic`` fresh texts whose embedding sits next to a base
    document's. The benchmark table holds ``bench`` passages, the first
    ``contam`` of which are planted in the corpus."""

    base: int
    exact: int
    near: int
    contam: int
    semantic: int
    bench: int
    files: int = 4

    @property
    def docs(self) -> int:
        return self.base + self.exact + self.near + self.contam + self.semantic

    def blocks(self) -> dict:
        out, lo = {}, 0
        for name in ("base", "exact", "near", "contam", "semantic"):
            n = getattr(self, name)
            out[name] = (lo, lo + n)
            lo += n
        return out

    def summary(self) -> dict:
        d = asdict(self)
        d["docs"] = self.docs
        for name in ("exact", "near", "contam", "semantic"):
            d[f"{name}_rate"] = round(getattr(self, name) / self.docs, 4)
        return d


def _word(seed: int, salt: str, key: Column, i: Column) -> Column:
    """One pseudo-word: a stop word one time in six, else 2-3 syllables."""
    def s(tag):
        return _pick(_SYLLABLES, uniform(seed, salt + tag, key, i))

    three = uniform(seed, salt + "/n", key, i) < F.lit(0.5)
    word = F.concat(s("/1"), s("/2"), F.when(three, s("/3")).otherwise(F.lit("")))
    stop = uniform(seed, salt + "/s", key, i) < F.lit(1 / 6)
    return F.when(stop, _pick(STOP_WORDS, uniform(seed, salt + "/w", key, i))).otherwise(word)


def _length(seed: int, salt: str, key: Column, lo: int, span: int) -> Column:
    return (F.lit(lo) + F.floor(uniform(seed, salt + "/len", key) * span)).cast("int")


def _text(seed: int, salt: str, key: Column, n: Column) -> Column:
    return F.array_join(
        F.transform(F.sequence(F.lit(0), n - 1), lambda i: _word(seed, salt, key, i)),
        " ",
    )


def doc_text(seed: int, key: Column) -> Column:
    return _text(seed, "doc", key, _length(seed, "doc", key, LEN_LO, LEN_SPAN))


def bench_text(seed: int, key: Column) -> Column:
    return _text(
        seed, "bench", key, _length(seed, "bench", key, BENCH_LEN_LO, BENCH_LEN_SPAN)
    )


def near_text(seed: int, src: Column, own: Column) -> Column:
    """The source's words with the middle one replaced and one appended."""
    n = _length(seed, "doc", src, LEN_LO, LEN_SPAN)
    mid = F.floor(n / 2).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), n),
        lambda i: F.when(
            (i == mid) | (i == n), _word(seed, "near", own, i)
        ).otherwise(_word(seed, "doc", src, i)),
    )
    return F.array_join(words, " ")


def _vector(seed: int, key: Column) -> Column:
    return F.transform(
        F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
        lambda i: normal(seed, "vec", key, i),
    )


def write_corpus(
    spark: SparkSession, spec: CorpusSpec, seed: int, docs_path: str,
    emb_path: str, bench_path: str,
) -> None:
    """``documents(id, lang, text)``, ``embeddings(id, vec)`` and
    ``benchmark(text)``. Each duplicate's source is a base document
    drawn by hash; every language is drawn per source document."""
    b = spec.blocks()
    idc = F.col("id")

    def within(name):
        lo, hi = b[name]
        return (idc >= F.lit(lo)) & (idc < F.lit(hi))

    src = F.floor(uniform(seed, "src", idc) * spec.base).cast("long")
    contam_passage = idc - F.lit(b["contam"][0])
    # the document whose text and language this row copies (itself for
    # base, contaminated and semantic rows)
    text_key = F.when(within("exact") | within("near"), src).otherwise(idc)
    text = (
        F.when(within("exact"), doc_text(seed, src))
        .when(within("near"), near_text(seed, src, idc))
        .when(within("contam"), bench_text(seed, contam_passage))
        .otherwise(doc_text(seed, idc))
    )
    rows = spark.range(0, spec.docs, 1, spec.files)
    (
        rows.select(
            idc,
            _pick(LANGS, uniform(seed, "lang", text_key)).alias("lang"),
            text.alias("text"),
        )
        .write.mode("overwrite")
        .parquet(docs_path)
    )
    # exact/near/semantic rows embed next to their source; the others own
    # a fresh direction
    vec_key = F.when(within("base") | within("contam"), idc).otherwise(src)
    noise = F.when(within("exact"), F.lit(0.0)).otherwise(F.lit(0.05))
    base_vec = _vector(seed, vec_key)
    vec = F.transform(
        base_vec,
        lambda v, i: v + noise * normal(seed, "noise", idc, i),
    )
    (
        rows.select(idc, vec.alias("vec"))
        .write.mode("overwrite")
        .parquet(emb_path)
    )
    (
        spark.range(0, spec.bench, 1, 1)
        .select(bench_text(seed, idc).alias("text"))
        .write.mode("overwrite")
        .parquet(bench_path)
    )
