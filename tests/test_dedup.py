"""Tests for dedup operators (functions/dedup.py)."""

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark.functions import dedup as DD
from tests.conftest import approx


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"),  # case dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_survivors(self, dup_docs):
        out = DD.exact_dedup(dup_docs, "text", "doc_id")
        ids = sorted(r["doc_id"] for r in out.collect())
        assert ids == [0, 2, 3]  # 1 and 4 fold into 0 (normalized)

    def test_no_normalize_keeps_case_variant(self, dup_docs):
        out = DD.exact_dedup(dup_docs, "text", "doc_id", normalize=False)
        ids = sorted(r["doc_id"] for r in out.collect())
        assert ids == [0, 1, 2, 3]

    def test_duplicate_groups(self, dup_docs):
        out = DD.duplicate_groups(dup_docs, "text").collect()
        assert len(out) == 1
        assert out[0]["n_dupes"] == 3

    def test_quality_survivor_policy(self, spark):
        # r7: keep= picks the MAX-score member (ties -> min id, NULL
        # lowest); families with all-NULL scores fall back to min id
        rows = [
            (0, "same text", 1.0),
            (1, "same text", 9.0),    # best quality wins over min id
            (2, "same text", 9.0),    # ...but 1 < 2 on the tie
            (3, "other", None),
            (4, "other", None),       # all-NULL family -> min id 3
            (5, "unique", 0.5),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, q double"
        )
        out = DD.exact_dedup(df, "text", "doc_id", keep=F.col("q"))
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 5]
        # NULL loses to any real score
        df2 = spark.createDataFrame(
            [(0, "t", None), (1, "t", -5.0)],
            "doc_id long, text string, q double",
        )
        out2 = DD.exact_dedup(df2, "text", "doc_id", keep=F.col("q"))
        assert [r["doc_id"] for r in out2.collect()] == [1]

    def test_incremental_across_snapshots(self, spark):
        # r7: day-2 batch dedups against day-1's digest table; a
        # re-crawled duplicate of a day-1 doc never survives, and the
        # returned digest table accumulates
        day1 = spark.createDataFrame(
            [(1, "alpha doc"), (2, "beta doc")],
            "doc_id long, text string",
        )
        s1, seen1 = DD.exact_dedup_incremental(day1, "text", "doc_id")
        assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
        assert seen1.count() == 2
        day2 = spark.createDataFrame(
            [
                (10, "ALPHA DOC"),     # re-crawl of day-1 doc 1
                (11, "gamma doc"),     # genuinely new
                (12, "gamma doc"),     # in-batch dup of 11
            ],
            "doc_id long, text string",
        )
        s2, seen2 = DD.exact_dedup_incremental(
            day2, "text", "doc_id", seen=seen1
        )
        assert sorted(r["doc_id"] for r in s2.collect()) == [11]
        assert seen2.count() == 3  # alpha, beta, gamma
        # day 3: another alpha re-crawl stays suppressed via seen2
        day3 = spark.createDataFrame(
            [(20, "alpha doc")], "doc_id long, text string"
        )
        s3, _ = DD.exact_dedup_incremental(
            day3, "text", "doc_id", seen=seen2
        )
        assert s3.count() == 0

    def test_cluster_survivors_requality(self, spark):
        from pandas_weights_spark.functions.graph import (
            cluster_survivors,
            neardup_clusters,
        )

        base = " ".join(f"w{i}" for i in range(30))
        docs = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "totally different "
              + " ".join(f"z{i}" for i in range(25)))],
            "doc_id long, text string",
        )
        labels = neardup_clusters(docs, "text", "doc_id", threshold=0.5)
        # default survivor is min id (doc 1); re-pick by text length:
        # doc 2 (longer) must take over, singleton stays its own
        relab = cluster_survivors(
            labels.join(docs, "doc_id"),
            F.length("text").cast("double"),
        )
        got = {r["doc_id"]: r["is_survivor"] for r in relab.collect()}
        assert got == {1: False, 2: True, 3: True}


class TestMinHash:
    def test_signature_shape_and_determinism(self, dup_docs):
        sig = dup_docs.select(
            "doc_id", DD.minhash_signature(F.col("text"), 8, 3).alias("s")
        )
        rows = {r["doc_id"]: r["s"] for r in sig.collect()}
        assert all(len(s) == 8 for s in rows.values())
        assert rows[0] == rows[4]  # identical text → identical signature
        # near-dup shares most signature positions
        shared = sum(a == b for a, b in zip(rows[0], rows[2]))
        assert shared >= 4

    def test_near_duplicates_pipeline(self, dup_docs):
        out = DD.minhash_near_duplicates(
            dup_docs, "text", "doc_id", threshold=0.4, num_hashes=16, bands=8
        )
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        assert pairs[(0, 4)] == approx(1.0)  # exact dup found
        assert (0, 2) in pairs  # near dup found
        assert not any(3 in p for p in pairs)  # unrelated doc clean

    def test_jaccard(self, spark):
        df = spark.createDataFrame(
            [(["a", "b", "c"], ["b", "c", "d"])], "x array<string>, y array<string>"
        )
        assert df.select(DD.jaccard(F.col("x"), F.col("y")).alias("j")).first()[
            "j"
        ] == approx(0.5)


class TestSimHash:
    def test_simhash_properties(self, dup_docs):
        out = dup_docs.select(
            "doc_id", DD.simhash(F.col("text"), 32).alias("h")
        )
        rows = {r["doc_id"]: r["h"] for r in out.collect()}
        assert all(len(h) == 32 and set(h) <= {"0", "1"} for h in rows.values())
        assert rows[0] == rows[4]
        d_near = dup_docs.select(
            DD.hamming_distance(F.lit(rows[0]), F.lit(rows[2]), 32).alias("d")
        ).first()["d"]
        d_far = dup_docs.select(
            DD.hamming_distance(F.lit(rows[0]), F.lit(rows[3]), 32).alias("d")
        ).first()["d"]
        assert d_near < d_far


class TestEmbeddingNearDup:
    def test_finds_near_identical_vectors(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
            (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = DD.embedding_near_duplicates(
            df, "vec_id", "embedding", threshold=0.95, bucket_planes=2
        )
        pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
        assert (0, 1) in pairs
        assert pairs[(0, 1)] > 0.99
        assert not any(2 in p for p in pairs)

    # the width probe skips NULL vectors: a NULL first row or an empty
    # table used to fail with a TypeError
    def test_null_first_vector(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        out = DD.embedding_near_duplicates(
            df, "vec_id", "embedding", threshold=0.9, bucket_planes=2
        ).collect()
        assert [(r["id_a"], r["id_b"], r["cosine"]) for r in out] == [
            (2, 3, 1.0)
        ]

    def test_empty_table_raises_clearly(self, spark):
        df = spark.createDataFrame(
            [], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="no non-NULL"):
            DD.embedding_near_duplicates(df, "vec_id", "embedding")


class TestNgramJaccard:
    def test_exact_pairs(self, spark):
        from pandas_weights_spark.functions.dedup import (
            ngram_jaccard_near_duplicates,
        )

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "quick brown fox jumps over the lazy dog"),  # 1 word off
                (3, "completely different text about spark engines here"),
                (4, "the quick brown fox jumps over the lazy dog"),  # exact
            ],
            "doc_id int, text string",
        )
        out = ngram_jaccard_near_duplicates(
            df, "text", "doc_id", n=3, threshold=0.5
        ).orderBy("id_a", "id_b")
        rows = [(r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect()]
        # doc1 has 7 trigrams, doc2 has 6 (all shared) → 6/7
        assert (1, 2, round(6 / 7, 6)) in rows
        assert (1, 4, 1.0) in rows
        assert (2, 4, round(6 / 7, 6)) in rows
        assert all(3 not in (a, b) for a, b, _ in rows)

    def test_stop_shingle_pruning(self, spark):
        from pandas_weights_spark.functions.dedup import (
            ngram_jaccard_near_duplicates,
        )

        # a shingle present in every doc is pruned at max_shingle_docs=2,
        # so the only co-occurrence disappears → no pairs
        df = spark.createDataFrame(
            [(i, "common shared shingle " + str(i)) for i in range(1, 4)],
            "doc_id int, text string",
        )
        out = ngram_jaccard_near_duplicates(
            df, "text", "doc_id", n=3, threshold=0.01, max_shingle_docs=2
        )
        assert out.count() == 0


class TestChunkNearDup:
    @pytest.fixture(scope="class")
    def span_docs(self, spark):
        # two long documents sharing one copied paragraph; a third with
        # unrelated content
        shared = " ".join(f"shared{i} common token{i % 7}" for i in range(40))
        a_only = " ".join(f"alpha{i} words here{i}" for i in range(40))
        b_only = " ".join(f"beta{i} other text{i}" for i in range(40))
        c_only = " ".join(f"gamma{i} unrelated{i}" for i in range(80))
        rows = [
            (1, a_only + " " + shared),
            (2, shared + " " + b_only),
            (3, c_only),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_finds_cross_document_span(self, span_docs):
        out = DD.chunk_near_duplicates(
            span_docs, "text", "doc_id",
            chunk_tokens=40, overlap=8, threshold=0.5,
        ).collect()
        assert out, "copied paragraph must surface as a chunk pair"
        docs = {(r["doc_a"], r["doc_b"]) for r in out}
        assert docs == {("1", "2")}
        for r in out:
            assert r["jaccard"] >= 0.5

    def test_doc_level_pipeline_misses_the_span(self, span_docs):
        # motivation pin: the shared paragraph is <50% of either doc,
        # so document-level near-dup at the same threshold finds nothing
        pairs = DD.minhash_near_duplicates(
            span_docs, "text", "doc_id", threshold=0.5,
        ).collect()
        assert pairs == []

    def test_same_document_pairs_excluded(self, span_docs):
        out = DD.chunk_near_duplicates(
            span_docs, "text", "doc_id",
            chunk_tokens=40, overlap=30, threshold=0.1,
        ).collect()
        for r in out:
            assert r["doc_a"] != r["doc_b"], r

    def test_same_document_pairs_kept_when_asked(self, spark):
        rep = " ".join(["dup token stream alpha beta"] * 30)
        df = spark.createDataFrame([(9, rep)], "doc_id long, text string")
        out = DD.chunk_near_duplicates(
            df, "text", "doc_id",
            chunk_tokens=30, overlap=10, threshold=0.8,
            cross_document_only=False,
        ).collect()
        assert out, "repetitive doc must pair with itself across chunks"
        assert all(r["doc_a"] == r["doc_b"] == "9" for r in out)

    def test_deterministic(self, span_docs):
        k = lambda r: (r["doc_a"], r["chunk_a"], r["doc_b"], r["chunk_b"])
        f = lambda: sorted(
            map(k, DD.chunk_near_duplicates(
                span_docs, "text", "doc_id",
                chunk_tokens=40, overlap=8, threshold=0.5,
            ).collect())
        )
        assert f() == f()


class TestRemoveDuplicateSpans:
    @pytest.fixture(scope="class")
    def copy_docs(self, spark):
        # doc 2 starts with an ALIGNED copy of doc 1, then novel text;
        # doc 3 is unrelated
        d1 = " ".join(f"a{i}" for i in range(40))
        d2 = d1 + " " + " ".join(f"c{i}" for i in range(24))
        d3 = " ".join(f"z{i}" for i in range(30))
        return spark.createDataFrame(
            [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
        )

    def test_first_occurrence_survives_span_removed(self, copy_docs):
        out = {
            r["doc_id"]: r
            for r in DD.remove_duplicate_spans(
                copy_docs, "text", "doc_id",
                chunk_tokens=12, overlap=4, threshold=0.5,
            ).collect()
        }
        d1 = " ".join(f"a{i}" for i in range(40))
        d3 = " ".join(f"z{i}" for i in range(30))
        # doc 1 (earliest) keeps everything
        assert out[1]["text"] == d1 and out[1]["n_dropped"] == 0
        # doc 2 loses the copied prefix, keeps its novel suffix
        assert out[2]["n_dropped"] > 0
        assert "a0" not in out[2]["text"].split()
        assert out[2]["text"].split()[:1] == ["c0"] or out[2][
            "text"
        ].split()[0].startswith("c")
        assert "c23" in out[2]["text"].split()
        # untouched doc round-trips (whitespace-normalized)
        assert out[3]["text"] == d3 and out[3]["n_dropped"] == 0

    def test_no_cross_doc_span_survives_the_pass(self, copy_docs):
        # the e2e invariant: re-running detection on the rebuilt text
        # finds nothing at the same geometry/threshold
        cleaned = DD.remove_duplicate_spans(
            copy_docs, "text", "doc_id",
            chunk_tokens=12, overlap=4, threshold=0.5,
        ).select("doc_id", "text")
        again = DD.chunk_near_duplicates(
            cleaned, "text", "doc_id",
            chunk_tokens=12, overlap=4, threshold=0.5,
        ).collect()
        assert again == [], again

    def test_precomputed_pairs_accepted(self, copy_docs):
        pairs = DD.chunk_near_duplicates(
            copy_docs, "text", "doc_id",
            chunk_tokens=12, overlap=4, threshold=0.5,
        )
        a = DD.remove_duplicate_spans(
            copy_docs, "text", "doc_id",
            chunk_tokens=12, overlap=4, threshold=0.5,
        )
        b = DD.remove_duplicate_spans(
            copy_docs, "text", "doc_id",
            chunk_tokens=12, overlap=4, pairs=pairs,
        )
        ka = sorted((r["doc_id"], r["text"]) for r in a.collect())
        kb = sorted((r["doc_id"], r["text"]) for r in b.collect())
        assert ka == kb

    def test_owned_spans_partition_the_document(self, spark):
        # with no duplicates at all, the owned-span rebuild must be the
        # identity on token sequences for any geometry
        import random

        rng = random.Random(5)
        texts = [
            (i, " ".join(
                f"w{i}_{j}" for j in range(rng.randint(0, 90))
            ))
            for i in range(8)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        for ct, ov in [(12, 4), (10, 0), (7, 6)]:
            out = {
                r["doc_id"]: r["text"]
                for r in DD.remove_duplicate_spans(
                    df, "text", "doc_id",
                    chunk_tokens=ct, overlap=ov, threshold=0.99,
                ).collect()
            }
            for i, t in texts:
                assert out[i] == t, (ct, ov, i)

    def test_numeric_id_order_beats_string_order(self, spark):
        # doc 20005 copies doc 5: "5" > "20005" lexicographically, but
        # the survivor rule must use NUMERIC order — 5 keeps its text
        base = " ".join(f"q{i}" for i in range(36))
        df = spark.createDataFrame(
            [(20005, base), (5, base)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in DD.remove_duplicate_spans(
                df, "text", "doc_id",
                chunk_tokens=12, overlap=4, threshold=0.8,
            ).collect()
        }
        assert out[5]["text"] == base and out[5]["n_dropped"] == 0
        assert out[20005]["text"] == "" and out[20005]["n_dropped"] > 0

    def test_triple_copy_family_keeps_one(self, spark):
        base = " ".join(f"s{i}" for i in range(36))
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, base)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in DD.remove_duplicate_spans(
                df, "text", "doc_id",
                chunk_tokens=12, overlap=4, threshold=0.8,
            ).collect()
        }
        assert out[1]["text"] == base
        assert out[2]["text"] == "" and out[3]["text"] == ""


class TestExactNgramSpans:
    """remove_duplicate_ngram_spans — token-exact posting-list pass
    (Lee et al. 2021 exact-substring family)."""

    def test_straddling_span_missed_by_chunks_removed_exactly(self, spark):
        # a 16-token span duplicated between two otherwise-unique docs,
        # positioned to STRADDLE the chunk grid in both (chunk_tokens=
        # 32, overlap=8 -> step=24; the span covers <= half of every
        # chunk, so no chunk pair reaches the 0.7 Jaccard threshold):
        # chunk-granular removal provably misses it, the exact pass
        # removes precisely those 16 tokens from the later doc
        span = " ".join(f"s{i}" for i in range(16))
        d1 = (
            " ".join(f"a{i}" for i in range(40)) + " " + span + " "
            + " ".join(f"A{i}" for i in range(40))
        )
        d2 = (
            " ".join(f"b{i}" for i in range(17)) + " " + span + " "
            + " ".join(f"B{i}" for i in range(40))
        )
        df = spark.createDataFrame(
            [(1, d1), (2, d2)], "doc_id long, text string"
        )
        chunked = {
            r["doc_id"]: r
            for r in DD.remove_duplicate_spans(
                df, "text", "doc_id",
                chunk_tokens=32, overlap=8, threshold=0.7,
            ).collect()
        }
        assert chunked[1]["n_dropped"] == 0
        assert chunked[2]["n_dropped"] == 0  # the documented gap
        exact = {
            r["doc_id"]: r
            for r in DD.remove_duplicate_ngram_spans(
                df, "text", "doc_id", min_tokens=16
            ).collect()
        }
        assert exact[1]["text"] == d1 and exact[1]["n_removed"] == 0
        assert exact[2]["n_removed"] == 16
        kept = exact[2]["text"].split()
        assert all(not t.startswith("s") for t in kept)
        assert kept[:17] == d2.split()[:17]
        assert kept[17:] == d2.split()[33:]

    def test_identity_on_unique_corpus(self, spark):
        import random

        rng = random.Random(11)
        texts = [
            (i, " ".join(f"u{i}_{j}" for j in range(rng.randint(0, 70))))
            for i in range(6)
        ] + [(99, None)]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in DD.remove_duplicate_ngram_spans(
                df, "text", "doc_id", min_tokens=8
            ).collect()
        }
        for i, t in texts:
            assert out[i]["n_removed"] == 0
            assert out[i]["text"] == (t or "")
        assert out[99]["n_tokens"] == 0

    def test_longer_span_removed_fully(self, spark):
        # a duplicated run LONGER than min_tokens: every window inside
        # it is duplicated, so coverage removes the whole run
        span = " ".join(f"s{i}" for i in range(30))
        d1 = span + " " + " ".join(f"a{i}" for i in range(20))
        d2 = " ".join(f"b{i}" for i in range(9)) + " " + span
        df = spark.createDataFrame(
            [(1, d1), (2, d2)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in DD.remove_duplicate_ngram_spans(
                df, "text", "doc_id", min_tokens=10
            ).collect()
        }
        assert out[1]["n_removed"] == 0
        assert out[2]["n_removed"] == 30
        assert out[2]["text"] == " ".join(f"b{i}" for i in range(9))

    def test_within_doc_repeat_keeps_first(self, spark):
        span = " ".join(f"r{i}" for i in range(12))
        d = span + " x0 x1 x2 " + span
        df = spark.createDataFrame([(1, d)], "doc_id long, text string")
        out = DD.remove_duplicate_ngram_spans(
            df, "text", "doc_id", min_tokens=12
        ).collect()[0]
        assert out["n_removed"] == 12
        assert out["text"] == span + " x0 x1 x2"

    def test_numeric_id_order_beats_string_order(self, spark):
        base = " ".join(f"q{i}" for i in range(20))
        df = spark.createDataFrame(
            [(20005, base), (5, base)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in DD.remove_duplicate_ngram_spans(
                df, "text", "doc_id", min_tokens=20
            ).collect()
        }
        assert out[5]["text"] == base and out[5]["n_removed"] == 0
        assert out[20005]["text"] == "" and out[20005]["n_removed"] == 20

    def test_fast_path_agrees_with_portable(self, spark):
        # the rolling-hash Arrow path must produce the SAME removals
        # as the md5 oracle path on a mixed fixture (cross-doc span,
        # within-doc repeat, straddle, unique docs, numeric ids)
        import random

        rng = random.Random(7)
        span = " ".join(f"s{i}" for i in range(14))
        rows = [
            (5, " ".join(f"a{i}" for i in range(21)) + " " + span),
            (20005, span + " " + " ".join(f"b{i}" for i in range(9))),
            (3, span + " x0 x1 " + span),
            (9, " ".join(f"u{j}" for j in range(rng.randint(30, 60)))),
            (11, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(min_tokens=12)
        slow = sorted(
            map(tuple, DD.remove_duplicate_ngram_spans(
                df, "text", "doc_id", portable=True, **kw).collect())
        )
        fast = sorted(
            map(tuple, DD.remove_duplicate_ngram_spans(
                df, "text", "doc_id", portable=False, **kw).collect())
        )
        assert fast == slow

    def test_guard_and_short_docs(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="min_tokens"):
            DD.remove_duplicate_ngram_spans(df, "text", "doc_id",
                                            min_tokens=1)
        # docs shorter than the window are untouched even if identical
        out = {
            r["doc_id"]: r
            for r in DD.remove_duplicate_ngram_spans(
                df, "text", "doc_id", min_tokens=8
            ).collect()
        }
        assert out[1]["text"] == "a b c" and out[2]["text"] == "a b c"


class TestMinhashJoin:
    @pytest.fixture(scope="class")
    def two_tables(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog tonight"),
                (2, "completely unrelated text about spark engines here"),
                (3, "pack my box with five dozen liquor jugs right now"),
            ],
            "doc_id long, text string",
        )
        probes = spark.createDataFrame(
            [
                # near-copy of corpus doc 1 (first word dropped)
                (100, "quick brown fox jumps over the lazy dog tonight"),
                # exact copy of corpus doc 3
                (101, "pack my box with five dozen liquor jugs right now"),
                # matches nothing
                (102, "zebra quantum lattice perturbation overture"),
            ],
            "probe_id long, text string",
        )
        return corpus, probes

    def test_cross_table_matches(self, two_tables):
        corpus, probes = two_tables
        out = DD.minhash_join(
            corpus, probes, "text", "text", "doc_id", "probe_id",
            threshold=0.4,
        ).collect()
        got = {(r["doc_id"], r["probe_id"]): r["jaccard"] for r in out}
        assert (3, 101) in got and got[(3, 101)] == 1.0
        assert (1, 100) in got and 0.4 <= got[(1, 100)] < 1.0
        assert all(p != 102 for _, p in got)

    def test_same_id_name_rejected(self, two_tables):
        corpus, probes = two_tables
        with pytest.raises(ValueError, match="distinct names"):
            DD.minhash_join(
                corpus, corpus, "text", "text", "doc_id", "doc_id"
            )

    def test_agrees_with_self_join_on_union(self, two_tables):
        # cross-table pairs == the (corpus x probes) slice of the
        # self-join over the union (id spaces disjoint)
        corpus, probes = two_tables
        u = corpus.unionByName(
            probes.select(F.col("probe_id").alias("doc_id"), "text")
        )
        self_pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in DD.minhash_near_duplicates(
                u, "text", "doc_id", threshold=0.4
            ).collect()
            if r["id_a"] < 100 <= r["id_b"]
        }
        cross = {
            (r["doc_id"], r["probe_id"]): r["jaccard"]
            for r in DD.minhash_join(
                corpus, probes, "text", "text", "doc_id", "probe_id",
                threshold=0.4,
            ).collect()
        }
        assert cross == self_pairs


class TestEmbeddingJoin:
    @pytest.fixture(scope="class")
    def two_vec_tables(self, spark):
        import numpy as np

        rng = np.random.default_rng(5)
        base = rng.normal(size=(6, 16))
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in base[i]]) for i in range(6)],
            "vid long, embedding array<double>",
        )
        # probe 0 = tiny perturbation of corpus 2; probe 1 = far
        probes = spark.createDataFrame(
            [
                (100, [float(x) for x in base[2] + 0.001]),
                (101, [float(x) for x in -base[3]]),
            ],
            "pid long, embedding array<double>",
        )
        return corpus, probes

    def test_cross_match(self, two_vec_tables):
        corpus, probes = two_vec_tables
        out = DD.embedding_join(
            corpus, probes, "vid", "pid", threshold=0.95,
        ).collect()
        got = {(r["vid"], r["pid"]): r["cosine"] for r in out}
        assert (2, 100) in got and got[(2, 100)] > 0.99
        assert all(p != 101 for _, p in got)  # anti-parallel never matches

    def test_agrees_with_exact_cosine(self, two_vec_tables):
        import numpy as np

        corpus, probes = two_vec_tables
        # threshold 0: every bucket-colliding pair surfaces; each
        # cosine must equal numpy's
        out = DD.embedding_join(
            corpus, probes, "vid", "pid", threshold=-1.0,
        ).collect()
        cv = {r["vid"]: np.array(r["embedding"])
              for r in corpus.collect()}
        pv = {r["pid"]: np.array(r["embedding"])
              for r in probes.collect()}
        for r in out:
            a, b = cv[r["vid"]], pv[r["pid"]]
            exp = float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))
            assert r["cosine"] == pytest.approx(round(exp, 6), abs=2e-6)

    def test_width_mismatch_raises(self, two_vec_tables, spark):
        corpus, _ = two_vec_tables
        bad = spark.createDataFrame(
            [(1, [1.0, 2.0])], "pid long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="widths differ"):
            DD.embedding_join(corpus, bad, "vid", "pid")

    def test_empty_or_all_null_side_raises_clearly(
        self, two_vec_tables, spark
    ):
        # ADVICE r5: .first() on an empty/NULL-first side gave dim
        # None and a confusing downstream failure
        corpus, _ = two_vec_tables
        empty = spark.createDataFrame(
            [], "pid long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="no non-NULL"):
            DD.embedding_join(corpus, empty, "vid", "pid")
        allnull = spark.createDataFrame(
            [(1, None)], "pid long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="no non-NULL"):
            DD.embedding_join(corpus, allnull, "vid", "pid")

    def test_null_first_vector_still_probes_width(self, spark):
        # a NULL FIRST embedding must not poison the width probe
        left = spark.createDataFrame(
            [(1, None), (2, [1.0, 0.0, 0.0])],
            "vid long, embedding array<double>",
        )
        right = spark.createDataFrame(
            [(9, [1.0, 0.0, 0.0])], "pid long, embedding array<double>"
        )
        out = DD.embedding_join(
            left, right, "vid", "pid", threshold=0.9
        ).collect()
        assert [(r["vid"], r["pid"]) for r in out] == [(2, 9)]


class TestNgramNovelty:
    def test_novelty_fractions(self, spark):
        shared = "one two three four five six seven eight nine ten"
        rows = [
            (1, shared),                               # fully duplicated
            (2, shared),                               # by doc 1
            (3, "totally unique words only here now " +
                "alpha beta gamma delta"),             # fully novel
            (4, shared + " plus a fresh unique tail here"),  # mixed
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in DD.ngram_novelty(df, "text", "doc_id", n=3).collect()
        }
        assert out[1]["novelty"] == 0.0  # every shingle also in 2 (+4)
        assert out[3]["novelty"] == 1.0
        assert 0.0 < out[4]["novelty"] < 1.0
        assert out[4]["n_novel"] + (
            out[4]["n_shingles"] - out[4]["n_novel"]
        ) == out[4]["n_shingles"]

    def test_matches_python_reference(self, spark):
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text").where(F.col("doc_id") < 30)
        out = {
            r["doc_id"]: (r["n_shingles"], r["n_novel"])
            for r in DD.ngram_novelty(docs, "text", "doc_id", n=5).collect()
        }
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}

        def shingles(t):
            w = t.strip().split()
            if len(w) < 5:
                return {" ".join(w)}
            return {" ".join(w[i:i + 5]) for i in range(len(w) - 4)}

        all_sh = {}
        for d, t in texts.items():
            for s in shingles(t):
                all_sh[s] = all_sh.get(s, 0) + 1
        for d, t in texts.items():
            sset = shingles(t)
            novel = sum(1 for s in sset if all_sh[s] == 1)
            assert out[d] == (len(sset), novel), d


class TestMinhashFastPath:
    def test_hashed_path_agrees_on_clear_pairs(self, spark):
        # both hash families must find the same clear near-dups and
        # produce IDENTICAL jaccard values (the verify step is exact
        # and shared); only borderline LSH candidacy may differ
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "quick brown fox jumps over the lazy dog today"),
                (3, "entirely different content about engines and planes"),
            ],
            "doc_id long, text string",
        )
        md5p = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in DD.minhash_near_duplicates(
                docs, "text", "doc_id", threshold=0.5
            ).collect()
        }
        fast = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in DD.minhash_near_duplicates(
                docs, "text", "doc_id", threshold=0.5, portable=False
            ).collect()
        }
        assert (1, 2) in md5p and (1, 2) in fast
        assert fast[(1, 2)] == md5p[(1, 2)]  # exact verify is shared
        assert all(3 not in k for k in fast)

    def test_long_signatures(self, spark):
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        sig = DD.minhash_signatures_agg(
            docs, "text", "doc_id", num_hashes=4, portable=False
        )
        row = sig.collect()[0]
        assert all(isinstance(row[f"h{i}"], int) for i in range(4))
        # deterministic
        again = DD.minhash_signatures_agg(
            docs, "text", "doc_id", num_hashes=4, portable=False
        ).collect()[0]
        assert [row[f"h{i}"] for i in range(4)] == [
            again[f"h{i}"] for i in range(4)
        ]


class TestLshTuning:
    """r8: the datasketch-style (bands, rows) S-curve optimizer."""

    def test_factorization_and_monotonicity(self):
        from pandas_weights_spark.functions.dedup import lsh_tuning

        b1, r1 = lsh_tuning(0.5, 128)
        assert b1 * r1 == 128
        # lower thresholds want MORE bands (catch lower similarities);
        # higher thresholds want LONGER rows (stricter bands)
        b_lo, _ = lsh_tuning(0.2, 128)
        b_hi, _ = lsh_tuning(0.9, 128)
        assert b_lo >= b1 >= b_hi

    def test_curve_crosses_near_threshold(self):
        from pandas_weights_spark.functions.dedup import lsh_tuning

        t = 0.5
        b, r = lsh_tuning(t, 256)
        curve = lambda s: 1.0 - (1.0 - s**r) ** b
        # the 50%-candidate point lands near the target threshold
        # (the defining property of a good banding)
        lo, hi = t - 0.18, t + 0.18
        assert curve(lo) < 0.5 < curve(hi)

    def test_false_negative_weight_shifts_recall(self):
        from pandas_weights_spark.functions.dedup import lsh_tuning

        b_recall, r_recall = lsh_tuning(
            0.6, 128, false_negative_weight=0.95
        )
        b_prec, r_prec = lsh_tuning(
            0.6, 128, false_negative_weight=0.05
        )
        curve = lambda b, r, s: 1.0 - (1.0 - s**r) ** b
        # recall-weighted tuning catches MORE at the threshold
        assert curve(b_recall, r_recall, 0.6) >= curve(b_prec, r_prec, 0.6)

    def test_feeds_minhash_near_duplicates(self, spark):
        from pandas_weights_spark.functions.dedup import (
            lsh_tuning,
            minhash_near_duplicates,
        )

        b, r = lsh_tuning(0.4, 64)
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "completely unrelated text about spark plans"),
            ],
            "doc_id long, text string",
        )
        pairs = minhash_near_duplicates(
            docs, "text", "doc_id", num_hashes=64, bands=b,
            threshold=0.4,
        )
        cols = pairs.columns
        got = {(p[cols[0]], p[cols[1]]) for p in pairs.collect()}
        assert (1, 2) in got and len(got) == 1

    def test_guards(self):
        from pandas_weights_spark.functions.dedup import lsh_tuning

        import pytest as _pt

        with _pt.raises(ValueError, match="threshold"):
            lsh_tuning(1.5, 64)
        with _pt.raises(ValueError, match="num_hashes"):
            lsh_tuning(0.5, 1)


class TestSnapshotDelta:
    """r10: snapshot_delta — incremental-recrawl status classification
    (added/removed/changed/unchanged) via full-outer key join."""

    def test_all_four_statuses(self, spark):
        from pandas_weights_spark.functions.dedup import snapshot_delta

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["k", "fp"]
        )
        new = spark.createDataFrame(
            [(2, "b"), (3, "C"), (4, "d")], ["k", "fp"]
        )
        got = {
            r["k"]: (r["old_fp"], r["new_fp"], r["status"])
            for r in snapshot_delta(old, new, ["k"], "fp").collect()
        }
        assert got == {
            1: ("a", None, "removed"),
            2: ("b", "b", "unchanged"),
            3: ("c", "C", "changed"),
            4: (None, "d", "added"),
        }

    def test_null_identity_not_absence(self, spark):
        from pandas_weights_spark.functions.dedup import snapshot_delta

        # a PRESENT row with a NULL fingerprint must not read as
        # added/removed; two NULLs compare equal (null-safe)
        old = spark.createDataFrame(
            [(1, None), (2, None), (3, "x")],
            "k int, fp string",
        )
        new = spark.createDataFrame(
            [(1, None), (2, "y"), (3, None)],
            "k int, fp string",
        )
        got = {
            r["k"]: r["status"]
            for r in snapshot_delta(old, new, ["k"], "fp").collect()
        }
        assert got == {1: "unchanged", 2: "changed", 3: "changed"}

    def test_composite_keys_and_validation(self, spark):
        from pandas_weights_spark.functions.dedup import snapshot_delta

        old = spark.createDataFrame(
            [("h", "/a", "x")], ["host", "path", "fp"]
        )
        new = spark.createDataFrame(
            [("h", "/a", "x"), ("h", "/b", "y")],
            ["host", "path", "fp"],
        )
        rows = snapshot_delta(
            old, new, ["host", "path"], "fp"
        ).orderBy("path").collect()
        assert [r["status"] for r in rows] == ["unchanged", "added"]
        assert rows[0]["host"] == "h" and rows[1]["path"] == "/b"
        with pytest.raises(ValueError, match="at least one column"):
            snapshot_delta(old, new, [], "fp")


class TestMinhashDedupIncremental:
    """r12: snapshot-incremental NEAR-dup (the MinHash analog of
    exact_dedup_incremental) — three-snapshot lifecycle: cross-
    snapshot near-dups caught against persisted signature state,
    state accumulates, re-crawls stay suppressed."""

    BASE = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank every single morning without fail"
    )
    NEAR = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank every single evening without fail"
    )
    OTHER = (
        "completely different text about spark partitions shuffling "
        "data across executors during wide transformations"
    )
    KW = dict(
        threshold=0.5, num_hashes=16, bands=8, shingle_size=3,
    )

    def _run(self, spark, rows, state=None):
        from pandas_weights_spark.functions.dedup import (
            minhash_dedup_incremental,
        )

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return minhash_dedup_incremental(
            df, "text", "doc_id", state=state, **self.KW
        )

    def test_three_snapshot_lifecycle(self, spark):
        # snapshot 1: a batch with an internal near-dup pair
        s1, st1 = self._run(
            spark, [(1, self.BASE), (2, self.NEAR), (3, self.OTHER)]
        )
        ids1 = {r["doc_id"] for r in s1.collect()}
        assert ids1 == {1, 3}  # 2 lost to 1 (min-id rule)
        # state accumulates EVERY batch doc (incl. the loser)
        assert {r["doc_id"] for r in st1.collect()} == {1, 2, 3}

        # snapshot 2: near-dup of history drops, novel survives
        s2, st2 = self._run(
            spark,
            [(10, self.NEAR), (11, "entirely novel words here that "
              "share no shingles with anything previously crawled")],
            state=st1,
        )
        ids2 = {r["doc_id"] for r in s2.collect()}
        assert ids2 == {11}  # 10 ~ history (1/2)
        assert {r["doc_id"] for r in st2.collect()} == {1, 2, 3, 10, 11}

        # snapshot 3: exact re-crawl of snapshot-1 content suppressed
        s3, st3 = self._run(
            spark, [(20, self.BASE), (21, self.OTHER)], state=st2
        )
        assert s3.count() == 0
        assert st3.count() == 7

    def test_first_batch_matches_oneshot_kernel(self, spark):
        # without state the within-batch drop set equals the verified
        # pairs of the oracle-checked one-shot pipeline
        from pandas_weights_spark.functions.dedup import (
            minhash_near_duplicates,
        )

        rows = [
            (1, self.BASE), (2, self.NEAR), (3, self.OTHER),
            (4, self.BASE + " extra tail words"),
        ]
        s, _ = self._run(spark, rows)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = minhash_near_duplicates(
            df, "text", "doc_id", **self.KW
        ).collect()
        losers = {r["id_b"] for r in pairs}
        assert {r["doc_id"] for r in s.collect()} == (
            {1, 2, 3, 4} - losers
        )

    def test_state_wins_on_id_recrawl(self, spark):
        # same id re-crawled with CHANGED content: state keeps the
        # original signature (deterministic), no duplicate state row
        s1, st1 = self._run(spark, [(1, self.BASE)])
        _s2, st2 = self._run(spark, [(1, self.OTHER)], state=st1)
        rows = st2.collect()
        assert len(rows) == 1
        orig = st1.first()
        kept = st2.first()
        assert kept["sig"] == orig["sig"]

    def test_band_width_mismatch_fails_loudly(self, spark):
        from pandas_weights_spark.functions.dedup import (
            minhash_dedup_incremental,
        )

        df = spark.createDataFrame(
            [(1, self.BASE)], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="divide"):
            minhash_dedup_incremental(
                df, "text", "doc_id", num_hashes=16, bands=5
            )

    def test_survivors_keep_original_columns(self, spark):
        from pandas_weights_spark.functions.dedup import (
            minhash_dedup_incremental,
        )

        df = spark.createDataFrame(
            [(1, self.BASE, "web")], "doc_id long, text string, src string"
        )
        s, st = minhash_dedup_incremental(
            df, "text", "doc_id", **self.KW
        )
        assert s.columns == ["doc_id", "text", "src"]
        assert set(st.columns) == {"doc_id", "sig", "sh"}

    def test_state_is_digest_only_and_bounded(self, spark):
        # r13 (VERDICT r12 wrong #2): persisted state must carry NO
        # text — 16-char md5-prefix digests on the portable path
        # (≤16 B/shingle), xxhash64 longs on the fast path (8 B) —
        # so state size is bounded regardless of corpus text bytes.
        from pandas_weights_spark.functions.dedup import (
            minhash_dedup_incremental,
        )

        rows = [(1, self.BASE), (2, self.NEAR), (3, self.OTHER)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        _, st = minhash_dedup_incremental(
            df, "text", "doc_id", **self.KW
        )
        el = dict(st.schema["sh"].dataType.jsonValue())["elementType"]
        assert el == "string"
        for r in st.collect():
            assert r["sh"], r
            for d in r["sh"]:
                assert len(d) == 16 and all(
                    c in "0123456789abcdef" for c in d
                ), d
        _, stf = minhash_dedup_incremental(
            df, "text", "doc_id", portable=False, **self.KW
        )
        elf = dict(stf.schema["sh"].dataType.jsonValue())["elementType"]
        assert elf == "long"

    def test_store_shingles_escape_hatch(self, spark):
        # store_shingles=True keeps raw shingle text in state (the
        # bit-exact-text-Jaccard mode) and the verify still works;
        # drop decisions match the digest mode on this fixture
        # (hashing is Jaccard-preserving absent 64-bit collisions)
        from pandas_weights_spark.functions.dedup import (
            minhash_dedup_incremental,
        )

        rows = [(1, self.BASE), (2, self.NEAR), (3, self.OTHER)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        s_d, st_d = minhash_dedup_incremental(
            df, "text", "doc_id", **self.KW
        )
        s_t, st_t = minhash_dedup_incremental(
            df, "text", "doc_id", store_shingles=True, **self.KW
        )
        assert {r["doc_id"] for r in s_t.collect()} == {
            r["doc_id"] for r in s_d.collect()
        }
        # raw mode really carries the text (space-joined trigrams)
        sample = st_t.where(F.col("doc_id") == 1).first()["sh"]
        assert any("quick brown fox" in x for x in sample)
        # and the second snapshot verifies against text state too
        s2_t, _ = minhash_dedup_incremental(
            spark.createDataFrame(
                [(10, self.NEAR)], "doc_id long, text string"
            ),
            "text",
            "doc_id",
            state=st_t,
            store_shingles=True,
            **self.KW,
        )
        assert s2_t.count() == 0

    def test_semantic_three_snapshot_lifecycle(self, spark):
        # r13: the embedding analog — drop vs history cell-locally,
        # state accumulates (losers included), re-crawls suppressed,
        # explicit centroids shared across snapshots
        import math

        from pandas_weights_spark.functions.dedup import (
            semantic_dedup_incremental,
        )

        cents = [[1.0, 0.0], [0.0, 1.0]]
        kw = dict(centroids=cents, threshold=0.9)

        def run(rows, state=None):
            df = spark.createDataFrame(
                rows, "vid long, v array<double>"
            )
            return semantic_dedup_incremental(
                df, "v", "vid", state=state, **kw
            )

        c10 = [math.cos(math.radians(10)), math.sin(math.radians(10))]
        c35 = [math.cos(math.radians(35)), math.sin(math.radians(35))]
        # snapshot 1: 2 loses to 1 (cos 10° ≈ .985 ≥ .9, min-id);
        # 3 is orthogonal (cell 1), survives
        s1, st1 = run([(1, [1.0, 0.0]), (2, c10), (3, [0.0, 1.0])])
        assert {r["vid"] for r in s1.collect()} == {1, 3}
        assert {r["vid"] for r in st1.collect()} == {1, 2, 3}

        # snapshot 2: 10 (35°, still cell 0) matches ONLY the
        # batch-1 LOSER (cos vs 2 = cos 25° ≈ .906 ≥ .9, vs 1 =
        # cos 35° ≈ .819 < .9) -> drops, proving losers stay in
        # state; 11 is novel (cell 1, anti-parallel cos -1)
        s2, st2 = run([(10, c35), (11, [0.0, -2.0])], state=st1)
        assert {r["vid"] for r in s2.collect()} == {11}
        assert {r["vid"] for r in st2.collect()} == {1, 2, 3, 10, 11}

        # snapshot 3: scaled re-crawl of 1 suppressed by history;
        # NULL vector passes through untouched and never enters state
        s3, st3 = run([(20, [5.0, 0.0]), (21, None)], state=st2)
        assert {r["vid"] for r in s3.collect()} == {21}
        assert {r["vid"] for r in st3.collect()} == {
            1, 2, 3, 10, 11, 20,
        }

    def test_semantic_state_schema_and_id_collision(self, spark):
        from pandas_weights_spark.functions.dedup import (
            semantic_dedup_incremental,
        )

        cents = [[1.0, 0.0], [0.0, 1.0]]
        df1 = spark.createDataFrame(
            [(1, [3.0, 0.0])], "vid long, v array<double>"
        )
        _, st1 = semantic_dedup_incremental(
            df1, "v", "vid", centroids=cents
        )
        assert st1.columns == ["vid", "cell", "v", "norm"]
        row = st1.first()
        assert row["cell"] == 0 and row["norm"] == 3.0
        # re-crawl of the same id with CHANGED vector: state keeps
        # the original (deterministic), one row per id
        df2 = spark.createDataFrame(
            [(1, [0.0, 7.0])], "vid long, v array<double>"
        )
        _, st2 = semantic_dedup_incremental(
            df2, "v", "vid", centroids=cents, state=st1
        )
        rows = st2.collect()
        assert len(rows) == 1 and rows[0]["v"] == [3.0, 0.0]

    def test_semantic_arrow_assignment_parity(self, spark):
        # arrow=True (batched-matmul assignment) must reach the same
        # survivor set and state cells as the JVM argmax
        import math

        from pandas_weights_spark.functions.dedup import (
            semantic_dedup_incremental,
        )

        cents = [[1.0, 0.0], [0.0, 1.0]]
        rows = [
            (1, [1.0, 0.0]),
            (2, [math.cos(0.4), math.sin(0.4)]),
            (3, [0.0, 1.0]),
            (4, [2.0, 0.1]),
        ]
        df = spark.createDataFrame(rows, "vid long, v array<double>")
        s_j, st_j = semantic_dedup_incremental(
            df, "v", "vid", centroids=cents, threshold=0.9
        )
        s_a, st_a = semantic_dedup_incremental(
            df, "v", "vid", centroids=cents, threshold=0.9, arrow=True
        )
        assert {r["vid"] for r in s_a.collect()} == {
            r["vid"] for r in s_j.collect()
        }
        assert {
            (r["vid"], r["cell"]) for r in st_a.collect()
        } == {(r["vid"], r["cell"]) for r in st_j.collect()}

    def test_digest_state_signatures_match_standalone(self, spark):
        # the fused explode+agg must produce BIT-EQUAL signatures to
        # minhash_signatures_agg (the oracle-checked formulation)
        from pandas_weights_spark.functions.dedup import (
            minhash_dedup_incremental,
            minhash_signatures_agg,
        )

        rows = [(1, self.BASE), (2, self.NEAR), (3, self.OTHER)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        _, st = minhash_dedup_incremental(
            df, "text", "doc_id", **self.KW
        )
        got = {r["doc_id"]: r["sig"] for r in st.collect()}
        ref = minhash_signatures_agg(
            df, "text", "doc_id", 16, 3, portable=True
        ).collect()
        want = {
            r["doc_id"]: [r[f"h{i}"] for i in range(16)] for r in ref
        }
        assert got == want

    def test_stale_text_state_fails_loudly(self, spark):
        # r14 (ADVICE r13): r12-format raw-shingle state is
        # array<string> like md5-prefix digests — without the probe
        # guard it would flow through with ~0 Jaccard intersections
        # and cross-snapshot suppression silently OFF
        from pandas_weights_spark.functions.dedup import (
            minhash_dedup_incremental,
        )

        df = spark.createDataFrame(
            [(1, self.BASE)], "doc_id long, text string"
        )
        # build a digest state, then fake the r12 format by replacing
        # digests with raw shingle text
        _, st = minhash_dedup_incremental(
            df, "text", "doc_id", **self.KW
        )
        legacy = st.withColumn(
            "sh",
            F.array(F.lit("the quick brown"), F.lit("quick brown fox")),
        )
        batch = spark.createDataFrame(
            [(2, self.NEAR)], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="pre-r13 raw-shingle"):
            minhash_dedup_incremental(
                batch, "text", "doc_id", state=legacy, **self.KW
            ) and None
        # digest state passes the guard; text state passes under the
        # store_shingles escape hatch (no guard on that path)
        s, _ = minhash_dedup_incremental(
            batch, "text", "doc_id", state=st, **self.KW
        )
        assert s.count() == 0  # suppression actually ON


class TestBandKernel:
    """Every MinHash pipeline keys its bands with one formula
    (``_band_keys``) and joins buckets with one join; the streaming
    candidates, ``lsh_candidate_pairs`` over row-local signatures and
    ``minhash_near_duplicates`` over aggregation-form signatures must
    therefore see the same buckets."""

    ROWS = [
        (1, "the quick brown fox jumps over the lazy dog tonight again"),
        (2, "quick brown fox jumps over the lazy dog tonight again"),
        (3, "completely different content about spark engines here"),
        (4, "tiny doc"),  # shorter than shingle_size: one shingle
        (5, "the quick brown fox jumps over the lazy dog tonight again"),
        (6, "unrelated zebra quantum lattice overture text words"),
    ]

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(self.ROWS, "doc_id long, text string")

    def test_one_band_formula(self, spark, docs, tmp_path):
        from pandas_weights_spark.streaming import (
            streaming_neardup_candidates,
        )

        sig = DD.minhash_signature(F.col("text"))

        def sliced(a):
            # the '|'-joined slice form streaming state was keyed with
            return F.array(
                *[
                    F.md5(F.concat_ws("|", F.slice(a, b * 4 + 1, 4)))
                    for b in range(4)
                ]
            )

        # a signature column with NULL elements: concat_ws skips them
        # in both forms
        holey = F.when(
            F.col("doc_id") == 3,
            F.array(
                *[F.lit(None).cast("string")] * 5,
                *[F.lit(str(i)) for i in range(11)],
            ),
        ).otherwise(sig)
        rows = docs.select(
            "doc_id",
            DD._band_keys(sig, 4, 4, True).alias("k"),
            sliced(sig).alias("s"),
            DD._band_keys(holey, 4, 4, True).alias("hk"),
            sliced(holey).alias("hs"),
        ).collect()
        assert all(r["k"] == r["s"] and r["hk"] == r["hs"] for r in rows)
        # aggregation-form signatures band to the same keys, the short
        # doc's single whole-text shingle included
        h = F.array(*[F.col(f"h{i}") for i in range(16)])
        agg = {
            r["doc_id"]: r["k"]
            for r in DD.minhash_signatures_agg(docs, "text", "doc_id")
            .select("doc_id", DD._band_keys(h, 4, 4, True).alias("k"))
            .collect()
        }
        assert agg == {r["doc_id"]: r["k"] for r in rows}

        lsh = {
            (r["id_a"], r["id_b"])
            for r in DD.lsh_candidate_pairs(
                docs.select("doc_id", sig.alias("minhash")), "doc_id",
                sig_len=16,
            ).collect()
        }
        mnd = {
            (r["id_a"], r["id_b"])
            for r in DD.minhash_near_duplicates(
                docs, "text", "doc_id", threshold=0.0
            ).collect()
        }
        src = tmp_path / "src"
        docs.coalesce(1).write.parquet(str(src))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src))
        )
        q = (
            streaming_neardup_candidates(stream, "text", "doc_id")
            .writeStream.format("memory")
            .queryName("band_kernel_pin")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = {
            tuple(sorted((int(r["id_new"]), int(r["id_old"]))))
            for r in spark.sql("SELECT * FROM band_kernel_pin").collect()
        }
        assert (1, 5) in lsh
        assert lsh == mnd == streamed

    def test_plan_shapes(self, spark, docs):
        # (hash exchanges, joins, aggregates) of each pipeline's
        # physical plan, pinned at their values before the MinHash
        # pipelines shared one kernel
        import re

        from pandas_weights_spark.plans import physical_plan

        other = docs.select(
            (F.col("doc_id") + 100).alias("pid"), F.col("text").alias("pt")
        )
        shapes = {
            "neardup": DD.minhash_near_duplicates(docs, "text", "doc_id"),
            "neardup_xxh": DD.minhash_near_duplicates(
                docs, "text", "doc_id", portable=False
            ),
            "join": DD.minhash_join(
                docs, other, "text", "pt", "doc_id", "pid"
            ),
            "chunk": DD.chunk_near_duplicates(
                docs, "text", "doc_id", chunk_tokens=4, overlap=1
            ),
        }
        for ck in (True, False):
            s1, st1 = DD.minhash_dedup_incremental(
                docs, "text", "doc_id", checkpoint=ck
            )
            s2, _ = DD.minhash_dedup_incremental(
                other.toDF("doc_id", "text"), "text", "doc_id",
                state=st1, checkpoint=ck,
            )
            shapes[f"incr1_ck{ck}"] = s1
            shapes[f"incr2_ck{ck}"] = s2

        def shape(df):
            p = physical_plan(df)
            return (
                p.count("Exchange hashpartitioning"),
                len(re.findall(r"\w+Join ", p)),
                len(re.findall(r"\w*Aggregate\(", p)),
            )

        assert {k: shape(df) for k, df in shapes.items()} == {
            "neardup": (9, 3, 6),
            "neardup_xxh": (9, 3, 6),
            "join": (9, 3, 6),
            "chunk": (9, 3, 6),
            "incr1_ckTrue": (8, 4, 4),
            "incr2_ckTrue": (34, 16, 16),
            "incr1_ckFalse": (14, 8, 12),
            "incr2_ckFalse": (56, 32, 48),
        }
