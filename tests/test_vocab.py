"""Vocabulary building + document encoding (functions/vocab.py)."""

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark.functions.vocab import (
    build_vocabulary,
    encode_documents,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the dog sat"),
            (2, "a cat and a dog"),
        ],
        "doc_id long, text string",
    )


class TestBuildVocabulary:
    def test_masses_and_ids(self, corpus):
        v = {r["term"]: r for r in build_vocabulary(corpus, "text").collect()}
        assert v["the"]["mass"] == 3.0
        assert v["the"]["term_id"] == 0  # highest mass
        assert v["cat"]["mass"] == 2.0 and v["sat"]["mass"] == 2.0
        # ties rank by term text: a(2) < cat(2) < dog(2) < sat(2)
        tied = sorted(
            [t for t, r in v.items() if r["mass"] == 2.0],
        )
        ids = [v[t]["term_id"] for t in tied]
        assert ids == sorted(ids)

    def test_max_size_and_min_mass(self, corpus):
        top3 = build_vocabulary(corpus, "text", max_size=3).collect()
        assert len(top3) == 3
        heavy = build_vocabulary(corpus, "text", min_mass=2.0).collect()
        assert all(r["mass"] >= 2.0 for r in heavy)
        assert {r["term"] for r in heavy} == {"the", "a", "cat", "dog", "sat"}

    def test_weighted_mass(self, corpus):
        v = {
            r["term"]: r["mass"]
            for r in build_vocabulary(
                corpus, "text", weight=F.col("doc_id").cast("double")
            ).collect()
        }
        # 'dog' appears in docs 1 and 2 -> mass 1+2 = 3
        assert v["dog"] == 3.0

    def test_deterministic(self, corpus):
        a = sorted(map(tuple, build_vocabulary(corpus, "text").collect()))
        b = sorted(map(tuple, build_vocabulary(corpus, "text").collect()))
        assert a == b


class TestEncodeDocuments:
    def test_roundtrip_order_preserved(self, corpus):
        vocab = build_vocabulary(corpus, "text")
        id_of = {r["term"]: r["term_id"] for r in vocab.collect()}
        enc = {
            r["doc_id"]: r
            for r in encode_documents(corpus, "text", "doc_id", vocab).collect()
        }
        assert enc[0]["token_ids"] == [
            id_of[t] for t in "the cat sat on the mat".split()
        ]
        assert enc[0]["n_tokens"] == 6 and enc[0]["n_oov"] == 0

    def test_oov_and_drop(self, spark, corpus):
        vocab = build_vocabulary(corpus, "text", max_size=2)  # the, a? top2
        extra = spark.createDataFrame(
            [(9, "the zebra")], "doc_id long, text string"
        )
        enc = encode_documents(extra, "text", "doc_id", vocab).collect()[0]
        assert enc["token_ids"][0] != -1 and enc["token_ids"][1] == -1
        assert enc["n_oov"] == 1
        dropped = encode_documents(
            extra, "text", "doc_id", vocab, drop_oov=True
        ).collect()[0]
        assert -1 not in dropped["token_ids"]
        assert len(dropped["token_ids"]) == 1

    def test_broadcast_plan(self, corpus):
        vocab = build_vocabulary(corpus, "text")
        df = encode_documents(corpus, "text", "doc_id", vocab)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan, plan
        assert "BatchEvalPython" not in plan


class TestUnigramLM:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        texts = (
            ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        )
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        ), texts

    def test_seed_table_matches_reference(self, corpus):
        from pandas_weights_spark.functions.vocab import unigram_seed_table

        df, texts = corpus
        wf = {}
        for t in texts:
            w = t.lower()
            wf[w] = wf.get(w, 0) + 1
        exp = {}
        for w, f in wf.items():
            for i in range(len(w)):
                for ln in range(1, min(4, len(w) - i) + 1):
                    exp[w[i:i + ln]] = exp.get(w[i:i + ln], 0) + f
        got = {
            r["piece"]: r["mass"]
            for r in unigram_seed_table(
                df, "text", max_piece_len=4, seed_size=10_000
            ).collect()
        }
        assert got == {k: float(v) for k, v in exp.items()}

    def test_seed_top_cut_deterministic(self, corpus):
        from pandas_weights_spark.functions.vocab import unigram_seed_table

        df, _ = corpus
        a = [tuple(r) for r in unigram_seed_table(
            df, "text", max_piece_len=4, seed_size=15
        ).collect()]
        b = [tuple(r) for r in unigram_seed_table(
            df, "text", max_piece_len=4, seed_size=15
        ).collect()]
        assert a == b and len(a) == 15
        masses = [m for _, m in a]
        assert masses == sorted(masses, reverse=True)

    def test_expected_counts_match_enumeration(self):
        # brute-force: enumerate every segmentation of each word,
        # weight by product of piece probs, sum piece counts
        import itertools
        import math

        from pandas_weights_spark.functions.vocab import (
            _em_expected_counts,
        )

        logp = {
            "a": math.log(0.3), "b": math.log(0.2),
            "ab": math.log(0.25), "ba": math.log(0.15),
            "aba": math.log(0.1),
        }
        wf = [("aba", 2.0), ("ab", 1.0), ("bab", 3.0)]

        def segmentations(word):
            n = len(word)
            if n == 0:
                return [[]]
            out = []
            for ln in range(1, min(3, n) + 1):
                p = word[:ln]
                if p in logp:
                    for rest in segmentations(word[ln:]):
                        out.append([p] + rest)
            return out

        exp = {}
        for word, f in wf:
            segs = segmentations(word)
            probs = [
                math.exp(sum(logp[p] for p in s)) for s in segs
            ]
            z = sum(probs)
            for s, pr in zip(segs, probs):
                for p in s:
                    exp[p] = exp.get(p, 0.0) + f * pr / z
        got = _em_expected_counts(wf, logp, 3)
        assert set(got) == set(exp)
        for p in exp:
            assert got[p] == pytest.approx(exp[p], rel=1e-12), p

    def test_train_deterministic_and_normalized(self, corpus):
        import math

        from pandas_weights_spark.functions.vocab import train_unigram_lm

        df, _ = corpus
        a = [tuple(r) for r in train_unigram_lm(
            df, "text", vocab_size=12, max_piece_len=4, seed_size=50,
        ).orderBy("piece").collect()]
        b = [tuple(r) for r in train_unigram_lm(
            df, "text", vocab_size=12, max_piece_len=4, seed_size=50,
        ).orderBy("piece").collect()]
        assert a == b
        total = sum(math.exp(lp) for _, lp in a)
        assert total == pytest.approx(1.0, rel=1e-9)
        # coverage: every corpus character is a piece
        chars = set("lowernstwid")
        assert chars <= {p for p, _ in a}
        assert len(a) <= max(12, len(chars))

    def test_null_weight_only_word_skipped(self, spark):
        # "qqq" is seen only under NULL weights and "zzz" only under a
        # zero weight: their word-table freqs and their seed pieces'
        # masses are NULL or 0.0, so they carry no mass and train
        # exactly like the corpus without them
        import math

        from pandas_weights_spark.functions.vocab import train_unigram_lm

        rows = [("low lower", 2.0), ("newest low", 1.5), ("qqq", None),
                ("widest", None), ("widest low", 0.5), ("zzz", 0.0),
                ("low", 0.0)]
        df = spark.createDataFrame(rows, "text string, w double")
        kw = dict(vocab_size=10, max_piece_len=3, seed_size=40)
        got = sorted(
            tuple(r) for r in train_unigram_lm(
                df, "text", weight=F.col("w"), **kw
            ).collect()
        )
        assert not {"q", "z"} & {p for p, _ in got}
        assert sum(math.exp(lp) for _, lp in got) == pytest.approx(1.0)
        ref = df.where(~F.col("text").isin("qqq", "zzz"))
        assert got == sorted(
            tuple(r) for r in train_unigram_lm(
                ref, "text", weight=F.col("w"), **kw
            ).collect()
        )

    def test_round_trip_encode(self, corpus):
        from pandas_weights_spark.functions.vocab import (
            encode_unigram,
            train_unigram_lm,
        )

        df, texts = corpus
        pieces = train_unigram_lm(
            df, "text", vocab_size=16, max_piece_len=4, seed_size=50
        )
        enc = encode_unigram(df, "text", "doc_id", pieces, max_piece_len=4)
        got = {r["doc_id"]: r for r in enc.collect()}
        for i, t in enumerate(texts):
            assert "".join(got[i]["pieces"]) == t.lower()
            assert got[i]["n_oov_chars"] == 0
            assert got[i]["n_pieces"] == len(got[i]["pieces"])

    def test_oov_chars_fall_back_and_count(self, corpus, spark):
        from pandas_weights_spark.functions.vocab import (
            encode_unigram,
            train_unigram_lm,
        )

        df, _ = corpus
        pieces = train_unigram_lm(
            df, "text", vocab_size=16, max_piece_len=4, seed_size=50
        )
        other = spark.createDataFrame(
            [(99, "low zzq")], "doc_id long, text string"
        )
        r = encode_unigram(
            other, "text", "doc_id", pieces, max_piece_len=4
        ).collect()[0]
        assert "".join(r["pieces"]) == "lowzzq"
        assert r["n_oov_chars"] == 3  # z, z, q unseen in training
        assert r["pieces"][-3:] == ["z", "z", "q"]

    def test_viterbi_prefers_high_probability_pieces(self):
        import math

        from pandas_weights_spark.functions.vocab import _viterbi_segment

        logp = {
            "ab": math.log(0.6), "a": math.log(0.2),
            "b": math.log(0.2),
        }
        ps, oov = _viterbi_segment("abab", logp, 2, -100.0)
        assert ps == ["ab", "ab"] and oov == 0
        # single high-prob piece beats char spellout
        ps, _ = _viterbi_segment("ab", logp, 2, -100.0)
        assert ps == ["ab"]


class TestCappedTopScaleGuard:
    """r15 (VERDICT r14 item 1): every word/seed-table cap routes
    through the threshold-guarded _capped_top — TakeOrdered's driver
    merge holds partitions x cap rows, the OOM topk.py:50-54
    documents, and the vocab caps default to 50k-1M. Above the
    window group-limit threshold the cut must salt executor-side and
    select EXACTLY the same rows."""

    THRESH = "spark.sql.optimizer.windowGroupLimitThreshold"

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    @pytest.fixture(scope="class")
    def bigger(self, spark):
        # enough distinct words that a cap of 12 is a real cut
        return spark.range(60).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("w"), (F.col("id") % 37).cast("string"),
                F.lit(" common word w"), (F.col("id") % 11).cast("string"),
            ).alias("text"),
        )

    def _assert_salted_same_rows(self, spark, build, key):
        ref = {tuple(r[k] for k in key) for r in build().collect()}
        old = spark.conf.get(self.THRESH)
        spark.conf.set(self.THRESH, "5")
        try:
            salted = build()
            plan = self._plan(salted)
            assert "TakeOrdered" not in plan, plan
            assert "pmod" in plan, plan  # salted stage-1 routing
            got = {tuple(r[k] for k in key) for r in salted.collect()}
        finally:
            spark.conf.set(self.THRESH, old)
        assert got == ref and len(got) > 0

    def test_build_vocabulary(self, spark, bigger):
        self._assert_salted_same_rows(
            spark,
            lambda: build_vocabulary(bigger, "text", max_size=12),
            ("term", "term_id", "mass"),
        )

    def test_bpe_word_table(self, spark, bigger):
        from pandas_weights_spark.functions.vocab import bpe_word_table

        self._assert_salted_same_rows(
            spark,
            lambda: bpe_word_table(bigger, "text", max_words=12),
            ("word", "freq"),
        )

    def test_bpe_byte_word_table(self, spark, bigger):
        from pandas_weights_spark.functions.vocab import (
            bpe_byte_word_table,
        )

        self._assert_salted_same_rows(
            spark,
            lambda: bpe_byte_word_table(bigger, "text", max_words=12),
            ("word", "freq"),
        )

    def test_wordpiece_word_table(self, spark, bigger):
        from pandas_weights_spark.functions.vocab import (
            wordpiece_word_table,
        )

        self._assert_salted_same_rows(
            spark,
            lambda: wordpiece_word_table(bigger, "text", max_words=12),
            ("word", "freq"),
        )

    def test_unigram_seed_table_both_cuts(self, spark, bigger):
        from pandas_weights_spark.functions.vocab import (
            unigram_seed_table,
        )

        self._assert_salted_same_rows(
            spark,
            lambda: unigram_seed_table(
                bigger, "text", max_piece_len=3, seed_size=20,
                max_words=12,
            ),
            ("piece", "mass"),
        )

    def test_train_unigram_lm_salted_same_pieces(self, spark, bigger):
        # the trainer's internal word table rides the same guard; the
        # learned piece table must be identical in both regimes
        from pandas_weights_spark.functions.vocab import train_unigram_lm

        def pieces():
            return {
                (r["piece"], round(r["logp"], 9))
                for r in train_unigram_lm(
                    bigger, "text", vocab_size=16, max_piece_len=3,
                    seed_size=20, max_words=12,
                ).collect()
            }

        ref = pieces()
        old = spark.conf.get(self.THRESH)
        spark.conf.set(self.THRESH, "5")
        try:
            got = pieces()
        finally:
            spark.conf.set(self.THRESH, old)
        assert got == ref and len(got) > 0
