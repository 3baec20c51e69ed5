"""Tests for similarity search (functions/similarity.py) on the real
embeddings testdata."""

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark.functions import similarity as SIM
from pandas_weights_spark.sources import load_table
from tests.conftest import approx

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


class TestVectorMath:
    def test_dot_and_norm(self, spark):
        df = spark.createDataFrame(
            [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<float>, b array<float>"
        )
        r = df.select(
            SIM.dot(F.col("a"), F.col("b")).alias("d"),
            SIM.l2_norm(F.col("a")).alias("n"),
            SIM.cosine_similarity(F.col("a"), F.col("a")).alias("self"),
        ).first()
        assert r["d"] == approx(32.0)
        assert r["n"] == approx(14.0 ** 0.5)
        assert r["self"] == approx(1.0)

    def test_zero_vector_null_cosine(self, spark):
        df = spark.createDataFrame(
            [([0.0, 0.0], [1.0, 1.0])], "a array<float>, b array<float>"
        )
        assert (
            df.select(SIM.cosine_similarity(F.col("a"), F.col("b")).alias("c"))
            .first()["c"]
            is None
        )


class TestTopK:
    def test_bruteforce_self_is_top1(self, emb):
        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = SIM.topk_bruteforce(queries, emb, k=5)
        rows = out.collect()
        assert len(rows) == 15
        top1 = {r["query_id"]: r for r in rows if r["rank"] == 1}
        for qid, r in top1.items():
            assert r["neighbor_id"] == qid  # self-similarity = 1.0
            assert r["cosine"] == approx(1.0, rel=1e-6)

    def test_lsh_recall_vs_bruteforce(self, emb):
        queries = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in SIM.topk_bruteforce(queries, emb, k=3).collect()
        }
        approx_pairs = {
            (r["query_id"], r["neighbor_id"])
            for r in SIM.topk_lsh(queries, emb, k=3, planes=2).collect()
        }
        # with 2 planes (4 buckets) recall should be substantial
        recall = len(exact & approx_pairs) / len(exact)
        assert recall >= 0.5
        # every query at least finds itself
        assert all((q, q) in approx_pairs for q in range(5))


class TestWeightedCentroids:
    def test_centroid_values(self, spark):
        rows = [
            (0, [1.0, 0.0], 1.0),
            (0, [3.0, 2.0], 3.0),
            (1, [5.0, 5.0], 2.0),
        ]
        df = spark.createDataFrame(rows, "label int, v array<float>, w double")
        out = SIM.weighted_centroids(df, "v", F.col("w"), ["label"])
        m = {(r["label"], r["dim"]): r["centroid"] for r in out.collect()}
        assert m[(0, 0)] == approx((1.0 + 9.0) / 4.0)
        assert m[(0, 1)] == approx(6.0 / 4.0)
        assert m[(1, 0)] == approx(5.0)

    def test_real_embeddings_shape(self, emb):
        out = SIM.weighted_centroids(
            emb, "embedding", (F.col("vec_id") % 7 + 1).cast("double"), ["label"]
        )
        n_labels = emb.select("label").distinct().count()
        assert out.count() == n_labels * 64


class TestIVF:
    def test_full_probe_equals_bruteforce(self, spark):
        from pandas_weights_spark.functions.similarity import (
            topk_bruteforce,
            topk_ivf,
        )

        corpus = load_table(spark, SF, "embeddings").limit(200)
        queries = corpus.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = topk_bruteforce(queries, corpus, k=5).collect()
        ivf = topk_ivf(
            queries, corpus, k=5, n_cells=8, nprobe=8, iters=1
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        assert sorted(map(tuple, ivf), key=lambda t: (t[0], t[3])) == sorted(
            map(tuple, exact), key=lambda t: (t[0], t[3])
        )

    def test_partial_probe_recall(self, spark):
        from pandas_weights_spark.functions.similarity import (
            topk_bruteforce,
            topk_ivf,
        )

        corpus = load_table(spark, SF, "embeddings").limit(200)
        queries = corpus.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in topk_bruteforce(queries, corpus, k=5).collect()
        }
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in topk_ivf(
                queries, corpus, k=5, n_cells=8, nprobe=4, iters=2
            ).collect()
        }
        recall = len(exact & got) / len(exact)
        assert recall >= 0.5, recall

    def test_centroid_reuse(self, spark):
        from pandas_weights_spark.functions.similarity import (
            topk_ivf,
            train_ivf_centroids,
        )

        corpus = load_table(spark, SF, "embeddings").limit(50)
        queries = corpus.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        cents = train_ivf_centroids(
            corpus, "embedding", n_cells=4, id_col="vec_id", iters=1
        )
        a = topk_ivf(queries, corpus, k=3, centroids=cents, nprobe=4).collect()
        b = topk_ivf(queries, corpus, k=3, centroids=cents, nprobe=4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestQuantized:
    """int8 scalar quantization + quantized top-k (similarity.py)."""

    def test_roundtrip_error_bounded(self, spark):
        from pandas_weights_spark.functions.similarity import (
            dequantize_embedding,
            quantize_embedding,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = quantize_embedding(F.col("embedding"))
        err = emb.select(
            F.aggregate(
                F.zip_with(
                    F.transform(F.col("embedding"), lambda x: x.cast("double")),
                    dequantize_embedding(q),
                    lambda a, b: F.abs(a - b),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ).alias("e"),
            (F.array_max(F.transform(F.col("embedding"),
                                     lambda x: x.cast("double")))
             - F.array_min(F.transform(F.col("embedding"),
                                       lambda x: x.cast("double")))
             ).alias("rng"),
        ).collect()
        for r in err:
            # max abs error <= half a quantization step
            assert r["e"] <= r["rng"] / 255.0 / 2.0 + 1e-12, r

    def test_constant_vector(self, spark):
        from pandas_weights_spark.functions.similarity import (
            dequantize_embedding,
            quantize_embedding,
        )

        df = spark.createDataFrame([([3.0, 3.0, 3.0],)], "embedding array<double>")
        out = df.select(
            dequantize_embedding(
                quantize_embedding(F.col("embedding"))
            ).alias("d")
        ).first()["d"]
        assert out == [3.0, 3.0, 3.0]

    def test_recall_vs_exact(self, spark):
        from pandas_weights_spark.functions.similarity import (
            topk_bruteforce,
            topk_quantized,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        queries = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = topk_bruteforce(queries, emb, k=5)
        quant = topk_quantized(queries, emb, k=5)
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        g = {(r["query_id"], r["neighbor_id"]) for r in quant.collect()}
        recall = len(e & g) / len(e)
        assert recall >= 0.9, (recall, e - g)

    def test_plan_broadcast_no_python(self, spark):
        from pandas_weights_spark.functions.similarity import topk_quantized

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        queries = emb.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        df = topk_quantized(queries, emb, k=3)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestSemanticDedup:
    def test_single_cell_matches_exact_greedy(self, spark):
        # n_cells=1 collapses to the exact all-pairs greedy — pin it
        # against a transparent numpy implementation
        import numpy as np

        from pandas_weights_spark.functions.similarity import semantic_dedup

        rng = np.random.default_rng(8)
        base = rng.normal(size=(6, 16))
        vecs = list(base)
        vecs.append(base[0] + rng.normal(scale=0.01, size=16))  # ~dup of 0
        vecs.append(base[2] * 1.7)                              # exact dir dup of 2
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vid long, embedding array<double>")
        out = {
            r["vid"]: r["is_survivor"]
            for r in semantic_dedup(
                df, "embedding", "vid", n_cells=1, threshold=0.95
            ).collect()
        }
        # numpy greedy: drop i iff cos(i, j) >= t for some j < i
        V = np.array([np.array(v) for v in vecs])
        U = V / np.linalg.norm(V, axis=1, keepdims=True)
        sims = U @ U.T
        exp = {}
        for i in range(len(vecs)):
            exp[i] = not any(sims[i, j] >= 0.95 for j in range(i))
        assert out == exp
        assert not out[6] and not out[7]  # the planted dups drop

    def test_clustered_dedup_and_pretrained_centroids(self, spark):
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            semantic_dedup,
            train_ivf_centroids,
        )

        rng = np.random.default_rng(4)
        # two tight clusters of paraphrases + singletons
        c1 = rng.normal(size=16)
        c2 = rng.normal(size=16) + 4.0
        rows = []
        for i in range(5):
            rows.append((i, [float(x) for x in c1 + rng.normal(scale=0.005, size=16)]))
        for i in range(5, 10):
            rows.append((i, [float(x) for x in c2 + rng.normal(scale=0.005, size=16)]))
        rows.append((10, [float(x) for x in rng.normal(size=16) * 9]))
        df = spark.createDataFrame(rows, "vid long, embedding array<double>")
        cents = train_ivf_centroids(df, "embedding", 3, "vid", iters=3)
        out = {
            r["vid"]: r
            for r in semantic_dedup(
                df, "embedding", "vid", threshold=0.999, centroids=cents
            ).collect()
        }
        survivors = {v for v, r in out.items() if r["is_survivor"]}
        # survivor contract is CELL-local min-id: each family keeps
        # exactly one member PER CELL it spans (k-means init can split
        # a family), and that member is the cell's min id
        for fam in (range(0, 5), range(5, 10)):
            cells = {}
            for v in fam:
                cells.setdefault(out[v]["cell"], []).append(v)
            for cell, members in cells.items():
                surv = [v for v in members if v in survivors]
                assert surv == [min(members)], (cell, members, surv)
        assert 10 in survivors  # the far singleton always survives

    def test_arrow_assignment_agrees_with_hof(self, spark):
        # assign_cells_arrow must reproduce nearest_cell's argmax
        # (including NULL handling) on well-separated data; the
        # matmul/fold reduction orders differ only at ulp level
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            assign_cells_arrow,
            nearest_cell,
        )

        rng = np.random.default_rng(11)
        cents = [[float(x) for x in rng.normal(size=8)] for _ in range(5)]
        rows = [
            (i, [float(x) for x in rng.normal(size=8)]) for i in range(40)
        ]
        rows.append((40, None))
        df = spark.createDataFrame(rows, "vid long, v array<double>")
        hof = {
            r["vid"]: r["c"]
            for r in df.select(
                "vid", nearest_cell(F.col("v"), cents).alias("c")
            ).collect()
        }
        arw = {
            r["vid"]: (r["cell"], r["n"])
            for r in assign_cells_arrow(
                df, "v", cents, out_col="cell", norm_col="n"
            ).collect()
        }
        # non-null rows agree; the NULL vector differs BY DESIGN —
        # nearest_cell's null-score structs degrade to the last cell
        # id (callers pre-filter NULLs), the arrow path yields NULL
        assert {k: v[0] for k, v in arw.items() if k != 40} == {
            k: v for k, v in hof.items() if k != 40
        }
        assert arw[40] == (None, None)
        for vid, vec in rows[:40]:
            assert arw[vid][1] == pytest.approx(
                float(np.linalg.norm(vec)), rel=1e-12
            )

    def test_arrow_dedup_matches_hof_path(self, spark):
        import numpy as np

        from pandas_weights_spark.functions.similarity import semantic_dedup

        rng = np.random.default_rng(4)
        c1 = rng.normal(size=16)
        c2 = rng.normal(size=16) + 4.0
        rows = []
        for i in range(5):
            rows.append(
                (i, [float(x) for x in c1 + rng.normal(scale=0.005, size=16)])
            )
        for i in range(5, 10):
            rows.append(
                (i, [float(x) for x in c2 + rng.normal(scale=0.005, size=16)])
            )
        df = spark.createDataFrame(rows, "vid long, embedding array<double>")
        a = sorted(
            map(
                tuple,
                semantic_dedup(
                    df, "embedding", "vid", n_cells=2, threshold=0.999,
                    iters=2,
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                semantic_dedup(
                    df, "embedding", "vid", n_cells=2, threshold=0.999,
                    iters=2, arrow=True,
                ).collect(),
            )
        )
        assert a == b

    def test_null_vectors_drop(self, spark):
        from pandas_weights_spark.functions.similarity import semantic_dedup

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
            "vid long, embedding array<double>",
        )
        out = semantic_dedup(
            df, "embedding", "vid", n_cells=1, threshold=0.9
        ).collect()
        assert sorted(r["vid"] for r in out) == [1, 3]
        assert all(r["is_survivor"] for r in out)


class TestFirstInitNullVectors:
    """``init='first'`` seeds from the lowest-id NON-NULL vectors: a NULL
    vector among the ``n_cells`` lowest ids carries no direction (and
    used to crash the seeding with ``float(None)``)."""

    ROWS = [
        (1, None),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.98, 0.02, 0.0]),
        (5, [0.01, 0.99, 0.0]),
    ]

    @pytest.mark.parametrize("arrow", [False, True])
    def test_train_skips_null_seed(self, spark, arrow):
        df = spark.createDataFrame(self.ROWS, "vid long, embedding array<double>")
        cents = SIM.train_ivf_centroids(
            df, "embedding", 2, "vid", iters=0, arrow=arrow
        )
        assert cents == [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
        trained = SIM.train_ivf_centroids(
            df, "embedding", 2, "vid", iters=2, arrow=arrow
        )
        assert len(trained) == 2 and all(len(c) == 3 for c in trained)

    @pytest.mark.parametrize("arrow", [False, True])
    def test_semantic_dedup_with_null_lowest_id(self, spark, arrow):
        df = spark.createDataFrame(self.ROWS, "vid long, embedding array<double>")
        out = {
            r["vid"]: r["is_survivor"]
            for r in SIM.semantic_dedup(
                df, "embedding", "vid", n_cells=2, threshold=0.99, arrow=arrow
            ).collect()
        }
        # 4 duplicates 2 and 5 duplicates 3 (cosine > 0.99); 2, 3 survive
        assert out[2] and out[3] and not out[4] and not out[5]

    def test_all_null_vectors_raise(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, None)], "vid long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="non-null vector"):
            SIM.train_ivf_centroids(df, "embedding", 2, "vid")


class TestKmeansParallelInit:
    """init='kmeans||' (Bahmani 2012) — deterministic scalable-k-means++
    seeding for the coarse IVF quantizer."""

    @pytest.fixture(scope="class")
    def adversarial(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        # 4 well-separated direction clusters; ADVERSARIAL id order:
        # ids 0..99 all live in cluster 0, so 'first' seeding puts all
        # 4 seeds in one cluster
        means = np.eye(4, 16) * 10
        X = np.vstack(
            [means[c] + rng.normal(scale=0.5, size=(100, 16))
             for c in range(4)]
        )
        df = spark.createDataFrame(
            [(i, [float(v) for v in X[i]]) for i in range(400)],
            "vec_id long, embedding array<double>",
        )
        return df

    def _cost(self, df, cents):
        from pandas_weights_spark.functions.similarity import (
            _cell_scores,
            l2_norm,
        )

        v = F.col("embedding")
        cos = F.try_divide(
            F.array_max(
                F.transform(_cell_scores(v, cents), lambda s: s["s"])
            ),
            l2_norm(v),
        )
        d = F.greatest(
            F.lit(0.0), F.lit(1.0) - F.coalesce(cos, F.lit(1.0))
        )
        return df.agg(F.sum(d)).collect()[0][0]

    def test_beats_first_seeding_on_adversarial_order(
        self, spark, adversarial
    ):
        from pandas_weights_spark.functions.similarity import (
            train_ivf_centroids,
        )

        c_first = train_ivf_centroids(
            adversarial, "embedding", 4, "vec_id", iters=1
        )
        c_km = train_ivf_centroids(
            adversarial, "embedding", 4, "vec_id", iters=1,
            init="kmeans||", rounds=3,
        )
        assert self._cost(adversarial, c_km) < self._cost(
            adversarial, c_first
        ) / 3

    def test_deterministic_and_shape(self, spark, adversarial):
        from pandas_weights_spark.functions.similarity import (
            train_ivf_centroids,
        )

        a = train_ivf_centroids(
            adversarial.repartition(7), "embedding", 4, "vec_id",
            iters=0 if False else 1, init="kmeans||", rounds=2,
        )
        b = train_ivf_centroids(
            adversarial.repartition(3), "embedding", 4, "vec_id",
            iters=1, init="kmeans||", rounds=2,
        )
        assert len(a) == 4 and all(len(c) == 16 for c in a)
        for ca, cb in zip(a, b):
            assert ca == pytest.approx(cb, rel=1e-9)

    def test_tiny_corpus_pads_and_guards(self, spark):
        from pandas_weights_spark.functions.similarity import (
            train_ivf_centroids,
        )

        df = spark.createDataFrame(
            [(i, [float(i + 1), 0.0]) for i in range(4)],
            "vec_id long, embedding array<double>",
        )
        cents = train_ivf_centroids(
            df, "embedding", 3, "vec_id", iters=1, init="kmeans||",
            rounds=1, oversample=0.01,  # samples ~nothing: force pad
        )
        assert len(cents) == 3
        with pytest.raises(ValueError, match="init"):
            train_ivf_centroids(
                df, "embedding", 2, "vec_id", init="nope"
            )


class TestKmeansppDuplicateGuards:
    """r8 (ADVICE): _kmeanspp_weighted never re-picks a chosen index
    even when every remaining score is 0 (duplicate candidates), and
    k-means|| dedupes its candidate pool up front."""

    def test_duplicate_candidates_yield_distinct_indices(self):
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            _kmeanspp_weighted,
        )

        u = np.array([1.0, 0.0])
        units = [u, u, u, u]  # all identical: every score is 0
        chosen = _kmeanspp_weighted(units, [4.0, 3.0, 2.0, 1.0], 3)
        assert len(chosen) == len(set(chosen)) == 3

    def test_k_above_candidate_count_raises(self):
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            _kmeanspp_weighted,
        )

        units = [np.array([1.0, 0.0]), np.array([0.0, 1.0])]
        with pytest.raises(ValueError, match="distinct vectors"):
            _kmeanspp_weighted(units, [1.0, 1.0], 3)

    def test_ivf_centroids_distinct_on_duplicate_corpus(self, spark):
        from pandas_weights_spark.functions.similarity import (
            train_ivf_centroids,
        )

        # 3 distinct vectors, each duplicated many times: k-means||
        # sampling will pick duplicate rows; centroids must be the 3
        # distinct vectors, no repeats
        base = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
        rows = [(i, base[i % 3]) for i in range(60)]
        df = spark.createDataFrame(rows, ["id", "vec"])
        cents = train_ivf_centroids(df, "vec", 3, id_col="id")
        tup = {tuple(round(x, 6) for x in c) for c in cents}
        assert len(cents) == 3 and len(tup) == 3


class TestKnnGraph:
    """knn_graph / knn_density (similarity.py) — self-knn with a numpy
    differential, the ivf probe-all ≡ bruteforce invariant, and the
    no-corpus-broadcast shuffle-join plan pin."""

    @pytest.fixture()
    def emb(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        v = rng.randn(12, 6)
        rows = [(i, [float(x) for x in v[i]]) for i in range(12)]
        return v, spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    @pytest.mark.slow
    def test_bruteforce_vs_numpy(self, spark, emb):
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        v, df = emb
        k = 3
        got = {}
        for r in knn_graph(df, k).collect():
            got.setdefault(r["src"], []).append(
                (r["rank"], r["dst"], r["cosine"])
            )
        norms = np.linalg.norm(v, axis=1)
        for i in range(12):
            cos = v @ v[i] / (norms * norms[i])
            order = sorted(
                (j for j in range(12) if j != i),
                key=lambda j: (-cos[j], j),
            )[:k]
            edges = sorted(got[i])
            assert [d for _, d, _ in edges] == order, i
            for (rk, d, c), j in zip(edges, order):
                assert c == pytest.approx(cos[j], abs=1e-6), (i, j)
            assert [rk for rk, _, _ in edges] == [1, 2, 3]

    @pytest.mark.slow
    def test_no_self_edges_and_counts(self, spark, emb):
        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        _, df = emb
        edges = knn_graph(df, 4).collect()
        assert all(r["src"] != r["dst"] for r in edges)
        assert len(edges) == 12 * 4

    @pytest.mark.slow
    def test_ivf_probe_all_equals_bruteforce(self, spark, emb):
        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        _, df = emb
        bf = sorted(
            map(tuple, knn_graph(df, 3).collect())
        )
        ivf = sorted(
            map(
                tuple,
                knn_graph(
                    df, 3, strategy="ivf", n_cells=4, nprobe=4,
                    iters=1,
                ).collect(),
            )
        )
        assert bf == ivf

    @pytest.mark.slow
    def test_density_aggregates_edges(self, spark, emb):
        from pandas_weights_spark.functions.similarity import (
            knn_density,
            knn_graph,
        )

        _, df = emb
        edges = {}
        for r in knn_graph(df, 3).collect():
            edges.setdefault(r["src"], []).append(r["cosine"])
        for r in knn_density(df, 3).collect():
            cs = edges[r["vec_id"]]
            assert r["density"] == pytest.approx(
                sum(cs) / len(cs), abs=1e-6
            )
            assert r["nn_cosine"] == pytest.approx(max(cs), abs=1e-9)
            assert r["n_neighbors"] == 3

    def test_ivf_plan_has_no_corpus_broadcast(self, spark, emb):
        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        _, df = emb
        g = knn_graph(df, 3, strategy="ivf", n_cells=4, nprobe=2,
                      iters=1)
        plan = g._jdf.queryExecution().optimizedPlan().toString()
        # the cell join must NOT carry a broadcast hint — both sides
        # are corpus-sized in a self-knn (AQE may still pick one at
        # tiny test scale, so pin the LOGICAL plan, not the physical)
        assert "ResolvedHint" not in plan
        assert "broadcast" not in plan.lower()

    def test_validation(self, spark, emb):
        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        _, df = emb
        with pytest.raises(ValueError):
            knn_graph(df, 3, strategy="annoy")


class TestRetrievalMetrics:
    """retrieval_metrics — pure-Python differential on hand-built
    rankings + the self-evaluation identity on real top-k output."""

    def _mk(self, spark, rows):
        return spark.createDataFrame(
            rows, "query_id long, neighbor_id long, rank int"
        )

    def test_hand_computed(self, spark):
        import math

        from pandas_weights_spark.functions.similarity import (
            retrieval_metrics,
        )

        # exact top-3 for q0: [10, 11, 12]; approx found [11, 10, 99]
        exact = self._mk(
            spark,
            [(0, 10, 1), (0, 11, 2), (0, 12, 3),
             (1, 20, 1), (1, 21, 2), (1, 22, 3)],
        )
        approx = self._mk(
            spark,
            [(0, 11, 1), (0, 10, 2), (0, 99, 3),
             (1, 77, 1), (1, 78, 2), (1, 79, 3)],
        )
        out = {
            r["query_id"]: r
            for r in retrieval_metrics(approx, exact, 3).collect()
        }
        r0 = out[0]
        assert r0["recall_at_k"] == pytest.approx(2 / 3)
        assert r0["mrr"] == pytest.approx(1 / 2)  # exact #1 at rank 2
        dcg = 1 / math.log2(1 + 1) + 1 / math.log2(2 + 1)
        idcg = sum(1 / math.log2(r + 1) for r in (1, 2, 3))
        assert r0["ndcg"] == pytest.approx(dcg / idcg)
        # q1: nothing found
        r1 = out[1]
        assert r1["recall_at_k"] == 0.0
        assert r1["mrr"] == 0.0
        assert r1["ndcg"] == 0.0

    @pytest.mark.slow
    def test_self_evaluation_is_perfect(self, spark):
        from pandas_weights_spark.functions.similarity import (
            knn_graph,
            retrieval_metrics,
        )

        import numpy as np

        rng = np.random.RandomState(5)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(5)]) for i in range(10)],
            "vec_id long, embedding array<double>",
        )
        g = knn_graph(df, 3).select(
            F.col("src").alias("query_id"),
            F.col("dst").alias("neighbor_id"),
            "rank",
        )
        for r in retrieval_metrics(g, g, 3).collect():
            assert r["recall_at_k"] == 1.0
            assert r["mrr"] == 1.0
            assert r["ndcg"] == pytest.approx(1.0)

    def test_validation(self, spark):
        from pandas_weights_spark.functions.similarity import (
            retrieval_metrics,
        )

        df = self._mk(spark, [(0, 1, 1)])
        with pytest.raises(ValueError):
            retrieval_metrics(df, df, 0)


class TestKnnArrow:
    def test_arrow_equals_jvm_ivf_same_centroids(self, spark):
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            knn_graph,
            train_ivf_centroids,
        )

        rng = np.random.RandomState(2)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(6)]) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        cents = train_ivf_centroids(
            df, "embedding", 4, id_col="vec_id", iters=1
        )
        jvm = sorted(
            map(
                tuple,
                knn_graph(
                    df, 3, strategy="ivf", n_cells=4, nprobe=4,
                    centroids=cents,
                ).collect(),
            )
        )
        arw = sorted(
            map(
                tuple,
                knn_graph(
                    df, 3, strategy="ivf", n_cells=4, nprobe=4,
                    centroids=cents, arrow=True,
                ).collect(),
            )
        )
        assert jvm == arw

    @pytest.mark.slow
    def test_arrow_probe_all_equals_bruteforce(self, spark):
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        rng = np.random.RandomState(9)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(4)]) for i in range(15)],
            "vec_id long, embedding array<double>",
        )
        bf = sorted(
            (r["src"], r["dst"], r["rank"])
            for r in knn_graph(df, 3).collect()
        )
        arw = sorted(
            (r["src"], r["dst"], r["rank"])
            for r in knn_graph(
                df, 3, strategy="ivf", n_cells=3, nprobe=3, iters=1,
                arrow=True,
            ).collect()
        )
        assert bf == arw

    def test_arrow_requires_ivf(self, spark):
        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        df = spark.createDataFrame(
            [(0, [1.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError):
            knn_graph(df, 1, strategy="bruteforce", arrow=True)

    def test_arrow_string_ids_round_trip(self, spark):
        """r12 ADVICE: the arrow cell kernel must emit the ORIGINAL id
        values — string ids crash an int() coercion; float ids would
        silently truncate."""
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            knn_graph,
            train_ivf_centroids,
        )

        rng = np.random.RandomState(5)
        rows = [
            (f"doc-{i:03d}", [float(x) for x in rng.randn(4)])
            for i in range(20)
        ]
        df = spark.createDataFrame(
            rows, "vec_id string, embedding array<double>"
        )
        cents = train_ivf_centroids(
            df, "embedding", 3, id_col="vec_id", iters=1
        )
        jvm = sorted(
            (r["src"], r["dst"], r["rank"])
            for r in knn_graph(
                df, 3, strategy="ivf", n_cells=3, nprobe=3,
                centroids=cents,
            ).collect()
        )
        arw = sorted(
            (r["src"], r["dst"], r["rank"])
            for r in knn_graph(
                df, 3, strategy="ivf", n_cells=3, nprobe=3,
                centroids=cents, arrow=True,
            ).collect()
        )
        assert jvm == arw
        assert all(isinstance(s, str) for s, _, _ in arw)


class TestKnnCellSizing:
    """r12: the n_cells='auto' sizing rule + fixed-size footgun
    warning (VERDICT r11 'What's wrong #2')."""

    def test_auto_rule_formula(self):
        from pandas_weights_spark.functions.similarity import (
            KNN_TARGET_CELL_ROWS,
            auto_n_cells,
        )

        assert auto_n_cells(0) == 1
        assert auto_n_cells(1) == 1
        assert auto_n_cells(4096, 4096) == 1
        assert auto_n_cells(4097, 4096) == 2
        assert auto_n_cells(100_000_000, 4096) == 24415
        assert auto_n_cells(10**15) == 2**20  # clamp
        assert auto_n_cells(40, 10) == 4
        # the default target matches the documented constant
        assert auto_n_cells(KNN_TARGET_CELL_ROWS + 1) == 2

    @pytest.mark.slow
    def test_auto_single_cell_equals_bruteforce(self, spark):
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        rng = np.random.RandomState(11)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(4)]) for i in range(12)],
            "vec_id long, embedding array<double>",
        )
        bf = sorted(
            (r["src"], r["dst"], r["rank"])
            for r in knn_graph(df, 3).collect()
        )
        # target_cell_rows >= n  ->  auto resolves to ONE cell and a
        # single probe covers the corpus: exact
        auto = sorted(
            (r["src"], r["dst"], r["rank"])
            for r in knn_graph(
                df, 3, strategy="ivf", n_cells="auto", nprobe=1,
                iters=1, target_cell_rows=100,
            ).collect()
        )
        assert bf == auto

    def test_auto_many_cells_runs_and_covers(self, spark):
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        rng = np.random.RandomState(13)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(4)]) for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        g = knn_graph(
            df, 2, strategy="ivf", n_cells="auto", nprobe=3, iters=1,
            target_cell_rows=10,
        ).collect()
        assert {r["src"] for r in g} == set(range(30))
        for r in g:
            assert r["src"] != r["dst"]

    def test_auto_requires_ivf(self, spark):
        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        df = spark.createDataFrame(
            [(0, [1.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="auto"):
            knn_graph(df, 1, strategy="bruteforce", n_cells="auto")
        with pytest.raises(ValueError, match="n_cells"):
            knn_graph(df, 1, strategy="ivf", n_cells=2.5)

    def test_fixed_cells_footgun_warns(self, spark, monkeypatch):
        import warnings

        import numpy as np

        import pandas_weights_spark.functions.similarity as sim

        rng = np.random.RandomState(7)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(3)]) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        # toy bound so 40 rows / 2 cells = 20 > 5 trips the warning
        monkeypatch.setattr(sim, "KNN_CELL_WARN_ROWS", 5)
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            sim.knn_graph(
                df, 2, strategy="ivf", n_cells=2, nprobe=2, iters=1,
                check_cell_size=True,
            ).collect()
        msgs = [w for w in rec if issubclass(w.category, RuntimeWarning)]
        assert msgs and "n_cells='auto'" in str(msgs[0].message)

    def test_fixed_cells_no_check_no_count_no_warning(self, spark):
        import warnings

        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            knn_graph,
        )

        rng = np.random.RandomState(8)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(3)]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            knn_graph(
                df, 2, strategy="ivf", n_cells=2, nprobe=2, iters=1
            ).collect()
        assert not [
            w for w in rec if issubclass(w.category, RuntimeWarning)
        ]


class TestSemanticDedupAutoCells:
    def test_auto_equals_explicit(self, spark):
        import numpy as np

        from pandas_weights_spark.functions.similarity import (
            auto_n_cells,
            semantic_dedup,
        )

        rng = np.random.RandomState(3)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(4)]) for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        # target >= n -> auto resolves to 1 cell; explicit 1-cell run
        # must produce the identical survivor set
        assert auto_n_cells(30, 64) == 1
        a = sorted(
            map(
                tuple,
                semantic_dedup(
                    df, "embedding", "vec_id", n_cells="auto",
                    threshold=0.8, iters=1, target_cell_rows=64,
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                semantic_dedup(
                    df, "embedding", "vec_id", n_cells=1,
                    threshold=0.8, iters=1,
                ).collect(),
            )
        )
        assert a == b

    def test_invalid_n_cells(self, spark):
        from pandas_weights_spark.functions.similarity import (
            semantic_dedup,
        )

        df = spark.createDataFrame(
            [(0, [1.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="n_cells"):
            semantic_dedup(df, "embedding", "vec_id", n_cells="big")
