"""Scale smoke: run the core operator families on a SYNTHESIZED corpus
10-100x larger than sf0.1 to observe real shuffle/aggregate behavior
(the sf0.1 bench is fixed-overhead-dominated at ~1 s/query).

Data is generated distributed via spark.range — nothing is written to
disk. Not part of the driver gates; a dev tool for perf iteration.

Usage: python tools/scale_smoke.py [rows_millions=20] [name-filter]

A second argument runs only the bench/dbench entries whose name
contains one of its comma-separated terms (case-insensitive
substrings) — targeted re-measurement
without the full ~12 min sweep; fixtures still synthesize lazily, so
skipped entries cost nothing beyond the eager checkpoints they share.
The driver-loop train blocks (bpe/pca/classifier/pagerank/pq/jpeg)
are not gated — they always run (~1 min at rows_m=20).
"""

from __future__ import annotations

import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    rows_m = float(sys.argv[1]) if len(sys.argv) > 1 else 20
    name_filter = sys.argv[2].lower() if len(sys.argv) > 2 else ""
    n = int(rows_m * 1_000_000)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("scale-smoke")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pandas_weights_spark import wt
    from pandas_weights_spark.corr import spearman_corr
    from pandas_weights_spark.sample import stratified_sample, weighted_sample

    # synthetic lineitem-ish table: 20M+ rows, 200 groups, skewed key
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % 200).alias("g"),
            # hot: 30% of rows land on group 0
            F.when(F.pmod(F.col("id"), 10) < 3, F.lit(0))
            .otherwise(F.col("id") % 200)
            .alias("hot_g"),
            (F.sin(F.col("id").cast("double")) * 1000 + 5000).alias("x"),
            (F.pmod(F.col("id"), 7).cast("double") + 1).alias("w"),
        )
    )
    wdf = wt(df, "w")

    def bench(name, thunk):
        if name_filter and not any(
            t in name.lower() for t in name_filter.split(",")
        ):
            return
        t0 = time.perf_counter()
        thunk().write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        print(f"{name:28s} {dt:7.2f}s  ({n / dt / 1e6:6.1f} M rows/s)")

    # warm
    df.agg(F.count("*")).collect()

    bench("global mean", lambda: wdf.mean())
    bench("grouped agg_all(5)", lambda: wdf.groupby("g")[["x"]].agg_all(
        ["count", "sum", "mean", "var", "std"]))
    bench("grouped agg_all hot key", lambda: wdf.groupby("hot_g")[["x"]].agg_all(
        ["count", "sum", "mean", "var", "std"]))
    bench("salted agg_all hot key", lambda: wdf.groupby("hot_g")[["x"]]
          .agg_all_salted(["count", "sum", "mean", "var", "std"], 32))
    bench("grouped corr", lambda: wt(
        df.select("g", "x", (F.col("x") * 0.5 + F.col("id") % 13).alias("y"), "w"),
        "w").groupby("g").corr())
    bench("weighted quantile p50/p90", lambda: wdf.groupby("g")[["x"]]
          .quantile([0.5, 0.9]))
    bench("pps sample 10k", lambda: weighted_sample(
        df, F.col("w"), 10_000, ["id"]))
    # r14: selection-scale n (> the group-limit threshold) — exercises
    # the salted executor-side two-stage that replaced the TakeOrdered
    # driver merge (partitions x n rows on the driver)
    bench("pps sample 100k salted", lambda: weighted_sample(
        df, F.col("w"), 100_000, ["id"]))
    bench("rolling mean w=100", lambda: wt(
        df.select("g", "id", "x", "w"), "w")
        .rolling(100, order_by=["id"], partition_by=["g"]).mean())

    # round-2 additions — the restructured low-cardinality-safe paths.
    # "3 groups" is the adversarial case: a window formulation would
    # funnel all n rows into 3 tasks; these must stay flat-ish vs the
    # 200-group variants above.
    df3 = df.withColumn("g3", F.pmod(F.col("id"), 3))
    wdf3 = wt(df3, "w")
    bench("zscore 3 groups", lambda: wdf3.groupby("g3")[["x"]].zscore())
    bench("mode 3 groups", lambda: wt(
        df3.select("g3", F.pmod(F.col("id"), 1000).alias("v"), "w"), "w")
        .groupby("g3")[["v"]].mode())
    bench("describe binned 3 groups", lambda: wdf3.groupby("g3")[["x"]]
          .describe(qs=[0.5], exact=False, lo=0.0, hi=10000.0, bins=4096))
    bench("stratified 1k x 3 strata", lambda: stratified_sample(
        df3, F.col("w"), 1000, ["g3"], ["id"]))
    bench("spearman 3 groups", lambda: spearman_corr(
        wt(df3.select("g3", "x",
                      (F.col("x") * 0.5 + F.col("id") % 13).alias("y"), "w"),
           "w"), "x", "y", by=["g3"]))

    # round-5 additions: the text/document operator families at 100x
    # the sf0.1 documents table (5k docs there -> 500k 100-token docs
    # at rows_m=20, scaling linearly with rows_m). Synthesized
    # distributed (spark.range + md5 words, vocab 5k); every 10th doc
    # gets a first-word-dropped near-copy so the near-dup pipelines
    # have real edges.
    from pandas_weights_spark.ewm import WeightedEWM  # noqa: F401
    from pandas_weights_spark.functions.decontam import ngram_overlap
    from pandas_weights_spark.functions.dedup import (
        chunk_near_duplicates,
        minhash_near_duplicates,
        simhash,
    )
    from pandas_weights_spark.functions.graph import neardup_clusters
    from pandas_weights_spark.functions.quality import quality_panel

    docs_n = int(n / 40)  # rows_m=20 -> 500k docs
    word = lambda c: F.substring(F.md5(c.cast("string")), 1, 6)  # noqa: E731
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(100)),
            lambda i: word(
                F.pmod(F.xxhash64(F.col("id") * F.lit(101) + i), F.lit(5000))
            ),
        ),
    )
    docs = spark.range(docs_n).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )
    near = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    corpus = docs.unionByName(near)

    def dbench(name, thunk, rows):
        if name_filter and not any(
            t in name.lower() for t in name_filter.split(",")
        ):
            return
        t0 = time.perf_counter()
        thunk().write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        print(f"{name:28s} {dt:7.2f}s  ({rows / dt / 1e3:6.1f} K docs/s)")

    dbench("doc_quality panel", lambda: quality_panel(docs).drop("text"),
           docs_n)
    dbench("simhash 64-bit", lambda: docs.select(
        "doc_id", simhash(F.col("text"), 64).alias("sh")), docs_n)
    dbench("decontam 13-gram", lambda: ngram_overlap(
        docs, "text", "doc_id",
        docs.where(F.col("doc_id") % 100 == 0).select("text"),
        n=13, threshold=0.5, hash_shingles=True), docs_n)
    dbench("minhash_neardup (xxh)", lambda: minhash_near_duplicates(
        corpus, "text", "doc_id", threshold=0.4, portable=False),
        int(docs_n * 1.1))
    # clustering is the iterative CC loop — run on a tenth of the corpus
    # (its per-round overhead is what the smoke is measuring)
    tenth = corpus.where(F.pmod(F.col("doc_id"), 10).isin(0, 3))
    dbench("neardup_clusters (1/5)", lambda: neardup_clusters(
        tenth, "text", "doc_id", threshold=0.4), int(docs_n / 5))
    dbench("chunk_neardup (1/5)", lambda: chunk_near_duplicates(
        corpus.where(F.col("doc_id") % 5 == 0), "text", "doc_id",
        chunk_tokens=64, overlap=16, threshold=0.8), int(docs_n / 5))

    # banded pairwise EWM on the big numeric table (the other r4
    # wall-clock hotspot): cov+corr share one banded pass
    ewm_src = wt(
        df.select("g", "id", "x",
                  (F.col("x") * 0.5 + F.col("id") % 13).alias("y"), "w"),
        "w",
    )
    e = ewm_src.ewm(order_by=["id"], partition_by=["g"], alpha=0.2)
    bench("ewm pair cov+corr", lambda: e.pair_stats(
        "x", "y", stats=("cov", "corr")))

    # round-5 op families: BPE merge rounds over the corpus word table
    # (the driver-loop shape under load) and PCA fit+project over a
    # synthesized 64-dim embedding table (n/20 vectors)
    from pandas_weights_spark.functions.pca import pca_fit, pca_transform
    from pandas_weights_spark.functions.vocab import train_bpe

    t0 = time.perf_counter()
    _merges, segs = train_bpe(docs, "text", num_merges=6)
    segs.write.mode("overwrite").format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'bpe_train 6 rounds':28s} {dt:7.2f}s  "
          f"({docs_n / dt / 1e3:6.1f} K docs/s)")

    # events family at rows_m events (n/20 users, ~20 events each):
    # cohort triangle, ordered funnel, session windows
    import datetime as _dt

    from pandas_weights_spark.cohort import cohort_retention, funnel
    from pandas_weights_spark.streaming import weighted_session_stream

    ev = spark.range(n).select(
        (F.col("id") % (n // 20)).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1704067200)
            + F.pmod(F.xxhash64(F.col("id")), F.lit(86400 * 30))
        ).alias("ts"),
        F.element_at(
            F.array(*[F.lit(s) for s in
                      ("view", "click", "purchase", "error", "signup")]),
            (F.pmod(F.xxhash64(F.col("id") + 7), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.col("id"), 7) + 1).cast("double").alias("w"),
    )
    bench("cohort retention 1d", lambda: cohort_retention(
        ev, "user_id", "ts", "1d", weight=F.col("w")))
    bench("funnel 3 steps", lambda: funnel(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], weight=F.col("w")))
    bench("session windows 1h", lambda: weighted_session_stream(
        ev, weights="w", keys=["user_id"], on="ts", gap="1 hour",
        stats=("count", "sum"), value_cols=["w"]))

    vec_n = int(n / 20)
    vecs = spark.range(vec_n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.sin(F.col("id").cast("double") * i),
        ).alias("embedding"),
    ).localCheckpoint(eager=True)  # measure PCA, not the sin() fixture
    t0 = time.perf_counter()
    model = pca_fit(vecs, "embedding", k=16)
    fit_dt = time.perf_counter() - t0
    print(f"{'pca_fit 64d -> 16':28s} {fit_dt:7.2f}s  "
          f"({vec_n / fit_dt / 1e6:6.1f} M vecs/s)")
    t0 = time.perf_counter()
    pca_transform(vecs, "embedding", model).write.mode(
        "overwrite"
    ).format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'pca_project 64d -> 16':28s} {dt:7.2f}s  "
          f"({vec_n / dt / 1e6:6.1f} M vecs/s)")

    # round-6 op families: repeated-span removal over 1/5 corpus,
    # driver-local BPE at a real merge count, the unigram-LM seed
    # aggregate, and 3 GD iterations of the hashed-feature classifier
    from pandas_weights_spark.functions.classifier import (
        train_text_classifier,
    )
    from pandas_weights_spark.functions.dedup import remove_duplicate_spans
    from pandas_weights_spark.functions.vocab import unigram_seed_table

    dbench("span_removal (1/5)", lambda: remove_duplicate_spans(
        corpus.where(F.col("doc_id") % 5 == 0), "text", "doc_id",
        chunk_tokens=64, overlap=16, threshold=0.8), int(docs_n / 5))
    t0 = time.perf_counter()
    _m2, segs2 = train_bpe(
        docs, "text", num_merges=1000, min_frequency=1.0, mode="local"
    )
    segs2.write.mode("overwrite").format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'bpe_train local 1000':28s} {dt:7.2f}s  "
          f"({docs_n / dt / 1e3:6.1f} K docs/s)")
    # r11: byte-level BPE (GPT-2 recipe) — local train + no-OOV encode
    from pandas_weights_spark.functions.vocab import (
        encode_bpe_bytes,
        train_bpe_bytes,
    )

    t0 = time.perf_counter()
    _m3, segs3 = train_bpe_bytes(
        docs, "text", num_merges=1000, min_frequency=1.0, mode="local"
    )
    encode_bpe_bytes(docs, "text", "doc_id", segs3).write.mode(
        "overwrite"
    ).format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'bpe_bytes 1000 + encode':28s} {dt:7.2f}s  "
          f"({docs_n / dt / 1e3:6.1f} K docs/s)")
    # r11: WordPiece — full-recount local trainer (R·W·L driver work,
    # capped word table), so the smoke uses a moderate merge count
    from pandas_weights_spark.functions.vocab import (
        encode_wordpiece,
        train_wordpiece,
    )

    t0 = time.perf_counter()
    _m4, segs4 = train_wordpiece(
        docs, "text", num_merges=50, min_frequency=1.0, mode="local"
    )
    encode_wordpiece(docs, "text", "doc_id", segs4).write.mode(
        "overwrite"
    ).format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'wordpiece 50 + encode':28s} {dt:7.2f}s  "
          f"({docs_n / dt / 1e3:6.1f} K docs/s)")
    dbench("unigram_seed_table", lambda: unigram_seed_table(
        docs, "text", max_piece_len=6, seed_size=100_000), docs_n)
    labeled = docs.select(
        "doc_id", "text", (F.col("doc_id") % 2).alias("label")
    )
    t0 = time.perf_counter()
    train_text_classifier(
        labeled, "text", "label", n_features=1 << 16, iters=3, lr=1.0
    )
    dt = time.perf_counter() - t0
    print(f"{'classifier 3 GD iters':28s} {dt:7.2f}s  "
          f"({3 * docs_n / dt / 1e3:6.1f} K doc-passes/s)")

    # round-6 second wave: DSIR selection chain (xxhash fast family),
    # URL hygiene, PageRank over a hashed domain graph, PQ train/
    # encode/ADC over the vectors, arrow-assigned semantic dedup on a
    # CLUSTERED vector table (SemDeDup's own precondition — uniform
    # vectors make every cell quadratic)
    from pandas_weights_spark.functions.dsir import (
        dsir_doc_bucket_counts,
        dsir_gumbel_topk,
        dsir_log_ratio_sliced,
        dsir_score,
    )
    from pandas_weights_spark.functions.graph import pagerank
    from pandas_weights_spark.functions.pq import (
        pq_encode,
        topk_pq_adc,
        train_pq_codebooks,
    )
    from pandas_weights_spark.functions.similarity import semantic_dedup
    from pandas_weights_spark.functions.text import (
        canonicalize_url,
        filter_blocked_domains,
        url_domain,
    )

    def dsir_thunk():
        tagged = docs.withColumn("dom", F.pmod(F.col("doc_id"), 20))
        db = dsir_doc_bucket_counts(
            tagged, "text", ["doc_id", "dom"], n_buckets=1 << 13,
            portable=False,
        )
        lr = dsir_log_ratio_sliced(db, F.col("dom") < 2, 1 << 13)
        scored = dsir_score(
            tagged, "text", lr, ["doc_id"], n_buckets=1 << 13,
            doc_counts=db.drop("dom"), portable=False,
        )
        # r14: k = 100k (DSIR's real selection regime) — the Gumbel
        # top-k routes through the salted executor-side two-stage,
        # never the partitions x k TakeOrdered driver merge
        return dsir_gumbel_topk(
            scored.select("doc_id", "log_importance"),
            F.col("log_importance"), 100_000, ["doc_id"],
        )

    dbench("dsir select chain k=100k", dsir_thunk, docs_n)

    urls = spark.range(n).select(
        F.col("id"),
        F.concat(
            F.lit("HTTPS://Sub"),
            F.pmod(F.xxhash64("id"), F.lit(1000)).cast("string"),
            F.lit(".dom"),
            F.pmod(F.xxhash64(F.col("id") + 1), F.lit(100_000)).cast(
                "string"
            ),
            F.lit(".com:443/p/"),
            F.col("id").cast("string"),
            F.lit("?utm_source=smoke&id=1&fbclid=x#f"),
        ).alias("url"),
    )
    blocked = spark.range(5000).select(
        F.concat(
            F.lit("dom"), F.col("id").cast("string"), F.lit(".com")
        ).alias("domain")
    )

    def hygiene_thunk():
        canon = urls.select(
            "id", canonicalize_url(F.col("url")).alias("curl")
        ).withColumn("host", url_domain(F.col("curl")))
        return filter_blocked_domains(canon, F.col("host"), blocked)

    bench("url canonical + blocklist", hygiene_thunk)

    pr_nodes = n // 200
    pr_edges = spark.range(n // 20).select(
        F.pmod(F.xxhash64("id"), F.lit(pr_nodes)).alias("src"),
        F.pmod(F.xxhash64(F.col("id") + 3), F.lit(pr_nodes)).alias("dst"),
    )
    t0 = time.perf_counter()
    pagerank(pr_edges, iters=3).write.mode("overwrite").format(
        "noop"
    ).save()
    dt = time.perf_counter() - t0
    print(f"{'pagerank 3 iters':28s} {dt:7.2f}s  "
          f"({(n / 20) / dt / 1e6:6.1f} M edges/s)")

    t0 = time.perf_counter()
    cbs = train_pq_codebooks(vecs, "embedding", "vec_id", m=8, k=64,
                             iters=1)
    dt = time.perf_counter() - t0
    print(f"{'pq_train m8 k64':28s} {dt:7.2f}s  "
          f"({vec_n / dt / 1e6:6.1f} M vecs/s)")
    codes = pq_encode(vecs, "embedding", cbs).localCheckpoint(eager=False)
    t0 = time.perf_counter()
    codes.write.mode("overwrite").format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'pq_encode m8 k64':28s} {dt:7.2f}s  "
          f"({vec_n / dt / 1e6:6.1f} M vecs/s)")
    pq_queries = vecs.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.perf_counter()
    topk_pq_adc(pq_queries, codes, cbs, k=10).write.mode(
        "overwrite"
    ).format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'pq_adc 8 queries':28s} {dt:7.2f}s  "
          f"({vec_n / dt / 1e6:6.1f} M codes/s)")
    from pandas_weights_spark.functions.pq import topk_ivfpq
    from pandas_weights_spark.functions.similarity import (
        assign_cells_arrow,
        train_ivf_centroids,
    )

    ivf_cents = train_ivf_centroids(
        vecs, "embedding", 64, "vec_id", iters=1, arrow=True
    )
    indexed = assign_cells_arrow(
        codes, "embedding", ivf_cents, out_col="cell"
    ).drop("embedding").localCheckpoint(eager=False)
    t0 = time.perf_counter()
    topk_ivfpq(
        pq_queries, indexed, cbs, ivf_cents, k=10, nprobe=8
    ).write.mode("overwrite").format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'ivfpq 8/64 probe':28s} {dt:7.2f}s  "
          f"({vec_n / dt / 1e6:6.1f} M codes/s)")

    clus_n = n // 200
    clustered = spark.range(clus_n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.sin(F.pmod(F.col("id"), 5000).cast("double") * i)
            + F.sin(F.col("id").cast("double") * i) * 0.01,
        ).alias("v"),
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    semantic_dedup(
        clustered, "v", "vec_id", n_cells=1024, threshold=0.99,
        iters=1, arrow=True,
    ).write.mode("overwrite").format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'semantic_dedup arrow (1/200)':28s} {dt:7.2f}s  "
          f"({clus_n / dt / 1e3:6.1f} K vecs/s)")

    # round-7 wave: residual IVFPQ (IVFADC), token-exact span removal,
    # trigram LM scoring, progressive JPEG codec throughput
    from pandas_weights_spark.functions.dedup import (
        remove_duplicate_ngram_spans,
    )
    from pandas_weights_spark.functions.text import (
        trigram_counts,
        trigram_lm_score,
    )
    from pandas_weights_spark.functions.vocab import build_vocabulary

    celled_vecs = assign_cells_arrow(
        vecs, "embedding", ivf_cents, out_col="cell"
    ).localCheckpoint(eager=False)
    t0 = time.perf_counter()
    rcbs = train_pq_codebooks(
        celled_vecs, "embedding", "vec_id", m=8, k=64, iters=1,
        centroids=ivf_cents,
    )
    dt = time.perf_counter() - t0
    print(f"{'pq_train residual m8 k64':28s} {dt:7.2f}s  "
          f"({vec_n / dt / 1e6:6.1f} M vecs/s)")
    rcodes = pq_encode(
        celled_vecs, "embedding", rcbs, centroids=ivf_cents
    ).drop("embedding").localCheckpoint(eager=False)
    t0 = time.perf_counter()
    rcodes.write.mode("overwrite").format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'pq_encode residual':28s} {dt:7.2f}s  "
          f"({vec_n / dt / 1e6:6.1f} M vecs/s)")
    t0 = time.perf_counter()
    topk_ivfpq(
        pq_queries, rcodes, rcbs, ivf_cents, k=10, nprobe=8,
        residual=True,
    ).write.mode("overwrite").format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'ivfadc residual 8/64':28s} {dt:7.2f}s  "
          f"({vec_n / dt / 1e6:6.1f} M codes/s)")

    dbench("xspan exact (1/20)", lambda: remove_duplicate_ngram_spans(
        corpus.where(F.col("doc_id") % 20 == 0), "text", "doc_id",
        min_tokens=32), int(docs_n / 20))
    dbench("xspan fast (1/5)", lambda: remove_duplicate_ngram_spans(
        corpus.where(F.col("doc_id") % 5 == 0), "text", "doc_id",
        min_tokens=32, portable=False), int(docs_n / 5))

    lm_vocab = build_vocabulary(docs, "text", max_size=20_000)
    from pandas_weights_spark.functions.text import bigram_counts

    bg = bigram_counts(docs, "text", max_bigrams=200_000)
    tg = trigram_counts(docs, "text", max_trigrams=200_000)
    dbench("trigram_lm score", lambda: trigram_lm_score(
        docs, "text", "doc_id", lm_vocab, bg, tg), docs_n)

    from pandas_weights_spark.functions import _codecs as _C

    imgs = []
    for i in range(24):
        wpx, hpx = 64, 48
        px = bytes(
            ((x * (i + 3)) ^ (y * 7)) % 256
            for y in range(hpx) for x in range(wpx) for _ in range(3)
        )
        imgs.append(_C.ImageData(wpx, hpx, 3, px))
    t0 = time.perf_counter()
    blobs = [
        _C.encode_jpeg(im, quality=85, progressive=True) for im in imgs
    ]
    enc_dt = time.perf_counter() - t0
    t0 = time.perf_counter()
    for b in blobs:
        _C.decode_jpeg(b)
    dec_dt = time.perf_counter() - t0
    print(f"{'progressive jpeg enc 64x48':28s} {enc_dt:7.2f}s  "
          f"({len(imgs) / enc_dt:6.1f} imgs/s)")
    print(f"{'progressive jpeg dec 64x48':28s} {dec_dt:7.2f}s  "
          f"({len(imgs) / dec_dt:6.1f} imgs/s)")

    # round-8 wave: HTML extraction, sentence split, WARC/JSONL
    # containers, robots.txt decisions, link graph
    from pandas_weights_spark.functions.html import (
        html_extract,
        link_graph,
    )
    from pandas_weights_spark.functions.robots import (
        robots_allowed,
        robots_rules,
    )
    from pandas_weights_spark.functions.text import split_sentences
    from pandas_weights_spark.sources.jsonl import (
        from_jsonl_shards,
        to_jsonl_shards,
    )
    from pandas_weights_spark.sources.warc import (
        from_warc_shards,
        to_warc_shards,
        warc_record,
    )

    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>t</title></head><body>"
                  '<nav><a href="/a">H</a> <a href="/b">A</a></nav><p>'),
            F.col("text"),
            F.lit('</p><div>Short.</div><a href="https://h'),
            (F.col("doc_id") % 1000).cast("string"),
            F.lit('.example.com/x">out</a></body></html>'),
        ).alias("html"),
        F.concat(
            F.lit("h"), (F.col("doc_id") % 1000).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
    ).localCheckpoint(eager=True)
    dbench("html_extract full", lambda: html_extract(
        pages, "html").drop("html"), docs_n)
    dbench("split_sentences", lambda: docs.select(
        "doc_id", F.size(split_sentences(F.col("text"))).alias("n")),
        docs_n)
    dbench("link_graph", lambda: link_graph(pages, "html", "host"),
           docs_n)

    n_shards = 256
    rec = warc_record(
        F.concat(F.lit("https://e.org/"), F.col("doc_id").cast("string")),
        F.lit("2026-01-01T00:00:00Z"),
        F.encode(F.col("text"), "UTF-8"), "response",
    )
    warc_shards = to_warc_shards(
        docs.select(rec.alias("r")), "r", n_shards=n_shards,
        gzip_records=True,
    ).localCheckpoint(eager=False)
    dbench("warc build gz 256 shards", lambda: warc_shards, docs_n)
    warc_built = warc_shards.localCheckpoint(eager=True)
    dbench("warc parse gz", lambda: from_warc_shards(warc_built)
           .select("target_uri", F.length("http_body").alias("nb")),
           docs_n)
    jshards = to_jsonl_shards(
        docs, ["doc_id", "text"], n_shards=n_shards, gzip_shard=True
    ).localCheckpoint(eager=True)
    dbench("jsonl parse gz", lambda: from_jsonl_shards(
        jshards, "doc_id long, text string"), docs_n)

    robots = spark.range(1000).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"
              "Disallow: /*.pdf$\n").alias("txt"),
    )
    rrules = robots_rules(robots, "host", "txt", agent="databot")
    urls = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 1000).cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 1000).cast("string"),
            F.lit(".example.com/private/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    dbench("robots_allowed", lambda: robots_allowed(
        urls, rrules, "url", "host"), docs_n)

    from pandas_weights_spark.functions.datasheet import corpus_datasheet
    from pandas_weights_spark.functions.multimodal import pdf_extract_text
    from pandas_weights_spark.functions.quality import code_score
    from pandas_weights_spark.functions import _codecs as _CC

    dbench("code_score", lambda: docs.select(
        "doc_id", code_score(F.col("text")).alias("cs")), docs_n)
    sheet_src = docs.select(
        (F.col("doc_id") % 20).cast("string").alias("source"), "text"
    )
    dbench("corpus_datasheet 20 groups", lambda: corpus_datasheet(
        sheet_src, "text", ["source"]), docs_n)

    # PDF codec throughput: per-doc encode+extract is Python+zlib —
    # measure on a tenth of the corpus (the per-doc cost is the number)
    pdf_src = docs.where(F.col("doc_id") % 10 == 0)

    def _pdf_build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [
                    _CC.encode_pdf([t or ""]) for t in pdf["text"]
                ],
            })

    dbench("pdf encode+extract (1/10)", lambda: pdf_extract_text(
        pdf_src.mapInPandas(_pdf_build, "doc_id long, payload binary"),
        "payload"), int(docs_n / 10))

    # round-10 wave: charset-sniffed transcode + trainable char-ngram LID
    from pandas_weights_spark.functions.text import (
        char_ngram_lang_profile,
        ngram_lang_id,
    )
    from pandas_weights_spark.sources.warc import decode_http_body

    hdr = F.lit(
        "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=windows-1252"
    )
    body_src = docs.select(
        "doc_id", F.encode(F.col("text"), "ISO-8859-1").alias("b"),
        hdr.alias("h"),
    ).localCheckpoint(eager=True)
    dbench("charset decode (header)", lambda: body_src.select(
        "doc_id",
        F.length(decode_http_body(F.col("b"), F.col("h"))["text"])
        .alias("n"),
    ), docs_n)
    lid_train = docs.where(F.col("doc_id") % 5 != 0).select(
        (F.col("doc_id") % 5).cast("string").alias("lang"), "text"
    )
    lid_prof = char_ngram_lang_profile(
        lid_train, "text", "lang", n=3, top_k=300
    ).localCheckpoint(eager=True)
    lid_held = docs.where(F.col("doc_id") % 5 == 0)
    dbench("ngram lang-id (1/5 held)", lambda: ngram_lang_id(
        lid_held, "text", "doc_id", lid_prof,
        labels=[str(i) for i in range(5)], n=3,
    ), int(docs_n / 5))
    # r11: the Arrow scoring kernel (same model, closure dict)
    dbench("ngram lang-id arrow (1/5 held)", lambda: ngram_lang_id(
        lid_held, "text", "doc_id", lid_prof,
        labels=[str(i) for i in range(5)], n=3, arrow=True,
    ), int(docs_n / 5))

    # the gram-mass count kernel (one form; `arrow=` selects nothing)
    from pandas_weights_spark.functions.text import ngram_counts

    dbench("trigram counts jvm (capped 5k)", lambda: ngram_counts(
        docs, "text", 3, max_ngrams=5000
    ), docs_n)

    # CCNet bucket cut: the op alone (one partitioned ntile sort) over
    # a synthetic per-doc ppl column — scores come from the LM family
    # benched above
    from pandas_weights_spark.functions.text import ccnet_ppl_buckets

    ppl_src = docs.select(
        "doc_id",
        (F.col("doc_id") % 20).cast("string").alias("source"),
        (F.abs(F.hash("doc_id")) % 100000 / 100.0).alias("ppl"),
    ).localCheckpoint(eager=True)
    dbench("ccnet bucket cut", lambda: ccnet_ppl_buckets(
        ppl_src, "ppl", "doc_id", by=["source"]
    ), docs_n)

    # incremental-recrawl diff: one key-hash shuffle per snapshot side
    from pandas_weights_spark.functions.dedup import (
        content_key,
        snapshot_delta,
    )

    snap_old = docs.where(F.col("doc_id") % 10 != 0).select(
        "doc_id", content_key(F.col("text")).alias("fp")
    )
    snap_new = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        content_key(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" updated")),
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    dbench("snapshot delta", lambda: snapshot_delta(
        snap_old, snap_new, ["doc_id"], "fp"
    ), docs_n)

    # per-sentence LID -> doc language mixture (same trained profile)
    from pandas_weights_spark.functions.text import sentence_lang_mix

    dbench("sentence lang mix (1/5 held)", lambda: sentence_lang_mix(
        lid_held, "text", "doc_id", lid_prof,
        labels=[str(i) for i in range(5)], n=3,
    ), int(docs_n / 5))

    # inbound anchor-text rollup over synthetic 3-anchor pages
    from pandas_weights_spark.functions.html import anchor_stats

    anchor_pages = docs.select(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 1000).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.concat(
            F.lit('<a href="https://h'),
            ((F.col("doc_id") + 7) % 1000).cast("string"),
            F.lit('.example.com/p">Read &amp; more '),
            (F.col("doc_id") % 9).cast("string"),
            F.lit('</a><a href="/rel">home</a>'),
            F.lit('<a href="https://hub.example.com/x"></a>'),
        ).alias("html"),
    )
    dbench("anchor-text rollup", lambda: anchor_stats(
        anchor_pages, "html", "host"
    ), docs_n)

    # HITS on the 1 M-edge synthetic graph pagerank uses (2 shuffles +
    # 2 one-row L2 aggregates per iteration)
    from pandas_weights_spark.functions.graph import hits as _hits

    hedges = spark.range(int(n / 20)).select(
        (F.col("id") % 100_000).cast("string").alias("src"),
        (F.pmod(F.col("id") * 31 + 7, F.lit(100_000))).cast("string")
        .alias("dst"),
        (F.pmod(F.col("id"), 5) + 1).cast("double").alias("w"),
    )
    t0 = time.perf_counter()
    _hits(hedges, weight=F.col("w"), iters=3).write.mode(
        "overwrite").format("noop").save()
    dt = time.perf_counter() - t0
    print(f"{'hits 3 iters':28s} {dt:7.2f}s  "
          f"({n / 20 / dt / 1e6:6.1f} M edges/s)")

    # RRF fusion of two synthetic top-10 rankings (the op is bounded
    # by the already-top-k inputs: union + one agg + per-query window)
    from pandas_weights_spark.functions.search import rrf_fuse

    nq = int(n / 200)  # rows_m=20 -> 100k queries x 10 ranks x 2 lists
    def _ranking(mult):
        return spark.range(nq * 10).select(
            (F.col("id") / 10).cast("long").alias("q"),
            F.pmod(F.col("id") * mult + 1, F.lit(100_000)).alias("d"),
            (F.pmod(F.col("id"), 10) + 1).cast("int").alias("rank"),
        )
    rk1, rk2 = _ranking(7), _ranking(13)
    dbench("rrf fuse 2x top-10", lambda: rrf_fuse(
        [rk1, rk2], "q", "d", k=60.0, topk=10
    ), nq)

    # curation-funnel attrition (one aggregate pass, token-weighted)
    from pandas_weights_spark.functions.quality import pipeline_funnel
    from pandas_weights_spark.functions.text import token_count

    fun_gates = [
        ("hash_gate", F.pmod(F.xxhash64("text"), F.lit(10)) < 7),
        ("min_tokens", token_count(F.col("text")) >= 50),
        ("holdout", F.col("doc_id") % 7 != 0),
    ]
    dbench("pipeline funnel (3 gates)", lambda: pipeline_funnel(
        docs, fun_gates, weight=token_count(F.col("text")).cast("double")
    ), docs_n)

    # C4 line/page rules + FineWeb ratios (r11) — row-local, no shuffle
    from pandas_weights_spark.functions.quality import (
        c4_filter,
        fineweb_flags,
    )

    def _c4fw():
        staged = c4_filter(docs, "text")
        fw = fineweb_flags(F.col("text"))
        return staged.select(
            "doc_id", "c4_keep",
            *[c.alias(k) for k, c in fw.items()],
        )

    dbench("c4+fineweb rule filters", _c4fw, docs_n)

    # r11: HTML table recovery — row-local HOF grid parse
    from pandas_weights_spark.functions.html import extract_tables

    def _tables():
        h = F.concat(
            F.lit('<p>x</p><table><tr><th>K</th><th>V</th></tr>'
                  "<tr><td>doc<td>"),
            F.col("doc_id").cast("string"),
            F.lit("</tr><tr><td>"), F.col("text"),
            F.lit("</td><td>&#233;</td></tr></table>"),
        )
        return docs.select(
            "doc_id", extract_tables(h).alias("tables")
        )

    dbench("html table extraction", _tables, docs_n)

    # r11: readability panel — row-local token+sentence algebra;
    # r12 pairs it with the Arrow twin (compiled-re kernel, exact
    # parity pinned) — the JVM side was the slowest per-doc entry
    from pandas_weights_spark.functions.quality import (
        readability_metrics,
        readability_panel,
    )

    def _readability():
        m = readability_metrics(F.col("text"))
        return docs.select(
            "doc_id", *[c.alias(k) for k, c in m.items()]
        )

    dbench("readability panel jvm", _readability, docs_n)
    dbench("readability panel arrow", lambda: readability_panel(
        docs.select("doc_id", "text"), "text", arrow=True
    ), docs_n)

    # r11: HTML -> Markdown rewrite table
    from pandas_weights_spark.functions.html import html_to_markdown

    def _markdown():
        h = F.concat(
            F.lit("<h1>T</h1><p>Lead <strong>bold</strong> and "
                  '<a href="/x">link</a>.</p><ul><li>a<li>b</ul><p>'),
            F.col("text"),
            F.lit("</p>"),
        )
        return docs.select(
            "doc_id", F.length(html_to_markdown(h)).alias("n")
        )

    dbench("html -> markdown", _markdown, docs_n)

    # r11: DEFLATE compressibility (Arrow batch, zlib per row)
    from pandas_weights_spark.functions.quality import (
        compression_ratio,
    )

    def _compress():
        return docs.select(
            "doc_id", compression_ratio(F.col("text")).alias("cr")
        )

    dbench("compression ratio", _compress, docs_n)

    # r11: semantic decontamination — broadcast bench x corpus BNL
    from pandas_weights_spark.functions.decontam import (
        semantic_overlap,
    )

    def _semdecon():
        emb = spark.range(docs_n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(32)),
                lambda i: (
                    F.pmod(
                        F.xxhash64(F.col("id") * F.lit(13) + i),
                        F.lit(1000),
                    ).cast("double")
                    / 500.0
                    - 1.0
                ),
            ).alias("embedding"),
        )
        bench_set = emb.where(F.col("vec_id") % 20_000 == 0).select(
            F.col("vec_id").alias("bid"),
            F.col("embedding").alias("bv"),
        )
        return semantic_overlap(
            emb, bench_set, 0.99, "vec_id", "embedding", "bid", "bv"
        )

    dbench("semantic decontam 25-row bench", _semdecon, docs_n)

    # r12: multi-phrase blocklist — a realistic ~1.5K-phrase list is
    # where the Arrow compiled loop earns its keep over the
    # 2-ops-per-phrase Column fold
    from pandas_weights_spark.functions.text import phrase_hits

    big_list = [f"phrase {i} marker" for i in range(1500)] + [
        "data", "processing", "common word",
    ]
    dbench("phrase_hits arrow (1.5K list)", lambda: phrase_hits(
        docs, "text", "doc_id", big_list, arrow=True
    ), docs_n)
    small_list = big_list[:64]
    dbench("phrase_hits jvm (64 list)", lambda: phrase_hits(
        docs, "text", "doc_id", small_list
    ), docs_n)

    # r12: punkt abbreviation training — one explode + one type agg
    from pandas_weights_spark.functions.text import (
        train_sentence_abbreviations,
    )

    dbench("punkt abbrev training", lambda: train_sentence_abbreviations(
        docs, "text", min_count=5
    ), docs_n)

    # r12: snapshot-incremental near-dup — batch vs a persisted-state
    # table of equal size (band joins + candidate-only verify)
    from pandas_weights_spark.functions.dedup import (
        minhash_dedup_incremental,
    )

    def _incr():
        old = docs.where(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text"
        )
        new = docs.where(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text"
        )
        _s0, st = minhash_dedup_incremental(
            old, "text", "doc_id", num_hashes=16, bands=4,
            portable=False,
        )
        surv, _st2 = minhash_dedup_incremental(
            new, "text", "doc_id", state=st, num_hashes=16, bands=4,
            portable=False,
        )
        return surv.select("doc_id")

    dbench("incremental neardup (2 snaps)", _incr, docs_n)

    # r13: punkt stage-2 trainers — ONE pair explode feeding the
    # (w1,w2) / boundary-starter-ortho aggregates + type-keyed joins
    from pandas_weights_spark.functions.text import (
        train_sentence_collocations,
        train_sentence_starters,
    )

    dbench("punkt collocations", lambda: train_sentence_collocations(
        docs, "text", min_pair_count=5
    ), docs_n)
    dbench("punkt starters", lambda: train_sentence_starters(
        docs, "text", min_count=5
    ), docs_n)

    # r13: snapshot-incremental semantic dedup — trained cells shared
    # across both snapshots, cell-local state join + cosine verify
    from pandas_weights_spark.functions.dedup import (
        semantic_dedup_incremental,
    )
    from pandas_weights_spark.functions.similarity import (
        train_ivf_centroids,
    )

    def _sem_incr():
        cents = train_ivf_centroids(
            clustered, "v", 1024, "vec_id", iters=1, arrow=True
        )
        old = clustered.where(F.col("vec_id") % 2 == 0)
        new = clustered.where(F.col("vec_id") % 2 == 1)
        _s0, st = semantic_dedup_incremental(
            old, "v", "vec_id", cents, threshold=0.99, arrow=True
        )
        surv, _st2 = semantic_dedup_incremental(
            new, "v", "vec_id", cents, state=st, threshold=0.99,
            arrow=True,
        )
        return surv.select("vec_id")

    dbench("incremental semdedup (2 snaps)", _sem_incr, clus_n)

    # r13: c-TF-IDF over a 20-way synthetic class split — explode +
    # (class, term) agg + vocab-keyed join + per-class top-k window
    from pandas_weights_spark.functions.text import class_tfidf

    cdocs = docs.select(
        (F.col("doc_id") % 20).cast("string").alias("src"), "text"
    )
    dbench("class_tfidf top-10 x20", lambda: class_tfidf(
        cdocs, "text", "src", k=10, min_tf=2
    ), docs_n)

    # r14: the skew case the partitioned_topk route is for — 90% of
    # docs in ONE class (a web-scale class), the rest across 19; the
    # per-class rank must not serialize on the big class (Partial
    # WindowGroupLimit pre-filters every map task before the exchange)
    skewed = docs.select(
        F.when(F.col("doc_id") % 10 < 9, F.lit("web"))
        .otherwise((F.col("doc_id") % 19).cast("string"))
        .alias("src"),
        "text",
    )
    dbench("class_tfidf skewed 90/10", lambda: class_tfidf(
        skewed, "text", "src", k=10, min_tf=2
    ), docs_n)

    # r14: write_shuffled at n_files=512 — the deterministic keyed
    # global shuffle sink (repartitionByRange + sortWithinPartitions;
    # REAL parquet write, tmpdir cleaned up). Reported as files/s.
    import shutil
    import tempfile

    from pandas_weights_spark.sources.sinks import write_shuffled

    if not name_filter or any(
        t in "write_shuffled 512 files" for t in name_filter.split(",")
    ):
        tmpd = tempfile.mkdtemp(prefix="pw_shuf_")
        try:
            t0 = time.perf_counter()
            write_shuffled(
                docs.select("doc_id", "text"), f"{tmpd}/out",
                key="doc_id", n_files=512,
            )
            dt = time.perf_counter() - t0
            print(
                f"{'write_shuffled 512 files':28s} {dt:7.2f}s  "
                f"({512 / dt:6.1f} files/s, {docs_n / dt / 1e3:6.1f} "
                f"K docs/s)"
            )
        finally:
            shutil.rmtree(tmpd, ignore_errors=True)

    # r13: Min-K% Prob over the trigram LM — capped model tables
    # trained on the full corpus, a 10% slice scored (per-doc
    # collect/sort/slice after broadcast joins)
    from pandas_weights_spark.functions.text import (
        bigram_counts,
        mink_prob_score,
        trigram_counts,
    )
    from pandas_weights_spark.functions.vocab import build_vocabulary

    def _mink():
        v = build_vocabulary(docs, "text", max_size=50_000)
        bg = bigram_counts(docs, "text", max_bigrams=100_000)
        tg = trigram_counts(docs, "text", max_trigrams=200_000)
        return mink_prob_score(
            docs.where(F.col("doc_id") % 10 == 0), "text", "doc_id",
            v, bg, tg, k=0.2,
        )

    dbench("mink_prob (train+score 10%)", _mink, docs_n)

    # r13: sitemap XML parsing — row-local regex+HOF over synthetic
    # 10-entry urlsets (scan-speed claim for the discovery step)
    from pandas_weights_spark.functions.robots import sitemap_entries

    sm_xml = F.concat(
        F.lit("<urlset>"),
        F.aggregate(
            F.sequence(F.lit(1), F.lit(10)),
            F.lit(""),
            lambda acc, i: F.concat(
                acc,
                F.lit("<url><loc>https://h"),
                F.col("doc_id").cast("string"),
                F.lit(".ex/p"),
                i.cast("string"),
                F.lit("</loc><lastmod>2024-03-05</lastmod>"
                      "<priority>0.5</priority></url>"),
            ),
        ),
        F.lit("</urlset>"),
    )
    dbench("sitemap_entries 10-url", lambda: docs.select(
        F.size(sitemap_entries(sm_xml)).alias("n")
    ), docs_n)

    # r14: WAT metadata records — envelope build (title + anchors ->
    # JSON -> WARC framing) per doc over a 3-anchor page, and the
    # full shard+parse roundtrip on a 10% slice (container Arrow
    # surfaces price per record)
    from pandas_weights_spark.sources.warc import (
        from_warc_shards,
        parse_wat_records,
        to_warc_shards,
        wat_record,
    )

    wat_html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title></head><body><a href="https://h'),
        F.pmod(F.col("doc_id"), 1000).cast("string"),
        F.lit('.ex/a">read  this</a><a href="/rel">rel</a>'
              '<a href="https://hub.ex/x">hub &amp; co</a>'
              "</body></html>"),
    )
    wat_uri = F.concat(
        F.lit("https://s"), F.pmod(F.col("doc_id"), 100).cast("string"),
        F.lit(".ex/p"), F.col("doc_id").cast("string"),
    )
    wrec = wat_record(wat_uri, F.lit("2026-01-02T00:00:00Z"), wat_html)
    dbench("wat_record build", lambda: docs.select(
        F.length(wrec).alias("n")
    ), docs_n)

    def _wat_roundtrip():
        slice_docs = docs.where(F.col("doc_id") % 10 == 0)
        shards = to_warc_shards(
            slice_docs.select(wrec.alias("r")), "r", n_shards=256,
            gzip_records=True,
        )
        return parse_wat_records(from_warc_shards(shards)).select(
            "target_uri", "title", F.size("links").alias("n")
        )

    dbench("wat shard+parse (1/10)", _wat_roundtrip, docs_n // 10)

    # r14: SURT canonical keys + CDXJ index-line parse over the full
    # url table (row-local regex + get_json_object; the index scan a
    # selection pipeline runs INSTEAD of touching the archive)
    from pandas_weights_spark.functions.cdx import cdxj_entries, surt_key

    bench("surt_key canonicalize", lambda: urls.select(
        F.length(surt_key(F.col("url"))).alias("n")
    ))
    cdxu = spark.range(n)
    cdx_line = F.concat(
        F.lit("com,ex)/p"), F.col("id").cast("string"),
        F.lit(' 20260102000000 {"url": "https://ex.com/p'),
        F.col("id").cast("string"),
        F.lit('", "mime": "text/html", "status": "200", '
              '"length": "1234", "offset": "'),
        (F.col("id") * 7).cast("string"),
        F.lit('", "filename": "crawl-'),
        F.pmod(F.col("id"), 512).cast("string"),
        F.lit('.warc.gz"}'),
    )
    bench("cdxj_entries parse", lambda: cdxu.select(
        cdxj_entries(cdx_line).alias("e")
    ).select(F.col("e.status").alias("s"), F.col("e.offset").alias("o")))

    # r15: the tokenizer word-table cap in its REAL regime — a cap
    # (200 k) above the window group-limit threshold over a corpus
    # with ~n distinct pre-tokens, so the cut routes through the
    # salted executor-side global_top_by_mass (no TakeOrdered driver
    # merge of partitions x cap rows). VERDICT r14 item 1's "done"
    # criterion.
    from pandas_weights_spark.functions.vocab import bpe_word_table

    wt_docs = docs.select(
        F.concat(
            F.col("text"), F.lit(" tok"),
            F.pmod(F.col("doc_id") * 2654435761, 1_000_000)
            .cast("string"),
        ).alias("text")
    )
    dbench("bpe_word_table 200k salted", lambda: bpe_word_table(
        wt_docs, "text", max_words=200_000
    ).select("word", "freq"), docs_n)

    # r14: OPQ rotation — arrow batch matmul over 1M 64-d vectors
    # (the PQ family's new preprocessing stage)
    from pandas_weights_spark.functions.pq import opq_rotate

    vec_n = min(n // 20, 1_000_000)
    vecs = spark.range(vec_n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.sin(F.col("id") * i.cast("double")),
        ).alias("embedding"),
    )
    import numpy as _np

    _rng = _np.random.default_rng(5)
    _q, _ = _np.linalg.qr(_rng.normal(size=(64, 64)))
    rot64 = [[float(x) for x in row] for row in _q]
    if not name_filter or any(
        t in "opq_rotate arrow 1m" for t in name_filter.split(",")
    ):
        t0 = time.perf_counter()
        opq_rotate(vecs, "embedding", rot64).select(
            "vec_id", F.element_at("opq_vec", 1).alias("x")
        ).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        print(
            f"{'opq_rotate arrow 1M':28s} {dt:7.2f}s  "
            f"({vec_n / dt / 1e6:6.1f} M vecs/s)"
        )

    # ccnet/mink SCORING fan_out over a one-task source (the
    # sf0.1 docs table is one parquet file = one scan task; at scale
    # a few-files shard layout reproduces it). Tables precomputed +
    # eagerly checkpointed so both arms time ONLY the scoring pass.
    from pandas_weights_spark.functions.text import (
        ngram_lm_score,
        ngram_model_tables,
    )
    from pandas_weights_spark.sources import fan_out

    if not name_filter or any(
        t in ("mkn", "score", "fan_out") for t in name_filter.split(",")
    ):
        docs1 = docs.repartition(1).localCheckpoint(eager=True)
        _tabs = ngram_model_tables(
            docs, "text", {2: 5000, 3: 5000}, arrow=True
        )
        _bg = _tabs[2].localCheckpoint(eager=True)
        _tg = _tabs[3].localCheckpoint(eager=True)

        def _score(src):
            return ngram_lm_score(
                src, "text", "doc_id", None, {2: _bg, 3: _tg}, None,
                alpha=0.5, smoothing="mkn",
                discounts={2: (0.4, 1.1, 1.9), 3: (0.5, 1.3, 2.2)},
            ).select("doc_id", "ppl")

        dbench("mkn score 1-task src", lambda: _score(docs1), docs_n)
        dbench(
            "mkn score fan_out src",
            lambda: _score(fan_out(docs1)),
            docs_n,
        )

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
