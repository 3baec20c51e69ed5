"""Plan audit: sweep EVERY driver query's physical plan for scale-risk
patterns and print a verdict table.

Risks flagged:

* ``python-eval``  — BatchEvalPython / row-at-a-time Python in the plan
  (Arrow-batched ``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas`` are reported separately as ``arrow`` — those
  are the sanctioned Python surfaces: apply/multimodal/streaming state).
* ``cartesian``    — CartesianProduct / BroadcastNestedLoopJoin with no
  join keys: quadratic candidate generation.
* ``global-window``— an ordered window whose partition spec is EMPTY
  (whole-table single-task sort). The exact global quantile/median path
  is the one documented holder of this (binned variant is the scale
  path); anything else is a regression.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Exit code 1 if a query outside the documented allowlist trips a risk.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

#: documented, accepted exceptions — query -> set of allowed risk tags
ALLOW = {
    # Arrow-batched Python IS the operator's contract on these surfaces
    "grouped_apply": {"arrow"},
    "series_apply": {"arrow"},
    "multimodal_features": {"arrow"},
    "session_agg": {"arrow"},
    # WARC shard assembly (applyInPandas per shard) and record parse
    # (mapInPandas) are the operator's contract — a binary container
    # build/walk, per-record memory, like the webdataset tar surface
    "warc_roundtrip": {"arrow"},
    # r13: WET is the same container machinery (conversion records
    # through to/from_warc_shards) — the warc_roundtrip contract
    "wet_roundtrip": {"arrow"},
    # r14: WAT rides the same shard build/walk; the envelope JSON
    # itself is Column-level to_json/from_json
    "wat_roundtrip": {"arrow"},
    # JSONL shard assembly + the per-shard gunzip pass are the
    # container's contract (one Arrow row per SHARD, not per record;
    # the record parse itself is Column-level from_json)
    "jsonl_roundtrip": {"arrow"},
    # PDF build (mapInPandas fixture writer) + text extraction
    # (pdf_extract_text) are per-document codec work — the
    # multimodal_features contract on the documents modality
    "pdf_extract": {"arrow"},
    # r10: charset transcode (encode_text / decode_http_body) is the
    # sanctioned Arrow surface — a per-row charset has no Column
    # analog (Spark's encode/decode take constant charsets); the WARC
    # shard assembly/parse ride along as in warc_roundtrip
    "charset_decode": {"arrow"},
    "charset_stats": {"arrow"},
    # r11: the usurv rows key on ccnet_normalize(normalize_unicode=
    # 'NFKC') — unicodedata's per-codepoint tables have no Column
    # analog, so unicode_normalize is a sanctioned Arrow pass (like
    # decode_http_body); every other row group stays Column-only
    "dedup_exact": {"arrow"},
    # weighted_linreg solves the normal equations in applyInPandas over
    # the per-group MOMENT rows (one row per group) — python above the
    # aggregate, never on the data (pinned by test_regression)
    "linfit": {"arrow"},
    # the banded Gini/KS/MWU machinery's keyless offset window runs
    # over the <= bands-row band-count table, and chi2/MI/bootstrap
    # attach 1-row grand-total frames via broadcast cross joins — both
    # bounded by construction (quantile.py/_banded_cums, inference.py);
    # r5: the t-digest rows ride mapInPandas/applyInPandas partials —
    # the sketch's sanctioned Arrow surface (functions/tdigest.py)
    "weighted_tests": {"global-window", "bnl-cross", "arrow"},
    # r6: pq_topk's ivq rows route the coarse cell assignment through
    # assign_cells_arrow (batched matmul mapInPandas — the IVF
    # family's sanctioned Arrow surface); the encode/ADC data path in
    # the same query stays Column-only (the enc/adc rows pin it)
    "pq_topk": {"arrow"},
    # r5: vocab/bpe id-rank windows run over TakeOrderedAndProject-
    # limited tables (50-row vocabulary / 40-row pair cut — the limit
    # executes BEFORE the window, visible in the plan), and tf-idf
    # crosses the 1-row document-count frame — all bounded by
    # construction (functions/vocab.py, functions/text.py).
    # r15: the word-table caps route through the salted executor-side
    # cut above the window group-limit threshold (topk.py), whose
    # stage-2 re-rank is a global window over ≤ salt_buckets × cap
    # SURVIVORS of the salted stage-1 — bounded by construction,
    # one spillable executor-side sort, never the corpus (the shape
    # that REPLACED the partitions × cap TakeOrdered driver merge)
    "tfidf_top_terms": {"global-window", "bnl-cross"},
    # seasonal_decompose windows the BUCKET table (one row per bucket,
    # bounded by range/rule — resample.py docstring) and crosses the
    # 1-row grand phase mean
    "resample_rules": {"global-window", "bnl-cross"},
    # r6: the gradient-kernel rank window runs over the 40-row
    # TakeOrderedAndProject-limited cut (the tfidf/bpe/usd plan shape
    # — the limit executes BEFORE the window, visible in the plan)
    "quality_classifier": {"global-window"},
    # r10: the bucket cut itself is PARTITIONED (ntile per source);
    # the only global window is ngram_counts' top-k cap over the
    # AGGREGATED gram table (the tfidf_top_terms shape — bounded by
    # the 5000-row limit, never the corpus)
    "ccnet_buckets": {"global-window"},
    # r11: the cumulative-TP/FP and ROC-lag windows run over the
    # AGGREGATED bin table (≤ n_bins=20 rows — the rank-over-40-rows
    # discipline, pinned by a window-after-aggregate test); the
    # crossJoins broadcast the 1-row totals/AUC aggregates back
    "classifier_eval": {"global-window"},
    # r12: zipf_stats ranks the CAPPED head (global_top_by_mass limit
    # executes BEFORE the window — the tfidf/bpe plan shape, ≤ top_k
    # rows) and crossJoins the two 1-row scalar/regression aggregates
    # back (the classifier_eval/weighted_tests discipline)
    "zipf_stats": {"global-window", "bnl-cross"},
    # r13: mink_prob builds the SAME capped model tables as the lm3
    # rows (global_top_by_mass limit executes BEFORE the window —
    # the tfidf/bpe/zipf plan shape, ≤ max_size/max_bigrams/
    # max_trigrams rows under the window); the scoring joins are
    # broadcast and the per-doc slice is an aggregate, not a window
    "mink_prob": {"global-window"},
    # ------------------------------------------------------------------
    # r14: bnl-cross is NO LONGER globally exempt — every legitimate
    # BroadcastNestedLoopJoin-Cross below broadcasts a 1-ROW scalar
    # aggregate or a capped/bounded-by-construction table back onto
    # the data; a real large×large cross now FAILS the gate
    # (tests/test_guards.py pins the negative case).
    # ------------------------------------------------------------------
    # 1-row grand-total / grand-moment frames crossJoined back onto
    # the aggregate (inference.py/pivot.py/corr.py scalar-attach)
    "global_stats": {"bnl-cross"},
    "null_semantics": {"bnl-cross"},
    "crosstab": {"bnl-cross"},
    "spearman_corr": {"bnl-cross"},
    # 1-row average-class-mass aggregate (text.py class_tfidf's __A__)
    "class_tfidf": {"bnl-cross"},
    # 1-row corpus-total frames over the CAPPED Punkt model tables
    # (text.py punkt training: totals attach to ≤ max_types rows).
    # r15: the trainers' million-row caps route through the salted
    # executor-side topk.capped_top above the group-limit threshold
    # (text.py → topk.py); its stage-2 re-rank is a global window
    # over ≤ salt_buckets × cap stage-1 survivors — bounded by
    # construction, spillable, the shape that replaced the
    # partitions × cap TakeOrdered driver merge
    "punkt_abbrevs": {"bnl-cross", "global-window"},
    "punkt_context": {"bnl-cross", "global-window"},
    # r15: doc_weighted_stats' vocab fold (build_vocabulary at the
    # 50k default cap) rides the same salted cut — same bounded
    # stage-2 re-rank rationale as tfidf_top_terms
    "doc_weighted_stats": {"global-window"},
    # broadcast-capped QUERY tables: the probe side is explicitly
    # capped (pq.py:501 / similarity.py broadcast-query contract), so
    # the cross is (capped queries) × (candidate cells), never
    # data × data
    "ann_topk": {"bnl-cross"},
    "ann_recall": {"bnl-cross"},
    "hybrid_search": {"bnl-cross"},
    "knn_density": {"bnl-cross"},
    # broadcast benchmark/decontam reference table (decontam.py —
    # bounded by the benchmark suite's size, not the corpus)
    "semantic_decontam": {"bnl-cross"},
    # 1-row bloom-filter aggregate broadcast to the probe side
    "bloom_semi_join": {"bnl-cross"},
    # band-interval table broadcast for the range predicate (bounded
    # by the band count, not the data)
    "range_join": {"bnl-cross"},
    # r14: the UniMax water-filling windows run over the AGGREGATED
    # group-mass table ONLY (languages/sources — ≤ tens of rows; the
    # classifier_eval window-over-aggregate discipline); the corpus
    # pass is one map-side-combining mass aggregate
    "unimax_alloc": {"global-window"},
}

#: r14 additions to pre-existing entries (kept separate so the
#: original rationales above stay verbatim): classifier_eval crosses
#: the 1-row totals/AUC aggregates; pq_topk broadcasts the capped
#: query table (pq.py:501)
ALLOW["classifier_eval"] = ALLOW["classifier_eval"] | {"bnl-cross"}
ALLOW["pq_topk"] = ALLOW["pq_topk"] | {"bnl-cross"}


def unallowed_risks(name: str, risks: "set[str]") -> "set[str]":
    """Risks the gate fails on: everything not in the query's ALLOW
    entry. Since r14 there is NO unconditional exemption — bnl-cross
    must be explicitly allowed with a 1-row-broadcast/capped-table
    rationale, so a real large×large cross fails the gate."""
    return {r for r in risks if r not in ALLOW.get(name, set())}

_GLOBAL_WINDOW = re.compile(
    r"windowspecdefinition\((?![^)]*,\s*[^)]*\bASC\b[^)]*,)"
)


def audit_plan(plan: str) -> set[str]:
    risks: set[str] = set()
    if "BatchEvalPython" in plan:
        risks.add("python-eval")
    if any(
        t in plan
        for t in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    ):
        risks.add("arrow")
    if "CartesianProduct" in plan:
        risks.add("cartesian")
    if "BroadcastNestedLoopJoin" in plan and "Cross" in plan:
        # broadcast cross of a tiny literal frame (e.g. a 1-row median)
        # is fine; flag only when BOTH sides exceed a leaf threshold is
        # not determinable statically — report for eyeballing
        risks.add("bnl-cross")
    # ordered window with empty partition spec: the spec starts with the
    # ordering expression list; partitioned specs list partition columns
    # before the first "ASC NULLS"/"DESC NULLS" ordering entry.
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0]
        if " ASC" in head or " DESC" in head:
            risks.add("global-window")
    return risks


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    failures = []
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}")
            failures.append(name)
            continue
        risks = audit_plan(plan)
        bad = unallowed_risks(name, risks)
        status = "FAIL" if bad else "ok"
        detail = ",".join(sorted(risks)) or "-"
        print(f"{status:4} {name:28} {detail}")
        if bad:
            failures.append(name)
    spark.stop()
    print(f"\n{len(failures)} queries with unallowed risks")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
