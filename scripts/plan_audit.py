#!/usr/bin/env python
"""Whole-catalog plan-hygiene audit: compile EVERY catalog query and
mechanically scan its physical plan for the scale anti-patterns the
engine's design rules forbid — driver-side loops aside, these are the
things that kill a 100-TB run:

* ``CartesianProduct``            — never allowed;
* ``BatchEvalPython``             — row-at-a-time Python, never allowed;
* ``MapInArrow`` / ``MapInPandas`` / ``ArrowEvalPython`` (scalar or
  grouped pandas UDF — Arrow-vectorized, the allowed slow path) —
  allowed only at the documented kernel boundaries (quantize,
  repetition stats, multimodal, GEMM, trimmed aggs, PCA…), reported
  so new ones get reviewed;
* ``Exchange SinglePartition``    — allowed only for (a) 1-row scalar
  aggregates feeding a broadcast (bounded input: one partial row per
  partition) and (b) windows over provably tiny post-aggregation
  frames (≤ |sources|, ≤ histogram buckets…), which must be named in
  the allowlist below with the bounding argument;
* ``BroadcastNestedLoopJoin``     — allowed only for the documented
  tiny-scalar crossJoin-broadcasts (1-row totals, ≤5-query sides).

Writes PLAN_AUDIT.json (per-query findings + summary) and exits
non-zero if an UNDOCUMENTED anti-pattern appears — so the audit can
gate a round the way verify_oracle gates correctness.

Usage: python scripts/plan_audit.py  [--sf DIR]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# --- allowlists: every entry carries the bounding argument ---------------

# queries whose plan legitimately crosses the Arrow boundary
ARROW_KERNELS = {
    "sim_quantize_int8": "int8 quantize kernel (operators/quantize.py)",
    "text_repetition_stats": "gram run-length kernel (functions/text.py)",
    "multimodal_features": "decode/feature kernels (functions/multimodal.py)",
    "sim_gemm_topk": "sharded GEMM kernel (operators/ann_shard.py)",
    "agg_pandas_udf_trimmed": "grouped trimmed-agg pandas UDF",
    "sim_pandas_udf_norm": "vector-norm pandas UDF tier",
    "emb_pca_project": "mapInArrow moment/projection pass (operators/pca.py)",
    "emb_standardize": "mapInArrow standardize pass",
    "sim_whiten_labels": "ZCA whitening kernel",
    "tok_vocab_sketch": "Misra-Gries candidate pass (operators/heavy.py)",
    "text_bpe_encode": "BPE encode kernel (operators/bpe.py)",
    "text_bpe_token_count": "BPE encode kernel (operators/bpe.py)",
    "text_lm_perplexity": "LM scoring kernel",
    "sim_ivf_topk": "IVF training collect + probe kernel",
    "sim_ivf_exact": "IVF training collect + probe kernel",
    "sim_pq_topk": "PQ codebook kernel",
    "sim_pq_exact": "PQ codebook kernel",
    "tok_zipf_profile": "term-count partial kernel (functions/text.py term_count_partials)",
    "text_source_diversity": "term-count partial kernel (functions/text.py term_count_partials)",
    "tok_ttr_by_source": "term-count partial kernel (functions/text.py term_count_partials)",
    "tok_oov_by_source": "term-count partial kernel (functions/text.py term_count_partials)",
    "tok_fertility_by_lang": "token-count partial kernel (functions/text.py token_count_partials)",
    "dedup_winnowing_fingerprints": "per-doc rolling-hash winnow kernel (operators/winnowing.py)",
    "dedup_winnow_pairs": "per-doc rolling-hash winnow kernel (operators/winnowing.py)",
    "dedup_media_phash": "image synth + decode/dHash kernels (functions/multimodal.py)",
    "dedup_audio_fingerprint": "WAV synth + decode/fingerprint kernels (functions/multimodal.py)",
    "dedup_video_fingerprint": "AVI synth + frame-sample/dHash/majority kernels (functions/multimodal.py)",
    "sim_ivf_index_merge": "IVF training collect + GEMM assignment/probe kernels (operators/ann_index.py)",
    "dedup_cross_modal_agreement": "image synth + decode/dHash kernels on the media leg (functions/multimodal.py; surfaced by the r10 reuse_gate exchange, which keeps the kernel in the final adaptive plan string)",
    # r13 vectorized kernels: the minhash permutation fold (zero-shuffle
    # mapInArrow, parity-pinned bit-identical to the Catalyst twin) and
    # the triangular pair unfold (operators/pairs.py, parity-pinned)
    "dedup_minhash": "minhash permutation-fold kernel (operators/dedup.py minhash_signatures)",
    "dedup_incremental_delta": "minhash permutation-fold kernel (operators/dedup.py minhash_signatures)",
    "dedup_band_index_merge": "minhash permutation-fold kernel (operators/dedup.py minhash_signatures)",
    "corpus_build_production": "minhash permutation-fold kernel (operators/dedup.py minhash_signatures)",
    "basket_association_lift": "triangular pair-unfold kernel (operators/pairs.py)",
    "graph_degree_distribution": "triangular pair-unfold kernel (operators/pairs.py)",
    "graph_triangle_count": "triangular pair-unfold kernel (operators/pairs.py)",
    "graph_neighbor_jaccard": "triangular pair-unfold kernel (operators/pairs.py)",
}

# queries allowed an Exchange SinglePartition, with the bound
SINGLE_PARTITION_OK = {
    "curriculum_interleave": "row_number over post-distinct |sources| rows",
    "events_rfm": "1-row global-max scalar agg feeding broadcast",
    "tok_vocab_topk": "top-100 window over post-agg distinct-token counts",
    "tok_vocab_sketch": "top-100 window over <=k candidate recounts",
    "events_value_histogram": "window over <=bucket-count rows",
    "events_decile_stats": "1-row scalar agg for global deciles",
    "profile_lineitem": "1-row scalar summary",
    "events_anomaly_mad": "1-row scalar agg (global MAD) feeding broadcast",
    "text_tfidf_topterms": "top-k window over post-agg term counts",
    "text_pmi_bigrams": "orderBy+limit 50 over post-agg collocations",
    "b2_sort_topk": "global ORDER BY is the operator's contract (top-k)",
    "q1_pricing_summary": "4-group ORDER BY tail",
    "q3_top_revenue_orders": "top-10 tail",
    "q5_region_revenue": "ORDER BY over <=25 nation rows",
    "window_lag_range_daily": "lag/range window over the per-day series (<=|days| rows post-agg)",
    "events_active_users": "cumulative window over per-day DAU rows (<=|days|)",
    "events_cume_users": "cumulative window over per-day first-seen counts (<=|days|)",
    "dq_expectations": "1-row-per-table scalar audit aggs (distinct-count final pass emits one row)",
    "tok_zipf_profile": "rank/cumsum window over the post-agg vocabulary (<=|distinct terms|)",
    "window_bollinger_bands": "rolling-moment window over the per-day aggregated series (<=|days|)",
    "window_rsi_cutler": "lag + rolling-sum windows over the per-day aggregated series (<=|days|)",
    "events_wau_sliding": "prefix sum over per-day boundary deltas (<=|days|+7 rows post-agg)",
    "corpus_source_gini": "rank/cumsum window over the per-source aggregate (<=|sources| rows)",
    "corpus_quality_prune_curve": "parallel-rank ntile (no corpus-wide SinglePartition); remaining windows ride the 10-row decile frame",
    "orders_seasonality_mom": "lag-1/lag-12 window over the post-agg monthly series (<=|months| rows, ~84 at x1000)",
    "dq_doc_embedding_coverage": "global totals window over the post-agg per-source frame (<=|sources|+1 rows; replaced the r9 crossJoin'd aggregate branch, which re-executed the whole join subtree)",
    "text_contamination_matrix": "source->idx row_number over the distinct-source dim (<=|sources| rows; the r10 bitmask rollup's broadcast side)",
}

BNLJ_OK = {
    "dedup_semantic_semdedup": (
        "exact single-cell mode: the constant cell key constant-folds "
        "the intra-cell equi-join into the all-pairs BNLJ ON PURPOSE "
        "(provably-exact fixture-scale pin, plans/dedup_ops.py); the "
        "production nlist>1 path equi-joins on a real cell column"
    ),
    "sample_mixture": "1-row totals crossJoin broadcast",
    "sample_mixture_dedup_aware": "1-row totals crossJoin broadcast",
    "sample_temperature_mixture": "1-row totals crossJoin broadcast",
    "events_power_users_pareto": "1-row totals + 3-row pct broadcast",
    "retrieval_hybrid_rrf": "<=5-query dense-leg broadcast",
    "retrieval_rerank_topk": "<=5-query candidate broadcast",
    "sim_cosine_topk": "<=10-query broadcast (corpus x tiny Q contract)",
    "sim_radius_search": "<=10-query broadcast",
    "sim_gemm_topk": "query-block broadcast (ann_shard contract)",
    "sim_knn_graph": "sampled-query broadcast",
    "events_ab_lift": "1-row variant-total broadcast",
    "events_cume_users": "1-row user-total broadcast",
    "agg_approx_quantiles": "1-row exact-quantile frame broadcast",
    "window_cusum_changepoint": "per-type mean broadcast join on literal",
    "events_attribution": "1-row channel-total broadcast",
    "agg_stats": "1-row global-stats broadcast",
    "events_seasonal_profile": "1-row global-mean broadcast",
    "text_decontaminate": "broadcast eval-set (contract: small benchmark)",
    "dedup_embedding": "broadcast projection matrix",
    "text_lm_perplexity": "broadcast LM table",
    "zorder_values": "1-row min/max frame broadcast",
    "dq_distribution_drift": "1-row totals crossJoin broadcast",
    "events_ab_cuped": "1-row global-moment frame broadcast",
    "corpus_epoch_plan": "1-row budget-totals crossJoin broadcast",
    "sim_mrl_prefix_recall": "<=10-query broadcast per cosine_topk leg",
    "corpus_source_gini": "1-row moment frame crossJoin broadcast",
    "dq_benford_first_digit": "1-row totals crossJoin broadcast",
    "sim_ann_recall_monitor": (
        "<=8-query broadcast on the exact cosine_topk leg; every "
        "approximate leg is a bucket/cell equi-join (similarity_ops)"
    ),
    "orders_backlog_aging": "1-row open-total crossJoin broadcast",
    "orders_pareto_abc": "1-row revenue-total crossJoin broadcast",
    "dedup_band_tuning_monitor": (
        "200-doc slice contract: the exact-truth leg is an "
        "all-pairs cross join over <=200 rows (C(200,2) pairs), "
        "the error-monitor discipline"
    ),
}


def main() -> None:
    from pyspark.sql import SparkSession

    from spark_bi5_datasource_spark import plans

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict] = {}
    violations: list[str] = []
    for name, (fn, _sql) in plans.CATALOG.items():
        try:
            df = fn(spark, SF)
            p = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # compile failure is itself a finding
            report[name] = {"error": str(ex)[:200]}
            violations.append(f"{name}: plan compile error")
            continue
        entry: dict = {}
        for marker in ("CartesianProduct", "BatchEvalPython"):
            if marker in p:
                entry[marker] = p.count(marker)
                violations.append(f"{name}: {marker}")
        n_arrow = (
            p.count("MapInArrow") + p.count("MapInPandas") + p.count("ArrowEvalPython")
        )
        if n_arrow:
            entry["arrow_boundaries"] = n_arrow
            if name not in ARROW_KERNELS:
                violations.append(f"{name}: undocumented Arrow boundary")
        lines = p.splitlines()
        # Self-documenting bounded patterns, recognized structurally:
        #  - an Exchange SinglePartition whose child is a keys=[] partial
        #    HashAggregate is a global scalar aggregate (one partial row
        #    per upstream partition — bounded by the partition count);
        #  - a BroadcastExchange IdentityBroadcastMode built from a
        #    keys=[] HashAggregate broadcasts exactly one row.
        sp_scalar = ibm_scalar = 0
        for i, line in enumerate(lines):
            nxt = " ".join(lines[i + 1 : i + 3])
            if "Exchange SinglePartition" in line and (
                "HashAggregate(keys=[], functions=[partial_" in nxt
            ):
                sp_scalar += 1
            if "BroadcastExchange IdentityBroadcastMode" in line and (
                "HashAggregate(keys=[]," in nxt
            ):
                ibm_scalar += 1
        n_sp = p.count("Exchange SinglePartition")
        if n_sp:
            entry["single_partition_exchanges"] = n_sp
            if n_sp > sp_scalar and name not in SINGLE_PARTITION_OK:
                violations.append(f"{name}: undocumented SinglePartition")
        n_bnlj = p.count("BroadcastNestedLoopJoin")
        if n_bnlj:
            entry["bnlj"] = n_bnlj
            if n_bnlj > ibm_scalar and name not in BNLJ_OK:
                violations.append(f"{name}: undocumented BroadcastNestedLoopJoin")
        # scan-multiplicity report (informational, the r10 reuse_gate
        # class): the same source file scanned many times in one plan
        # usually means a shared subtree re-executes once per
        # consuming branch.  Self-joins legitimately scan twice;
        # >= 4 scans of one table is worth a look.  AQE's plan string
        # repeats reused-exchange subtrees, so this over-counts —
        # treat as a pointer, not a measure.
        import re as _re

        paths = _re.findall(r"FileScan \S+ [^\[]*\[", p)
        from collections import Counter as _C

        top = _C(paths).most_common(1)
        if top and top[0][1] >= 4:
            entry["max_same_scan"] = top[0][1]
        if entry:
            report[name] = entry

    out = {
        "n_queries": len(plans.CATALOG),
        "n_clean": len(plans.CATALOG) - len(report),
        "flagged": report,
        "violations": violations,
    }
    with open(os.path.join(os.path.dirname(__file__), "..", "PLAN_AUDIT.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(
        f"{out['n_queries']} queries audited; {out['n_clean']} fully clean; "
        f"{len(report)} carry documented boundaries; "
        f"{len(violations)} violations"
    )
    for v in violations:
        print("VIOLATION:", v)
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
