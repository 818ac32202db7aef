"""Regenerate EXPLAINS.md: formatted physical plans for flagship
queries, with the scale-relevant plan facts (pushed filters, broadcast
vs shuffle joins, exchange count, codegen) extracted per query.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the checkout
sys.path.insert(0, ROOT)

from automated_agro_climatic_data_warehouse_spark.plans import QUERIES  # noqa: E402
from automated_agro_climatic_data_warehouse_spark.session import get_spark  # noqa: E402

# one representative per plan family — the shapes a reviewer should see
AUDITED = [
    "q1_pricing_summary",      # scan-agg with pushdown
    "j1_star_join_revenue",    # star join, broadcast dims
    "j14_geo_grid_nearest",    # blocked spatial equi-join
    "ev_asof_join",            # union-tag single-shuffle as-of
    "dedup_minhash_lsh",       # banded LSH candidate join
    "ann_ivfpq_topk",          # composed IVF-PQ (broadcast codebooks/LUT)
    "ts_heavy_hitters",        # MG sketch + semi-join exact verify
    "ts_ecdf_normalize",       # histogram window + broadcast-back
    "pipe_training_prep",      # composite gate pipeline
    "w7_ntile_deciles",        # departitioned decile ranking
    # round 5
    "ev_rfm_scores",           # triple exact-ntile, no global sort
    "ev_mau_rolling_28d",      # explode(sequence) contribution fan-out
    "graph_triangle_count",    # ordered-edge triangle enumeration
    "mm_scene_cuts",           # binary mapInPandas + bounded LAG window
    "ann_srp_bucketed",        # SRP-LSH bucket equi-join, literal planes
    "ev_window_funnel",        # per-user-bounded chain joins
    "layout_zorder_stats",     # writer-key z-order layout audit
    # round 6
    "emb_pca_deflation",       # deflated eigensolve, dim-sized rounds
    "dq_ks_two_sample",        # union-grid ECDF, value-domain windows
    "ev_sliding_3h_counts",    # native sliding-window expansion
    "s19_union_by_name_evolution",  # schema-evolution union, late projection
    "graph_modularity",        # edge-labeling join + cluster-sized aggs
    "ann_filtered_topk",       # metadata filter IN the join key
    "emb_cosine_pair_histogram",  # bucketed pair join, no cross product
    # round-6 waves 9-10
    "dedup_ppjoin_prefix",     # prefix-filtered exact-Jaccard join
    "ts_winnowing_fingerprint",  # join-free frame-window fingerprinting
    "ev_cms_user_counts",      # broadcast-sketch point estimates
    "ts_vocab_growth_heaps",   # first-seen bucket curve, constant spine
    # round 7
    "dedup_ppjoin_audit",      # collapsed-set candidate replay, 1-row agg
    "ev_quantile_sketch",      # bottom-k TakeOrderedAndProject + readout
    "ev_quantile_sketch_by_type",  # per-key bottom-k window sample
    "ts_bpe_iterative_merges",  # checkpointed merge loop, broadcast winner
    # round-7 waves 15-16
    "ev_lorenz_curve",         # histogram-ECDF deciles, bounded windows
    "ev_markov_stationary",    # integer-grid power iteration, tiny frames
    "dedup_lsh_recall_eval",   # twin blocking/truth legs on a hash sample
    "emb_silhouette_sample",   # fixed-k sample pair grid, broadcast side
    "ts_bpe_fertility_by_source",  # vocab-keyed encode-once join
    # round-7 wave 18
    "ev_attribution_removal",  # fused variant-tagged value iteration
    "sample_neyman_allocation",  # exact-moment weights + quota window
    # round-7 wave 19
    "ev_survival_km",          # duration-histogram KM, log-space product
    "dq_psi_drift",            # bucket-spine drift terms, ln-grid
    # round 8
    "ev_quantile_tdigest",     # shard-partitioned rank digest + bounded merge
    "ev_quantile_tdigest_by_type",  # grouped digest, zero global stages
    "ts_tdigest_token_weighted_len",  # weighted-rank digest
    "dedup_semdedup",          # cluster-equi-join semantic purge (SemDeDup)
    # round 8, wave 2
    "layout_hilbert_vs_zorder",  # unrolled Hilbert chain, one codegen scan
    "dq_k_anonymity",          # ROLLUP generalization ladder, one Expand
    "ev_changepoint_argmax",   # prefix-sum window + per-type top-1
    "cdc_scd2_rebuild",        # changelog-sized per-key lead window
    "emb_jl_projection_audit",  # GEMM-by-join projection + ring-pair join
    "ts_kneser_ney_bigram",    # bigram-type-level stat join chain
    # round 8, waves 6-8
    "ts_bm25_topk",            # 3-exchange BM25, reused doc partitioning
    "sample_weighted_reservoir",  # narrow scan + TakeOrderedAndProject
    "pipe_sgd_linear_step",    # window-predict + 16-key gradient reduce
    "dq_fdr_bh",               # per-type rank/max windows, daily frames
    "graph_degree_assortativity",  # degree joins + 1-row moment agg
    "emb_mmr_diversified_topk",  # broadcast relevance + unrolled greedy
    "ts_jsd_source_drift",     # top-500 vocab + sources*501 score grid
    "dedup_fellegi_sunter",    # nation-blocked pairs + broadcast m/u
    "ev_competing_risks_cif",  # KM ln-grid + lagged CIF cumsums
    "ann_rank_fusion_rrf",     # one-scan dual-channel signals + rank fusion
    "graph_hits_k4",           # 4-round hub/authority loop, broadcast max
    "ts_textrank_keywords",    # text graph into pagerank_loop, top-30
    "emb_mutual_knn_graph",    # capped all-pairs + reversed-key self-join
    "pipe_token_budget_allocation",  # source-frame prefix-sum knapsack
    "ev_survival_logrank",     # histogram O/E/V cumsums, one-row readout
    "ann_bitvector_hamming_topk",  # sign-code XOR/popcount + grid rerank
    "ev_sprt_boundary",        # calendar-bounded cumulative LLR trace
    "ev_cmh_test",             # day-strata 2x2 tables + 1-row pooled stats
    "sample_time_series_cv",   # per-day collapse + bounded rank window
    "sample_ht_estimator",     # PPS machinery + grouped HT reduction
    "emb_triplet_margin",      # broadcast anchors x corpus, fold distances
    "ts_rake_keywords",        # islands window + vocab-bounded stat join
    # round 9
    "ann_srp_multiprobe",      # probe-side 9-row explode + bucket equi-join
    "dedup_blocking_audit",    # stacked 4x block groupBy, no pair materialization
    "graph_katz_k4",           # attenuated-walk rounds, in_covered fast path
    # round 10
    "dedup_fs_blocked",        # FS scoring inside (nat, seg) blocks — smaller pair frame
    "ann_ivf_spill",           # spill=2 corpus assignment, 1-probe query join
    "ev_kruskal_wallis",       # value-domain histogram ranks, k-row reduce
    "dq_wasserstein_drift",    # per-type ECDF-gap cumsums, e6 readout
    "graph_jaccard_links",     # 2-hop count + degree joins + anti-join
    "sample_seq_poisson",      # PRN rank key + TakeOrderedAndProject bottom-n
    # round 11
    "ann_ivf_recall_matched",  # dual IVF legs + truth GEMM, matched traffic
    "ev_welch_ttest",          # one groupBy + 2-row pivot, moment-state readout
    "dq_ljung_box",            # daily frame, 7-lead bounded window, stack unpivot
    "ts_mattr",                # explode + (doc,token) lag window, two groupBys
]


def _facts(plan: str) -> dict[str, object]:
    return {
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "cartesian": plan.count("CartesianProduct"),
        "pushed_filters": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
        "aqe": "AdaptiveSparkPlan" in plan,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("explain_audit")
    lines = [
        "# EXPLAINS — flagship physical plans",
        "",
        f"Regenerated by `python tools/explain_audit.py` at `{sf_dir}`.",
        "One representative query per plan family; the `facts` line is",
        "what the plan-shape tests assert, the excerpt is the first",
        "levels of the executed plan for human review.",
        "",
    ]
    for name in AUDITED:
        df = QUERIES[name].spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        facts = _facts(plan)
        excerpt = "\n".join(plan.splitlines()[:28])
        lines += [
            f"## {name}",
            "",
            f"facts: `{facts}`",
            "",
            "```",
            excerpt,
            "```",
            "",
        ]
    with open(os.path.join(ROOT, "EXPLAINS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote EXPLAINS.md ({len(AUDITED)} plans)")


if __name__ == "__main__":
    main()
