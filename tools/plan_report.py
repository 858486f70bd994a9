"""Generate PLANS.md: formatted physical plans for the headline queries
with the scale-relevant properties called out.

Usage: python tools/plan_report.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from big_data_computing__spark.plans import explain_formatted
from big_data_computing__spark.session import get_session

PREAMBLE = """\
# PLANS — physical-plan verification (generated by tools/plan_report.py)

What to look for, per the engine's scale rules:

- **PushedFilters / ReadSchema** on every `Scan parquet`: predicates and
  column pruning reach the scan (a scan reading all columns for a
  2-column projection is a bug).
- **BroadcastHashJoin** wherever one side is small by construction
  (dimension tables, cell tables, the 1-row count subplan). SortMergeJoin
  on a small side is a missed broadcast.
- **HashAggregate (partial) → Exchange → HashAggregate (final)**: map-side
  combine before every shuffle aggregation.
- **TakeOrderedAndProject** for top-K (per-partition heaps + driver
  merge — never a global Sort + Limit).
- **WholeStageCodegen** spans covering the row-at-a-time expression work.
- **Unpartitioned Window nodes** (2-bracket `Window [...]` lines, the
  WindowExec single-partition warning): every remaining one runs over a
  PROVABLY BOUNDED post-aggregation table — k-row sketches
  (x_weighted_reservoir, t17/t18 group means), 200 bootstrap
  replicates, per-metric drift rows, the ≤n_keys MAD median, the
  skyline staircase, fused top-k lists (RRF) — audited r7, re-audited
  r8 (the corpus-sized rank paths all use relational.global_rank /
  global_prefix_sum instead). Data-sized selections were rewritten:
  t11's cumsum carries an explicit constant partition spec, the KMV
  bottom-k compiles to TakeOrderedAndProject.

Plan inventory (key operators only; regenerate after plan-affecting
changes):
"""

QUERIES = [
    "a2_pricing_summary",
    "j2_star_join_revenue",
    "o1_topk_orders",
    "c7_approx_outliers_summary",
    "c6_exact_outliers",
    "t4_true_frequent_items",
    "t5_reservoir_report",
    "x_dedup_minhash_lsh",
    "x_dedup_embedding",
    "x_dedup_components",
    "c9_outliers_nd",
    "x_ann_cosine_topk",
    "x_ann_ivf_topk",
    "w2_tumbling_window_counts",
    "j5_asof_join",
    "a12_rollup_pricing",
    "a13_quantile_stats",
    "x_repetition",
    "x_contamination",
    "x_top_ngrams",
    "x_pii_report",
    "a17_pivot_events",
    "w6_ntile_quartiles",
    "x_ann_pq_topk",
    # round-3 additions
    "j8_band_join",
    "c10_outliers_grid3",
    "x_mixture_resample",
    "x_tfidf_top_terms",
    "x_bloom_contamination",
    "t9_cms_frequent",
    "t10_hll_estimate",
    "x_ann_ivf_rpq_topk",
    "x_ann_opq_ivf_rpq_topk",
    # round-4 additions
    "x_weighted_reservoir",
    "x_weighted_reservoir_strat",
    "x_ann_ivf_rpq_prod",
    "x_triangle_counts",
    "x_dup_cluster_report",
    "x_dedup_jaccard_prefix",
    "t11_histogram_quantiles",
    "x_kcore_nodes",
    "t12_hll_by_type",
    "x_minhash_similarity",
    "x_containment_pairs",
    "x_dedup_snm",
    "x_train_shards",
    "x_train_order",
    # round-4 continuation (this session). Eager-loop operators
    # (x_ktruss_edges, w7_funnel) are excluded: their returned frame is
    # a trivial projection of checkpointed loop state, so the plan tree
    # would show none of the real work.
    "x_dup_spans",
    "x_despanned",
    "o4_zorder3_cells",
    "w8_cohort_retention",
    "w10_event_transitions",
    "w12_session_paths",
    # round-5 additions (x_truss_decomposition is an eager peel loop,
    # excluded for the same reason as x_ktruss_edges)
    "x_pack_sequences",
    "x_semdedup_survivors",
    "x_unigram_rarity",
    "x_embed_scatter",
    "x_bpe_top_pairs",
    "x_leakage_splits",
    "x_vocab_coverage",
    # round-6 additions (the CC variants are eager loops — excluded
    # for the same reason as x_ktruss_edges; a14's corrected HLL and
    # the whitened-SemDeDup composition show the new plan shapes)
    "a14_approx_distinct",
    "x_pca_semdedup",
    "x_substring_seed_vocab",
    "x_gopher_quality",
    "x_semdedup_within_cell",
    # r6e: the TPC-H sweep's widest new shapes (Q9 5-way broadcast
    # profit join; Q13 outer-join two-level distribution; Q15 scalar-
    # max view; Q20 nested-agg semi-join chain), arbitrary GROUPING
    # SETS (one Expand pass), and the quality-ranked survivor rule
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q20_heavy_shippers",
    "a18_grouping_sets",
    "x_dedup_survivors_quality",
    # r7: the super-bucket-guarded LSH join (the broadcast anti-join
    # guard should show BroadcastHashJoin LeftAnti before the band
    # self-join) and its audit report
    "x_dedup_lsh_capped",
    "x_lsh_super_buckets",
    # r6h (eighth session): the bootstrap's Generate→partial-agg
    # shape, the shuffle-free JL projection, the vocabulary-fanned F2
    # sketch + join-size product, the hashing-trick featurizer, the
    # dense supervised grid, leakage-safe negatives, the AQP sample,
    # the BPE replace chain, and the per-group CI windows (quickselect
    # and MIS/densest are eager loops — excluded like x_ktruss_edges)
    "x_bootstrap_ci",
    "x_bootstrap_ci_by_source",
    "t17_f2_sketch",
    "t18_join_size_sketch",
    "x_feature_hash_embed",
    "x_jl_projection",
    "x_heaps_vocab_growth",
    "w18_supervised_examples",
    "x_negative_samples",
    "a20_aqp_group_counts",
    "x_bpe_tokenized",
    "x_langid_confusion",
    "w19_wow_growth",
    # r7b (this session): the AUC prefix-sum shape (two-pass rank
    # offsets, no single-partition window), the retrieval-eval
    # double-top-k join, the conformal split + rank + broadcast-q,
    # the HT one-pass estimator agg, the dense-grid time series, the
    # sketch set algebra, the sufficient-statistics corr pass, the
    # margins-cross-product chi-square, and the collocation lift join
    "x_auc_quality",
    "x_auc_by_lang",
    "x_retrieval_eval_hamming",
    "x_conformal_coverage",
    "x_conformal_by_lang",
    "a23_ht_total",
    "a24_trimmed_mean",
    "w20_ewma_daily",
    "w21_acf_daily",
    "t20_kmv_setops",
    "x_source_gini",
    "x_feature_corr",
    "x_bigram_lift",
    "x_chi2_lang_source",
    # r8: the celled mutual-kNN production shape (IVF candidate
    # generation feeding the reciprocity semi-join — the plan to
    # check is the equi-join on cell + the candidate-sized semi-join,
    # never corpus²)
    "x_mutual_knn_ivf",
    # r10: the band-sharded pair join (bands independent per-band
    # exchanges on bkey, union, ONE final pair agg — no single
    # exchange carries all bands) and the pair-free gate predicates
    # (bucket-min agg + broadcast semi-joins, no pair enumeration
    # anywhere in the plan). x_join_analyzed_salted is eager
    # (collect + createDataFrame, like x_join_analyzed) — excluded
    # for the same reason as the loop operators.
    "x_lsh_pairs_sharded",
    "x_lsh_greedy_rejects",
    "x_lsh_greedy_cross",
]

# keep the report focused: the operator tree plus scan/join detail lines
KEEP = re.compile(
    r"PushedFilters|ReadSchema|^\(\d+\) (Scan parquet|BroadcastHashJoin|"
    r"SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|"
    r"CartesianProduct|HashAggregate|TakeOrderedAndProject|Exchange|"
    r"Window|ArrowEvalPython|FlatMapGroupsInPandas)"
)


def main() -> None:
    spark = get_session(app_name="bdc_plans")
    sf_dir = "/root/testdata/sf0.01"
    qs = entrymod.queries()
    lines = [PREAMBLE]
    for name in QUERIES:
        df = qs[name](spark, sf_dir)
        full = explain_formatted(df)
        tree, _, detail = full.partition("\n\n")
        kept = [ln for ln in detail.splitlines() if KEEP.search(ln)]
        lines.append(f"\n## {name}\n\n```\n{tree.strip()}\n")
        if kept:
            lines.append("\n".join(kept))
        lines.append("```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
