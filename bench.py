"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
 "env": {...}}

``env`` states the run's own setup: master, default parallelism, Spark
version, shuffle partitions, the generated-class cache size, and the
classes Janino compiled over the whole run.

Per-query wall-clock includes plan build + execution to completion
(count-style consumption; results are not materialized to the driver
beyond what the query itself collects). Mirrors the reference's
per-operator ms instrumentation (big_data_computing_2.py:54).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from big_data_computing__spark.session import get_session
from tools.profile_queries import codegen_compiles

# Headline set: every SURVEY §2 core operator + one per extension family.
BENCH_QUERIES = [
    "c7_approx_outliers_summary",
    "c6_exact_outliers",
    "o2_smallest_cells_topk",
    "c3_mrfft_radius",
    "c5_radius_fixed_centers",
    "t4_true_frequent_items",
    "t5_reservoir_report",
    "t6_sticky_report",
    "a2_pricing_summary",
    "a12_rollup_pricing",
    "a13_quantile_stats",
    "j2_star_join_revenue",
    "o1_topk_orders",
    "w1_top_order_per_segment",
    "w2_tumbling_window_counts",
    "w3_sessionize",
    "f1_json_extract",
    "so1_set_ops",
    "j5_asof_join",
    # c9_outliers_nd and x_rolling_fingerprints stay correctness-gated
    # but out of the headline set: both are deliberate exact baselines
    # (brute-force n-d distance join; per-char rolling hash) whose scale
    # paths are ivf_topk and winnow/md5 fingerprints respectively
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
    "x_dedup_simhash",
    "x_dedup_ngram_jaccard",
    "x_ann_cosine_topk",
    # indexed ANN tier (the scale path, vs the brute baseline above).
    # Both kernels of the same plan: _prod runs the vectorized
    # production kernels a deployment uses; _topk runs the element-
    # sequential parity kernels the oracle hash needs. Keeping both in
    # the headline set makes the parity tax a committed, per-round A/B.
    "x_ann_ivf_rpq_prod",
    "x_ann_ivf_rpq_topk",
    "x_token_stats",
    "x_bpe_token_counts",
    "x_quality_scores",
    "x_winnow_fingerprints",
    "x_media_metadata",
    "x_media_ahash",
    # curation family: per-doc repetition aggregation + the cross-split
    # contamination join (the two distinct plan shapes in curation.py)
    "x_repetition",
    "x_contamination",
    # round-3 additions: banded temporal join, mixture resampling,
    # tf-idf keyword extraction
    "j8_band_join",
    "j9_bloom_semi_join",
    "x_mixture_resample",
    "x_tfidf_top_terms",
    # round-4 additions: weighted (A-ExpJ) reservoir; duplicate-graph
    # triangle cohesion (degree-oriented wedge join); the prefix-
    # filtered Jaccard A/B against the full-index baseline above; the
    # mergeable histogram-quantile sketch
    "x_weighted_reservoir",
    "x_triangle_counts",
    "x_dedup_jaccard_prefix",
    "t11_histogram_quantiles",
    # round-4 continuation: edge-level truss peel (iterative triangle
    # join), bounded exact-substring dup-span signal, 3-D Morton
    # layout keys, windowFunnel conversion, cohort retention.
    # Methodology note (x_ktruss_edges): timed END-TO-END including
    # simhash pair generation (~3 s of the wall) — what a user runs.
    # r5 made the single triangle enumeration structural (one explode
    # over the wedge join instead of a 3-way union whose identical
    # subtrees only AQE stage-reuse deduplicated at runtime); clean A/B
    # in STRESS.md: ~15-20% on the support step, 24.2 -> 23.0 s
    # end-to-end. The residual wall is the irreducible first full
    # enumeration + 90M-row support agg over a 30M-triangle graph.
    "x_ktruss_edges",
    "x_dup_spans",
    "o4_zorder3_cells",
    "o5_hilbert_cells",
    "w7_funnel",
    "w8_cohort_retention",
    "w9_funnel_times",
    "x_despanned",
    "w10_event_transitions",
    "w11_rfm_scores",
    "w12_session_paths",
    # round-5 additions: concat-and-chunk sequence packing (training-
    # output family; two-pass distributed prefix sum + chunk
    # arithmetic); unigram perplexity-filter stand-in; integer-exact
    # embedding scatter matrix; BPE pair counting (tokenizer
    # training); leakage-safe splits (CC closure + hash bucket)
    "x_pack_sequences",
    "x_unigram_rarity",
    "x_embed_scatter",
    "x_bpe_top_pairs",
    "x_leakage_splits",
    "x_vocab_coverage",
    # round-6 additions: every oracled family now has a tracked sf0.1
    # number (VERDICT r5 "What's missing" #5) — truss decomposition
    # (chained peel), SemDeDup survivors (blocked cosine pairs + CC),
    # packed-chunk stats, and Hash-to-Min CC on its sweet-spot graph
    # (near-dup components; see STRESS.md for the chain-graph A/B)
    "x_truss_decomposition",
    "x_semdedup_survivors",
    "x_pack_chunk_stats",
    "x_dedup_components_htm",
    # the composed embedding-curation pipeline (scatter → eigh →
    # whiten → SemDeDup in the whitened space)
    "x_pca_semdedup",
    # hook+shortcut pointer doubling — O(log n) rounds AND linear
    # state (the recommended scale path after the r6 chain-graph
    # measurements)
    "x_dedup_components_sc",
    # large-star/small-star alternation (r8) — the contracting-edge-
    # list scale path (CC ladder in STRESS.md r8)
    "x_dedup_components_2p",
    # the auto-dispatching closure (r9): localCheckpoint + edge count +
    # crossover dispatch — its tracked cost vs the direct variants IS
    # the price of the gate (should sit at shortcut + one count here,
    # below the 2k-edge crossover of the r10 quiet-host ladder)
    "x_dedup_components_auto",
    # the manifest-stats join gate end-to-end (r9): two scratch ZTable
    # builds + histogram ANALYZE + the gated join — the planner-loop
    # cost a catalog-backed warehouse would amortize across queries
    "x_join_analyzed",
    # r10: the gate's SALTED branch end-to-end (hot-key fact whose
    # recorded histogram trips the skew gate; salted_join execution)
    "x_join_analyzed_salted",
    # SemDeDup's paper-faithful within-cluster path (the approximate
    # low-threshold scale shape, next to the exact x_semdedup_survivors
    # whose pruning degrades to all-pairs at threshold 0.3) and the
    # Gopher rule-based quality gate
    "x_semdedup_within_cell",
    "x_gopher_quality",
    # distributed suffix array (prefix doubling over the corpus-as-one-
    # string; Lee et al. exact-substring index) — the most join-
    # intensive iterative operator in the bench, tracked end-to-end
    "x_suffix_array_sample",
    # longest-duplicated-substring report off the suffix array's rank
    # ladder (LCP maxima), and the retrieval family: BM25 top-k
    # (integer-exact scoring over the postings-pruned explode) — the
    # conjunctive/phrase variants share its scan shape and stay
    # correctness-gated only
    "x_adjacent_lcp_top",
    "x_bm25_topk",
    # DSIR importance scoring: the heaviest curation explode (unigrams
    # + bigrams per doc) — the continuous selection signal's tracked cost
    "x_dsir_importance",
    # integer-exact Lloyd's k-means: 3 shuffle rounds over the
    # embeddings — the iterative-clustering cost next to MRFFT's
    "x_kmeans_clusters",
    # synchronous LPA: 4 join+vote rounds over the candidate graph —
    # the community-detection cost next to the CC family's
    "x_label_propagation",
    # learned quality scorer: the Gram fit is ONE map-side-combined
    # aggregation + an in-plan Cramer solve, scoring a broadcast
    # projection — the fit+inference cost should track the plain
    # Gopher gate's scan cost
    "x_ridge_scores",
    # MaxSim late interaction: vocabulary-sized trigram-vector
    # similarity + one corpus-sized (doc_id, token) shuffle — the
    # multi-vector retrieval cost next to BM25's single-vector scan
    "x_maxsim_topk",
    # hybrid RRF fusion: both rankers + driver-size fuse — the
    # serving-stack end-to-end cost (lexical + late-interaction)
    "x_hybrid_rrf_topk",
    # incremental new-vs-corpus dedup probe: the daily-ingest cost —
    # should track the increment's signing cost, never the corpus
    "x_incremental_dedup",
    # IVF x int8 serving path: integer coarse quantizer + celled
    # integer-dot scoring — the quantized index's tracked cost next
    # to the float IVF tier's
    "x_ann_ivf_int8_topk",
    # 1-bit binary-quantization tier: packed-word XOR+POPCNT scan —
    # the cheapest serving tier, tracked against the int8/PQ tiers
    "x_ann_hamming_topk",
    # ...and its production composition: 1-bit shortlist → exact
    # rescore (the BQ+rescore serving shape; recall ladder in
    # COVERAGE.md)
    "x_ann_hamming_rerank",
    # TPC-H Q5 snowflake: the 6-way broadcast join + date-pruned scan
    # — the classic-warehouse cost anchor next to j2's star join
    "q5_local_supplier_volume",
    # the 22-shape sweep's widest representatives: Q9 (5-way join +
    # per-row integer profit over an unfiltered lineitem scan), Q13
    # (outer-join two-level aggregation including empty groups), and
    # Q16 (broadcast-filtered distinct aggregation on a 3-column key)
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q16_part_supplier_counts",
    # sixth-session wave: SCD2 change-point history and the one-pass
    # data-quality acceptance scan (o5/j9/x_media_ahash are slotted by
    # their families above)
    "w17_scd2_history",
    "x_dq_report",
    # seventh-session wave: MG exact heavy hitters, the skyline
    # family (declarative 2-D + SFS cascade), BFS blast radius
    "t16_mg_frequent_exact",
    "o6_skyline_parts",
    "o7_skyline_lineitem",
    "x_graph_hops",
    "j10_interval_join",
    "x_frequent_pairs",
    # eighth-session wave: one-pass Poisson bootstrap (R=200 replicate
    # expansion before the partial agg), the AMS F2 skew-mass sketch
    # (vocabulary-sized sign fan-out), the vocabulary-free hashing-
    # trick featurizer, Luby MIS diverse representatives over the
    # near-dup graph, and the sort-free quickselect median
    "x_bootstrap_ci",
    "t17_f2_sketch",
    "x_feature_hash_embed",
    "x_mis_diverse",
    "a19_exact_median_qs",
    # ...and its second half: densest-subgraph peel (adaptive-threshold
    # graph triage), per-slice bootstrap (groups x R expansion), the
    # AMS join-size product, Heaps vocabulary growth (global_rank +
    # min-step), and the shuffle-free JL projection
    "x_densest_subgraph",
    "x_bootstrap_ci_by_source",
    "t18_join_size_sketch",
    "x_heaps_vocab_growth",
    "x_jl_projection",
    # training-data export + AQP: the dense supervised grid (per-user
    # RANGE windows), leakage-safe contrastive negatives (CC closure +
    # rank-map join), and the sampled-count dashboard with error bars
    "w18_supervised_examples",
    "x_negative_samples",
    "a20_aqp_group_counts",
    # session tail: weighted order statistic, weekly trend, tokenizer
    # serving, router eval
    "a21_weighted_median",
    "w19_wow_growth",
    "x_bpe_tokenized",
    "x_langid_confusion",
    "t19_histogram_quantiles_by",
    # round-7: super-bucket-guarded LSH (the production pair join) and
    # its dropped-bucket audit report — tracked next to the unguarded
    # x_dedup_minhash_lsh so the guard's cost is a committed A/B
    "x_dedup_lsh_capped",
    # r10: the band-sharded pair join next to the one-shot capped
    # form above — the committed A/B of the shuffle-sharding layout
    "x_lsh_pairs_sharded",
    # r10: the pair-free ingest-gate predicates (bucket-min within,
    # key-membership cross) — the acceptance path's tracked cost,
    # which stays O(n·bands) where the pair joins above enumerate
    "x_lsh_greedy_rejects",
    "x_lsh_greedy_cross",
    "x_lsh_super_buckets",
    # r9: the manifest-derived cap end-to-end (corpus ZTable build +
    # derivation + capped pair join) — the adaptive gate's tracked
    # cost next to the fixed-cap pair join above
    "x_lsh_adaptive_cap",
    # exact unbinned KS drift: distinct-value agg + two distributed
    # prefix-sum passes — the drift test TVD bins can miss
    "x_ks_drift",
    # round-7b: evaluation metrics (AUC / retrieval quality /
    # conformal coverage), time-series (EWMA, ACF), survey sampling
    # (stratified HT), sketch set algebra, concentration
    "x_auc_quality",
    "x_retrieval_eval_hamming",
    "x_conformal_coverage",
    "w20_ewma_daily",
    "w21_acf_daily",
    "a23_ht_total",
    "t20_kmv_setops",
    "x_source_gini",
    "a24_trimmed_mean",
    "x_feature_corr",
    "x_bigram_lift",
    "x_chi2_lang_source",
    "x_conformal_by_lang",
    "x_dedup_eval",
    "x_dedup_bcubed",
    "x_pr_curve",
    "x_cvm_drift",
    "x_random_walks",
    # x_mutual_knn stays correctness-gated but out of the headline set
    # (house convention for deliberate exact baselines, like
    # c9_outliers_nd): its cost IS the full-corpus brute cosine pass;
    # the production shape is x_mutual_knn_ivf below (celled candidate
    # generator, same reciprocity join)
    "x_mutual_knn_ivf",
]

# Repeats per query; the reported time is the MEDIAN. One slow run on a
# contended host no longer poisons the artifact (r2's c7=15.6 s and
# r3's t4/c5 episodes were exactly this), and at bench sizes the extra
# runs are cheap.
#
# r11 METHODOLOGY CHANGE (explicit, per the bench contract): repeats
# are INTERLEAVED — the whole query list runs end-to-end REPEATS times
# (A,B,C,…,A,B,C,…) instead of each query running its repeats
# back-to-back. A multi-second host stall used to span all three
# consecutive repeats of whichever query it landed on and poison that
# median unrejectably (the r10 artifacts' adjudication problem);
# interleaving decorrelates the repeats by the full list length
# (~5 min), so a stall inflates single samples that the median then
# rejects. Same query set, same repeat count, same median — the
# artifact carries repeat_order so rounds are comparable; the r11
# transition commit lands one old-order and one new-order run side by
# side (BENCH_OPT_r11_before.json = consecutive, the r11 after/clean
# artifacts = interleaved).
# Codegen under the interleaved order: the 140 queries generate ~2,900
# distinct classes, far more than Spark's default 100-entry generated-
# class cache holds, so each interleaved repeat ran Janino again on most
# of its classes (14,436-14,447 compiles per sf0.01 run, 4 vCPU). With
# the cache sized by session.CODEGEN_CACHE_ENTRIES and class names free
# of codegen stage ids, the same run compiles 2,108-2,112 classes, each
# once, and its total fell from 132.9-158.9 s to 103.2-110.6 s; the
# artifact's env.codegen_compiles reports the count. Planning is still
# re-paid on every repeat, in either order. The r11 artifacts, whose
# totals read ~10-15% above the consecutive medians, predate the larger
# cache. SPARK_GRAFT_REPEAT_ORDER=consecutive restores the old
# order for same-methodology A/Bs against pre-r11 artifacts; the
# artifact always reports which order produced it.
REPEATS = 3
REPEAT_ORDER = os.environ.get("SPARK_GRAFT_REPEAT_ORDER", "interleaved")

# Canary subset (5 cheap + 5 heavy, pinned from the r6 distribution):
# run once BEFORE and once AFTER the main loop, recorded separately in
# the artifact, so (a) every artifact carries its own begin-vs-end
# host-drift estimate and (b) bench_drift.py can derive the
# cross-round host factor from identical pinned work instead of the
# cheapest-half heuristic. Keep this list STABLE across rounds — its
# value is comparability.
CANARY_QUERIES = [
    "o1_topk_orders",
    "o2_smallest_cells_topk",
    "w2_tumbling_window_counts",
    "x_dedup_exact",
    "t4_true_frequent_items",
    "x_dup_spans",
    "x_pca_semdedup",
    "x_suffix_array_sample",
    "x_semdedup_survivors",
    "x_ktruss_edges",
]

# Pinned canary reference: the per-query start/end medians of the
# committed BENCH_CLEAN_r07 artifact (sf0.1, quiet host). The
# artifact's `value_canary_normalized` divides the raw total by the
# median(current/reference) host factor over these pinned queries, so
# cross-round totals compare on one scale without a narrative about
# host contention (VERDICT r7 item #6). Update ONLY when the canary
# list itself changes — the anchor's value is stability.
CANARY_REFERENCE_SF01 = {
    "o1_topk_orders": 0.168,
    "o2_smallest_cells_topk": 0.221,
    "w2_tumbling_window_counts": 0.326,
    "x_dedup_exact": 0.292,
    "t4_true_frequent_items": 0.225,
    "x_dup_spans": 6.564,
    "x_pca_semdedup": 7.831,
    "x_suffix_array_sample": 14.389,
    "x_semdedup_survivors": 19.568,
    "x_ktruss_edges": 25.964,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_session(app_name="bdc_bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warm the JVM/codegen paths once with the cheapest query
    qs["o1_topk_orders"](spark, sf_dir).collect()

    def run_once(name: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).collect()
        return round(time.time() - t0, 3)

    # run each start-canary twice and keep the SECOND: the first pass
    # absorbs per-plan codegen/shuffle warmup, so start and end are
    # both steady-state and end/start measures HOST drift, not warmup
    # (the r7 artifact's raw first pass read 2x slower than the end
    # pass for exactly this reason)
    for n in CANARY_QUERIES:
        run_once(n)
    canary_start = {n: run_once(n) for n in CANARY_QUERIES}

    runs: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
    if REPEAT_ORDER == "interleaved":
        for _ in range(REPEATS):
            for name in BENCH_QUERIES:
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                df.collect()
                runs[name].append(time.time() - t0)
    else:
        for name in BENCH_QUERIES:
            for _ in range(REPEATS):
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                df.collect()
                runs[name].append(time.time() - t0)
    timings: dict[str, float] = {
        name: round(sorted(rs)[len(rs) // 2], 3)
        for name, rs in runs.items()
    }

    canary_end = {n: run_once(n) for n in CANARY_QUERIES}

    total = round(sum(timings.values()), 3)
    # host factor vs the pinned r7 canary anchor (sf0.1 runs only —
    # other sf dirs have no reference, factor reported as null)
    host_factor = None
    norm_total = None
    prev_ratio = None
    prev_art_name = None
    if float(sf) == 0.1:
        import glob
        import os.path as _p
        import statistics

        med = {
            n: (canary_start[n] + canary_end[n]) / 2
            for n in CANARY_QUERIES
        }
        ref = CANARY_REFERENCE_SF01
        ratios = [med[n] / ref[n] for n in ref if n in med and ref[n] > 0]
        if ratios:
            host_factor = round(statistics.median(ratios), 4)
            norm_total = round(total / host_factor, 3)
        # cross-round canary factor (VERDICT r9 item #4): median ratio
        # of this run's canary medians vs the NEWEST committed
        # BENCH_CLEAN_r*.json's — the number that adjudicates a
        # round-over-round total delta as host vs plans, published in
        # the artifact itself instead of re-derived from raw artifacts
        # (r9's +13% common-set delta was exactly this ratio, 1.13)
        arts = sorted(
            glob.glob(
                _p.join(_p.dirname(_p.abspath(__file__)),
                        "BENCH_CLEAN_r*.json")
            )
        )
        if arts:
            prev = json.load(open(arts[-1]))
            pc = prev.get("canary")
            if pc and float(prev.get("sf", 0)) == 0.1:
                pmed = {
                    n: (pc["start"][n] + pc["end"][n]) / 2
                    for n in set(pc["start"]) & set(pc["end"])
                }
                rr = [
                    med[n] / pmed[n]
                    for n in med
                    if pmed.get(n, 0) > 0
                ]
                if rr:
                    prev_ratio = round(statistics.median(rr), 4)
                    prev_art_name = _p.basename(arts[-1])
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "value_canary_normalized": norm_total,
                "canary_host_factor": host_factor,
                "canary_vs_prev_round": prev_ratio,
                "canary_prev_artifact": prev_art_name,
                "unit": "sec",
                "queries": timings,
                "canary": {"start": canary_start, "end": canary_end},
                "repeat_order": REPEAT_ORDER,
                "sf": float(sf),
                "env": {
                    "master": sc.master,
                    "default_parallelism": sc.defaultParallelism,
                    "spark": spark.version,
                    "shuffle_partitions": int(
                        spark.conf.get("spark.sql.shuffle.partitions")
                    ),
                    "codegen_cache_max_entries": int(
                        spark.conf.get("spark.sql.codegen.cache.maxEntries")
                    ),
                    # classes Janino compiled over the whole run
                    "codegen_compiles": codegen_compiles(spark),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
