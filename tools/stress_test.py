"""Scale stress: run flagship operators at 20-100x the bench scale
factor to verify the plans hold up (no driver OOM, no broadcast
overflow, no pair-space explosion) — the local proxy for the 100 TB
design review. Synthetic data is derived deterministically from the
sf0.1 fixtures by replication + jitter/offset.

Usage: python tools/stress_test.py [--points N_REPLICAS] [--docs N]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from big_data_computing__spark.operators import dedup as dd
from big_data_computing__spark.operators import outliers as ol
from big_data_computing__spark.operators import similarity as sim
from big_data_computing__spark.session import get_session

SF_DIR = "/root/testdata/sf0.1"


def cc_chain_ab(n_nodes: int = 20_000, hop: int = 5_000) -> None:
    """A/B the two poly-log CC implementations on the adversarial
    chain forest (diameter ``hop`` — the shape where min-label
    propagation refuses): star contraction vs Hash-to-Min.

    Default is 20k nodes, NOT the 100k the star-only stress runs:
    Hash-to-Min's per-node member sets double each round on a path
    (round r holds ~min(2^r, d) members per node) so total state peaks
    at ~n·d/2 rows mid-convergence — measured 63.2M rows at round 11
    of 14 on 20k×5,000-hop (3,150× the input), and a Java-heap OOM at
    100k nodes. The round count matches the paper's O(log d) claim;
    the communication does not stay linear on paths (that is exactly
    the gap Rastogi et al.'s Hash-Greater-to-Min space bound targets).
    See STRESS.md for the full round-by-round table."""
    spark = get_session(app_name="bdc_stress_cc")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    chains = (
        spark.range(n_nodes)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
        .where((F.col("doc_a") + 1) % hop != 0)
        .repartition(64)
        .localCheckpoint()
    )
    for name, fn in (
        # max_state_factor lifted: this tool MEASURES the blowup the
        # production gate (r6) exists to refuse — with the default
        # budget HTM raises on this forest instead of inflating
        (
            "htm_cc_chain",
            lambda p: dd.duplicate_components_htm(
                p, max_state_factor=100_000
            ),
        ),
        ("star_cc_chain", dd.duplicate_components_twophase),
        ("shortcut_cc_chain", dd.duplicate_components_shortcut),
    ):
        t0 = time.time()
        out = fn(chains)
        cnt = out.count()
        n_comp = out.select("component_id").distinct().count()
        results[name] = {
            "nodes": cnt,
            "components": n_comp,
            "sec": round(time.time() - t0, 1),
        }
    print(json.dumps(results, indent=2))
    spark.stop()


def _synth_vocab_docs(spark, n_words: int):
    """Deterministic large-vocabulary corpus (shared by the BPE and
    unigram trainer stress modes): ``n_words`` distinct words — a
    bijective base-26 encoding of the id, collision-free — with
    pseudo-zipf counts materialized by repetition."""
    az = "abcdefghijklmnopqrstuvwxyz"
    word = F.concat(
        *[
            F.substring(
                F.lit(az),
                ((F.col("id") / (26**k)).cast("long") % 26 + 1).cast(
                    "int"
                ),
                1,
            )
            for k in (3, 2, 1, 0)
        ],
        F.expr(
            f"repeat(substring('{az}', CAST(id % 26 + 1 AS INT), 1), "
            "CAST(id % 6 AS INT))"
        ),
    )
    cnt = F.greatest(
        F.lit(1), (F.lit(200) / (F.col("id") % 503 + 1)).cast("int")
    )
    return (
        spark.range(n_words)
        .select(
            F.col("id").alias("doc_id"),
            F.array_join(F.array_repeat(word, cnt), " ").alias("text"),
        )
        .repartition(64)
        .localCheckpoint()
    )


def unigram_stress(n_words: int = 200_000) -> None:
    """Scale check for the unigram-LM trainer: seed + 2 EM rounds +
    prune-to-2048 over the synthetic 200k-word vocabulary — the
    vocab-collapsed mapInPandas shape at real vocabulary size."""
    from big_data_computing__spark.operators.textstats import (
        unigram_train,
    )

    spark = get_session(app_name="bdc_stress_unigram")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_vocab_docs(spark, n_words)
    t0 = time.time()
    vocab = unigram_train(
        docs, vocab_size=2048, seed_size=8192, max_piece_len=6,
        em_rounds=2,
    )
    print(json.dumps({
        "unigram_train_200k": {
            "vocab": len(vocab), "sec": round(time.time() - t0, 1),
            "head": vocab[:5],
        }
    }, indent=2))
    spark.stop()


def bpe_ab(n_words: int = 200_000) -> None:
    """A/B the BPE trainer's two paths (full per-round recount vs
    incremental delta maintenance) at tokenizer-training scale.

    The parquet fixtures only carry 31 distinct words (BPE saturates
    at 89 merges and the vocabulary pass is trivial), so this builds
    the shape that actually stresses a trainer: ``n_words`` distinct
    words — a bijective base-26 encoding of the id, so generation is
    deterministic and collision-free — with pseudo-zipf counts
    materialized by repetition into ~1.1k-doc texts. Runs both paths
    at 64 merges (sequences asserted identical), then the incremental
    path alone at 256 (the full path's cost at 256 is the point of
    the exercise; measured once, see STRESS.md r6)."""
    from big_data_computing__spark.operators.textstats import bpe_train

    spark = get_session(app_name="bdc_stress_bpe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_vocab_docs(spark, n_words)
    results: dict[str, dict] = {}
    t0 = time.time()
    full = bpe_train(docs, n_merges=64, incremental=False)
    results["bpe_full_recount_64"] = {
        "merges": len(full), "sec": round(time.time() - t0, 1)
    }
    t0 = time.time()
    inc = bpe_train(docs, n_merges=64, incremental=True)
    results["bpe_incremental_64"] = {
        "merges": len(inc), "sec": round(time.time() - t0, 1)
    }
    assert inc == full, "incremental trainer diverged from full recount"
    t0 = time.time()
    inc256 = bpe_train(docs, n_merges=256, incremental=True)
    results["bpe_incremental_256"] = {
        "merges": len(inc256), "sec": round(time.time() - t0, 1)
    }
    assert inc256[:64] == full, "greedy prefix property violated"
    print(json.dumps(results, indent=2))
    spark.stop()


def main() -> None:
    if "--cc-only" in sys.argv:
        cc_chain_ab()
        return
    if "--bpe-only" in sys.argv:
        bpe_ab()
        return
    if "--unigram-only" in sys.argv:
        unigram_stress()
        return
    if "--wap-only" in sys.argv:
        wap_stress()
        return
    spark = get_session(app_name="bdc_stress")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}

    # --- 12M 2-D points: lineitem-derived, 20 jittered replicas ---
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_extendedprice").alias("x"),
        (F.col("l_quantity") * 2000).alias("y"),
    )
    reps = spark.range(20).select(F.col("id").alias("rep"))
    pts = (
        li.crossJoin(reps)
        .select(
            F.monotonically_increasing_id().alias("id"),
            (F.col("x") + F.col("rep") * 37.0).alias("x"),
            (F.col("y") + F.col("rep") * 53.0).alias("y"),
        )
        # the replica crossJoin preserves the scan's (few) partitions —
        # without this, 12M rows sit in 3 partitions and every downstream
        # stage runs on 3 of 32 cores
        .repartition(64)
        .cache()
    )
    n_pts = pts.count()

    t0 = time.time()
    row = ol.approx_outliers_summary(pts, d=300.0, m=100).collect()[0]
    results["approx_outliers_12M"] = {
        "rows": n_pts,
        "sure": row["sure_outliers"],
        "uncertain": row["uncertain_points"],
        "sec": round(time.time() - t0, 1),
    }

    t0 = time.time()
    n_out = ol.exact_outliers(pts, d=50.0, m=3).count()
    results["exact_outliers_12M"] = {
        "rows": n_pts,
        "outliers": n_out,
        "sec": round(time.time() - t0, 1),
    }
    pts.unpersist()

    # --- 50k documents: 10 offset replicas ---
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_base = docs.count()
    big_docs = (
        docs.crossJoin(spark.range(10).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
            # make replicas near- (not exact-) duplicates: prepend a
            # replica marker token so minhash has real work to do
            F.concat_ws(
                " ", F.concat(F.lit("rep"), F.col("rep")), F.col("text")
            ).alias("text"),
        )
        .repartition(64)
        .cache()
    )
    n_docs = big_docs.count()

    t0 = time.time()
    n_pairs = dd.minhash_lsh_pairs(big_docs).count()
    results["minhash_lsh_50k_docs"] = {
        "docs": n_docs,
        "candidate_pairs": n_pairs,
        "sec": round(time.time() - t0, 1),
    }

    t0 = time.time()
    n_sim = dd.simhash_near_pairs(big_docs, max_hamming=3).count()
    results["simhash_50k_docs"] = {
        "docs": n_docs,
        "pairs": n_sim,
        "sec": round(time.time() - t0, 1),
    }

    # A/B: the production hash mode (JVM xxhash64 vs md5 hex digest)
    t0 = time.time()
    n_sim_xx = dd.simhash_near_pairs(
        big_docs, max_hamming=3, hash_mode="xxhash64"
    ).count()
    results["simhash_50k_docs_xxhash64"] = {
        "docs": n_docs,
        "pairs": n_sim_xx,
        "sec": round(time.time() - t0, 1),
    }

    # A/B: full inverted-index Jaccard vs PPJoin prefix filtering, in
    # the regime the prefix exists for — boilerplate shingles shared by
    # EVERY document (df = corpus size), which the baseline joins at
    # df²/2 rows per shingle and the rarity-ordered prefix never
    # indexes. (On the replica corpus above the A/B is uninformative:
    # all sharing is genuine duplication, nothing can be pruned, and
    # prefix verification overhead makes it ~3× SLOWER — measured and
    # documented in STRESS.md. Regime matters.)
    boiler_txt = (
        "this document is provided under the standard license terms "
        "all rights reserved see the website for details"
    )
    boiler = docs.select(
        "doc_id",
        F.concat_ws(" ", F.lit(boiler_txt), F.col("text")).alias("text"),
    ).repartition(32).cache()
    n_boiler = boiler.count()
    t0 = time.time()
    n_jac = dd.ngram_jaccard_pairs(boiler, threshold=0.5).count()
    results["jaccard_full_index_boiler_5k"] = {
        "docs": n_boiler,
        "pairs": n_jac,
        "sec": round(time.time() - t0, 1),
    }
    t0 = time.time()
    n_jac_p = dd.ngram_jaccard_pairs_prefix(boiler, threshold=0.5).count()
    results["jaccard_prefix_boiler_5k"] = {
        "docs": n_boiler,
        "pairs": n_jac_p,
        "sec": round(time.time() - t0, 1),
    }
    assert n_jac_p == n_jac, (n_jac_p, n_jac)
    boiler.unpersist()
    big_docs.unpersist()

    # --- 20k embeddings: 10 jittered replicas, IVF ANN ---
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_emb = emb.count()
    big_emb = (
        emb.crossJoin(spark.range(10).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") + F.col("rep") * n_emb).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x + (F.col("rep") % 7).cast("float") * 0.01,
            ).alias("embedding"),
        )
        .repartition(64)
        .cache()
    )
    n_vec = big_emb.count()
    t0 = time.time()
    n_ann = sim.ivf_topk(big_emb, k=3, n_cells=32, nprobe=2, seed=42).count()
    results["ivf_ann_20k_vectors"] = {
        "vectors": n_vec,
        "result_rows": n_ann,
        "sec": round(time.time() - t0, 1),
    }

    t0 = time.time()
    n_pq = sim.ivf_pq_topk(
        big_emb, k=3, n_cells=32, nprobe=2, seed=42
    ).count()
    results["ivf_pq_ann_20k_vectors"] = {
        "vectors": n_vec,
        "result_rows": n_pq,
        "sec": round(time.time() - t0, 1),
    }

    # A/B: oracle-parity kernels (element-sequential accumulation) vs
    # the vectorized default the two timings above used
    t0 = time.time()
    n_pq_par = sim.ivf_pq_topk(
        big_emb, k=3, n_cells=32, nprobe=2, seed=42, parity=True
    ).count()
    results["ivf_pq_ann_20k_vectors_parity"] = {
        "vectors": n_vec,
        "result_rows": n_pq_par,
        "sec": round(time.time() - t0, 1),
    }
    big_emb.unpersist()

    # --- star CC on a 100k-node 5k-hop chain forest (the shape the
    # min-label sibling now refuses: diameter >> its round bound) ---
    chains = (
        spark.range(100_000)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
        .where((F.col("doc_a") + 1) % 5000 != 0)  # break into 20 chains
        .repartition(64)
    )
    t0 = time.time()
    n_nodes = dd.duplicate_components_twophase(chains).count()
    results["star_cc_100k_chain"] = {
        "nodes": n_nodes,
        "sec": round(time.time() - t0, 1),
    }

    print(json.dumps(results, indent=2))
    spark.stop()




def wap_stress(n_replicas: int = 20) -> None:
    """Clone/WAP at 12M rows: shallow_clone and publish_from must be
    METADATA-TIME operations regardless of table size — measured next
    to the physical append of the same increment (the thing publish
    avoids re-doing on the source)."""
    import shutil
    import tempfile

    from big_data_computing__spark.sources.layout import ZTable

    spark = get_session(app_name="bdc_wap_stress")
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_extendedprice").alias("x"),
        (F.col("l_quantity") * 2000).alias("y"),
    )
    reps = spark.range(n_replicas).select(F.col("id").alias("rep"))
    pts = (
        li.crossJoin(reps)
        .select(
            F.monotonically_increasing_id().alias("id"),
            (F.col("x") + F.col("rep") * 37.0).alias("x"),
            (F.col("y") + F.col("rep") * 53.0).alias("y"),
        )
        .repartition(64)
        .cache()
    )
    n = pts.count()
    inc = (
        li.limit(600_000)
        .select(
            (F.monotonically_increasing_id() + 10**12).alias("id"),
            (F.col("x") + 9999.0).alias("x"),
            (F.col("y") + 9999.0).alias("y"),
        )
        .repartition(16)
        .cache()
    )
    n_inc = inc.count()
    root = tempfile.mkdtemp(prefix="wap12m_")
    try:
        t0 = time.time()
        t = ZTable.create(pts, f"{root}/src", n_files=64, cell=500.0)
        t_create = time.time() - t0

        t0 = time.time()
        stage = t.shallow_clone(f"{root}/stage")
        t_clone = time.time() - t0

        t0 = time.time()
        stage.append(inc, n_files=8)
        t_stage_append = time.time() - t0

        t0 = time.time()
        v = t.publish_from(stage)
        t_publish = time.time() - t0

        # comparison: the same increment physically appended
        t0 = time.time()
        t.append(inc, n_files=8)
        t_phys_append = time.time() - t0

        assert t.read(spark, v).count() == n + n_inc
        print(
            f"rows={n:,} inc={n_inc:,}\n"
            f"create(64 files)   : {t_create:7.2f} s\n"
            f"shallow_clone      : {t_clone*1000:7.1f} ms\n"
            f"stage append (8f)  : {t_stage_append:7.2f} s\n"
            f"publish_from       : {t_publish*1000:7.1f} ms\n"
            f"physical append(8f): {t_phys_append:7.2f} s"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
