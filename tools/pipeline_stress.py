"""Composed production-pipeline stress: quality/lang filter → exact
dedup → MinHash-LSH pairs → CC survivors → leakage-safe splits →
pack_sequences → shard_stats, on a synthetic 10M-doc corpus — the
first measurement of the COMPOSED pipeline rather than operators in
isolation (VERDICT r7 item #7).

The corpus is generated deliberately adversarial-ish but realistic:
- 70% English docs in near-dup TRIOS (same base sentence, one
  trailing token varies) — LSH must bucket them, CC must merge them;
- 10% exact triplicates of their trio head — exact dedup's share;
- 10% German (language filter's share);
- 10% junk (repeated non-stopword char-words — quality filter's share).

Per-stage wall clock + shuffle-write bytes (total and largest single
Spark stage, from the UI REST API) are printed for STRESS.md. Stage
boundaries materialize via count()/localCheckpoint so each wall is
attributable; the end-to-end clean_corpus operator composes the same
stages lazily in ONE plan, so the sum here is an upper bound on the
fused pipeline's wall.

Usage: python tools/pipeline_stress.py [n_docs] (default 10M)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from big_data_computing__spark.functions.hashing import hash60  # noqa: E402
from big_data_computing__spark.functions.text import normalized  # noqa: E402
from big_data_computing__spark.operators.curation import (  # noqa: E402
    leakage_safe_splits,
    pack_sequences,
    shard_stats,
)
from big_data_computing__spark.operators.dedup import (  # noqa: E402
    dedup_survivors,
    duplicate_components_auto,
    minhash_lsh_pairs,
    minhash_lsh_pairs_sharded,
)
from big_data_computing__spark.operators.textstats import (  # noqa: E402
    quality_lang_gate,
)
from big_data_computing__spark.session import get_session  # noqa: E402

AZ = "abcdefghijklmnopqrstuvwxyz"

# --ab-unsharded: also time the one-shot band join after the sharded
# s3, for the head-to-head shuffle table (same process, same corpus)
AB_UNSHARDED = False


def synth_corpus(spark, n_docs: int):
    """Deterministic 4-class corpus (see module docstring). Word pool
    is a collision-free base-26 encoding of the trio id."""
    trio = F.col("id") / 3

    def word(salt: int):
        key = F.xxhash64(trio.cast("long"), F.lit(salt))
        return F.concat(
            *[
                F.substring(
                    F.lit(AZ),
                    (F.abs(key / (26**k)) % 26 + 1).cast("int"),
                    1,
                )
                for k in (4, 3, 2, 1, 0)
            ]
        )

    tail = F.concat(F.lit("tail"), (F.col("id") % 3).cast("string"))
    en_text = F.concat_ws(
        " ",
        F.lit("the"), word(1), F.lit("of"), word(2), F.lit("and"),
        word(3), F.lit("to"), word(4), F.lit("a"), word(5), tail,
    )
    # exact triplicates: band 10-19 of each 100 reuses tail0 verbatim
    exact_text = F.concat_ws(
        " ",
        F.lit("the"), word(1), F.lit("of"), word(2), F.lit("and"),
        word(3), F.lit("to"), word(4), F.lit("a"), word(5),
        F.lit("tail0"),
    )
    de_text = F.concat_ws(
        " ", F.lit("der"), word(1), F.lit("die"), word(2),
        F.lit("und"), word(3), F.lit("ist"), word(4),
    )
    junk_text = F.concat_ws(
        " ", *[F.lit("zq") for _ in range(6)]
    )
    bucket = F.col("id") % 100
    text = (
        F.when(bucket < 70, en_text)
        .when(bucket < 80, exact_text)
        .when(bucket < 90, de_text)
        .otherwise(junk_text)
    )
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=10) as r:
        return json.load(r)


def shuffle_snapshot(spark):
    """{(stageId, attempt): shuffle-write bytes} over all completed
    stages so far — UI REST, zero instrumentation; callers diff two
    snapshots to attribute writes to a pipeline phase."""
    app = _rest(spark, "applications")[0]["id"]
    stages = _rest(spark, f"applications/{app}/stages?status=complete")
    return {
        (s["stageId"], s.get("attemptId", 0)): s.get(
            "shuffleWriteBytes", 0
        )
        for s in stages
    }


def main(n_docs: int) -> None:
    spark = get_session(app_name="pipeline_stress")
    spark.sparkContext.setLogLevel("ERROR")
    report = []

    def stage(name, fn):
        before = shuffle_snapshot(spark)
        t0 = time.time()
        out = fn()
        wall = time.time() - t0
        after = shuffle_snapshot(spark)
        new = {k: v for k, v in after.items() if k not in before}
        delta = sum(new.values())
        mx = max(new.values(), default=0)
        report.append(
            (name, round(wall, 1), round(delta / 2**20, 1), mx)
        )
        print(f"  {name}: {wall:.1f}s shuffleΔ={delta/2**20:.1f}MiB")
        return out

    docs = stage(
        "s0_materialize_corpus",
        lambda: synth_corpus(spark, n_docs).repartition(64)
        .localCheckpoint(),
    )

    def s1():
        # r10: the fused join-free gate (quality_lang_gate) — the old
        # two-join shape re-shuffled the text column twice and priced
        # this stage at 248 s / 2.3 GiB shuffle at 50M docs
        return (
            quality_lang_gate(docs)
            .select("doc_id", "text")
            .localCheckpoint()
        )

    def s1_joined():
        # the pre-r10 shape, timed under --ab-unsharded for the
        # committed same-process head-to-head
        from big_data_computing__spark.operators.textstats import (
            language_id,
            quality_scores,
        )

        q = quality_scores(docs).select("doc_id", "quality_score")
        lng = language_id(docs).select("doc_id", "pred_lang")
        return (
            docs.join(q, "doc_id")
            .join(lng, "doc_id")
            .where(
                (F.col("quality_score") >= 0.45)
                & (F.col("pred_lang") == "en")
            )
            .select("doc_id", "text")
            .localCheckpoint()
        )

    kept = stage("s1_quality_lang_filter", s1)
    if AB_UNSHARDED:
        stage("s1ab_joined_gate", s1_joined)
    print(f"    kept {kept.count():,} of {n_docs:,}")

    def s2():
        fp = kept.select(
            "doc_id", hash60(normalized(F.col("text"))).alias("f")
        )
        exact_keep = fp.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
        return kept.join(
            exact_keep.select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint()

    kept2 = stage("s2_exact_dedup", s2)
    print(f"    exact-distinct {kept2.count():,}")

    # s3 runs the BAND-SHARDED join (r10): the one-shot band join was
    # this pipeline's largest single-stage shuffle (13.9 GiB at 50M,
    # 24% of wall, STRESS.md r9) — sharding by band cuts the largest
    # stage ~bands-fold while total volume stays put. The bucket rows
    # land once in a band=N parquet layout (partition-pruned reads),
    # the 100-TB shape.
    import shutil
    import tempfile

    shard_tmp = tempfile.mkdtemp(prefix="lsh_bands_")
    pairs = stage(
        "s3_minhash_lsh_pairs",
        lambda: minhash_lsh_pairs_sharded(
            kept2, shard_dir=shard_tmp + "/bands"
        ).localCheckpoint(),
    )
    print(f"    candidate pairs {pairs.count():,}")
    if AB_UNSHARDED:
        stage(
            "s3ab_oneshot_band_join",
            lambda: minhash_lsh_pairs(kept2).localCheckpoint(),
        )
    shutil.rmtree(shard_tmp, ignore_errors=True)

    # The closure is computed ONCE and reused by survivors AND splits
    # — the first run of this stress computed it twice (inside each
    # operator): s4 133 s + s5 87 s, ~15 GiB shuffle EACH; the reuse
    # is the components= parameter both operators now take. The
    # closure itself runs the auto-dispatcher (10.6M pairs -> the
    # large-star/small-star alternation) —
    # the CC ladder measured on this exact graph (7.3M nodes, 10.6M
    # pairs, same process): min-label 225.4 s, hook+shortcut
    # 105.8-151.9 s, two-phase 116.2 s with a SHRINKING per-round
    # edge list (STRESS.md r8); all outputs identical.
    comp = stage(
        "s4a_duplicate_components",
        lambda: duplicate_components_auto(pairs).localCheckpoint(),
    )
    survivors = stage(
        "s4b_cc_survivors",
        lambda: dedup_survivors(
            kept2.select("doc_id"), pairs, components=comp
        ).localCheckpoint(),
    )
    print(f"    survivors {survivors.count():,}")

    splits = stage(
        "s5_leakage_safe_splits",
        lambda: leakage_safe_splits(
            survivors.select("doc_id"), pairs, components=comp
        ).localCheckpoint(),
    )
    split_counts = {
        r["split"]: r["n"]
        for r in splits.groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(f"    splits {split_counts}")

    train_docs = (
        splits.where(F.col("split") == "train")
        .select("doc_id")
        .join(kept2, "doc_id")
    )
    packed = stage(
        "s6_pack_sequences",
        lambda: pack_sequences(train_docs).localCheckpoint(),
    )
    n_span = packed.where(F.col("spans_boundary")).count()
    print(f"    packed {packed.count():,} docs, {n_span:,} span a boundary")

    shards = stage(
        "s7_shard_stats",
        lambda: shard_stats(train_docs).collect(),
    )
    tok_total = sum(r["n_tokens"] for r in shards)
    print(f"    {len(shards)} shards, {tok_total:,} train tokens")

    print("\n| stage | wall | shuffle Δ | max single-stage write |")
    print("|---|---|---|---|")
    for name, wall, dmib, mx in report:
        print(f"| {name} | {wall} s | {dmib} MiB | {mx/2**20:.1f} MiB |")
    print(f"| TOTAL | {sum(r[1] for r in report):.1f} s | | |")


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    AB_UNSHARDED = "--ab-unsharded" in sys.argv
    main(int(args[0]) if args else 10_000_000)
