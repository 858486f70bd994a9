"""A/B for the stats-derived LSH super-bucket cap
(dedup.lsh_max_bucket_from_stats): does deriving the cap from the
manifest row count beat the fixed LSH_MAX_BUCKET in BOTH directions?

Two corpus shapes, each run under both caps (wall = median of REPEATS
on the timed shape, pair counts reported so the output difference is
audited, never silent):

  clean     — the pipeline-stress synthetic corpus (synth_corpus:
              near-dup trios + exact-dup bands + two side languages —
              the shape the composed-pipeline stress measures). No
              degenerate buckets: both caps must produce IDENTICAL
              pairs (the derived cap is a no-op on healthy corpora —
              asserted).
  boilerplate — the same corpus with DUP_FRAC of the docs sharing one
              boilerplate paragraph (the licence-header / cookie-
              banner shape real crawls have). The shared shingles
              collapse those docs into a handful of band buckets of
              size ~DUP_FRAC·N; at the fixed 100k cap they self-join
              (b² pair blowup), at the derived √(2·budget·N) cap they
              are dropped and surfaced by lsh_super_buckets.

The claim under test is the cost model's, not a tuning accident: one
degenerate bucket's pair contribution is b(b-1)/2, so the fixed cap
admits a quadratic-in-b volume the moment b sits under it, while the
derived cap bounds the volume to pairs_per_row_budget·N — linear in
the corpus — at ANY scale.

Usage: python tools/lsh_cap_ab.py [n_docs] (default 200k) — results
recorded in STRESS.md (r9).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from big_data_computing__spark.operators.dedup import (  # noqa: E402
    LSH_MAX_BUCKET,
    lsh_max_bucket_from_stats,
    lsh_super_buckets,
    minhash_lsh_pairs,
)
from big_data_computing__spark.session import get_session  # noqa: E402
from tools.pipeline_stress import synth_corpus  # noqa: E402

REPEATS = 3
DUP_FRAC = 0.02  # 2% of docs share the boilerplate paragraph
BOILERPLATE = (
    "this document is provided as is without warranty of any kind "
    "either express or implied including but not limited to the "
    "implied warranties of merchantability and fitness for a purpose"
)


def corpus(spark, n_docs: int, boilerplate: bool):
    """The pipeline-stress synthetic corpus at ``n_docs`` rows, minus
    its junk class — those docs are EXACT duplicates of one text, and
    in the composed pipeline the LSH stage runs after exact dedup has
    collapsed them (their mega-bucket is exact-dedup's job, not the
    guard's). Optionally overwrite DUP_FRAC of the texts with the
    shared boilerplate (plus a 2-token unique tail so the docs are
    near- not exact-duplicates — the exact-hash path must NOT be able
    to absorb them, which is precisely the super-bucket regime)."""
    rep = synth_corpus(spark, n_docs).where(
        ~F.col("text").startswith("zq")
    )
    if boilerplate:
        rep = rep.withColumn(
            "text",
            F.when(
                F.col("doc_id") % int(1 / DUP_FRAC) == 0,
                F.concat(
                    F.lit(BOILERPLATE),
                    F.lit(" tail"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.col("text")),
        )
    return rep


def timed_pairs(docs, cap: int, repeats: int = REPEATS) -> tuple[float, int]:
    walls = []
    n_pairs = 0
    for _ in range(repeats):
        t0 = time.time()
        n_pairs = minhash_lsh_pairs(docs, max_bucket=cap).count()
        walls.append(time.time() - t0)
    return round(statistics.median(walls), 2), n_pairs


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_session(app_name="lsh_cap_ab")
    spark.sparkContext.setLogLevel("ERROR")

    # the manifest the gate would read: synthesize the one fact the
    # derivation consumes (Σ n_rows) the way a ZTable snapshot records
    # it — building a full ZTable here would only re-prove layout.py
    snapshot = {"files": [{"n_rows": n_docs}]}
    derived = lsh_max_bucket_from_stats(snapshot)
    print(
        f"n_docs={n_docs} derived_cap={derived} fixed_cap={LSH_MAX_BUCKET}"
    )

    results = []
    for shape in ("clean", "boilerplate"):
        docs = corpus(
            spark, n_docs, boilerplate=(shape == "boilerplate")
        ).localCheckpoint()
        # the clean shape is an IDENTITY check (same pairs both caps),
        # so one pass per cap; the boilerplate shape carries the
        # timing claim and gets the repeats
        reps = 1 if shape == "clean" else REPEATS
        w_fixed, p_fixed = timed_pairs(docs, LSH_MAX_BUCKET, reps)
        w_derived, p_derived = timed_pairs(docs, derived, reps)
        dropped = lsh_super_buckets(docs, max_bucket=derived).count()
        if shape == "clean":
            assert p_fixed == p_derived, (
                f"derived cap changed pairs on a clean corpus: "
                f"{p_fixed} vs {p_derived}"
            )
        row = {
            "shape": shape,
            "wall_fixed_s": w_fixed,
            "wall_derived_s": w_derived,
            "pairs_fixed": p_fixed,
            "pairs_derived": p_derived,
            "buckets_dropped_at_derived": dropped,
        }
        results.append(row)
        print(row)

    print(
        json.dumps(
            {
                "metric": "lsh_cap_ab",
                "n_docs": n_docs,
                "derived_cap": derived,
                "fixed_cap": LSH_MAX_BUCKET,
                "rows": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
