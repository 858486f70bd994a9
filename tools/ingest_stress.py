"""Ingest-pipeline stress: the composed daily-ingest (gopher gate →
pair-free global LSH dedup gate → drift monitor → exactly-once ZTable
append) driven over a 200k-doc boilerplate-heavy corpus in doc-id-
ordered micro-batches, with the acceptance contract verified AT SCALE
against one batch recompute (VERDICT r9 item #6, adapted to the r10
pair-free gate).

Parity law being asserted: when batches are ascending doc_id ranges,
arrival order ≡ global doc_id order, so the streaming contract
("rejected iff some band bucket holds an earlier gate survivor")
collapses to ONE whole-corpus bucket-min pass —

    accepted ≡ gopher survivors − lsh_greedy_within_rejects(all sigs)

i.e. the pipeline's maintained table must equal the batch-side
pair-free gate run once over everything. This is the
discovered-exactly-once law in its r10 form: no pair is ever
enumerated on either side, yet both sides realize the UNCAPPED pair
graph's greedy predicate exactly — including through the synthetic
corpus's junk class (thousands of IDENTICAL docs = one boilerplate
super-bucket, the regime that used to require the enumeration cap).

Also printed per batch: wall, accepted count, and the standing-index
size the cross probe paid for — the per-batch-cost-vs-corpus-growth
trend STRESS.md tracks.

Usage: python tools/ingest_stress.py [n_docs] [n_batches]
(defaults 200_000, 10)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from big_data_computing__spark.operators.curation import (  # noqa: E402
    gopher_quality_report,
)
from big_data_computing__spark.operators.dedup import (  # noqa: E402
    lsh_greedy_within_rejects,
    minhash_signatures,
)
from big_data_computing__spark.session import get_session  # noqa: E402
from big_data_computing__spark.sources.layout import ZTable  # noqa: E402
from big_data_computing__spark.streaming.ingest_pipeline import (  # noqa: E402,E501
    IngestPipeline,
)
from tools.pipeline_stress import synth_corpus  # noqa: E402


def main(n_docs: int, n_batches: int) -> None:
    spark = get_session(app_name="ingest_stress")
    spark.sparkContext.setLogLevel("ERROR")
    # the pipeline's document contract needs lang/source/n_chars on
    # top of synth_corpus's (doc_id, text), and texts long enough to
    # clear the Gopher word-count floor (the synthetic sentences are
    # ~11 words; 5 verbatim repeats lift en/de docs past 40 words
    # while preserving the LSH structure — trio members still share
    # their shingle mass, exact triplicates stay exact, and the junk
    # class still fails the gate on mean word length)
    base = synth_corpus(spark, n_docs)
    docs = (
        base.select(
            "doc_id",
            F.concat_ws(
                " ", *([F.col("text")] * 5)
            ).alias("text"),
            F.when(F.col("text").startswith("der "), "de")
            .otherwise("en")
            .alias("lang"),
            F.concat(
                F.lit("src"), (F.col("doc_id") % 4).cast("string")
            ).alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .localCheckpoint()
    )

    tmp = tempfile.mkdtemp(prefix="ingest_stress_")
    pipe = IngestPipeline(tmp + "/corpus", tmp + "/sig_index")
    per = n_docs // n_batches
    batch_walls = []
    try:
        for b in range(n_batches):
            lo, hi = b * per, (b + 1) * per if b < n_batches - 1 else n_docs
            part = docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).localCheckpoint()
            t0 = time.time()
            n_acc = pipe.process(part, batch_id=b)
            wall = time.time() - t0
            idx_rows = spark.read.parquet(tmp + "/sig_index").count()
            batch_walls.append(round(wall, 2))
            print(
                f"  batch {b}: {wall:.1f}s accepted={n_acc:,} "
                f"index_rows={idx_rows:,}"
            )

        # ---- the at-scale parity assertion (module doc) ----
        t0 = time.time()
        surv = docs.join(
            gopher_quality_report(docs)
            .where(F.col("passes"))
            .select("doc_id"),
            "doc_id",
        )
        sigs = minhash_signatures(surv).localCheckpoint()
        want = surv.join(
            lsh_greedy_within_rejects(sigs), "doc_id", "left_anti"
        ).select("doc_id")
        got = pipe.table.read(spark).select("doc_id")
        n_want, n_got = want.count(), got.count()
        sym_diff = (
            want.join(got, "doc_id", "left_anti").count()
            + got.join(want, "doc_id", "left_anti").count()
        )
        recompute_wall = time.time() - t0
        assert sym_diff == 0, (
            f"PARITY VIOLATION: streaming table and batch recompute "
            f"differ on {sym_diff} doc ids "
            f"(table={n_got:,}, recompute={n_want:,})"
        )
        print(
            f"  parity OK: table == batch pair-free gate, "
            f"{n_got:,} docs ({recompute_wall:.1f}s recompute)"
        )
        print(
            json.dumps(
                {
                    "metric": "ingest_stress",
                    "n_docs": n_docs,
                    "n_batches": n_batches,
                    "accepted": n_got,
                    "batch_walls_s": batch_walls,
                    "recompute_wall_s": round(recompute_wall, 1),
                    "parity": "exact",
                }
            )
        )
    finally:
        # stop FIRST: in-flight cleanup tasks still reference blocks
        # under the scratch dir; deleting it earlier races the
        # executor's TaskCompletionListener into read errors
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 200_000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 10,
    )
