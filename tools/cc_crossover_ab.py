"""A/B of the CC bodies behind the auto-dispatching closure
(dedup.duplicate_components_auto): time hook+shortcut against
large-star/small-star on one pair graph, with an identical-output
assertion paid inside every timed run.

Inputs (the positional argument):

- an integer ``n_docs`` (default 730_000): the REAL dup graph of the
  pipeline-stress corpus (synth_corpus → minhash_lsh_pairs), the
  workload the dispatcher serves. As in the composed pipeline, the
  junk class (exact duplicates of one text) is removed BEFORE LSH —
  in the pipeline that's the exact-dedup stage's job; left in, its
  single band bucket self-joins into n_junk²/2 edges (measured: 2.67B
  edges from 73k junk docs at n_docs=730k — the exact pathology
  lsh_max_bucket_from_stats guards against). Edge count scales
  ≈ 1.4 × n_docs after the filter, so n_docs ≈ 730k lands near 10⁶
  edges; smaller corpora give fewer edges per doc (73k → 63,925 edges,
  120k → 105,360);
- a fixture directory (e.g. ``testdata/sf0.01``): the MinHash pairs of
  its ``documents`` table — the graph the registered
  ``x_dedup_components_*`` queries close;
- ``chains:N:HOP``: an N-node forest of HOP-node chains (diameter
  HOP − 1 per component), the high-diameter shape min-label
  propagation refuses.

Usage: python tools/cc_crossover_ab.py [INPUT]

The pair graph is built and checkpointed once, before the timed runs;
one untimed warm-up run per variant precedes its REPEATS timed runs. To compare two
checkouts, run this file from each checkout's root (the package is
imported from the working directory). Results of the r9/r10 ladder
are in STRESS.md.
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
    duplicate_components_shortcut,
    duplicate_components_twophase,
    minhash_lsh_pairs,
)
from big_data_computing__spark.session import get_session  # noqa: E402

REPEATS = 3
VARIANTS = {
    "shortcut": duplicate_components_shortcut,
    "twophase": duplicate_components_twophase,
}


def pair_graph(spark, source: str):
    """The checkpointed pair graph named by ``source`` (see module
    docstring)."""
    if source.startswith("chains:"):
        _, n_nodes, hop = source.split(":")
        return (
            spark.range(int(n_nodes))
            .select(
                F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
            )
            .where((F.col("doc_a") + 1) % int(hop) != 0)
            .localCheckpoint()
        )
    if source.isdigit():
        from tools.pipeline_stress import synth_corpus

        docs = (
            synth_corpus(spark, int(source))
            .where(~F.col("text").startswith("zq"))
            .localCheckpoint()
        )
    else:
        from big_data_computing__spark.sources.readers import read_table

        docs = read_table(spark, source, "documents")
    return minhash_lsh_pairs(docs).localCheckpoint()


def main(source: str) -> None:
    spark = get_session(app_name="cc_crossover_ab")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    pairs = pair_graph(spark, source)
    n_edges = pairs.count()
    print(
        f"input={source} n_edges={n_edges} "
        f"(build {round(time.time() - t0, 1)} s)"
    )

    runs: dict[str, list[float]] = {}
    outputs: dict[str, tuple] = {}
    for name, fn in VARIANTS.items():
        runs[name] = []
        for rep in range(REPEATS + 1):
            t0 = time.time()
            out = fn(pairs)
            # one row: (row count, order-free label hash) — the
            # identical-output assertion, paid inside the timed run
            # identically for every variant (bit_xor, not sum: a sum
            # of 64-bit hashes overflows under ANSI mode)
            sig = out.agg(
                F.count("*").cast("long"),
                F.expr("bit_xor(xxhash64(doc_id, component_id))"),
            ).collect()[0]
            if rep:  # rep 0 is the warm-up
                runs[name].append(round(time.time() - t0, 3))
        outputs[name] = tuple(sig)
        print(
            f"{name}: {round(statistics.median(runs[name]), 3)} s "
            f"median of {runs[name]}"
        )
    assert len(set(outputs.values())) == 1, outputs
    print(
        json.dumps(
            {
                "metric": "cc_crossover_ab",
                "input": source,
                "n_edges": n_edges,
                "runs_s": runs,
                "median_s": {
                    k: round(statistics.median(v), 3)
                    for k, v in runs.items()
                },
                "n_component_rows": next(iter(outputs.values()))[0],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "730000")
