"""Streaming deduplication: exact dedup over an unbounded document
stream.

The streaming face of operators/dedup.py's exact dedup: fingerprint each
arriving document (same md5-based hash60 as the batch operator) and drop
repeats with Spark's stateful ``dropDuplicates``. With a watermark the
dedup state is bounded to the late-data horizon — the standard shape for
continuous training-data ingestion; without one, state grows with the
distinct-fingerprint count (exact global dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash60
from ..functions.text import normalized
from .batchlog import (
    committed_batch_ids,
    prune_uncommitted,
    write_batch_partition,
)


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """First-seen documents only (streaming): adds ``fingerprint`` and
    drops rows whose fingerprint was already observed.

    ``ts_col``: event-time column; when given, a watermark bounds the
    dedup state to ``watermark_delay`` (duplicates older than the
    watermark may re-emit — the documented trade for bounded state).
    """
    fp = docs.withColumn(
        "fingerprint", hash60(normalized(F.col(text_col)))
    )
    if ts_col is not None:
        fp = fp.withWatermark(ts_col, watermark_delay)
        return fp.dropDuplicates(["fingerprint", ts_col])
    return fp.dropDuplicates(["fingerprint"])


class LshIndexState:
    """Streaming EXACT global LSH near-dup detection with bounded
    per-batch cost: the incremental-probe pattern
    (operators/dedup.py::incremental_lsh_duplicates) run per
    micro-batch against a PERSISTED parquet signature index.

    Per batch: (1) sign the batch once; (2) self-join the batch for
    within-batch candidate pairs; (3) probe the standing index for
    cross-batch pairs; (4) append the batch's pairs to ``pairs_dir``
    and its signatures to ``index_dir``. A pair (i, j) is discovered
    exactly once — within the batch that holds both, or by the later
    document's probe — so after ANY prefix of batches the accumulated
    pair set equals batch ``minhash_lsh_pairs`` over the arrived
    documents BIT-FOR-BIT (asserted in tests): this is exact global
    dedup over an unbounded stream, at per-batch cost
    O(batch · bands + collisions), never O(corpus).

    State is ON DISK (a growing signature index of a few fixed-width
    integers per document — the artifact a production pipeline keeps
    in a table), not driver memory: the ScatterState/DsirBucketState
    driver-dict pattern cannot hold a corpus-sized index. Replays of
    a seen batch id are ignored (the foreachBatch idempotence rule),
    and the guard is DURABLE (the KnnIndexState pattern,
    ann_stream.py): each batch writes its own ``batch_id=N``
    partition directory in both logs, committed by the ``_SUCCESS``
    marker FileOutputCommitter drops at job-commit completion. After
    a process restart, ONE directory listing (no data read, no
    per-batch log scan — the guard's cost is independent of stream
    length, ADVICE r9) recovers the committed ids; a replay of a
    committed batch skips, and anything short of a full commit — a
    crash between the two writes, OR mid-job-commit part files left
    without the marker — is repaired by REWRITING the partition
    (``mode=overwrite`` = delete-then-write, idempotent), so no
    committed pairs ever duplicate and no half-committed pairs are
    ever silently lost (duplicate or missing pair rows would break
    the documented ``pairs() ≡ batch minhash_lsh_pairs`` parity).
    """

    def __init__(
        self,
        index_dir: str,
        pairs_dir: str,
        num_hashes: int = 16,
        ngram: int = 3,
        text_col: str = "text",
    ):
        self.index_dir = index_dir
        self.pairs_dir = pairs_dir
        self.num_hashes = num_hashes
        self.ngram = ngram
        self.text_col = text_col
        self._seen: set[int] = set()
        self._indexed = False
        self._recovered = False
        self._pairs_committed: set[int] = set()

    def _recover(self) -> None:
        """One-time restart recovery — runs on the FIRST update after
        construction only; within a live process ``_seen`` is
        authoritative (ADVICE r9: a per-batch log scan would grow
        with stream length). Uncommitted partition dirs (crash
        debris) are pruned so the standing-index read never sees a
        partial batch's rows."""
        if self._recovered:
            return
        self._recovered = True
        prune_uncommitted(self.index_dir)
        prune_uncommitted(self.pairs_dir)
        self._seen |= committed_batch_ids(self.index_dir)
        self._indexed = self._indexed or bool(self._seen)
        self._pairs_committed = committed_batch_ids(self.pairs_dir)

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import (
            incremental_lsh_duplicates,
            minhash_lsh_pairs,
            minhash_signatures,
        )

        if batch_id in self._seen:
            return
        self._recover()
        if batch_id in self._seen:
            # fully committed before a restart: both writes landed
            return
        spark = batch_df.sparkSession
        pairs_logged = batch_id in self._pairs_committed
        self._seen.add(batch_id)
        sigs = minhash_signatures(
            batch_df, self.num_hashes, self.ngram, self.text_col
        ).localCheckpoint()
        within = minhash_lsh_pairs(batch_df, sigs=sigs)
        if self._indexed:
            corpus_sigs = spark.read.parquet(self.index_dir)
            cross = incremental_lsh_duplicates(
                batch_df, corpus_sigs, self.num_hashes,
                self.ngram, self.text_col, new_sigs=sigs,
            ).select(
                F.least("new_doc_id", "corpus_doc_id").alias("doc_a"),
                F.greatest("new_doc_id", "corpus_doc_id").alias("doc_b"),
                "n_bands",
            )
            pairs = within.unionByName(cross)
        else:
            pairs = within
        # pairs FIRST, index LAST (indexing first would make the batch
        # self-match on replay). A half-committed replay (pairs
        # committed, index missing) skips the pair write — the
        # re-derived pairs are identical because the standing index
        # excludes this batch either way — and lands only the missing
        # signature partition; an UNcommitted pair partition was
        # already pruned at recovery and is rewritten whole here
        if not pairs_logged:
            write_batch_partition(pairs, self.pairs_dir, batch_id)
        write_batch_partition(sigs, self.index_dir, batch_id)
        self._indexed = True

    def pairs(self, spark) -> DataFrame:
        """All candidate pairs discovered so far (doc_a < doc_b)."""
        return spark.read.parquet(self.pairs_dir).select(
            "doc_a", "doc_b", "n_bands"
        )


def lsh_dedup_stream_query(
    stream_df: DataFrame, state: LshIndexState, **foreach_kwargs
):
    """Wire an LshIndexState into a foreachBatch writeStream (the
    table_stream idiom); returns the started query."""
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: state.update(df, bid))
        .trigger(availableNow=True)
        .start(**foreach_kwargs)
    )
