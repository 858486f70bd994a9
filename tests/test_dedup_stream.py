"""Streaming dedup: replay a corpus with planted duplicates; exactly the
batch survivors must come out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_computing__spark.operators.dedup import exact_dedup_groups
from big_data_computing__spark.sources.readers import read_table
from big_data_computing__spark.streaming.dedup_stream import dedup_stream


def test_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents")
    # plant duplicates: every doc appears twice (ids offset by 10_000)
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000)
    )
    data = str(tmp_path / "docs")
    doubled.write.parquet(data)

    stream = spark.readStream.schema(doubled.schema).parquet(data)
    out = dedup_stream(stream)
    query = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    survivors = spark.sql("SELECT fingerprint FROM dedup_out").collect()
    fps = [r["fingerprint"] for r in survivors]
    # one survivor per distinct fingerprint
    assert len(fps) == len(set(fps))
    batch_groups = exact_dedup_groups(doubled)
    assert len(fps) == batch_groups.count()
    # every group emitted exactly one representative
    assert set(fps) == {
        r["fingerprint"] for r in batch_groups.collect()
    }


def test_lsh_index_state_prefix_parity_and_replay(spark, sf_dir, tmp_path):
    """Direct-update run of the streaming LSH index: after EVERY batch
    prefix the accumulated pair set must equal batch minhash_lsh_pairs
    over the arrived documents bit-for-bit; a replayed batch id is a
    strict no-op."""
    from big_data_computing__spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from big_data_computing__spark.streaming.dedup_stream import (
        LshIndexState,
    )

    docs = read_table(spark, sf_dir, "documents")
    state = LshIndexState(
        str(tmp_path / "sig_index"), str(tmp_path / "pairs")
    )
    batches = [
        docs.where("doc_id % 3 = 0"),
        docs.where("doc_id % 3 = 1"),
        docs.where("doc_id % 3 = 2"),
    ]
    arrived = None
    for bid, b in enumerate(batches):
        state.update(b, bid)
        arrived = b if arrived is None else arrived.unionByName(b)
        got = {
            (r["doc_a"], r["doc_b"]): r["n_bands"]
            for r in state.pairs(spark).collect()
        }
        want = {
            (r["doc_a"], r["doc_b"]): r["n_bands"]
            for r in minhash_lsh_pairs(arrived).collect()
        }
        assert got == want, f"prefix parity broke at batch {bid}"
    assert want, "fixture must yield at least one candidate pair"
    # replay: same batch id again must change nothing on disk
    state.update(batches[1], 1)
    again = {
        (r["doc_a"], r["doc_b"]): r["n_bands"]
        for r in state.pairs(spark).collect()
    }
    assert again == want


def test_lsh_index_state_real_foreachbatch(spark, sf_dir, tmp_path):
    """The same state driven by a REAL availableNow foreachBatch query
    over a parquet stream reaches batch parity."""
    from big_data_computing__spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from big_data_computing__spark.streaming.dedup_stream import (
        LshIndexState,
        lsh_dedup_stream_query,
    )

    docs = read_table(spark, sf_dir, "documents")
    data = str(tmp_path / "docs")
    docs.write.parquet(data)
    state = LshIndexState(
        str(tmp_path / "sig_index"), str(tmp_path / "pairs")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    q = lsh_dedup_stream_query(stream, state)
    q.awaitTermination(180)
    got = {
        (r["doc_a"], r["doc_b"]): r["n_bands"]
        for r in state.pairs(spark).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["n_bands"]
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert got == want and want


def test_dedup_stream_watermark_keys_on_fingerprint_and_ts(
    spark, sf_dir, tmp_path
):
    """The watermarked path must keep ``ts`` in its dedup key (Spark
    needs the watermark column there to evict state), so a duplicate
    re-stamped with a different event time survives: each distinct
    fingerprint emits once per distinct event time, asserted on a real
    availableNow query."""
    docs = read_table(spark, sf_dir, "documents").limit(200)
    base = docs.select(
        "doc_id", "text", F.timestamp_micros(F.lit(1_700_000_000_000_000)).alias("ts")
    )
    # duplicates re-stamped 10 minutes later — inside the 1 h delay
    restamped = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        "text",
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000 + 600_000_000)
        ).alias("ts"),
    )
    doubled = base.unionByName(restamped)
    data = str(tmp_path / "docs_wm")
    doubled.write.parquet(data)

    stream = spark.readStream.schema(doubled.schema).parquet(data)
    q = (
        dedup_stream(stream, ts_col="ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_plain")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup_plain"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    plain = [
        r["fingerprint"]
        for r in spark.sql("SELECT fingerprint FROM dedup_plain").collect()
    ]
    n_distinct = exact_dedup_groups(base).count()
    # one survivor per (fingerprint, ts): every restamped duplicate
    # survives beside its first sighting
    assert len(set(plain)) == n_distinct
    assert len(plain) == n_distinct + restamped.count()
