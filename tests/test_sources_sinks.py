"""Sources and stateful stream starts: CSV point parse, the exact-counts
stream's state sized to the task slots, and ``start_stateful``'s conf
swap."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_computing__spark.sources.readers import read_points_csv


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="bdc_io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_read_points_csv(spark, tmpdir):
    path = tmpdir + "/pts.csv"
    with open(path, "w") as fh:
        fh.write("1.5,2.5\n-3.0,4.25\nnot,a_point\n")
    df = read_points_csv(spark, path)
    assert df.schema.simpleString() == "struct<x:double,y:double>"
    rows = df.collect()
    assert (1.5, 2.5) in {(r["x"], r["y"]) for r in rows}
    # malformed line → nulls (PERMISSIVE), not an executor crash
    assert any(r["x"] is None for r in rows)


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _recorded_partitions(checkpoint: str, batch_id: int) -> str:
    """The shuffle-partition count a checkpoint's offset log recorded
    for one batch (line 2 of the entry is its metadata JSON)."""
    import json

    with open(f"{checkpoint}/offsets/{batch_id}") as fh:
        meta = json.loads(fh.read().splitlines()[1])
    return meta["conf"][SHUFFLE_PARTITIONS]


def _state_partitions(checkpoint: str) -> int:
    """Number of partition directories of the checkpoint's one stateful
    operator."""
    return sum(name.isdigit() for name in os.listdir(checkpoint + "/state/0"))


def _item_counts(df) -> dict:
    return {
        r["item"]: r["cnt"]
        for r in df.groupBy("item").agg(F.count("*").alias("cnt")).collect()
    }


def test_streaming_exact_counts_memory_sink(spark, sf_dir, tmpdir):
    """The exact counts equal the batch groupBy, and the query's state
    is sized to the task slots while the session keeps its own count."""
    from big_data_computing__spark.sources.readers import event_stream_table
    from big_data_computing__spark.streaming.frequent_stream import (
        exact_counts_query,
        file_items,
    )

    slots = spark.sparkContext.defaultParallelism
    data = tmpdir + "/items"
    event_stream_table(spark, sf_dir).write.parquet(data)
    items = file_items(spark, data)
    ckpt = tmpdir + "/ckpt2"
    query = exact_counts_query(items, ckpt, "t_exact_counts")
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert _recorded_partitions(ckpt, 0) == str(slots)
    assert _state_partitions(ckpt) == slots
    assert spark.conf.get(SHUFFLE_PARTITIONS) == "8"
    got = {
        r["item"]: r["count"]
        for r in spark.sql("SELECT * FROM t_exact_counts").collect()
    }
    assert got == _item_counts(event_stream_table(spark, sf_dir))


def test_exact_counts_resumes_old_checkpoint_with_its_count(
    spark, sf_dir, tmpdir
):
    """A checkpoint written by a plain writer at the session's own
    partition count resumes through ``exact_counts_query`` with that
    count, and the counts over both files stay exact."""
    from big_data_computing__spark.sources.readers import event_stream_table
    from big_data_computing__spark.streaming.frequent_stream import (
        exact_counts_query,
        file_items,
    )

    session_count = spark.conf.get(SHUFFLE_PARTITIONS)
    stream = event_stream_table(spark, sf_dir)
    mid = stream.count() // 2
    data = tmpdir + "/items"
    stream.where(F.col("seq") <= mid).coalesce(1).write.parquet(data)
    items = file_items(spark, data)
    ckpt = tmpdir + "/ckpt"
    old = (
        items.groupBy("item")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_old_counts")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        old.processAllAvailable()
    finally:
        old.stop()
    assert _recorded_partitions(ckpt, 0) == session_count

    stream.where(F.col("seq") > mid).coalesce(1).write.mode("append").parquet(
        data
    )
    query = exact_counts_query(file_items(spark, data), ckpt, "t_resumed")
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert os.path.exists(ckpt + "/commits/1")
    assert _recorded_partitions(ckpt, 1) == session_count
    assert _state_partitions(ckpt) == int(session_count)
    got = {
        r["item"]: r["count"]
        for r in spark.sql("SELECT * FROM t_resumed").collect()
    }
    assert got == _item_counts(stream)


def test_start_stateful_restores_conf_when_start_raises(spark, sf_dir, tmpdir):
    """A second query under an active query's name fails inside
    ``start()``; the session's count is restored all the same."""
    from big_data_computing__spark.sources.readers import event_stream_table
    from big_data_computing__spark.streaming.frequent_stream import (
        exact_counts_query,
        file_items,
    )

    before = spark.conf.get(SHUFFLE_PARTITIONS)
    data = tmpdir + "/items"
    event_stream_table(spark, sf_dir).write.parquet(data)
    items = file_items(spark, data)
    first = exact_counts_query(items, tmpdir + "/ckpt_a", "t_dup_name")
    try:
        with pytest.raises(Exception, match="already active"):
            exact_counts_query(items, tmpdir + "/ckpt_b", "t_dup_name")
        assert spark.conf.get(SHUFFLE_PARTITIONS) == before
    finally:
        first.stop()


def test_start_stateful_threads_cannot_restore_each_others_value(spark):
    """While one thread is inside ``start()``, a second thread starting
    through the helper waits for the lock instead of reading the swapped
    value as its old one; both see the task-slot count and the session
    ends at its own count. Then eight threads race through the helper
    with a short switch interval, and the session still ends at its own
    count."""
    import sys
    import threading

    from big_data_computing__spark.streaming.stateful import start_stateful

    before = spark.conf.get(SHUFFLE_PARTITIONS)
    release = threading.Event()
    seen: list[str] = []

    class Writer:
        def __init__(self, block: bool):
            self.block = block
            self.entered = threading.Event()

        def start(self):
            seen.append(spark.conf.get(SHUFFLE_PARTITIONS))
            self.entered.set()
            if self.block:
                release.wait(30)

    first, second = Writer(block=True), Writer(block=False)
    threads = [
        threading.Thread(target=start_stateful, args=(w, spark))
        for w in (first, second)
    ]
    threads[0].start()
    assert first.entered.wait(30)
    threads[1].start()
    # the second start() must not run while the first holds the lock
    assert not second.entered.wait(0.5)
    release.set()
    for t in threads:
        t.join(30)
    assert not any(t.is_alive() for t in threads)
    slots = str(spark.sparkContext.defaultParallelism)
    assert seen == [slots, slots]
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before

    barrier = threading.Barrier(8)

    def race():
        barrier.wait(30)
        start_stateful(Writer(block=False), spark)

    seen.clear()
    threads = [threading.Thread(target=race) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert seen == [slots] * 8
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before
