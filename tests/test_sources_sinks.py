"""Sources and sinks: CSV point parse, parquet round-trip with partition
pruning, streaming windowed aggregation with watermark."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_computing__spark.sources.readers import (
    read_points_csv,
    read_table,
)
from big_data_computing__spark.sources.sinks import write_parquet
from big_data_computing__spark.streaming.windows_stream import (
    as_event_timestamp,
    windowed_event_counts,
)


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


def test_parquet_sink_partition_pruning(spark, sf_dir, tmpdir):
    events = read_table(spark, sf_dir, "events")
    out = tmpdir + "/events_out"
    write_parquet(events, out, partition_by=["event_type"])
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    # partition pruning: filtering the partition column must prune paths
    pruned = back.where(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or pruned.count() == events.where(
        F.col("event_type") == "click"
    ).count()
    # directory layout is hive-style
    assert any(
        name.startswith("event_type=") for name in os.listdir(out)
    )


def test_streaming_windowed_counts_with_watermark(spark, sf_dir, tmpdir):
    """Replay events through a file stream; windowed counts must equal
    the batch computation (no late data in replay, so the watermark drops
    nothing)."""
    events = as_event_timestamp(
        read_table(spark, sf_dir, "events").select(
            "ts", "event_type", "value"
        )
    )
    data_dir = tmpdir + "/stream"
    events.write.parquet(data_dir)

    stream = spark.readStream.schema(events.schema).parquet(data_dir)
    agg = windowed_event_counts(stream)
    query = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    got = spark.sql("SELECT * FROM win_counts")
    # batch twin: same expression on the static frame
    batch = (
        events.groupBy(
            F.window(F.col("ts"), "1 hour"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    g = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    b = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    # append mode with availableNow emits all finalized windows; the final
    # (unfinalized) window may be withheld — require containment + bulk
    assert set(g) <= set(b)
    assert len(g) >= len(b) - 10
    for key, val in g.items():
        assert val[0] == b[key][0]


def test_show_report_prints(spark, sf_dir, capsys):
    from big_data_computing__spark.sources.sinks import show_report

    df = read_table(spark, sf_dir, "region")
    show_report(df, "regions", n=5)
    out = capsys.readouterr().out
    assert "== regions ==" in out
    assert "r_regionkey" in out


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


def test_orc_and_jsonl_roundtrip(spark, sf_dir, tmpdir):
    """ORC and JSON-lines sinks round-trip the documents table: schema
    and rows survive, and the ORC read pushes filters down."""
    from big_data_computing__spark.sources.sinks import (
        write_json_lines,
        write_orc,
    )

    docs = read_table(spark, sf_dir, "documents")
    orc_path = tmpdir + "/docs_orc"
    write_orc(docs, orc_path, partition_by=["lang"])
    back = spark.read.orc(orc_path)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)
    pruned = back.where(F.col("lang") == "en")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or pruned.count() == docs.where(
        F.col("lang") == "en"
    ).count()

    jl_path = tmpdir + "/docs_jsonl"
    write_json_lines(docs.select("doc_id", "text", "lang"), jl_path)
    jback = spark.read.json(jl_path)
    assert jback.count() == docs.count()
    got = {r["doc_id"] for r in jback.select("doc_id").collect()}
    want = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert got == want


def test_watermark_drops_beyond_late_after_grace_batch(spark, tmpdir):
    """The late-data contract, pinned with a controlled THREE-batch
    replay (maxFilesPerTrigger=1 + availableNow = one file per
    micro-batch, modification-time order). Spark splits the two
    watermark roles (SPARK-40925): late-event FILTERING uses the
    previous batch's watermark while state EVICTION uses the updated
    one — so a straggler landing in the very next batch after the
    advance still sneaks into its window (one batch of grace,
    measured), and only a straggler one batch later is dropped. The
    test pins the drop: the 10:00 window finalizes at 2 events and the
    batch-3 straggler into it neither grows nor resurrects it."""
    import os
    import time as _time

    from pyspark.sql import Row

    data_dir = str(tmpdir) + "/stream3"
    os.makedirs(data_dir)

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(
            [
                Row(ts=r[0], event_type=r[1], value=float(r[2]))
                for r in rows
            ]
        ).select(
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
            "value",
        )
        df.coalesce(1).write.parquet(data_dir + "/" + name)
        for fn in os.listdir(data_dir + "/" + name):
            os.utime(os.path.join(data_dir, name, fn), (mtime, mtime))

    now = _time.time()
    # batch 1: the 10:00 window's two real events + a 12:00 event that
    # will advance the watermark to 11:50 (delay 10m)
    write_file(
        "f1",
        [
            ("2024-01-01 10:00:00", "click", 1),
            ("2024-01-01 10:05:00", "click", 1),
            ("2024-01-01 12:00:00", "view", 1),
        ],
        now - 100,
    )
    # batch 2: grace batch — watermark 11:50 becomes the FILTERING
    # watermark from the next batch on; the 10:00 window is evicted
    # (finalized at n=2) at this batch's end
    write_file("f2", [("2024-01-01 12:10:00", "view", 1)], now - 50)
    # batch 3: the beyond-watermark straggler — must be DROPPED
    write_file(
        "f3",
        [
            ("2024-01-01 10:07:00", "click", 1),
            ("2024-01-01 12:05:00", "view", 1),
        ],
        now - 10,
    )

    schema = "ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir + "/*")
    )
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_counts")
        .option("checkpointLocation", str(tmpdir) + "/ckpt3")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM late_counts").collect()
    }
    # finalized with ONLY the two on-time events; the batch-3
    # straggler was dropped, not merged and not emitted as its own row
    assert got == {("2024-01-01 10:00:00", "click"): 2}
