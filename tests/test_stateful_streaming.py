"""applyInPandasWithState: per-key state store counts must converge to
the batch ground truth after replaying the stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_computing__spark.operators.frequent import item_counts
from big_data_computing__spark.sources.readers import event_stream_table
from big_data_computing__spark.streaming.frequent_stream import file_items
from big_data_computing__spark.streaming.stateful import running_item_counts


def test_stateful_running_counts(spark, sf_dir, tmp_path):
    batch = event_stream_table(spark, sf_dir).cache()
    data_dir = str(tmp_path / "data")
    batch.write.parquet(data_dir)

    stream = file_items(spark, data_dir)
    counts = running_item_counts(stream)
    query = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    # last emitted count per item == exact batch count
    got = {
        r["item"]: r["cnt"]
        for r in spark.sql(
            "SELECT item, max(cnt) AS cnt FROM running_counts GROUP BY item"
        ).collect()
    }
    truth = {r["item"]: r["cnt"] for r in item_counts(batch).collect()}
    assert got == truth
