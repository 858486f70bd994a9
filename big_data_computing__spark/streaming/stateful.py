"""Stateful streaming helpers: per-key state via applyInPandasWithState,
and a start helper that sizes state partitions to the task slots.

`running_item_counts` is the reference's exact-counts dict
(big_data_computing_3.py:84-88) as per-key state: each micro-batch
updates the per-item count and emits the new value (update semantics).
The state lives in Spark's state store, partitioned and checkpointed,
so it scales to key cardinalities no driver dict could hold. The HW3
reservoir and sticky samplers keep their state on the driver instead,
as the reference does (``frequent_stream.py::SamplerState``).

`start_stateful` starts a stateful query with one state partition per
task slot instead of the session's batch shuffle-partition count.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_START_LOCK = threading.Lock()


def start_stateful(
    writer: DataStreamWriter, spark: SparkSession
) -> StreamingQuery:
    """Start ``writer`` with one state partition per task slot.

    A stateful query fixes its state-partition count from
    ``spark.sql.shuffle.partitions`` for its whole life: the query
    clones the session conf when it is constructed inside ``start()``,
    its first offset-log entry records the value, and every later batch
    and every restart reads it back from there. The session's value is
    sized for batch AQE, which streams do not run, and every state
    partition costs one task and one delta-file write per micro-batch
    commit whether it holds rows or not. So the value is swapped to
    ``defaultParallelism`` for the ``start()`` call and restored
    afterwards, also when ``start()`` raises. A query resumed from an
    existing checkpoint keeps the count that checkpoint recorded.

    The old value is read and restored under a module lock, so two
    threads starting through this helper cannot restore each other's
    value. The swap itself is session-wide: another thread planning a
    batch query on the same session during the ``start()`` call sees
    the task-slot count for that instant.
    """
    with _START_LOCK:
        old = spark.conf.get(_SHUFFLE_PARTITIONS)
        spark.conf.set(
            _SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism)
        )
        try:
            return writer.start()
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, old)


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("item", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("cnt", T.LongType())])


def _update_counts(
    key: Any,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (item,) = key
    prev = state.get[0] if state.exists else 0
    new = prev + sum(len(pdf) for pdf in batches)
    state.update((new,))
    yield pd.DataFrame({"item": [item], "cnt": [new]})


def running_item_counts(items: DataFrame) -> DataFrame:
    """Per-item running counts with per-key state: streaming
    DataFrame[item, cnt] emitting the updated count for every key seen in
    each micro-batch. ``items`` must have an ``item`` column."""
    return items.groupBy("item").applyInPandasWithState(
        _update_counts,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
