"""Custom stateful streaming operators via applyInPandasWithState.

The distributed alternative to the driver-held SamplerState
(frequent_stream.py): state lives per-key inside Spark's state store —
partitioned, checkpointed, and scalable to key cardinalities no driver
dict could hold. This is the engine's pattern for any custom stateful
operator the built-in streaming aggregations can't express.

`running_item_counts` is the reference's exact-counts dict
(big_data_computing_3.py:84-88) as per-key state: each micro-batch
updates the per-item count and emits the new value (update semantics).

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


_TRANS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("prev_type", T.StringType()),
        T.StructField("next_type", T.StringType()),
    ]
)

_TRANS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("last_id", T.LongType()),
        T.StructField("last_type", T.StringType()),
    ]
)


def _update_transitions(
    key: Any,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    rows = pd.concat(list(batches), ignore_index=True)
    rows = rows.sort_values(["u", "event_id"])
    last_type = None
    last_us = last_id = 0
    if state.exists:
        last_us, last_id, last_type = state.get
    prevs: list[str] = []
    nexts: list[str] = []
    for r in rows.itertuples():
        if last_type is not None:
            prevs.append(last_type)
            nexts.append(r.event_type)
        last_type, last_us, last_id = r.event_type, int(r.u), int(r.event_id)
    state.update((last_us, last_id, last_type))
    yield pd.DataFrame({"prev_type": prevs, "next_type": nexts})


def streaming_transitions(events: DataFrame) -> DataFrame:
    """Streaming twin of ``windows.event_transitions``: per-user state
    holds only the LAST event (time, id, type); each micro-batch emits
    the (prev_type, next_type) pairs its new events close, including
    the cross-batch pair against the stored last event. Aggregating the
    emitted pairs over a full ordered replay equals the batch transition
    matrix bit-for-bit (asserted in tests).

    Arrival-order contract: per-user event order across micro-batches
    must follow event time (the same in-order assumption every
    replay-parity twin in streaming/ documents); within a batch events
    are sorted by (micros, event_id) before pairing, so intra-batch
    ordering is free. State is O(1) per user — the smallest possible
    footprint for a first-order Markov stream.

    ``events`` must carry user_id, event_id, event_type, and ``u``
    (event-time micros, e.g. ``windows.event_time_us``).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_transitions,
        outputStructType=_TRANS_OUT_SCHEMA,
        stateStructType=_TRANS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    horizon_us: int = 7 * 86_400_000_000,
):
    """Streaming twin of ``windows.funnel_report``: per-user state holds
    the greedy-minimal completion time of each funnel step (k longs, 0 =
    not yet completed); each micro-batch advances the user's progress
    and emits (user_id, completed) in update mode. Counting users with
    ``completed >= i`` over the final per-user states equals the batch
    funnel's per-step user counts exactly (asserted in tests).

    Equivalence argument: the batch semantics are greedy-minimal
    (step 1 anchors at the EARLIEST step-1 event; each later step takes
    the earliest qualifying occurrence). Under the in-order arrival
    contract every replay twin in streaming/ documents (per-user event
    order across micro-batches follows event time; within a batch rows
    are sorted by (micros, event_id) before processing), the earliest
    qualifying occurrence is exactly the FIRST qualifying occurrence the
    greedy scan meets, and a completion time once set can never be
    improved by later (hence later-in-time) events — so the incremental
    state equals the batch computation after any prefix of the stream.

    State is O(k) per user — the minimal footprint for a k-step funnel.
    ``events`` must carry user_id, event_id, event_type, and ``u``
    (event-time micros, e.g. ``windows.event_time_us``).
    """
    if len(steps) < 2:
        raise ValueError("streaming_funnel: need at least 2 steps")
    k = len(steps)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("completed", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField(f"t{i}", T.LongType()) for i in range(1, k + 1)]
    )
    step_index = {s: i for i, s in enumerate(steps)}

    def update(
        key: Any,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        rows = pd.concat(list(batches), ignore_index=True)
        rows = rows.sort_values(["u", "event_id"])
        ts = list(state.get) if state.exists else [0] * k
        for r in rows.itertuples():
            i = step_index.get(r.event_type)
            if i is None or ts[i] != 0:
                continue
            u = int(r.u)
            if i == 0:
                ts[0] = u
            elif (
                ts[i - 1] != 0
                and u > ts[i - 1]
                and u <= ts[0] + horizon_us
            ):
                ts[i] = u
        state.update(tuple(ts))
        completed = 0
        for t in ts:
            if t == 0:
                break
            completed += 1
        yield pd.DataFrame({"user_id": [user], "completed": [completed]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
