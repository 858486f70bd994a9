"""SparkSession builder with engine defaults.

The reference scripts build a raw ``SparkContext`` per script
(big_data_computing_1.py:123-124, big_data_computing_2.py:123-125,
big_data_computing_3.py:41-43). The engine centralizes session creation
with scale-ready defaults: AQE on (runtime coalescing, skew-join
handling, broadcast fallback), Arrow transfer for the vectorized
kernels, and a shuffle-partition count sized to the local test harness
but overridable for cluster deployment.

That count (32 by default) is for batch plans, where AQE coalesces the
partitions at run time. Streams run without AQE and a stateful stream
keeps its state-partition count for life; each state partition costs a
task and a delta-file write on every micro-batch commit. So stateful
streams size their state to the task slots instead, through
``streaming/stateful.py::start_stateful``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_NAME = "big_data_computing__spark"


def get_session(
    app_name: str = ENGINE_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Local-mode parallelism comes from ``$SPARK_GRAFT_CPUS`` (harness
    contract); on a real cluster pass ``master=None`` and submit with
    ``spark-submit`` so the cluster manager decides.

    ``shuffle_partitions`` (default 32) is the batch shuffle count. It
    does not size streaming state: ``start_stateful`` starts stateful
    queries with one state partition per task slot, because their
    commit cost is per partition and AQE cannot coalesce it away.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # local mode = single JVM: driver memory is the only heap knob that
    # matters, and Spark's 1g default starves 32 concurrent task threads.
    # Only effective if set before the JVM starts (first session in the
    # process); harmless afterwards.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    # collect()-heavy oracles + Arrow batches: the 1g default
    # maxResultSize kills the job with a cryptic TaskResultLost long
    # before the 48g heap is in danger — pin it well above any
    # test-scale result but far below the heap
    max_result = os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", max_result)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UTC pins TIMESTAMP_NTZ→TIMESTAMP casts and timestamp literals so
        # event-time arithmetic matches DuckDB's epoch_us exactly
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else 32),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # r11: finalize EVERY marked lazy localCheckpoint a job computes,
    # not just the first one on each path from the action's root
    # (Spark's default). The iterative loops chain lazy checkpoints
    # whose materializing action runs over ONE of several chains (e.g.
    # BPE's argmax scans the pair-counts chain, never the vocab
    # chain); without this, the un-finalized chain's NARROW lineage
    # grows one RDD per round with no shuffle boundary to stop task
    # serialization, and a ~150+-round loop dies deserializing the
    # task graph (StackOverflow — reproduced and pinned by
    # test_bpe_train_256_merges_matches_sequential_reference). A
    # thread-local property, inherited by child threads, so streaming
    # micro-batch threads see it too. Side benefit: finalization
    # computes a checkpoint's MISSING partitions (LocalRDDCheckpointData
    # launches a completion job), closing the take/limit
    # partial-materializer hazard documented in r10.
    spark.sparkContext.setLocalProperty(
        "spark.checkpoint.checkpointAllMarkedAncestors", "true"
    )
    return spark
