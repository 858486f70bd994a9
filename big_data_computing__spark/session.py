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

Python workers start from ``worker_daemon.py``, the engine's copy of
pyspark's worker daemon (``spark.python.daemon.module``). It stops each
Python-worker task from re-reading ``pyspark.zip``'s directory once per
zipimporter, which cost 0.33 s of a 0.39 s one-row task on Python 3.11.
The workers import this package from its own directory: it is on their
``PYTHONPATH``, and ``PYTHONSAFEPATH=1`` keeps the JVM's working
directory off their ``sys.path``, so a stale copy of the package there
cannot shadow it.

Spark keeps the classes Janino compiles from generated code in one
JVM-wide LRU cache, keyed by the generated source. Its default of 100
entries is smaller than what the engine cycles through: a pass of
``paper_core``'s nine paper queries generates ~120 distinct classes and
the bench CLI's 140 queries at sf0.01 ~2,900, so a repeating cycle of
queries evicted most classes before their next use and re-ran Janino on
them (39-76 compiles per timed ``paper_core`` pass at sf0.01).
``CODEGEN_CACHE_ENTRIES`` holds that working set with room to spare.
By default the source also names its class after the whole-stage codegen
stage id, which AQE assigns in the order concurrent query stages finish:
``t5_reservoir_report``'s last two stages trade ids 5 and 6 between
runs, so one plan had two sources and a warm run could compile 4
classes again. ``spark.sql.codegen.useIdInClassName=false`` names every
such class ``GeneratedIterator``, so one plan has one source, and
queries share classes: a bench CLI run compiles 2,108-2,112 classes, against
14,436-14,447 at Spark's defaults. Once warm, a repeated plan compiles
nothing, on the driver and, in local mode, in the tasks, which share the
cache. Keeping the classes cost no Metaspace that showed at the bench
CLI's peak (sf0.01: 211.7-216.6 MB at Spark's defaults, 208.5-208.6 MB
with both confs): an evicted class stays loaded until a collection unloads it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_NAME = "big_data_computing__spark"

# The directory holding this package. Python workers get it on their
# PYTHONPATH, because a caller that found the package only through its
# own ``sys.path`` passes nothing the workers could import it from.
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)

# ``spark.sql.codegen.cache.maxEntries``: above the ~2,900 classes the
# bench CLI's 140 queries generate (the module docstring says why).
CODEGEN_CACHE_ENTRIES = 4096


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

    Python workers are forked by ``worker_daemon.py``, which skips the
    per-task re-read of unchanged zip archives on the import path. They
    find this package through ``spark.executorEnv.PYTHONPATH``, and
    ``spark.executorEnv.PYTHONSAFEPATH=1`` stops ``python -m`` from
    putting the JVM's working directory ahead of it on ``sys.path``.

    The generated-class cache holds ``CODEGEN_CACHE_ENTRIES`` (4096)
    classes, not Spark's 100: a ``paper_core`` pass needs ~120 and the
    bench CLI ~2,900, and a cycle of queries larger than an LRU cache
    misses on most of its classes. The conf is static: it takes effect
    only in the session that starts the JVM. Generated classes are not
    named after their codegen stage id
    (``spark.sql.codegen.useIdInClassName=false``), because AQE numbers
    the stages in the order they finish and a new number is a new
    source to compile; ``explain()`` still shows the ids. With both,
    the third ``paper_core`` pass at sf0.001 compiles no class (82-106
    at Spark's defaults).

    ``extra_conf`` can override every conf set here.
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
        # merged by PySpark's worker factory into each worker's path
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # the daemon runs as `python -m`, which would otherwise put the
        # working directory, and any package copy in it, first
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        # started by the JVM with `python -m`, in place of pyspark.daemon
        .config("spark.python.daemon.module", f"{ENGINE_NAME}.worker_daemon")
        # UTC pins TIMESTAMP_NTZ→TIMESTAMP casts and timestamp literals so
        # event-time arithmetic matches DuckDB's epoch_us exactly
        .config("spark.sql.session.timeZone", "UTC")
        # keep every generated class of a repeated query compiled, under
        # one name whatever codegen stage id AQE gave it this run
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        .config("spark.sql.codegen.useIdInClassName", "false")
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
