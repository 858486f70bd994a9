"""Fixed cost of the paper operators: what building a query plan costs
before its final collect, and what a query leaves behind in the session.

- Fixture reads declare their schemas, so no read runs a schema job.
- Plan builds run no Spark job, except MRFFT's R1/R3 collects.
- The 7×7 offset array is one literal, the same plan as the
  element-wise ``F.array(F.struct(F.lit, F.lit))`` form.
- No operator leaves an entry in the session's cache.
- ``sticky_report(n=None)`` counts the stream inside its plan and
  returns the rows of the count-based call.
"""

from __future__ import annotations

import glob
import os
import re

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from big_data_computing__spark.operators import frequent as FR
from big_data_computing__spark.operators import outliers as O
from big_data_computing__spark.sources import readers as R

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTDATA = os.path.dirname(SF_DIR)
SF_DIRS = sorted(glob.glob(os.path.join(TESTDATA, "sf*"))) + sorted(
    glob.glob(os.path.join(REPO, "perfbench", "data", "sf*"))
)


def _jobs_during(spark, group, build):
    """Run ``build()`` under a job group; return the number of jobs that
    finished while it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    done = [
        j for j in tracker.getJobIdsForGroup(group)
        if tracker.getJobInfo(j).status == "SUCCEEDED"
    ]
    return len(done)


@pytest.mark.parametrize(
    "path",
    [p for d in SF_DIRS for p in sorted(glob.glob(os.path.join(d, "*.parquet")))],
    ids=lambda p: os.path.relpath(p, os.path.dirname(os.path.dirname(p))),
)
def test_declared_schema_equals_inferred(spark, path):
    name = os.path.basename(path)[: -len(".parquet")]
    declared = R.read_table(spark, os.path.dirname(path), name).schema
    assert declared == spark.read.parquet(path).schema


def test_read_table_runs_no_job(spark, sf_dir):
    jobs = _jobs_during(
        spark, "read_table",
        lambda: [R.read_table(spark, sf_dir, t) for t in R.TABLES],
    )
    assert jobs == 0


@pytest.mark.parametrize(
    "name, want",
    [
        ("c6_exact_outliers", 0),
        ("c7_approx_outliers_summary", 0),
        ("o2_smallest_cells_topk", 0),
        ("c5_radius_fixed_centers", 0),
        ("t4_true_frequent_items", 0),
        ("t5_reservoir_report", 0),
        ("t6_sticky_report", 0),
        # MRFFT: the R1 coreset and the R3 radius collects, each a
        # shuffle stage plus a result stage
        ("c3_mrfft_radius", 4),
        ("c8_fft_radius_outliers", 4),
    ],
)
def test_paper_query_build_jobs(spark, sf_dir, name, want):
    fn = entrymod.queries()[name]
    jobs = _jobs_during(spark, f"build:{name}", lambda: fn(spark, sf_dir))
    assert jobs == want


def test_offsets_array_plan_equals_elementwise(spark):
    def elementwise(offsets):
        return F.array(
            *[
                F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                for di, dj in offsets
            ]
        )

    def optimized(col):
        plan = spark.range(1).select(col.alias("o"))._jdf.queryExecution()
        return re.sub(r"#\d+L?", "", plan.optimizedPlan().toString())

    for offsets in (O._OFFSETS_3X3, O._OFFSETS_7X7):
        got = optimized(O._offsets_array(offsets))
        assert got == optimized(elementwise(offsets))
        assert "named_struct" not in got  # folded to one literal


def test_operators_leave_session_cache_empty(spark, sf_dir):
    spark.catalog.clearCache()
    qs = entrymod.queries()
    for name in (
        "a4_cell_neighborhood",
        "c7_approx_outliers_summary",
        "c8_fft_radius_outliers",
        "c9_outliers_nd",
    ):
        qs[name](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_sticky_report_in_plan_length_matches_count(spark, sf):
    stream = R.event_stream_table(spark, os.path.join(TESTDATA, sf))
    args = (entrymod.PHI, entrymod.EPSILON, entrymod.DELTA, entrymod.SEED)
    got = FR.sticky_report(stream, None, *args)
    want = FR.sticky_report(stream, stream.count(), *args)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
