"""Fixed cost of the paper operators: what building a query plan costs
before its final collect, and what a query leaves behind in the session.

- Fixture reads declare their schemas, so no read runs a schema job.
- Plan builds run no Spark job, except MRFFT's R1/R3 collects.
- Each paper operator's plan is one Spark SQL text and one ``spark.sql``
  call, so a build sends few py4j commands; c3 returns its result as a
  literal row, with no Python-worker stage.
- The 7×7 offset array is one literal, the same plan as the
  element-wise ``F.array(F.struct(F.lit, F.lit))`` form.
- Where a formula exists both as a Column helper and as Spark SQL text,
  the two optimize to the same expression; floats render as DOUBLE
  literals that read back bit-identical.
- No operator leaves an entry in the session's cache.
- ``sticky_report(n=None)`` counts the stream inside its plan and
  returns the rows of the count-based call.
- Spark's generated-class cache holds a pass of the nine paper queries,
  so once warm a repeated pass runs Janino on no class.
"""

from __future__ import annotations

import glob
import math
import os
import re
import struct

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from big_data_computing__spark.functions import geometry as G
from big_data_computing__spark.functions import hashing as H
from big_data_computing__spark.functions.sqlsafe import sql_double
from big_data_computing__spark.operators import frequent as FR
from big_data_computing__spark.operators import outliers as O
from big_data_computing__spark.sources import readers as R
from tools.profile_queries import Py4jCalls, codegen_compiles

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


@pytest.mark.parametrize(
    "name, most",
    [
        # under 200 commands
        ("c5_radius_fixed_centers", 199),
        ("c6_exact_outliers", 199),
        ("c7_approx_outliers_summary", 199),
        ("o2_smallest_cells_topk", 199),
        ("t4_true_frequent_items", 199),
        ("t5_reservoir_report", 199),
        ("t6_sticky_report", 199),
        # half of the 1,416 commands a Column-by-Column build sent; most of
        # what is left is MRFFT's R1/R3 kernels and their collects
        ("c8_fft_radius_outliers", 708),
    ],
)
def test_paper_query_build_py4j_commands(spark, sf_dir, name, most):
    fn = entrymod.queries()[name]
    fn(spark, sf_dir)  # first build pays one-time lookups
    # object deletes are not counted: the garbage collector sends them
    # for whatever earlier build it frees
    calls = Py4jCalls(spark)
    try:
        fn(spark, sf_dir)
    finally:
        calls.close()
    assert calls.n <= most


PAPER_QUERIES = (
    "c6_exact_outliers", "c7_approx_outliers_summary",
    "o2_smallest_cells_topk", "c3_mrfft_radius", "c8_fft_radius_outliers",
    "c5_radius_fixed_centers", "t4_true_frequent_items",
    "t5_reservoir_report", "t6_sticky_report",
)


def test_repeated_paper_queries_compile_no_class(spark, sf_dir):
    # a pass generates ~120 classes; with Spark's 100-entry cache the
    # third pass compiled 82-106 of them again
    qs = entrymod.queries()

    def one_pass():
        for name in PAPER_QUERIES:
            qs[name](spark, sf_dir).collect()

    one_pass()
    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before == 0


def test_c3_result_row_needs_no_python_worker(spark, sf_dir):
    df = entrymod.queries()["c3_mrfft_radius"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert not re.search(r"Python|Pandas|Arrow", plan), plan


@pytest.mark.parametrize(
    "x", [0.1, 1e-300, float(2**60), 176.77669529663686, -2.5]
)
def test_sql_double_reads_back_bit_identical(spark, x):
    df = spark.sql(f"SELECT {sql_double(x)} AS v")
    assert df.schema["v"].dataType.simpleString() == "double"
    got = df.collect()[0]["v"]
    assert struct.pack("<d", got) == struct.pack("<d", x)


@pytest.mark.parametrize("x", [math.nan, math.inf, -math.inf])
def test_sql_double_rejects_non_finite(x):
    with pytest.raises(ValueError):
        sql_double(x)


def _optimized_expr(df):
    """The optimized plan as text, with expression ids dropped and
    lambda variables renamed by first appearance (the DataFrame API
    draws fresh names for them)."""
    text = re.sub(
        r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString()
    )
    names: dict[str, int] = {}
    return re.sub(
        r"lambda (\w+)",
        lambda m: f"lambda v{names.setdefault(m.group(1), len(names))}",
        text,
    )


@pytest.mark.parametrize(
    "column, text",
    [
        (lambda: H.hash60(F.col("s")), H.hash60_spark_sql("s")),
        (lambda: FR._u("sticky", 42, F.col("seq")),
         FR._u_spark_sql("sticky", 42, "seq")),
        (lambda: G.sq_dist_vec(F.col("a"), F.col("b")),
         G.sq_dist_vec_spark_sql("a", "b")),
        # the grid cell and 2-D distance have no Column helper left; the
        # Column expressions here are the forms the SQL text replaced
        (lambda: F.floor(F.col("x") / F.lit(G.grid_lambda(500.0))).cast("long"),
         G.cell_coord_spark_sql("x", G.grid_lambda(500.0))),
        (lambda: (F.col("x") - F.col("y")) * (F.col("x") - F.col("y"))
         + (F.col("y") - F.col("x")) * (F.col("y") - F.col("x")),
         G.sq_dist_2d_spark_sql("x", "y", "y", "x")),
    ],
    ids=["hash60", "u", "sq_dist_vec", "cell_coord", "sq_dist_2d"],
)
def test_sql_text_helper_matches_column_form(spark, column, text):
    src = spark.sql(
        "SELECT CAST(id AS STRING) AS s, id AS seq, CAST(id AS DOUBLE) AS x, "
        "CAST(id AS DOUBLE) * 2.0D AS y, array(CAST(id AS DOUBLE), 1.0D) AS a, "
        "array(2.0D, CAST(id AS DOUBLE)) AS b FROM range(3)"
    )
    by_column = src.select(column().alias("e"))
    by_text = src.selectExpr(f"{text} AS e")
    assert _optimized_expr(by_column) == _optimized_expr(by_text)
    assert by_column.collect() == by_text.collect()


def test_offsets_array_plan_equals_elementwise(spark):
    def elementwise(offsets):
        return F.array(
            *[
                F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                for di, dj in offsets
            ]
        )

    for offsets in (O._OFFSETS_3X3, O._OFFSETS_7X7):
        got = _optimized_expr(
            spark.range(1).selectExpr(f"{O._offsets_sql(offsets)} AS o")
        )
        want = elementwise(offsets).alias("o")
        assert got == _optimized_expr(spark.range(1).select(want))
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
