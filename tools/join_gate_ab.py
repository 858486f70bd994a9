"""A/B for the stats-driven join gate (relational.join_strategy_from_stats):
does the gate pick the FASTER side in every regime?

Three regimes, each timed both ways (median of REPEATS, identical
row-count asserted):

  skewed probe + unbroadcastable dim -> gate says SALTED; time plain too
  uniform probe + unbroadcastable dim -> gate says PLAIN; time salted too
  small dim                           -> gate says BROADCAST; time shuffle too

Decisions come from real ZTable manifests built over 1/10-scale
samples of the SAME generators — the gate's inputs (skew factor,
small-side row count scaled by the sample rate) are
distribution-shape facts, identical at any size, while the timings
run at full scale where the cost differences are real. AQE skew-join
is left ON everywhere except where noted: the gate's value over AQE
is the broadcast/plain/salt CHOICE, not the runtime split.

Usage: python tools/join_gate_ab.py [n_rows] (default 20M) — results
recorded in STRESS.md.
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from big_data_computing__spark.operators.relational import (  # noqa: E402
    join_strategy_from_stats,
    salted_join,
)
from big_data_computing__spark.session import get_session  # noqa: E402
from big_data_computing__spark.sources import layout as L  # noqa: E402

N_KEYS = 100_000
REPEATS = 3


def fact(spark, n_rows: int, skewed: bool):
    k = (
        F.when(F.col("id") % 10 < 8, F.lit(0)).otherwise(
            F.col("id") % N_KEYS
        )
        if skewed
        else F.col("id") % N_KEYS
    )
    return spark.range(n_rows).select(
        k.cast("long").alias("k"), (F.col("id") % 97).alias("v")
    )


def dim(spark, n_rows: int):
    return spark.range(n_rows).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") % 13).alias("w"),
    )


def mk_table(spark, df, path):
    return L.ZTable.create(
        df.withColumn("x", F.col("k").cast("double")).withColumn(
            "y", F.lit(0.0)
        ),
        path,
        n_files=4,
    )


def timed(fn):
    runs = []
    for _ in range(REPEATS):
        t0 = time.time()
        n = fn()
        runs.append(time.time() - t0)
    return statistics.median(runs), n


def main(n_rows: int) -> None:
    spark = get_session(app_name="join_gate_ab")
    tmp = tempfile.mkdtemp(prefix="join_gate_ab_")
    sample = n_rows // 10

    # manifests over 1/10-scale samples of the same generators
    t_skew = mk_table(spark, fact(spark, sample, True), f"{tmp}/skew")
    t_unif = mk_table(spark, fact(spark, sample, False), f"{tmp}/unif")
    t_bigdim = mk_table(spark, dim(spark, 5_000_000 // 10), f"{tmp}/bd")
    t_smalldim = mk_table(spark, dim(spark, 50_000), f"{tmp}/sd")
    t_skew.analyze_histograms(spark, ["k"], bins=32)
    t_unif.analyze_histograms(spark, ["k"], bins=32)

    # full-scale data the timings run on
    f_skew = fact(spark, n_rows, True).localCheckpoint()
    f_unif = fact(spark, n_rows, False).localCheckpoint()
    d_big = dim(spark, 5_000_000).localCheckpoint()
    d_small = dim(spark, 50_000).localCheckpoint()

    # thresholds are in SAMPLE rows here (1/10 of the full-scale
    # defaults) since the manifests hold 1/10-sample counts
    bmax = 100_000
    hot_floor = 3_000_000  # 30M full-scale / 10

    def plain(a, b):
        return lambda: a.join(b, "k").agg(F.sum("v")).collect()[0][0]

    def salted(a, b):
        return lambda: salted_join(a, b, "k").agg(
            F.sum("v")
        ).collect()[0][0]

    def bcast(a, b):
        return lambda: a.join(F.broadcast(b), "k").agg(
            F.sum("v")
        ).collect()[0][0]

    def nobcast(a, b):
        def run():
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                return a.join(b, "k").agg(F.sum("v")).collect()[0][0]
            finally:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", "10485760"
                )

        return run

    regimes = [
        (
            "skewed_probe_big_dim",
            t_skew,
            t_bigdim,
            f_skew,
            d_big,
            {"plain": plain, "salted": salted},
            # at 20M rows the 16M-row hot key sits UNDER the 30M
            # volume floor: AQE-trusting plain measured FASTER than
            # static salting here (5.9 s vs 7.3 s) — the floor is
            # this A/B's calibration; at 100M rows (r6e skew_ab)
            # salting pays and the gate flips (decision asserted
            # below without re-timing 100M)
            "plain",
        ),
        (
            "uniform_probe_big_dim",
            t_unif,
            t_bigdim,
            f_unif,
            d_big,
            {"plain": plain, "salted": salted},
            "plain",
        ),
        (
            "small_dim",
            t_skew,
            t_smalldim,
            f_skew,
            d_small,
            {"broadcast": bcast, "shuffle_no_broadcast": nobcast},
            "broadcast",
        ),
    ]
    for name, tb, ts, fa, di, variants, expect in regimes:
        dec = join_strategy_from_stats(
            tb.snapshot(), ts.snapshot(), "k",
            broadcast_max_rows=bmax, salt_min_hot_rows=hot_floor,
        )
        results, checks = {}, set()
        for vname, mk in variants.items():
            sec, out = timed(mk(fa, di))
            results[vname] = round(sec, 2)
            checks.add(out)
        assert len(checks) == 1, f"{name}: variants disagree {checks}"
        print(
            f"{name}: gate={dec['strategy']} (expect {expect}, "
            f"skew={dec['skew_factor']}, small_rows={dec['small_rows']}) "
            f"times={results}"
        )
        assert dec["strategy"] == expect, name

    # decision-only check at the 100M shape (manifest math is free):
    # a 1/10 sample of a 100M x 80%-hot fact has an 8M-row hot bin,
    # clearing the scaled 3M floor -> salted, the side skew_ab r6e
    # measured at 2.2-3.8x over the unsplit plain join
    t_skew100 = mk_table(
        spark, fact(spark, 10_000_000, True), f"{tmp}/skew100"
    )
    t_skew100.analyze_histograms(spark, ["k"], bins=32)
    dec = join_strategy_from_stats(
        t_skew100.snapshot(), t_bigdim.snapshot(), "k",
        broadcast_max_rows=bmax, salt_min_hot_rows=hot_floor,
    )
    print(
        f"skewed_100M_shape (decision only): gate={dec['strategy']} "
        f"(expect salted, skew={dec['skew_factor']}, "
        f"hot_bin_rows={dec['hot_bin_rows']})"
    )
    assert dec["strategy"] == "salted"


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000)
