"""Skew-join A/B: plain SortMergeJoin vs AQE skew-split vs static
salting, on a join whose probe side has ONE key holding ~50% of all
rows — the canonical straggler shape at 100 TB (one tenant / one hot
document / one null-ish default key).

Three runs over identical data, identical answer asserted:

  plain   AQE skewJoin DISABLED  -> the hot key lands on one reducer
  aqe     AQE skewJoin ENABLED   -> runtime split of the oversized
                                    partition (the engine default)
  salted  relational.salted_join -> the spread planned statically

Broadcast is disabled throughout (autoBroadcastJoinThreshold=-1) so
every variant pays the shuffle the measurement is about; with the dim
side broadcastable none of this matters (the engine broadcasts it).
The fact side is generated (spark.range) because the skew RATIO is
the experiment's controlled variable — fixture tables come with their
own distribution. Results are recorded in STRESS.md.

Usage: python tools/skew_ab.py [n_rows] (default 30M)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from big_data_computing__spark.operators.relational import (  # noqa: E402
    salted_join,
)
from big_data_computing__spark.session import get_session  # noqa: E402

N_KEYS = 100_000
REPEATS = 3


def build(spark, n_rows: int):
    # ~80% of fact rows carry key 0; the rest spread uniformly. The
    # hot partition must clear AQE's skewedPartitionThresholdInBytes
    # (256 MB default) or the runtime split never fires — at 50%/30M
    # rows it measurably does NOT (the first finding of this A/B).
    fact = spark.range(n_rows).select(
        F.when(F.col("id") % 10 < 8, F.lit(0))
        .otherwise(F.col("id") % N_KEYS)
        .alias("k"),
        (F.col("id") % 1000).alias("val"),
    )
    dim = spark.range(N_KEYS).select(
        F.col("id").alias("k"), (F.col("id") * 3 + 1).alias("w")
    )
    return fact, dim


def answer(joined):
    return joined.agg(
        F.sum(F.col("val") * F.col("w")).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0]


def timed(fn):
    runs = []
    out = None
    for _ in range(REPEATS):
        t0 = time.time()
        out = fn()
        runs.append(time.time() - t0)
    return statistics.median(runs), out


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    spark = get_session(app_name="skew_ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    fact, dim = build(spark, n_rows)

    def plain():
        return answer(fact.join(dim, "k"))

    def salted():
        return answer(salted_join(fact, dim, "k", salt=32))

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    t_plain, r_plain = timed(plain)
    print(f"plain  (skewJoin off): {t_plain:7.2f} s  {tuple(r_plain)}")

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    t_aqe, r_aqe = timed(plain)
    print(f"aqe    (skewJoin on) : {t_aqe:7.2f} s  {tuple(r_aqe)}")

    t_salt, r_salt = timed(salted)
    print(f"salted (static, s=32): {t_salt:7.2f} s  {tuple(r_salt)}")

    assert tuple(r_plain) == tuple(r_aqe) == tuple(r_salt), (
        "variants disagree"
    )
    print(
        f"speedup vs plain: aqe {t_plain / t_aqe:.2f}x, "
        f"salted {t_plain / t_salt:.2f}x (n_rows={n_rows:,})"
    )
    spark.stop()


if __name__ == "__main__":
    main()
