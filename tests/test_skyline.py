"""Skyline operators: hand fixtures, brute parity, partition invariance."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from big_data_computing__spark.operators import skyline as SK
from big_data_computing__spark.sources.readers import read_table


def _brute_skyline(rows, dims):
    out = []
    for t in rows:
        dominated = False
        for o in rows:
            weak = all(o[d] <= t[d] for d in dims)
            strict = any(o[d] < t[d] for d in dims)
            if weak and strict:
                dominated = True
                break
        if not dominated:
            out.append(t)
    return out


@pytest.fixture(scope="module")
def hand(spark):
    # skyline = {(1,9), (3,4), (6,1)}; (3,4) appears TWICE (tie rows
    # both kept); (4,4) is dominated by (3,4); (6,2) by (6,1)
    rows = [
        (1, 1.0, 9.0),
        (2, 3.0, 4.0),
        (3, 3.0, 4.0),
        (4, 4.0, 4.0),
        (5, 6.0, 2.0),
        (6, 6.0, 1.0),
        (7, 9.0, 9.0),
    ]
    return spark.createDataFrame(rows, "id long, x double, y double")


def test_skyline_2d_hand(spark, hand):
    got = {(r["id"], r["x"], r["y"]) for r in SK.skyline_2d(hand, "x", "y").collect()}
    assert got == {(1, 1.0, 9.0), (2, 3.0, 4.0), (3, 3.0, 4.0), (6, 6.0, 1.0)}


def test_skyline_nd_hand_matches_2d(spark, hand):
    got = {(r["id"],) for r in SK.skyline_nd(hand, ["x", "y"]).collect()}
    assert got == {(1,), (2,), (3,), (6,)}


def test_skyline_random_brute_parity(spark):
    rng = random.Random(7)
    rows = [
        (i, float(rng.randint(0, 30)), float(rng.randint(0, 30)),
         float(rng.randint(0, 30)))
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "id long, a double, b double, c double"
    ).repartition(8)
    want = {t["id"] for t in _brute_skyline(
        [dict(id=r[0], a=r[1], b=r[2], c=r[3]) for r in rows],
        ["a", "b", "c"],
    )}
    got = {r["id"] for r in SK.skyline_nd(df, ["a", "b", "c"]).collect()}
    assert got == want
    # 2-D plan against the same brute oracle on two of the dims
    want2 = {
        (t["a"], t["b"])
        for t in _brute_skyline(
            [dict(a=r[1], b=r[2]) for r in rows], ["a", "b"]
        )
    }
    got2 = {
        (r["a"], r["b"])
        for r in SK.skyline_2d(df.select("a", "b"), "a", "b").collect()
    }
    assert got2 == want2


def test_skyline_partition_invariant(spark, sf_dir):
    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", (-F.col("p_size")).alias("neg_size")
    )
    a = {
        r["p_partkey"]
        for r in SK.skyline_nd(
            part.repartition(2), ["p_retailprice", "neg_size"]
        ).collect()
    }
    b = {
        r["p_partkey"]
        for r in SK.skyline_nd(
            part.repartition(16), ["p_retailprice", "neg_size"]
        ).collect()
    }
    c = {
        r["p_partkey"]
        for r in SK.skyline_2d(part, "p_retailprice", "neg_size").collect()
    }
    assert a == b == c and a


def test_skyline_all_duplicates_kept(spark):
    rows = [(i, 1.0, 1.0) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    assert SK.skyline_2d(df, "x", "y").count() == 5
    assert SK.skyline_nd(df, ["x", "y"]).count() == 5


def test_skyline_nd_int64_exact_beyond_2p53(spark):
    """Regression (round-7 advice): the SFS kernel used to cast
    dimensions to float64, so (1, 10^17) and (0, 10^17) rounded to the
    same coordinates + tied presort sums and the dominated row
    survived. All-integer dimensions now compare in exact int64 with
    Python-int presort sums."""
    big = 10**17
    df = spark.createDataFrame(
        [(1, big), (0, big), (0, big + 1), (2, big - 1)],
        "a long, b long",
    )
    got = sorted(
        (r["a"], r["b"]) for r in SK.skyline_nd(df, ["a", "b"]).collect()
    )
    # (0, big) dominates (1, big) and (0, big+1); (2, big-1) is
    # incomparable to (0, big) (smaller b, larger a)
    assert got == [(0, big), (2, big - 1)]


def test_skyline_nd_int64_no_sum_overflow(spark):
    """Presort sums are Python ints: two near-int64-max coordinates
    must not wrap (int64 vector sum would)."""
    m = 2**62
    df = spark.createDataFrame(
        [(m, m), (m - 1, m)], "a long, b long"
    )
    got = sorted(
        (r["a"], r["b"]) for r in SK.skyline_nd(df, ["a", "b"]).collect()
    )
    assert got == [(m - 1, m)]


def test_skyline_nd_float_sum_tie_recheck(spark):
    """Float path: a dominator whose rounded sum ties its dominatee's
    must still eliminate it (pairwise re-check within tie groups)."""
    # 0.1 + 0.2 != 0.3 in float64, so build an exact tie instead:
    # (1.0, 2.0) dominates (2.0, 1.0)? No — incomparable. Use
    # (1.0, 3.0) vs (3.0, 1.0): incomparable, same sum — both kept;
    # and (1.0, 2.0) vs (1.0, 2.0 + 2^-52)… subnormal games are
    # brittle; instead force the tie via large floats where the sum
    # rounds: 2^53 and 2^53 + 1 both sum with 0.0 to 9007199254740992.
    big = float(2**53)
    df = spark.createDataFrame(
        [(0.0, big), (1.0, big)], "a double, b double"
    )
    # float64(big + 1) == big would hide the second row's a=1.0? No:
    # a stays 1.0 exactly; sums: 0+big = big, 1+big rounds to big —
    # tie — yet (0, big) dominates (1, big).
    got = sorted(
        (r["a"], r["b"]) for r in SK.skyline_nd(df, ["a", "b"]).collect()
    )
    assert got == [(0.0, big)]
