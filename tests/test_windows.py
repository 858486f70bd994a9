"""Window operators and the composed HW2 pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_computing__spark.operators import pipelines as P
from big_data_computing__spark.operators import windows as W
from big_data_computing__spark.sources.readers import (
    customer_points,
    read_table,
)


def test_top_per_group(spark):
    rows = [
        ("a", 1, 10.0),
        ("a", 2, 30.0),
        ("a", 3, 30.0),
        ("b", 4, 5.0),
    ]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = W.top_per_group(df, ["g"], "v", "id", n=1).collect()
    got = {(r["g"], r["id"]) for r in out}
    assert got == {("a", 2), ("b", 4)}  # tie at 30.0 → lower id wins


def test_tumbling_windows_partition_events(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    win = W.tumbling_window_counts(events)
    total = win.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()
    # window starts are aligned to the hour (in microseconds)
    misaligned = win.where(
        F.col("window_start_us") % (3600 * 1_000_000) != 0
    ).count()
    assert misaligned == 0


def test_sessionize_counts_preserved(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    sess = W.sessionize(events)
    assert sess.agg(F.sum("n_events")).collect()[0][0] == events.count()
    # session ids are dense per user starting at 0
    firsts = sess.groupBy("user_id").agg(
        F.min("session_id").alias("mn")
    )
    assert firsts.where(F.col("mn") != 0).count() == 0


def test_fft_radius_outliers_pipeline(spark, sf_dir):
    res = P.fft_radius_outliers(
        customer_points(spark, sf_dir), k=4, l=2, m=5, seed=3
    )
    assert res.radius > 0
    row = res.summary.collect()[0]
    assert row["sure_outliers"] >= 0
    assert row["uncertain_points"] >= 0
    assert "r1_coreset" in res.timings_ms


def test_session_window_boundary_semantics(spark):
    """Native session_window: an event exactly `gap` after the previous
    one MERGES (measured — a new session requires diff > gap), and
    session_end = last event + gap. Pinned so the DuckDB oracle's
    islands rule can never silently diverge."""
    from big_data_computing__spark.operators.windows import (
        session_window_counts,
    )

    gap_us = 30 * 60_000_000
    rows = [
        (1, 0),
        (1, gap_us),            # exactly gap after -> merges
        (1, 2 * gap_us + 1),    # gap + 1us after -> new session
    ]
    # long ts = micros-since-epoch (the engine's synthetic-input unit)
    df = spark.createDataFrame(rows, "user_id long, ts long")
    out = sorted(
        (r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in session_window_counts(df).collect()
    )
    assert out == [
        (0, gap_us + gap_us, 2),
        (2 * gap_us + 1, 3 * gap_us + 1, 1),
    ]


def test_band_join_boundary_and_blocking(spark, sf_dir):
    """Band join: a pair exactly Δ apart is KEPT, Δ+1us is dropped,
    pairs straddling a bucket boundary are found, and each pair exactly
    once — then the bucketed plan must equal the naive theta join on
    the real fixture."""
    d_us = 60 * 1_000_000
    rows = [
        ("a", 1, 0),
        ("a", 2, d_us),           # exactly Δ -> kept
        ("a", 3, 2 * d_us + 1),   # Δ+1us from id 2 -> dropped
        ("b", 4, d_us - 1),       # bucket 0 ...
        ("b", 5, d_us + 1),       # ... bucket 1, gap 2us -> kept
    ]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts long"
    )
    got = sorted(
        (r["event_type"], r["a_id"], r["b_id"], r["gap_us"])
        for r in W.band_join_pairs(df, 60).collect()
    )
    assert got == [("a", 1, 2, d_us), ("b", 4, 5, 2)]

    # fixture: bucketed == naive theta join (via the aggregate report)
    events = read_table(spark, sf_dir, "events")
    rep = {
        r["event_type"]: (r["n_pairs"], r["sum_gap_us"])
        for r in W.band_join_report(events, 60).collect()
    }
    ev = events.select(
        "event_id", "event_type", W.event_time_us(events).alias("u")
    )
    a, b = ev.alias("a"), ev.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.abs(F.col("a.u") - F.col("b.u")) <= d_us),
        )
        .groupBy(F.col("a.event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.abs(F.col("a.u") - F.col("b.u"))).alias("s"),
        )
    )
    want = {r["event_type"]: (r["n"], r["s"]) for r in naive.collect()}
    assert rep == want and len(rep) > 0


def _ev(rows, spark):
    # (event_id, us, user_id, event_type) with integer-micro timestamps
    return spark.createDataFrame(
        [(i, us, u, t, 0.0) for i, (us, u, t) in enumerate(rows)],
        "event_id long, ts long, user_id long, event_type string, value double",
    )


def test_funnel_greedy_minimal_and_horizon(spark):
    """Funnel semantics pinned: (a) steps must be strictly ordered in
    time; (b) each step takes the EARLIEST qualifying occurrence, so a
    user whose only click precedes their first view does not convert;
    (c) later steps must land within the horizon of the step-1 anchor."""
    import big_data_computing__spark.operators.windows as W

    H = 1000  # tiny horizon for the test
    rows = [
        # u1: full clean funnel
        (100, 1, "view"), (200, 1, "click"), (300, 1, "purchase"),
        # u2: enters step 1 via the view at 200, but their only click
        # (100) precedes it -> stops at step 1
        (100, 2, "click"), (200, 2, "view"),
        # u3: click inside horizon, purchase OUTSIDE anchor+H -> step 2
        (100, 3, "view"), (500, 3, "click"), (1200, 3, "purchase"),
        # u4: greedy anchor bites — an early view anchors the horizon,
        # so the click at 1150 (> 100+H) never qualifies even though a
        # later view at 400 would have allowed it
        (100, 4, "view"), (400, 4, "view"), (1150, 4, "click"),
        # u5: simultaneous click (ties are NOT strictly later)
        (100, 5, "view"), (100, 5, "click"),
    ]
    got = {
        r["step"]: r["users"]
        for r in W.funnel_report(
            _ev(rows, spark), horizon_us=H
        ).collect()
    }
    assert got == {1: 5, 2: 2, 3: 1}


def test_cohort_retention_offsets(spark):
    """Retention pinned: cohort = week of FIRST signup; any activity in
    cohort_week+k counts once per user; offsets outside 0..max drop."""
    import big_data_computing__spark.operators.windows as W

    wk = W.WEEK_US
    rows = [
        # u1 signs up week 0, active weeks 0,1,3
        (0, 1, "signup"), (wk + 5, 1, "view"), (3 * wk + 5, 1, "click"),
        # u2 signs up week 0 (second signup week 2 ignored), active week 2
        (10, 2, "signup"), (2 * wk + 1, 2, "signup"),
        # u3: activity BEFORE signup (week 0), signup week 1, active wk 1
        (5, 3, "view"), (wk + 7, 3, "signup"),
        # u4: no signup -> never cohorted
        (0, 4, "view"), (wk, 4, "view"),
    ]
    got = {
        (r["cohort_week"], r["week_offset"]): r["users"]
        for r in W.cohort_retention(
            _ev(rows, spark), max_offset=3
        ).collect()
    }
    assert got == {
        (0, 0): 2,        # u1, u2 active in their signup week
        (0, 1): 1,        # u1
        (0, 2): 1,        # u2's week-2 signup event is activity
        (0, 3): 1,        # u1
        (1, 0): 1,        # u3 active in signup week
        # u3's pre-signup week-0 activity is offset -1: dropped
    }


def test_event_transitions_order_and_ties(spark):
    """Transitions follow the (micros, event_id) total order — two
    events at the same timestamp order by event_id — and streams never
    cross users."""
    import big_data_computing__spark.operators.windows as W

    rows = [
        # (event_id, ts_us, user, type)
        (1, 100, 1, "view"), (2, 200, 1, "click"), (3, 200, 1, "buy"),
        (4, 300, 2, "view"),  # sole event: no transition
    ]
    df = spark.createDataFrame(
        [(i, u, uid, t, 0.0) for i, u, uid, t in rows],
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    got = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in W.event_transitions(df).collect()
    }
    assert got == {("view", "click"): 1, ("click", "buy"): 1}


def test_rfm_scores_tile_math(spark):
    """8 users, tiles=4: ranks 1-2 -> score 1 ... ranks 7-8 -> score 4,
    independently per metric; user_id breaks exact metric ties."""
    import big_data_computing__spark.operators.windows as W

    rows = []
    eid = 0
    for u in range(1, 9):
        # user u: u events at times ending u*10 (recency = u*10),
        # each worth u dollars
        for j in range(u):
            rows.append((eid, j * 1 + u * 10, u, "buy", float(u)))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    got = {
        r["user_id"]: (r["r_score"], r["f_score"], r["m_score"])
        for r in W.rfm_scores(df).collect()
    }
    # frequency of user u is u, monetary u*u*100 cents, recency
    # u*10 + (u-1); all three rank users 8..1 best-to-worst
    for u in range(1, 9):
        want = (8 - u) // 2 + 1
        assert got[u] == (want, want, want), (u, got[u])


def test_session_paths_islands_and_order(spark):
    """Paths split at gap > 30 min, preserve in-session order with
    event_id tiebreak, and count identical journeys across users."""
    import big_data_computing__spark.operators.windows as W

    m = 60_000_000
    rows = [
        (1, 0 * m, 1, "view"), (2, 1 * m, 1, "click"),
        # 31-min gap -> new session for user 1
        (3, 32 * m, 1, "view"), (4, 33 * m, 1, "click"),
        # user 2, same journey once; simultaneous pair ordered by id
        (5, 0 * m, 2, "view"), (6, 0 * m, 2, "click"),
    ]
    df = spark.createDataFrame(
        [(i, u, uid, t, 0.0) for i, u, uid, t in rows],
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    got = {
        r["path"]: r["n_sessions"]
        for r in W.session_paths(df, top=10).collect()
    }
    assert got == {"view>click": 3}


def test_event_spikes_hand_series(spark):
    """Hand-built daily series: a clear spike day alerts, the warmup
    day (empty trailing window) never does, and the RANGE frame skips
    calendar gaps instead of stretching the horizon."""
    import datetime as dt

    from big_data_computing__spark.operators.windows import event_spikes

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # type 'a': 2 events/day for days 0-6, then 10 events on day 7
    for d in range(7):
        for _ in range(2):
            rows.append((eid, base + dt.timedelta(days=d), 1, "a")); eid += 1
    for _ in range(10):
        rows.append((eid, base + dt.timedelta(days=7), 1, "a")); eid += 1
    # type 'b': day 0 then a gap to day 9 — day 9's trailing RANGE
    # window [-7,-1] sees nothing, so it must not alert
    rows.append((eid, base, 1, "b")); eid += 1
    for _ in range(50):
        rows.append((eid, base + dt.timedelta(days=9), 1, "b")); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r["event_type"], r["day"]): (r["n_events"], r["ratio_milli"])
        for r in event_spikes(ev, threshold_milli=2000).collect()
    }
    day0 = int(base.timestamp() * 1_000_000) // 86_400_000_000
    # a's spike day: 10 events vs trailing mean 2 over 7 observed days
    # -> (1000*10*7) div 14 = 5000 milli
    assert got == {("a", day0 + 7): (10, 5000)}


def test_spike_state_prefix_parity_and_replay(spark, sf_dir):
    """Streaming spike twin: after every batch prefix the final-state
    alert set equals batch event_spikes over the arrived rows
    bit-for-bit; a replayed batch id is a no-op."""
    from big_data_computing__spark.operators.windows import event_spikes
    from big_data_computing__spark.sources.readers import read_table
    from big_data_computing__spark.streaming.windows_stream import (
        SpikeState,
    )

    ev = read_table(spark, sf_dir, "events")
    batches = [ev.where(f"event_id % 3 = {i}") for i in range(3)]
    state = SpikeState()
    arrived = None
    for bid, b in enumerate(batches):
        state.update(b, bid)
        arrived = b if arrived is None else arrived.unionByName(b)
        got = {
            (r["event_type"], r["day"]): (r["n_events"], r["ratio_milli"])
            for r in state.spikes(threshold_milli=1100)
        }
        want = {
            (r["event_type"], r["day"]): (r["n_events"], r["ratio_milli"])
            for r in event_spikes(arrived, threshold_milli=1100).collect()
        }
        assert got == want, f"prefix parity broke at batch {bid}"
    assert want, "fixture must alert at the registered threshold"
    state.update(batches[0], 0)  # replay: must not double-count
    replayed = {
        (r["event_type"], r["day"]): (r["n_events"], r["ratio_milli"])
        for r in state.spikes(threshold_milli=1100)
    }
    assert replayed == want


def test_gapfill_locf_spine_and_carry(spark):
    """Calendar spine covers every day between a type's min and max;
    gap days carry the last observed sum forward with observed=0."""
    import datetime as dt

    from big_data_computing__spark.operators.windows import gapfill_locf

    base = dt.datetime(2024, 1, 1)
    rows = [
        # type 'a': days 0 and 3 observed, 1-2 are calendar gaps
        (0, base, 1, "a", 1.50),
        (1, base, 1, "a", 2.00),
        (2, base + dt.timedelta(days=3), 1, "a", 5.25),
        # type 'b': single day — spine is one row, no gaps
        (3, base + dt.timedelta(days=1), 1, "b", 7.00),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {
        (r["event_type"], r["day"]): (
            r["n_events"],
            r["sum_value_cents"],
            r["observed"],
        )
        for r in gapfill_locf(ev).collect()
    }
    d0 = int(base.timestamp() * 1_000_000) // 86_400_000_000
    assert got == {
        ("a", d0): (2, 350, 1),
        ("a", d0 + 1): (0, 350, 0),   # LOCF carries day-0's 350
        ("a", d0 + 2): (0, 350, 0),
        ("a", d0 + 3): (1, 525, 1),
        ("b", d0 + 1): (1, 700, 1),
    }


def test_mad_outliers_integer_median_and_gate(spark):
    """score_milli = floor(1000*|x-med|/MAD) via the middle-two-sum
    integer median; constant series (MAD=0) never alert; even-count
    (.5-median) series stay exact."""
    import datetime as dt

    from big_data_computing__spark.operators.windows import mad_outliers

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def add(day, n, typ):
        nonlocal eid
        for _ in range(n):
            rows.append(
                (eid, base + dt.timedelta(days=day), 1, typ)
            )
            eid += 1

    # type 'a': counts [2,2,2,2,12] over days 0..4 -> med=2, devs
    # [0,0,0,0,10] -> MAD=0? no: sorted devs [0,0,0,0,10], median 0.
    # Use [1,2,2,3,12]: med=2, devs [1,0,0,1,10] sorted [0,0,1,1,10]
    # -> MAD=1 -> day-4 score = 10000
    for d, n in enumerate([1, 2, 2, 3, 12]):
        add(d, n, "a")
    # type 'c': constant series -> MAD=0, must never alert
    for d in range(4):
        add(d, 5, "c")
    # type 'e': even count [1,2,3,10] -> med=2.5 (med_x2=5), devs_x2
    # [3,1,1,15] -> mad_x4 = 1+3 = 4 (middle-two of [1,1,3,15]) ->
    # MAD=1 -> day-3 score = 1000*2*15/4 = 7500
    for d, n in enumerate([1, 2, 3, 10]):
        add(d, n, "e")
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r["event_type"], r["day"]): (
            r["n_events"],
            r["median_count"],
            r["score_milli"],
        )
        for r in mad_outliers(ev, threshold_milli=3000).collect()
    }
    d0 = int(base.timestamp() * 1_000_000) // 86_400_000_000
    assert got == {
        ("a", d0 + 4): (12, 2, 10000),
        ("e", d0 + 3): (10, 2, 7500),
    }


# ---------------------------------------------------------------------------
# Interval overlap join
# ---------------------------------------------------------------------------


def test_interval_overlap_hand_cases(spark):
    # nested, partial, touching (overlap 0), and disjoint pairs
    a = spark.createDataFrame(
        [(1, 100, 200), (2, 500, 600)], "a_id long, s long, e long"
    )
    b = spark.createDataFrame(
        [
            (10, 120, 180),  # nested in a1
            (11, 150, 250),  # partial overlap with a1
            (12, 200, 300),  # touches a1's end exactly
            (13, 310, 400),  # disjoint
            (14, 0, 1000),   # covers everything
        ],
        "b_id long, s long, e long",
    )
    got = {
        (r["a_id"], r["b_id"], r["overlap_us"])
        for r in W.interval_overlap_pairs(
            a, b, bin_width_seconds=1
        ).collect()
    }
    assert got == {
        (1, 10, 60),
        (1, 11, 50),
        (1, 12, 0),
        (1, 14, 100),
        (2, 14, 100),
    }


def test_interval_overlap_brute_parity_and_bin_invariance(spark):
    import random

    rng = random.Random(13)
    rows_a = [
        (i, rng.randint(0, 10_000_000), rng.randint(1, 3_000_000))
        for i in range(150)
    ]
    rows_b = [
        (i, rng.randint(0, 10_000_000), rng.randint(1, 3_000_000))
        for i in range(170)
    ]
    a = spark.createDataFrame(
        [(i, s, s + d) for i, s, d in rows_a], "a_id long, s long, e long"
    )
    b = spark.createDataFrame(
        [(i, s, s + d) for i, s, d in rows_b], "b_id long, s long, e long"
    )
    want = {
        (i, j, min(ea, eb) - max(sa, sb))
        for i, sa, da in rows_a
        for j, sb, db in rows_b
        for ea, eb in [(sa + da, sb + db)]
        if sa <= eb and sb <= ea
    }
    assert want, "fixture must produce overlaps"
    for w in (1, 7):  # bins much smaller / comparable to durations
        got = {
            (r["a_id"], r["b_id"], r["overlap_us"])
            for r in W.interval_overlap_pairs(
                a, b, bin_width_seconds=w
            ).collect()
        }
        assert got == want, f"bin_width_seconds={w}"


def test_supervised_daily_examples_hand_fixture(spark):
    """Dense grid with a silent day: zero rows are real examples,
    labels are tomorrow's counts, the last day is withheld."""
    import datetime as dt

    from big_data_computing__spark.operators.windows import (
        supervised_daily_examples,
    )

    D = 86_400_000_000
    base = dt.datetime(2024, 1, 1)

    def ts(day, h):
        return base + dt.timedelta(days=day, hours=h)

    rows = [  # user 1: active day0 (2 events), silent day1, day2 (1)
        (1, ts(0, 1)), (1, ts(0, 2)), (1, ts(2, 3)),
        # user 2: single active day -> no example (label unknown)
        (2, ts(5, 1)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["user_id"], r["day"]): (
            r["cnt_today"], r["cnt_7d"], r["label_next"]
        )
        for r in supervised_daily_examples(ev).collect()
    }
    d0 = int(base.timestamp() * 1_000_000) // D
    assert got == {
        (1, d0): (2, 2, 0),       # label = silent day1's zero
        (1, d0 + 1): (0, 2, 1),   # the zero row itself, 7d carries
    }


def test_supervised_examples_trailing_window_is_gap_safe(spark):
    """A lookback shorter than the gap must NOT leak counts across
    it: with lookback=2, day2's window covers days 1-2 only."""
    import datetime as dt

    from big_data_computing__spark.operators.windows import (
        supervised_daily_examples,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [(7, base)] * 5 + [
        (7, base + dt.timedelta(days=2)),
        (7, base + dt.timedelta(days=3)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    D = 86_400_000_000
    d0 = int(base.timestamp() * 1_000_000) // D
    got = {
        r["day"]: r["cnt_7d"]
        for r in supervised_daily_examples(ev, lookback=2).collect()
    }
    assert got == {d0: 5, d0 + 1: 5, d0 + 2: 1}


# ---------------------------------------------------------------------------
# ewma_daily / acf_daily (this round's time-series additions)
# ---------------------------------------------------------------------------


def _daily_fixture(spark, counts, key="a"):
    """Events synthesized so day i holds counts[i] rows (day 0 = epoch);
    days with count 0 stay EMPTY — the dense grid must re-create them."""
    rows = []
    eid = 0
    for i, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, i * 86_400_000_000 + 1, key))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, us long, k string")
    return df.select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        F.col("k").alias("event_type"),
    )


def test_ewma_daily_hand(spark):
    counts = [4, 0, 2, 8]  # day 1 has no events -> zero-filled row
    ev = _daily_fixture(spark, counts)
    out = {r.day: r for r in W.ewma_daily(ev, window=3).collect()}
    assert len(out) == 4  # dense: the silent day is present
    # pure-python replication: weights 4,2,1 for lags 0,1,2
    for t in range(4):
        num = den = 0
        for j, wgt in enumerate([4, 2, 1]):
            if t - j >= 0:
                num += counts[t - j] * wgt
                den += wgt
        ewma = (1000 * num) // den
        assert out[t].ewma_milli == ewma
        ratio = (1_000_000 * counts[t]) // ewma if ewma > 0 else 0
        assert out[t].ratio_milli == ratio
    # head normalization: day 0's EWMA is exactly its own count
    assert out[0].ewma_milli == 4000


def test_acf_daily_alternation(spark):
    # perfect period-2 alternation: ACF(1) strongly negative, ACF(2)
    # positive; verified against a pure-python integer replication
    counts = [5, 1, 5, 1, 5, 1, 5, 1]
    ev = _daily_fixture(spark, counts)
    got = {r.lag: r.acf_milli for r in W.acf_daily(ev, max_lag=3).collect()}
    n, s = len(counts), sum(counts)
    r = [n * x - s for x in counts]
    den = sum(v * v for v in r)

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    for k in (1, 2, 3):
        num = 1000 * sum(r[t] * r[t + k] for t in range(n - k))
        assert got[k] == trunc_div(num, den)
    assert got[1] < 0 < got[2]


def test_acf_daily_constant_series_dropped(spark):
    ev = _daily_fixture(spark, [3, 3, 3, 3])
    assert W.acf_daily(ev, max_lag=2).count() == 0


def test_ewma_acf_duckdb_parity(spark, sf_dir):
    import duckdb

    events = read_table(spark, sf_dir, "events")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    got = sorted(
        tuple(r) for r in W.ewma_daily(events).collect()
    )
    want = sorted(
        tuple(r) for r in con.execute(W.ewma_daily_sql()).fetchall()
    )
    assert got == want
    got = sorted(tuple(r) for r in W.acf_daily(events).collect())
    want = sorted(
        tuple(r) for r in con.execute(W.acf_daily_sql()).fetchall()
    )
    assert got == want


def test_ewma_stream_state_equals_batch(spark, sf_dir):
    """EwmaState folded over micro-batch chunks equals the batch
    ewma_daily over the union bit-for-bit after every prefix;
    replays are no-ops."""
    from big_data_computing__spark.streaming.windows_stream import (
        EwmaState,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    rows = ev.orderBy("event_id").collect()
    chunks = [rows[i : i + 700] for i in range(0, len(rows), 700)]
    schema = "event_id long, ts timestamp, event_type string"
    st = EwmaState()
    seen: list = []
    for bid, chunk in enumerate(chunks):
        st.update(spark.createDataFrame(chunk, schema), bid)
        seen.extend(chunk)
        prefix = spark.createDataFrame(seen, schema)
        want = sorted(
            tuple(r) for r in W.ewma_daily(prefix).collect()
        )
        assert st.estimate() == want
    before = dict(st.counts)
    st.update(spark.createDataFrame(chunks[0], schema), 0)
    assert st.counts == before
