"""Generic relational operators: the reusable machinery layer.

The reference's relational surface (scan, filter, partial+final
aggregation, broadcast lookup join, semi/anti membership, sort/top-K,
distinct — SURVEY.md §2.1-2.7) generalized into small composable helpers
with deterministic semantics. Each is a thin, opinionated wrapper over
DataFrame ops — the point is the *contract* (explicit tie-breaks,
broadcast hints, aliased outputs), not reimplementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, k: int, *order: Column) -> DataFrame:
    """Deterministic top-K: ORDER BY the given columns LIMIT k.

    Callers must pass a total order (include a unique key as the last
    column) — the engine refuses ambiguity by convention where the
    reference left tie order to sort stability
    (big_data_computing_1.py:112). Physical plan: TakeOrderedAndProject —
    per-partition heaps + driver merge, no global sort.
    """
    return df.orderBy(*order).limit(k)


def star_join(
    fact: DataFrame, dims: list[tuple[DataFrame, str]]
) -> DataFrame:
    """Fact table joined to small dimensions, all broadcast: the engine's
    default plan shape for star schemas (dimension tables ride along with
    every executor; the fact table never shuffles)."""
    out = fact
    for dim, key in dims:
        out = out.join(F.broadcast(dim), key)
    return out


def distinct_count(df: DataFrame, col: str) -> DataFrame:
    """Exact distinct count of one column as a 1-row DataFrame."""
    return df.agg(F.countDistinct(col).alias("n_distinct"))


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: each left row gains the right row with the largest
    ``right_ts`` <= ``left_ts`` for the same key (or nulls if none).

    Spark has no native as-of join; the scale-correct plan is the
    union + last-non-null-window idiom: tag and union both sides, sort
    within each key by (ts, side), and carry the latest right payload
    forward with ``last(..., ignorenulls=True)``. One shuffle on the key,
    no range-join blowup; rows at equal timestamps match (right sorts
    before left on the tie). ``tiebreak`` (a right-side column) makes the
    winner among equal right timestamps deterministic.
    """
    lt = left.withColumn("_ts", F.col(left_ts)).withColumn(
        "_side", F.lit(1)
    )
    for c in right_cols:
        lt = lt.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    rt = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in right_cols],
    )
    for c in lt.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(lt.schema[c].dataType))
    unioned = lt.unionByName(rt.select(*lt.columns))
    order = ["_ts", "_side"] + ([tiebreak] if tiebreak else [])
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        *[
            c
            for c in unioned.columns
            if c not in right_cols and c != "_side"
        ],
        F.col("_side"),
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in right_cols
        ],
    )
    return carried.where(F.col("_side") == 1).drop("_side", "_ts")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    salt: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for skewed keys (the principled form
    of the reference's random-regrouping trick, big_data_computing_1.py:81
    — SURVEY.md A3).

    Phase 1 groups on (keys + random salt) so a hot key's rows spread over
    ``salt`` reducers; phase 2 merges the partials. Only sum/count/min/max
    (re-aggregatable) functions are supported: ``aggs`` maps column →
    one of 'sum' | 'count' | 'min' | 'max'.

    Note: plain ``groupBy`` already does map-side partial aggregation and
    AQE splits skewed *join* partitions — reach for this only when a
    single group's *post-combine* partials still overload one reducer
    (extreme cardinality-1-ish skew at 100 TB).
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase1_aggs = []
    for col, fn in aggs.items():
        if fn not in merge_fn:
            raise ValueError(f"{fn!r} is not re-aggregatable")
        first = F.count(col) if fn == "count" else getattr(F, fn)(col)
        phase1_aggs.append(first.alias(f"_p_{col}"))
    salted = df.withColumn(
        "_salt", (F.rand(seed=0) * salt).cast("int")
    )
    partial = salted.groupBy(*keys, "_salt").agg(*phase1_aggs)
    return partial.groupBy(*keys).agg(
        *[
            merge_fn[fn](f"_p_{col}").alias(f"{fn}_{col}")
            for col, fn in aggs.items()
        ]
    )


# ---------------------------------------------------------------------------
# Pivot / ntile (wide-format reshaping and rank-bucket statistics)
# ---------------------------------------------------------------------------

PIVOT_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_event_values(
    events: DataFrame,
    event_types: tuple[str, ...] = PIVOT_EVENT_TYPES,
) -> DataFrame:
    """Long→wide pivot: per event day, one column per event type holding
    ROUND(SUM(value), 6) — DataFrame[day_idx, click, error, ...], where
    day_idx is the integer epoch day (see windows.event_time_us for the
    cross-engine event-time convention).

    The pivot values are passed explicitly, which is the scalable form:
    Spark otherwise runs an extra distinct-scan job to discover them, and
    an unbounded value set would explode the schema. One shuffle on the
    grouping key; each pivot cell is an independent partial aggregate
    (map-side combined), so skew in event_type does not concentrate —
    the key is the day, not the type.
    """
    from .windows import event_time_us

    us_day = F.lit(86_400_000_000)
    ts_us = event_time_us(events, "ts")
    # pmod gives the non-negative remainder, so (us − pmod) is the exact
    # FLOOR multiple for negative timestamps too — matching the SQL
    # twin's pmod-subtracted floor helper (DuckDB's raw integer //
    # itself TRUNCATES toward zero, hence the shared convention in
    # windows._floor_div_sql); the division of an exact multiple
    # carries no float-floor hazard
    day = ((ts_us - F.pmod(ts_us, us_day)) / us_day).cast("long")
    return (
        events.groupBy(day.alias("day_idx"))
        .pivot("event_type", list(event_types))
        .agg(F.round(F.sum("value"), 6))
    )


def pivot_event_values_sql(
    event_types: tuple[str, ...] = PIVOT_EVENT_TYPES,
) -> str:
    cells = ", ".join(
        f"ROUND(SUM(CASE WHEN event_type = '{t}' THEN value END), 6)"
        f" AS \"{t}\""
        for t in event_types
    )
    return (
        f"SELECT (epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000) // 86400000000 AS day_idx, {cells} "
        f"FROM events GROUP BY 1"
    )


def ntile_quartiles(orders: DataFrame, n: int = 4) -> DataFrame:
    """Rank-bucket statistics: orders split into ``n`` equal-frequency
    tiles of o_totalprice *within* each o_orderpriority, then per-tile
    count/min/max — DataFrame[o_orderpriority, quartile, n_orders,
    min_price, max_price].

    The ntile order includes o_orderkey as a tie-break so the tile
    assignment is a total order (deterministic, oracle-checkable). The
    window partitions by priority — bounded state per partition; the
    output is the aggregate, so only (priority × n) rows leave the
    shuffle.
    """
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(n).over(w).alias("quartile"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


def ntile_quartiles_sql(n: int = 4) -> str:
    return f"""
WITH t AS (
  SELECT o_orderpriority, o_totalprice,
         NTILE({n}) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey) AS quartile
  FROM orders
)
SELECT o_orderpriority, quartile, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM t GROUP BY o_orderpriority, quartile
"""


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-tolerant equi-join: salt the big side's key with a
    deterministic per-row shard, replicate the small side ``salt``
    ways, join on (key, salt) — a hot key's rows spread across
    ``salt`` reducers instead of stalling one.

    The manual form of what AQE's skew-join split does at runtime
    (spark.sql.adaptive.skewJoin, on by default in the engine
    session): reach for it when the skew is KNOWN ahead of time and
    the spread should be planned statically — e.g. a fact table where
    one tenant is half the data and the dimension side is small enough
    to replicate ``salt``× but too big to broadcast whole. The salt is
    a counter-based hash of the whole row, not rand(): the result is
    reproducible run-to-run. The shard hash is JVM-native xxhash64
    over the raw columns (no string casts, no digest): the join result
    is row-identical under ANY shard hash — equality with the plain
    join is the asserted contract — so the salt needs distribution
    quality, not cross-engine parity, and md5 here measurably turned
    the salting overhead into a net loss at 100M rows (tools/
    skew_ab.py, STRESS.md). Row-identical to ``big.join(small, key,
    how)`` (asserted in tests); 'inner' and 'left' only — replication
    makes right/full null accounting ambiguous.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    shard = (
        F.pmod(
            F.xxhash64(F.lit("sj"), *[F.col(c) for c in big.columns]),
            F.lit(salt),
        )
    )
    b = big.withColumn("_salt", shard.cast("int"))
    reps = F.explode(
        F.array(*[F.lit(i) for i in range(salt)])
    ).alias("_salt")
    s = small.select("*", reps)
    joined = b.join(s, [key, "_salt"], how)
    return joined.drop("_salt")


def _overlay_histogram(files: list[dict], hist_key: str) -> list[int]:
    """Merge per-file equi-width histograms ({lo, hi, counts}) onto
    one global equi-width grid by proportional overlap — the driver-
    side manifest fold every stats consumer shares. Returns the
    global bin counts (len = the recorded per-file bin count)."""
    hists = [e[hist_key] for e in files if e.get(hist_key)]
    if not hists:
        return []
    bins = len(hists[0]["counts"])
    glo = min(h["lo"] for h in hists)
    ghi = max(h["hi"] for h in hists)
    out = [0.0] * bins
    if ghi <= glo:
        out[0] = float(sum(sum(h["counts"]) for h in hists))
        return [int(round(c)) for c in out]
    gw = (ghi - glo) / bins
    for h in hists:
        flo, fhi = h["lo"], h["hi"]
        fb = len(h["counts"])
        fw = (fhi - flo) / fb if fhi > flo else 0.0
        for i, cnt in enumerate(h["counts"]):
            if not cnt:
                continue
            if fw == 0.0:
                j = min(bins - 1, max(0, int((flo - glo) / gw)))
                out[j] += cnt
                continue
            a, b = flo + i * fw, flo + (i + 1) * fw
            j0 = min(bins - 1, max(0, int((a - glo) / gw)))
            j1 = min(bins - 1, max(0, int((b - glo) / gw - 1e-12)))
            if j0 == j1:
                out[j0] += cnt
                continue
            for j in range(j0, j1 + 1):
                lo_j, hi_j = glo + j * gw, glo + (j + 1) * gw
                frac = (min(b, hi_j) - max(a, lo_j)) / (b - a)
                if frac > 0:
                    out[j] += cnt * frac
    return [int(round(c)) for c in out]


def join_strategy_from_stats(
    big_snapshot: dict,
    small_snapshot: dict,
    key: str,
    broadcast_max_rows: int = 1_000_000,
    skew_factor_threshold: float = 4.0,
    salt_min_hot_rows: int = 30_000_000,
    broadcast_max_bytes: int = 256 * 1024 * 1024,
) -> dict:
    """Pick broadcast / plain / salted for ``big ⋈ small ON key`` from
    the tables' RECORDED manifest statistics at ZERO data read — the
    second ANALYZE-driven cost gate (the first:
    outliers.detect_outliers_analyzed), replacing the hardcoded
    per-call-site threshold a user would otherwise guess:

    - build-side size: Σ n_rows AND Σ recorded parquet bytes over the
      small table's manifest (every commit records both — no count()
      job). Broadcast only when rows ≤ ``broadcast_max_rows`` and
      bytes ≤ ``broadcast_max_bytes`` — a 1M-row table of wide strings
      can blow executor broadcast memory that a row gate alone would
      wave through (ADVICE r8). Manifests written before ``size_bytes``
      was recorded gate on rows alone (bytes unknown ≠ bytes huge).
    - probe-side skew: the big table's ``hist_<key>`` per-file
      histograms (``analyze_histograms``) overlaid onto one global
      grid; skew factor = hot volume ÷ single-bin uniform share, where
      hot volume = max(hottest bin, hottest 2-bin window − one uniform
      share) — the overlay's proportional re-binning can split a hot
      key across two adjacent global bins and the single-bin read
      would understate it; subtracting one uniform share from the
      window keeps uniform data at ~1.0 (ADVICE r8).
      **salted** only when BOTH the ratio clears
      ``skew_factor_threshold`` AND the hottest bin's absolute row
      count clears ``salt_min_hot_rows`` — a skewed RATIO over a
      small hot volume doesn't straggle, and the A/B measured
      plain+AQE beating salted there (20M rows / 80% hot: 5.9 s vs
      7.3 s, tools/join_gate_ab.py), while at 100M rows / 80% hot
      static salting is 2.2–3.8× over an unsplit plain join and AQE's
      own byte threshold has a documented blind spot just under
      256 MB (tools/skew_ab.py, STRESS.md r6e). Otherwise **plain**
      (AQE handles residual imbalance at runtime; salting uniform or
      small-hot data is pure replication overhead).

    Raises if the stats are missing rather than silently guessing —
    a fallback would masquerade as a cost decision (the
    detect_outliers_analyzed contract). Returns {strategy,
    small_rows, skew_factor, hot_bin_rows, bins} for logging/tests.

    Scale: both inputs are manifest JSON already on the driver; the
    decision costs microseconds however large the data is, which is
    what makes it usable inside a planner loop at 100 TB.
    """
    small_rows = sum(e["n_rows"] for e in small_snapshot["files"])
    sizes = [e.get("size_bytes") for e in small_snapshot["files"]]
    small_bytes = (
        sum(sizes) if all(s is not None for s in sizes) else None
    )
    out = {
        "small_rows": small_rows,
        "small_bytes": small_bytes,
        "skew_factor": None,
        "hot_bin_rows": None,
        "bins": None,
    }
    if small_rows <= broadcast_max_rows and (
        small_bytes is None or small_bytes <= broadcast_max_bytes
    ):
        out["strategy"] = "broadcast"
        return out
    hist_key = f"hist_{key}"
    files = [e for e in big_snapshot["files"] if e.get(hist_key)]
    if not files:
        raise ValueError(
            f"join_strategy_from_stats: big side has no {hist_key!r} "
            "histograms — run analyze_histograms([key]) first (no "
            "silent fallback: a guess would masquerade as a cost "
            "decision)"
        )
    overlay = _overlay_histogram(files, hist_key)
    total = sum(overlay)
    bins = len(overlay)
    hot1 = max(overlay) if overlay else 0
    win2 = (
        max(overlay[i] + overlay[i + 1] for i in range(bins - 1))
        if bins >= 2
        else hot1
    )
    # straddle-corrected hot volume: a hot key the overlay split
    # across two adjacent global bins shows its full volume only in
    # the 2-bin window; subtract ONE uniform share (the background the
    # second bin would hold anyway) so uniform data still reads ~1.0
    # and a genuinely single-bin hot key still reads hot1
    uniform = total / bins if bins else 0.0
    hot = max(hot1, int(win2 - uniform))
    skew = (hot * bins / total) if total else 0.0
    out.update(
        {
            "skew_factor": round(skew, 3),
            "hot_bin_rows": hot,
            "bins": bins,
        }
    )
    out["strategy"] = (
        "salted"
        if skew >= skew_factor_threshold and hot >= salt_min_hot_rows
        else "plain"
    )
    return out


def join_analyzed(
    spark,
    big_table,
    small_table,
    key: str,
    salt: int = 16,
    how: str = "inner",
    broadcast_max_rows: int = 1_000_000,
    skew_factor_threshold: float = 4.0,
    salt_min_hot_rows: int = 30_000_000,
    broadcast_max_bytes: int = 256 * 1024 * 1024,
) -> tuple[dict, DataFrame]:
    """Execute ``big ⋈ small ON key`` under the strategy
    :func:`join_strategy_from_stats` picks from the two ZTables'
    manifests. Returns (decision dict, result DataFrame); the result
    is row-identical across strategies (asserted in tests) — the gate
    picks COST, never semantics."""
    decision = join_strategy_from_stats(
        big_table.snapshot(),
        small_table.snapshot(),
        key,
        broadcast_max_rows=broadcast_max_rows,
        skew_factor_threshold=skew_factor_threshold,
        salt_min_hot_rows=salt_min_hot_rows,
        broadcast_max_bytes=broadcast_max_bytes,
    )
    big = big_table.read(spark)
    small = small_table.read(spark)
    if decision["strategy"] == "broadcast":
        joined = big.join(F.broadcast(small), key, how)
    elif decision["strategy"] == "salted":
        joined = salted_join(big, small, key, salt=salt, how=how)
    else:
        joined = big.join(small, key, how)
    return decision, joined


def global_rank(
    df: DataFrame,
    *order_cols: str,
    rank_col: str = "rank",
    n_partitions: int = 32,
) -> DataFrame:
    """1-based global row rank under a TOTAL order, without the
    single-partition window Spark's bare ``row_number() OVER (ORDER BY
    ...)`` degenerates to.

    The two-pass distributed ranking idiom: range-repartition on the
    order columns (contiguous key ranges per partition), count rows per
    partition, cumulative-sum those ≤ ``n_partitions`` counts on the
    driver, then add each partition's offset to its local sorted
    row_number. Partition boundaries affect only the SPLIT, never the
    result: rank = global position in the total order regardless of
    where the range sampler cut, so the output is deterministic even
    though the sampler isn't part of the contract.

    ``order_cols`` must be a total order (include a unique tie-break
    column) — same requirement every deterministic rank in this engine
    imposes (see ntile_quartiles).
    """
    part = df.repartitionByRange(n_partitions, *order_cols)
    withpid = part.withColumn("_pid", F.spark_partition_id())
    # pin the split both passes see; LAZY checkpoint — the driver-side
    # offsets collect below is the materializing action (scans every
    # partition), so pass 1 costs one job, not an eager-checkpoint job
    # plus a collect job (r10 round-overhead fix, guide §1.2)
    withpid = withpid.localCheckpoint(eager=False)
    counts = {
        r["_pid"]: r["cnt"]
        for r in withpid.groupBy("_pid")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(
        *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return withpid.select(
        *df.columns,
        (F.row_number().over(w) + off[F.col("_pid")])
        .cast("long")
        .alias(rank_col),
    )


def global_dense_rank(
    df: DataFrame,
    *order_cols: str,
    rank_col: str = "rank",
    n_partitions: int = 32,
) -> DataFrame:
    """DENSE global rank (equal keys share a rank, ranks contiguous
    from 1) without the distinct + row_number + join-back detour: the
    same two-pass idiom as :func:`global_rank`, but the driver offsets
    are cumulative per-partition DISTINCT-key counts and the within-
    partition rank is dense_rank. Sound because repartitionByRange
    puts equal keys in one partition, so no key straddles an offset
    boundary. One pass over the data — suffix_array's doubling rounds
    use this to re-rank (rank, rank2) pairs with two fewer shuffles
    per round than distinct→rank→join."""
    part = df.repartitionByRange(n_partitions, *order_cols)
    withpid = part.withColumn("_pid", F.spark_partition_id())
    # pin the split both passes see; LAZY checkpoint — the driver-side
    # offsets collect below is the materializing action (scans every
    # partition), so pass 1 costs one job, not an eager-checkpoint job
    # plus a collect job (r10 round-overhead fix, guide §1.2)
    withpid = withpid.localCheckpoint(eager=False)
    counts = {
        r["_pid"]: r["d"]
        for r in withpid.groupBy("_pid")
        .agg(F.countDistinct(*order_cols).alias("d"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(
        *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return withpid.select(
        *df.columns,
        (F.dense_rank().over(w) + off[F.col("_pid")])
        .cast("long")
        .alias(rank_col),
    )


def global_bucket_rank(
    df: DataFrame,
    *order_cols: str,
    rank_col: str = "rank",
    n_partitions: int = 32,
) -> DataFrame:
    """COMPETITION global rank (SQL ``RANK()``: equal keys share, the
    next distinct key jumps by the group size — rank = 1 + count of
    strictly-smaller ROWS), same two-pass idiom as
    :func:`global_dense_rank` but with cumulative per-partition ROW
    counts as the offsets and ``rank()`` within partitions. Sound for
    the same reason (equal keys never straddle a range boundary).

    This is the "bucket start" rank Manber-Myers-style suffix
    construction needs: a tied group's ranks occupy a gap-free
    interval [start, start+size), so refining ONE group in place can
    never collide with any rank outside it — the invariant the
    tied-only doubling rounds in operators/suffix.py rely on.
    """
    part = df.repartitionByRange(n_partitions, *order_cols)
    withpid = part.withColumn("_pid", F.spark_partition_id())
    # lazy: the offsets collect below materializes the checkpoint
    withpid = withpid.localCheckpoint(eager=False)
    counts = {
        r["_pid"]: r["c"]
        for r in withpid.groupBy("_pid")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(
        *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
    )
    w = Window.partitionBy("_pid").orderBy(
        *[F.col(c) for c in order_cols]
    )
    return withpid.select(
        *df.columns,
        (F.rank().over(w) + off[F.col("_pid")])
        .cast("long")
        .alias(rank_col),
    )


def global_prefix_sum(
    df: DataFrame,
    value_col: str,
    *order_cols: str,
    out_col: str = "prefix_sum",
    n_partitions: int = 32,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``value_col`` under a TOTAL order:
    each row gets the sum of all strictly-preceding rows' values
    (``SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING AND 1
    PRECEDING)`` without the single-partition window that SQL form
    degenerates to in Spark).

    Same two-pass idiom as :func:`global_rank`: range-repartition on
    the order columns, per-partition sums (≤ ``n_partitions`` longs to
    the driver), driver-side cumulative offsets, then a within-
    partition running sum plus the partition offset. ``order_cols``
    must be a total order (include a unique tie-break column).
    """
    part = df.repartitionByRange(n_partitions, *order_cols)
    withpid = part.withColumn("_pid", F.spark_partition_id())
    # pin the split both passes see; LAZY checkpoint — the driver-side
    # offsets collect below is the materializing action (scans every
    # partition), so pass 1 costs one job, not an eager-checkpoint job
    # plus a collect job (r10 round-overhead fix, guide §1.2)
    withpid = withpid.localCheckpoint(eager=False)
    sums = {
        r["_pid"]: r["s"]
        for r in withpid.groupBy("_pid")
        .agg(F.sum(value_col).cast("long").alias("s"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid] or 0
    off = F.create_map(
        *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = F.coalesce(
        F.sum(value_col).over(w).cast("long"), F.lit(0).cast("long")
    )
    return withpid.select(
        *df.columns,
        (running + off[F.col("_pid")]).cast("long").alias(out_col),
    )


def global_prefix_min(
    df: DataFrame,
    value_col: str,
    *order_cols: str,
    out_col: str = "prefix_min",
    n_partitions: int = 32,
) -> DataFrame:
    """EXCLUSIVE prefix minimum of ``value_col`` under a TOTAL order:
    each row gets the min over all strictly-preceding rows' values
    (null for the global first row) — the same two-pass idiom as
    :func:`global_prefix_sum`, never a single-partition window.

    Pass 1 range-repartitions on the order columns and collects one
    min per partition (≤ ``n_partitions`` scalars); the driver folds
    them into per-partition EXCLUSIVE prefix offsets; pass 2 combines
    the within-partition running min (a parallel per-partition window)
    with the offset via null-skipping ``least``.
    """
    part = df.repartitionByRange(n_partitions, *order_cols)
    withpid = part.withColumn("_pid", F.spark_partition_id())
    # pin the split both passes see; LAZY checkpoint — the driver-side
    # offsets collect below is the materializing action (scans every
    # partition), so pass 1 costs one job, not an eager-checkpoint job
    # plus a collect job (r10 round-overhead fix, guide §1.2)
    withpid = withpid.localCheckpoint(eager=False)
    mins = {
        r["_pid"]: r["m"]
        for r in withpid.groupBy("_pid")
        .agg(F.min(value_col).alias("m"))
        .collect()
    }
    offsets: dict[int, float] = {}
    acc = None
    for pid in sorted(mins):
        if acc is not None:
            offsets[pid] = acc
        m = mins[pid]
        if m is not None:
            acc = m if acc is None else min(acc, m)
    # missing map key -> null offset (first partition / empty prefix)
    vtype = df.schema[value_col].dataType
    offset = (
        F.create_map(
            *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
        )[F.col("_pid")]
        if offsets
        else F.lit(None).cast(vtype)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = F.min(value_col).over(w)
    return withpid.select(
        *df.columns,
        F.least(running, offset).alias(out_col),
    )


def key_skew_report(
    df: DataFrame, key_col: str, n: int = 10
) -> DataFrame:
    """Join/agg-key skew diagnostic: the top-``n`` heaviest keys with
    integer-exact skew metrics — DataFrame[rk, key, cnt, share_milli,
    x_mean_milli, cum_share_milli].

    The numbers an engineer reads before shuffling 100 TB on
    ``key_col``: share_milli = 1000·cnt div total (this key's fraction
    of all rows), x_mean_milli = 1000·cnt·n_keys div total (how many
    times the mean key weight — >>1000 means salting/AQE-skew-join
    territory), cum_share_milli the running total over the ranked
    heads. All floor divisions on positive BIGINTs — value-oracled.

    Plan: one map-side-combined count per key, a 2-scalar global
    broadcast, TakeOrderedAndProject for the top-``n`` — the rank
    window runs over n rows, never the key space."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(n)
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .withColumn(
            "cum_cnt",
            F.sum("cnt").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select(
            "rk",
            F.col("key").cast("string").alias("key"),
            "cnt",
            F.expr("(1000 * cnt) div total").alias("share_milli"),
            F.expr("(1000 * cnt * n_keys) div total").alias(
                "x_mean_milli"
            ),
            F.expr("(1000 * cum_cnt) div total").alias(
                "cum_share_milli"
            ),
        )
    )


def key_skew_report_sql(
    source_sql: str, key_expr: str, n: int = 10
) -> str:
    """DuckDB twin of :func:`key_skew_report`."""
    return f"""
WITH s AS ({source_sql}),
counts AS (
  SELECT {key_expr} AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM s GROUP BY {key_expr}
),
totals AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM counts
),
top AS (
  SELECT key, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, key ASC) AS INT)
           AS rk,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, key ASC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
  FROM counts
)
SELECT rk, CAST(key AS VARCHAR) AS key, cnt,
       (1000 * cnt) // total AS share_milli,
       (1000 * cnt * n_keys) // total AS x_mean_milli,
       (1000 * cum_cnt) // total AS cum_share_milli
FROM top CROSS JOIN totals
WHERE rk <= {n}
ORDER BY rk
"""


def bloom_member_pred(
    dim: DataFrame,
    key: str,
    bits: int = 1 << 17,
    probes: int = 3,
) -> Column:
    """Codegen membership predicate over a split-block Bloom filter
    of ``dim``'s distinct ``key`` values — the build half of
    :func:`bloom_semi_join`, exposed so callers (and tests) can apply
    or measure the pre-filter alone.

    Split-block design (the parquet bloom layout): ONE xxhash64 picks
    the 60-bit word, a SECOND supplies all ``probes`` bit positions
    inside it — so the probe costs two hashes, one literal-array
    index and one mask compare per row, whatever ``probes`` is. (A
    first version probed 3 independent word positions: 3 hash+index
    chains per row measured SLOWER than the shuffle it saved —
    STRESS.md; blocking trades a slightly lumpier fp rate for a probe
    cheap enough to win.) One-sided: never false on a true member;
    false positives only cost final-join work.
    """
    if probes < 1 or 60 ** probes > (1 << 62):
        raise ValueError("bloom_member_pred: 1 <= probes <= 10")
    if bits % 60 != 0:
        bits = ((bits // 60) + 1) * 60
    n_words = bits // 60

    def mask_expr(col: str) -> Column:
        # all probe bits from ONE hash: r = h % 60^probes read as
        # base-60 digits (codegen CSE shares the repeated subtree)
        m = None
        for i in range(probes):
            part = F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pmod(pmod(xxhash64({col}, 1), {60 ** probes})"
                f" DIV {60 ** i}, 60) AS INT))"
            )
            m = part if m is None else m.bitwiseOR(part)
        return m

    keys = dim.select(F.col(key).alias("_bk")).distinct()
    rows = (
        keys.select(
            F.pmod(F.xxhash64(F.col("_bk"), F.lit(0)), F.lit(n_words))
            .alias("w"),
            mask_expr("_bk").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("wv"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[int(r["w"])] = r["wv"]
    arr = F.lit(words)
    widx = (
        F.pmod(F.xxhash64(F.col(key), F.lit(0)), F.lit(n_words))
        + F.lit(1)
    ).cast("int")
    mask = mask_expr(key)
    return F.element_at(arr, widx).bitwiseAND(mask) == mask


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    bits: int = 1 << 17,
    probes: int = 3,
) -> DataFrame:
    """Semi join with an explicit runtime Bloom pre-filter — the
    InjectRuntimeFilter idea (SPARK-32268) as a first-class operator
    you can size and observe.

    When the build side is too large to broadcast as a hash relation,
    a shuffled semi join ships EVERY fact row; a Bloom filter of the
    build keys is ``bits/8`` bytes no matter how many rows it
    summarizes. Build: distinct build keys -> one word position + one
    in-word mask (split-block design, :func:`bloom_member_pred`) ->
    bit_or-fold into ceil(bits/60) BIGINT words (one narrow pass with
    map-side partial aggregation; the driver holds bits/60 words —
    ~2K at the default — never one row per key). The dense word list
    becomes an array LITERAL in the probe predicate, so the fact side
    drops non-members in pure whole-stage codegen BEFORE its shuffle.
    A final exact semi join clears false positives: output
    row-identity is the plain semi join's (pinned by test); the bloom
    only shrinks the shuffle (fp-rate measured in the same test).

    xxhash64 (JVM-native) is deliberately NOT the cross-engine oracle
    hash: the filter never changes the result, so the salted_join
    convention applies — result identity is the contract, oracle
    parity comes from the final join.
    """
    pred = bloom_member_pred(dim, key, bits, probes)
    return fact.where(pred).join(
        dim.select(key).distinct(), key, "semi"
    )


QUICKSELECT_BUCKETS = 256
QUICKSELECT_MAX_ROUNDS = 16


def global_kth_value(
    df: DataFrame,
    value_col: str,
    k: int,
    n_buckets: int = QUICKSELECT_BUCKETS,
    max_rounds: int = QUICKSELECT_MAX_ROUNDS,
) -> tuple[int, int]:
    """EXACT k-th smallest of an integer column without any global
    sort: returns (kth_value, n_rounds).

    Distributed quickselect by bounded-histogram rounds (the
    map-reduce selection folklore; Blum et al.'s selection bound says
    sorting is overkill for one order statistic): each round buckets
    the surviving value range into ``n_buckets`` equal-width integer
    bins with ONE aggregation — the shuffle carries at most n_buckets
    rows per task, the driver holds one n_buckets histogram — then
    recurses into the bin containing the k-th element. The range
    shrinks >= n_buckets× per round, so a 64-bit domain needs <= 8
    rounds at 256 bins; every row-side op is codegen arithmetic.

    Contrast with :func:`global_rank`'s sort-based median: that
    range-repartitions the FULL data by value (a total-order shuffle
    of n rows); this scans the data once per round but shuffles only
    histograms — at 100 TB the sort shuffle is the cost that matters,
    and log_256(domain) scans of a columnar file beat one n-row
    re-sort. Raises past ``max_rounds`` (cannot happen for BIGINT
    domains at 256 bins; the bound is a loud-failure contract, not a
    tuning knob).
    """
    v = F.col(value_col).cast("long")
    base = df.select(v.alias("v")).localCheckpoint()
    bounds = base.agg(
        F.count("*").alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).collect()[0]
    n, lo, hi = bounds["n"], bounds["lo"], bounds["hi"]
    if not 1 <= k <= (n or 0):
        raise ValueError(f"k={k} outside 1..{n}")
    kk = k
    rounds = 0
    while lo < hi:
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"global_kth_value: range [{lo}, {hi}] not resolved "
                f"after {max_rounds} rounds"
            )
        width = (hi - lo) // n_buckets + 1
        hist = dict(
            (r["b"], r["c"])
            for r in base.where(
                (F.col("v") >= lo) & (F.col("v") <= hi)
            )
            .groupBy(
                # integer div, never float: (v - lo) can span the full
                # BIGINT range and double arithmetic would round it
                F.expr(f"(v - {lo}) div {width}").alias("b")
            )
            .agg(F.count("*").alias("c"))
            .collect()
        )
        cum = 0
        for b in range(n_buckets + 1):
            c = hist.get(b, 0)
            if cum + c >= kk:
                lo2 = lo + b * width
                hi = min(hi, lo2 + width - 1)
                lo = lo2
                kk -= cum
                break
            cum += c
        else:
            raise AssertionError("k-th bucket not found (impossible)")
    return lo, rounds


def exact_median_quickselect(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Lower-median summary via :func:`global_kth_value`:
    DataFrame[n_rows, k, median]. The result is order-statistic exact,
    so the oracle is algorithm-independent (ORDER BY LIMIT 1 OFFSET
    k-1) — the kernel-independent-oracle pattern."""
    spark = df.sparkSession
    n = df.count()
    k = (n + 1) // 2
    kth, _ = global_kth_value(df, value_col, k)
    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_rows"),
        F.lit(k).cast("long").alias("k"),
        F.lit(kth).cast("long").alias("median"),
    )


def global_weighted_kth(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    k: int,
    n_buckets: int = QUICKSELECT_BUCKETS,
    max_rounds: int = QUICKSELECT_MAX_ROUNDS,
) -> tuple[int, int]:
    """EXACT weighted k-th: the smallest value v such that the total
    integer weight of rows with value <= v reaches ``k`` — returns
    (value, n_rounds). Same bounded-histogram quickselect as
    :func:`global_kth_value` with SUM(weight) per bin instead of
    COUNT(*): the weighted median (k = (W+1) div 2) of a 100 TB
    column costs log_256(domain) aggregation passes whose shuffles
    carry histograms, never rows. Zero/negative weights are rejected
    (they would break the monotone cumulative-weight argument)."""
    v = F.col(value_col).cast("long")
    w = F.col(weight_col).cast("long")
    base = df.select(v.alias("v"), w.alias("w")).localCheckpoint()
    if not base.where(F.col("w") <= 0).isEmpty():
        raise ValueError("weights must be strictly positive")
    bounds = base.agg(
        F.sum("w").alias("tw"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).collect()[0]
    tw, lo, hi = bounds["tw"], bounds["lo"], bounds["hi"]
    if tw is None or not 1 <= k <= tw:
        raise ValueError(f"k={k} outside 1..{tw}")
    kk = k
    rounds = 0
    while lo < hi:
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"global_weighted_kth: range [{lo}, {hi}] not "
                f"resolved after {max_rounds} rounds"
            )
        width = (hi - lo) // n_buckets + 1
        hist = dict(
            (r["b"], r["c"])
            for r in base.where(
                (F.col("v") >= lo) & (F.col("v") <= hi)
            )
            .groupBy(F.expr(f"(v - {lo}) div {width}").alias("b"))
            .agg(F.sum("w").alias("c"))
            .collect()
        )
        cum = 0
        for b in range(n_buckets + 1):
            c = hist.get(b, 0)
            if cum + c >= kk:
                lo2 = lo + b * width
                hi = min(hi, lo2 + width - 1)
                lo = lo2
                kk -= cum
                break
            cum += c
        else:
            raise AssertionError("k-th bucket not found (impossible)")
    return lo, rounds


def weighted_median_quickselect(
    df: DataFrame, value_col: str, weight_col: str
) -> DataFrame:
    """Lower weighted-median summary: DataFrame[total_weight, k,
    median] via :func:`global_weighted_kth`; oracle is algorithm-
    independent (the weighted order statistic itself)."""
    spark = df.sparkSession
    tw = df.agg(
        F.sum(F.col(weight_col).cast("long")).alias("tw")
    ).collect()[0]["tw"]
    k = (tw + 1) // 2
    kth, _ = global_weighted_kth(df, value_col, weight_col, k)
    return spark.range(1).select(
        F.lit(tw).cast("long").alias("total_weight"),
        F.lit(k).cast("long").alias("k"),
        F.lit(kth).cast("long").alias("median"),
    )
