"""Frequent-items detection: exact, reservoir sampling, sticky sampling.

Re-expresses the reference's streaming heavy-hitter toolkit
(big_data_computing_3.py): exact counts + φ-threshold
(``get_true_frequent_items`` :10-12), reservoir sampling (:15-22), and
sticky sampling (:25-33), plus the `+`/`-` truth-membership report
(:124-137).

The reference's samplers are driver-sequential by construction: each item
mutates shared state (reservoir array / tracked dict) using a *stateful*
RNG, so arrival order and RNG state chain every step to the previous one.
The engine keeps the algorithms' exact decision rules but replaces the
stateful RNG with a **counter-based PRNG** (functions/hashing.py): each
arrival-position t gets independent uniform draws
``u = hash60(tag || seed || t) / 2^60``. Consequences:

- the per-item decisions are identical in distribution to the reference's
  (uniform slot choice, accept-with-prob m/t, admit-with-prob r/n);
- the whole sampler becomes a **pure function of the ordered stream** —
  expressible as one declarative plan (filter + group-by + max_by),
  embarrassingly parallel, no sequential pass;
- the same arithmetic runs in ANSI SQL, so DuckDB reproduces the sampler
  bit-for-bit — the samplers are fully correctness-oracle-checked, which
  the reference (unseeded, stateful) could never be.

Inputs are "stream tables": DataFrame[seq long (1-based arrival order),
item long]. Batch operators here treat the table as the full stream
prefix of length n; streaming/ wires the same logic to Structured
Streaming micro-batches.

Plan building: the exact, reservoir and sticky operators render their
whole plan as one Spark SQL text in Python and run it with one
``spark.sql(text, stream=df)`` call, which registers the stream as a
temp view for the analysis and drops it afterwards; they keep their
DataFrame-in / DataFrame-out signatures. The ``_*_spark_sql`` functions
compose as nested subqueries, and each keeps the IEEE operation order of
its DuckDB twin (``cnt >= φ * total``, ``m / seq``). The stream length
is a broadcast one-row subplan (``_STREAM_TOTAL``), never an eager
``count()``. The sketches further down still build their plans with Column
expressions.

Scale notes: exact counts are one partial+final hash aggregation; the
reservoir reconstruction groups by slot (m groups; m = ⌈1/φ⌉ is small);
sticky groups by item. No windows over the full stream, no global sorts.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    TWO_POW_60,
    hash60,
    hash60_spark_sql,
    hash60_sql,
    uniform01_sql,
)
from ..functions.sqlsafe import sql_double, sql_str


def _u(tag: str, seed: int, t: Column) -> Column:
    """Counter-based uniform(0,1) draw for arrival position t."""
    key = F.concat_ws("-", F.lit(tag), F.lit(str(seed)), t.cast("string"))
    return hash60(key) / F.lit(TWO_POW_60)


def _u_spark_sql(tag: str, seed: int, t_expr: str) -> str:
    """Spark SQL text of :func:`_u`."""
    key = (
        f"concat_ws('-', {sql_str(tag)}, {sql_str(str(seed))}, "
        f"CAST({t_expr} AS STRING))"
    )
    return f"({hash60_spark_sql(key)} / {sql_double(TWO_POW_60)})"


def _u_sql(tag: str, seed: int, t_expr: str) -> str:
    return uniform01_sql(f"concat('{tag}', '-', '{seed}', '-', CAST({t_expr} AS VARCHAR))")


def reservoir_size(phi: float) -> int:
    """m = ⌈1/φ⌉ (reference big_data_computing_3.py:58)."""
    return math.ceil(1.0 / phi)


def sticky_rate(phi: float, epsilon: float, delta: float) -> float:
    """r = log(1/(φ·δ))/ε (reference big_data_computing_3.py:59)."""
    return math.log(1.0 / (phi * delta)) / epsilon


# ---------------------------------------------------------------------------
# Exact frequent items
# ---------------------------------------------------------------------------


def _item_counts_spark_sql(item_col: str) -> str:
    return (
        f"SELECT {item_col} AS item, count(*) AS cnt FROM {{stream}} "
        f"GROUP BY {item_col}"
    )


def item_counts(stream: DataFrame, item_col: str = "item") -> DataFrame:
    """Exact per-item counts: DataFrame[item, cnt]."""
    return stream.sparkSession.sql(
        _item_counts_spark_sql(item_col), stream=stream
    )


# The stream length as a one-row relation for a broadcast cross join
# (alias ``_tot``). Every operator renders the identical subplan, so Spark
# reuses one exchange for all of them within a query.
_STREAM_TOTAL = "(SELECT count(*) AS _total FROM {stream}) _tot"


def _true_frequent_spark_sql(phi: float, item_col: str) -> str:
    return f"""
SELECT /*+ BROADCAST(_tot) */ item, cnt
FROM ({_item_counts_spark_sql(item_col)}) counts CROSS JOIN {_STREAM_TOTAL}
WHERE cnt >= {sql_double(phi)} * _total"""


def true_frequent_items(
    stream: DataFrame, phi: float, item_col: str = "item"
) -> DataFrame:
    """Items with count >= φ·total: DataFrame[item, cnt]
    (reference: big_data_computing_3.py:10-12).

    The total is a broadcast one-row subplan, not an eager ``count()``,
    so building the plan runs no job. Collecting it runs four jobs (at
    sf0.001, sf0.01 and sf0.1 alike): the count's shuffle stage, the
    broadcast of the total, the item-count shuffle stage, and the result
    stage.
    """
    return stream.sparkSession.sql(
        _true_frequent_spark_sql(phi, item_col), stream=stream
    )


def true_frequent_sql(stream_sql: str, phi: float) -> str:
    return (
        f"WITH s AS ({stream_sql}), c AS "
        f"(SELECT item, COUNT(*) AS cnt FROM s GROUP BY item) "
        f"SELECT item, cnt FROM c WHERE cnt >= {phi!r} * (SELECT COUNT(*) FROM s)"
    )


# ---------------------------------------------------------------------------
# Reservoir sampling (counter-based, distribution-equivalent to reference)
# ---------------------------------------------------------------------------


def _reservoir_writes_spark_sql(m: int, seed: int) -> str:
    """Accepted reservoir writes: (slot, seq, item).

    Reference per-item rule (big_data_computing_3.py:15-22): first m items
    fill the reservoir; afterwards item t picks uniform slot i and replaces
    it with probability m/t. Here slot and acceptance are counter-based
    draws on t, making the write set a pure row-wise filter.
    """
    m = int(m)
    u_slot = _u_spark_sql("res-slot", seed, "seq")
    u_acc = _u_spark_sql("res-acc", seed, "seq")
    return f"""
SELECT CASE WHEN seq <= {m} THEN seq - 1
            ELSE CAST(FLOOR({u_slot} * {m}) AS BIGINT) END AS slot,
       seq, item
FROM {{stream}}
WHERE seq <= {m} OR {u_acc} <= {sql_double(m)} / seq"""


def _reservoir_sample_spark_sql(m: int, seed: int) -> str:
    return (
        "SELECT slot, max_by(item, seq) AS item "
        f"FROM ({_reservoir_writes_spark_sql(m, seed)}) writes GROUP BY slot"
    )


def reservoir_sample(stream: DataFrame, m: int, seed: int = 0) -> DataFrame:
    """Final reservoir contents: DataFrame[slot, item].

    Last accepted write per slot wins (max_by on seq) — exactly the state
    the reference's sequential loop ends with, reconstructed in one
    group-by over m groups.
    """
    return stream.sparkSession.sql(
        _reservoir_sample_spark_sql(m, seed), stream=stream
    )


def _flagged_spark_sql(est: str, cols: str, phi: float) -> str:
    """Columns ``cols`` of relation ``est`` (item, ...) and a ``flag``:
    ``+`` when the item is truly frequent, ``-`` otherwise. The
    membership test is a left join on the truth set, the reference's
    Python ``in`` against the truth list (J4 in SURVEY.md §2)."""
    return f"""
SELECT {cols}, CASE WHEN _hit THEN '+' ELSE '-' END AS flag
FROM {est} est
LEFT JOIN (
  SELECT item, true AS _hit FROM ({_true_frequent_spark_sql(phi, "item")}) t
) truth USING (item)"""


def reservoir_report(
    stream: DataFrame, phi: float, seed: int = 0
) -> DataFrame:
    """Distinct reservoir items flagged against the exact frequent set:
    DataFrame[item, flag('+'|'-')] (reference report big_data_computing_3.py:120-128).
    """
    sample = _reservoir_sample_spark_sql(reservoir_size(phi), seed)
    sample = f"(SELECT DISTINCT item FROM ({sample}) reservoir)"
    return stream.sparkSession.sql(
        _flagged_spark_sql(sample, "item", phi), stream=stream
    )


def reservoir_report_sql(stream_sql: str, phi: float, seed: int = 0) -> str:
    """DuckDB twin of :func:`reservoir_report` — identical arithmetic."""
    m = reservoir_size(phi)
    u_slot = _u_sql("res-slot", seed, "seq")
    u_acc = _u_sql("res-acc", seed, "seq")
    return f"""
WITH s AS ({stream_sql}),
writes AS (
  SELECT CASE WHEN seq <= {m} THEN seq - 1
              ELSE CAST(FLOOR({u_slot} * {m}) AS BIGINT) END AS slot,
         seq, item
  FROM s
  WHERE seq <= {m} OR {u_acc} <= CAST({m} AS DOUBLE) / seq
),
reservoir AS (
  SELECT slot, max_by(item, seq) AS item FROM writes GROUP BY slot
),
sample AS (SELECT DISTINCT item FROM reservoir),
truth AS (
  SELECT item FROM s GROUP BY item
  HAVING COUNT(*) >= {phi!r} * (SELECT COUNT(*) FROM s)
)
SELECT sample.item,
       CASE WHEN truth.item IS NOT NULL THEN '+' ELSE '-' END AS flag
FROM sample LEFT JOIN truth ON sample.item = truth.item
"""


# ---------------------------------------------------------------------------
# Weighted reservoir sampling (Efraimidis–Spirakis A-Res ≡ A-ExpJ)
# ---------------------------------------------------------------------------


def weighted_reservoir_keys(
    rows: DataFrame,
    weight_col: str = "w",
    id_col: str = "item",
    seed: int = 0,
) -> DataFrame:
    """Per-row A-Res sort keys: DataFrame[id, w, key].

    Efraimidis–Spirakis weighted reservoir sampling ("Weighted random
    sampling with a reservoir", IPL 2006): row i draws u_i ~ U(0,1] and
    gets key u_i^(1/w_i); the size-m sample is the m largest keys. The
    A-ExpJ variant is the same estimator with an exponential-jump trick
    that skips RNG draws during a *sequential* visit — a distributed
    top-m doesn't visit sequentially, so A-Res IS A-ExpJ here (identical
    selection law, one declarative TakeOrderedAndProject instead of a
    stateful scan). Generalizes the reference's uniform reservoir
    (big_data_computing_3.py:15-22): w ≡ const reduces to it.

    The key is computed as ln(u)/w — the same monotone transform of
    u^(1/w) both engines can evaluate without `pow`. u is a dyadic
    rational from the counter-based 60-bit hash (bit-identical across
    engines); ln's last-ulp libm differences can only flip an ordering
    when two keys land within ~2 ulp of each other, so the key is
    ORDER-ONLY: callers must never emit the float key into an oracle-
    hashed result (see :func:`weighted_reservoir_sample`).
    """
    w = F.col(weight_col).cast("double")
    u = _u("wres", seed, F.col(id_col).cast("long"))
    return rows.select(
        F.col(id_col).alias("item"),
        F.col(weight_col).alias("w"),
        (F.log(u) / w).alias("key"),
    )


def weighted_reservoir_sample(
    rows: DataFrame,
    m: int,
    weight_col: str = "w",
    id_col: str = "item",
    seed: int = 0,
) -> DataFrame:
    """Size-m weighted sample without replacement: DataFrame[rank, item, w]
    (rank 1 = largest key). P(i in sample) is the A-Res inclusion law —
    for m=1 exactly w_i/Σw.

    Plan shape: narrow key projection → TakeOrderedAndProject(m) → rank
    window over the m survivors only. Nothing but m rows ever reaches
    the driver side of the sort, so the operator scales like any top-K:
    per-partition heaps + one m-row merge, no global sort shuffle. The
    float key is dropped from the output (order-only, see
    :func:`weighted_reservoir_keys`); ties break on item id so the
    ordering is total and engine-independent.
    """
    from pyspark.sql import Window

    keyed = weighted_reservoir_keys(rows, weight_col, id_col, seed)
    top = keyed.orderBy(F.desc("key"), F.asc("item")).limit(m)
    rk = Window.orderBy(F.desc("key"), F.asc("item"))
    return top.select(
        F.row_number().over(rk).alias("rank"), "item", "w"
    )


def weighted_reservoir_stratified(
    rows: DataFrame,
    m: int,
    strata_col: str = "stratum",
    weight_col: str = "w",
    id_col: str = "item",
    seed: int = 0,
) -> DataFrame:
    """Per-stratum A-Res: an independent size-m weighted sample WITHOUT
    replacement inside every stratum — DataFrame[stratum, rank, item, w].

    The stratified counterpart of :func:`weighted_reservoir_sample`
    (curation's "sample k docs per source/domain, longer docs more
    likely" draw). Same order-only ln(u)/w key; the per-stratum cut is
    a rank window, which Spark executes as WindowGroupLimit — per-key
    top-m with no global sort, the shape that survives a stratum-count
    or corpus-size scale-up. Draw independence across strata is free:
    the key depends only on the item id, and an item sits in one
    stratum.
    """
    from pyspark.sql import Window

    w = F.col(weight_col).cast("double")
    u = _u("wres", seed, F.col(id_col).cast("long"))
    keyed = rows.select(
        F.col(strata_col).alias("stratum"),
        F.col(id_col).alias("item"),
        F.col(weight_col).alias("w"),
        (F.log(u) / w).alias("key"),
    )
    rk = Window.partitionBy("stratum").orderBy(
        F.desc("key"), F.asc("item")
    )
    return (
        keyed.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= m)
        .select("stratum", "rank", "item", "w")
    )


def weighted_reservoir_stratified_sql(
    rows_sql: str, m: int, seed: int = 0
) -> str:
    """DuckDB twin of :func:`weighted_reservoir_stratified` over a
    subquery producing (stratum, item, w)."""
    u = _u_sql("wres", seed, "item")
    return f"""
WITH r AS ({rows_sql}),
keyed AS (
  SELECT stratum, item, w, ln({u}) / CAST(w AS DOUBLE) AS key FROM r
),
ranked AS (
  SELECT stratum, item, w,
         CAST(ROW_NUMBER() OVER (PARTITION BY stratum
                                 ORDER BY key DESC, item) AS INT) AS rank
  FROM keyed
)
SELECT stratum, rank, item, w FROM ranked WHERE rank <= {m}
"""


def weighted_reservoir_sql(
    rows_sql: str, m: int, seed: int = 0
) -> str:
    """DuckDB twin of :func:`weighted_reservoir_sample` over a subquery
    producing (item, w) — identical key arithmetic (counter-based u,
    ln(u)/w ordering), key excluded from output."""
    u = _u_sql("wres", seed, "item")
    return f"""
WITH r AS ({rows_sql}),
keyed AS (
  SELECT item, w, ln({u}) / CAST(w AS DOUBLE) AS key FROM r
),
top AS (
  SELECT item, w, key FROM keyed ORDER BY key DESC, item LIMIT {m}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY key DESC, item) AS INT) AS rank,
       item, w
FROM top
"""


# ---------------------------------------------------------------------------
# Sticky sampling (counter-based, reference's simplified Manku–Motwani)
# ---------------------------------------------------------------------------


def _sticky_counts_spark_sql(n: int | None, r: float, seed: int) -> str:
    if n is None:
        sampled = (
            "(SELECT /*+ BROADCAST(_tot) */ * "
            f"FROM {{stream}} CROSS JOIN {_STREAM_TOTAL})"
        )
        rate = f"{sql_double(r)} / _total"
    else:
        sampled, rate = "{stream}", sql_double(r / n)
    return f"""
SELECT item, count(*) AS est_cnt
FROM {{stream}}
JOIN (
  SELECT item, min(seq) AS aseq FROM {sampled} sampled
  WHERE {_u_spark_sql("sticky", seed, "seq")} < {rate}
  GROUP BY item
) admissions USING (item)
WHERE seq >= aseq
GROUP BY item"""


def sticky_counts(
    stream: DataFrame, n: int | None, r: float, seed: int = 0
) -> DataFrame:
    """Sticky-sampling estimated counts: DataFrame[item, est_cnt].

    Reference rule (big_data_computing_3.py:25-33): an untracked item is
    admitted with probability r/n (fixed rate — the reference simplifies
    Manku–Motwani: no rate doubling, no eviction); once tracked, every
    occurrence increments. Equivalently: the item's count is the number
    of its occurrences at-or-after its first "lucky" occurrence, where
    each position is lucky independently with probability r/n. That
    reformulation is one group-by + one join — no sequential state.

    ``n=None`` takes n from the stream inside the plan (a broadcast
    count); the rate is the same double division as ``r / n``.
    """
    return stream.sparkSession.sql(
        _sticky_counts_spark_sql(n, r, seed), stream=stream
    )


def sticky_report(
    stream: DataFrame,
    n: int | None,
    phi: float,
    epsilon: float,
    delta: float,
    seed: int = 0,
) -> DataFrame:
    """Sticky frequent-item estimate with `+`/`-` truth flags:
    DataFrame[item, est_cnt, flag]. Output filter est_cnt > (φ−ε)·n
    (reference big_data_computing_3.py:110).

    ``n`` is the stream length. ``None`` derives it inside the plan from
    the same broadcast count the truth flags use, so building the report
    runs no job; the threshold is the same double product as
    ``(phi - epsilon) * n``.
    """
    est = _sticky_counts_spark_sql(n, sticky_rate(phi, epsilon, delta), seed)
    if n is None:
        est = f"""(
  SELECT /*+ BROADCAST(_tot) */ * FROM ({est}) est CROSS JOIN {_STREAM_TOTAL}
  WHERE est_cnt > {sql_double(phi - epsilon)} * _total)"""
    else:
        est = f"""(
  SELECT * FROM ({est}) est
  WHERE est_cnt > {sql_double((phi - epsilon) * n)})"""
    return stream.sparkSession.sql(
        _flagged_spark_sql(est, "item, est_cnt", phi), stream=stream
    )


def sticky_report_sql(
    stream_sql: str,
    n: int | None,
    phi: float,
    epsilon: float,
    delta: float,
    seed: int = 0,
) -> str:
    """DuckDB twin of :func:`sticky_report` — identical arithmetic.

    ``n=None`` derives the stream length inside the SQL
    (``SELECT COUNT(*) FROM s``), as :func:`sticky_report` with
    ``n=None`` does inside its plan, so the oracle tracks the engine
    query at any scale factor instead of silently diverging away from a
    hardcoded fixture size. Float shape is preserved: DuckDB's
    ``DOUBLE / BIGINT`` and ``DOUBLE * BIGINT`` are the same IEEE ops as
    Python's ``r / n`` and ``(phi-epsilon) * n``.
    """
    r = sticky_rate(phi, epsilon, delta)
    if n is None:
        rate_expr = f"({r!r} / (SELECT COUNT(*) FROM s))"
        thresh_expr = f"({(phi - epsilon)!r} * (SELECT COUNT(*) FROM s))"
    else:
        rate_expr = repr(r / n)
        thresh_expr = repr((phi - epsilon) * n)
    u = _u_sql("sticky", seed, "seq")
    return f"""
WITH s AS ({stream_sql}),
admissions AS (
  SELECT item, MIN(seq) AS aseq FROM s WHERE {u} < {rate_expr} GROUP BY item
),
est AS (
  SELECT s.item, COUNT(*) AS est_cnt
  FROM s JOIN admissions ON s.item = admissions.item
  WHERE s.seq >= admissions.aseq
  GROUP BY s.item
  HAVING COUNT(*) > {thresh_expr}
),
truth AS (
  SELECT item FROM s GROUP BY item
  HAVING COUNT(*) >= {phi!r} * (SELECT COUNT(*) FROM s)
)
SELECT est.item, est.est_cnt,
       CASE WHEN truth.item IS NOT NULL THEN '+' ELSE '-' END AS flag
FROM est LEFT JOIN truth ON est.item = truth.item
"""


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

CMS_WIDTH = 256
CMS_DEPTH = 4


def _cms_bucket(item: Column, row: int, width: int) -> Column:
    """Deterministic bucket of ``item`` in sketch row ``row`` — the
    engine's counter-based hash (functions/hashing.py), so the sketch
    is a pure function of the data and SQL-twinnable."""
    return hash60(
        F.concat(F.lit(f"cms{row}:"), item.cast("string"))
    ) % F.lit(width)


def cms_sketch(
    stream: DataFrame,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    item_col: str = "item",
) -> DataFrame:
    """Count-min sketch of an item stream (Cormode & Muthukrishnan):
    DataFrame[row, bucket, cnt] — ``depth`` hash rows × ``width``
    buckets of ADDITIVE counters.

    The mergeable-summary shape: one map-side-combinable aggregation
    keyed (row, bucket) produces ≤ depth·width rows regardless of
    stream size, and sketches of partitions/days/shards merge by
    adding counters — the property that makes CMS the standard
    frequency summary for unbounded or sharded streams where exact
    per-item state (|distinct items| keys) is too large.
    """
    rows = stream.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cms_bucket(F.col(item_col), r, width).alias(
                            "bucket"
                        ),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb")
    )
    return rows.groupBy(
        F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    ).agg(F.count("*").alias("cnt"))


def cms_frequent_report(
    stream: DataFrame,
    phi: float,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    item_col: str = "item",
) -> DataFrame:
    """True-frequent items with their count-min estimates:
    DataFrame[item, cnt, cms_estimate] — estimate = min over sketch
    rows of the item's bucket counter, never below the true count
    (the CMS one-sided error guarantee, asserted in tests; the
    ε = e/width overestimate bound is the classic analysis).

    The sketch (≤ depth·width rows) broadcasts to the per-item probe —
    no second full-data shuffle: estimates come from the summary, the
    way a production pipeline would query a sketch built elsewhere.
    """
    sketch = cms_sketch(stream, width, depth, item_col)
    items = true_frequent_items(stream, phi, item_col)
    probe = items.select(
        "item",
        "cnt",
        *[
            _cms_bucket(F.col("item"), r, width).alias(f"b{r}")
            for r in range(depth)
        ],
    )
    out = probe
    for r in range(depth):
        side = sketch.where(F.col("row") == r).select(
            F.col("bucket").alias(f"b{r}"), F.col("cnt").alias(f"c{r}")
        )
        out = out.join(F.broadcast(side), f"b{r}")
    est = F.least(*[F.col(f"c{r}") for r in range(depth)])
    return out.select(
        "item", "cnt", est.cast("long").alias("cms_estimate")
    )


def cms_frequent_report_sql(
    stream_sql: str,
    phi: float,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> str:
    """DuckDB twin of :func:`cms_frequent_report`."""
    def bucket(r: str, item_expr: str) -> str:
        return (
            hash60_sql(f"concat('cms{r}:', CAST({item_expr} AS VARCHAR))")
            + f" % {width}"
        )

    bucket_rows = " UNION ALL ".join(
        f"SELECT {r} AS row, {bucket(r, 'item')} AS bucket FROM s"
        for r in range(depth)
    )
    probe_cols = ", ".join(
        f"{bucket(r, 'item')} AS b{r}" for r in range(depth)
    )
    joins = " ".join(
        f"JOIN sk sk{r} ON sk{r}.row = {r} AND sk{r}.bucket = p.b{r}"
        for r in range(depth)
    )
    least = ", ".join(f"sk{r}.cnt" for r in range(depth))
    return f"""
WITH s AS ({stream_sql}),
sk AS (
  SELECT row, bucket, COUNT(*) AS cnt
  FROM ({bucket_rows}) GROUP BY row, bucket
),
freq AS (
  SELECT item, COUNT(*) AS cnt FROM s GROUP BY item
  HAVING COUNT(*) >= {phi!r} * (SELECT COUNT(*) FROM s)
),
p AS (SELECT item, cnt, {probe_cols} FROM freq)
SELECT p.item, p.cnt,
       CAST(LEAST({least}) AS BIGINT) AS cms_estimate
FROM p {joins}
"""


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog
# ---------------------------------------------------------------------------

HLL_P = 8  # 2^8 = 256 registers → ~6.5% standard error
_HLL_K = 54  # exact-integer scale: Σ 2^(K−rho) ≤ 2^(K+8) < 2^63


def hll_registers(
    stream: DataFrame, p: int = HLL_P, item_col: str = "item"
) -> DataFrame:
    """HyperLogLog registers from the engine's counter-based hash:
    DataFrame[bucket, m] with m = max over the bucket's items of rho
    (1-based position of the first set bit in the hash's low 60−p
    bits; rho = 60−p+1 when they are all zero).

    Unlike Spark's native ``approx_count_distinct`` (whose sketch is
    engine-internal and therefore rows-only in the oracle gate), every
    register here is a pure function of the data via hash60, computed
    with INTEGER ops only (shiftright / x&−x / bit_count — no log2,
    whose cast behavior differs between engines): DuckDB reproduces
    the sketch bit-for-bit. One map-side-combinable MAX aggregation to
    ≤ 2^p rows; registers of shards merge by element-wise MAX
    (tested) — the mergeable-summary property that makes HLL the
    standard distinct-count sketch for sharded corpora.
    """
    w = 60 - p
    h = hash60(F.col(item_col).cast("string"))
    bucket = (h % F.lit(2**p)).alias("bucket")
    low = F.shiftright(h, p)  # integer shift — no double round-trip
    lowest = low.bitwiseAND(-low)
    # rho = trailing zeros + 1 = bit_count(lowest − 1) + 1; all-integer
    rho = F.when(low == F.lit(0), F.lit(w + 1)).otherwise(
        F.bit_count(lowest - F.lit(1)).cast("long") + F.lit(1)
    )
    return (
        stream.select(bucket, rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").cast("long").alias("m"))
    )


def hll_estimate(
    stream: DataFrame, p: int = HLL_P, item_col: str = "item"
) -> DataFrame:
    """Raw HyperLogLog cardinality estimate, cross-engine exact:
    1-row DataFrame[z_scaled, n_absent_registers, estimate].

    The harmonic denominator is EXACT integer arithmetic —
    z_scaled = Σ_j 2^(K − M_j) as BIGINT (K = 54; registers never seen
    by any item contribute 2^K, i.e. M_j = 0) — so no
    float-summation-order hazard exists anywhere; the estimate
    α·m²·2^K / z_scaled is one correctly-rounded double division,
    reported at 3 dp. Deliberately the RAW estimate: the small-range
    (linear-counting) correction needs ln, which is not bit-portable
    across engines — a14's native sketch remains the production path,
    this operator makes the HLL family oracle-checkable.
    """
    m = 2**p
    K = _HLL_K
    alpha = 0.7213 / (1.0 + 1.079 / m)
    regs = hll_registers(stream, p, item_col)
    present = regs.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({K} - m AS INT))")
        ).alias("z_p"),
        F.count("*").alias("n_present"),
    )
    z = F.col("z_p") + (F.lit(m) - F.col("n_present")) * F.lit(2**K)
    return present.select(
        z.cast("long").alias("z_scaled"),
        (F.lit(m) - F.col("n_present")).cast("int").alias(
            "n_absent_registers"
        ),
        F.round(
            F.lit(alpha * m * m) * F.lit(float(2**K)) / z.cast("double"),
            3,
        ).alias("estimate"),
    )


def hll_estimate_sql(stream_sql: str, p: int = HLL_P) -> str:
    m = 2**p
    K = _HLL_K
    w = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = hash60_sql("CAST(item AS VARCHAR)")
    return f"""
WITH s AS ({stream_sql}),
hb AS (
  SELECT {h} % {m} AS bucket,
         CAST({h} // {m} AS BIGINT) AS low
  FROM s
),
r AS (
  SELECT bucket,
         CASE WHEN low = 0 THEN {w + 1}
              ELSE CAST(bit_count((low & -low) - 1) AS BIGINT) + 1
         END AS rho
  FROM hb
),
regs AS (SELECT bucket, CAST(MAX(rho) AS BIGINT) AS mreg FROM r
         GROUP BY bucket),
agg AS (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST({K} - mreg AS INT))
              AS BIGINT) AS z_p,
         COUNT(*) AS n_present
  FROM regs
)
SELECT CAST(z_p + ({m} - n_present) * {2**K} AS BIGINT) AS z_scaled,
       CAST({m} - n_present AS INT) AS n_absent_registers,
       ROUND({alpha * m * m!r} * {float(2**K)!r}
             / CAST(z_p + ({m} - n_present) * {2**K} AS DOUBLE), 3)
         AS estimate
FROM agg
"""


def hll_estimate_corrected(
    stream: DataFrame, p: int = HLL_P, item_col: str = "item"
) -> DataFrame:
    """Full HyperLogLog estimator with the small-range
    (linear-counting) correction, cross-engine exact:
    1-row DataFrame[n_absent_registers, raw_estimate, estimate].

    The raw harmonic-mean estimate (see :func:`hll_estimate`) is
    biased for cardinalities below ~2.5·m; Flajolet et al.'s fix is
    linear counting on the empty-register count — estimate =
    m·ln(m/V) when raw ≤ 2.5·m and V > 0 empty registers remain.
    ``hll_estimate``'s docstring calls ln non-bit-portable; that is
    retired here by construction: the ln argument is m/V with V an
    INTEGER in [1, m], so the estimator has exactly m distinct
    possible correction inputs, and tests/test_plans.py
    (test_hll_linear_counting_ln_cross_engine) checks all of them
    cross-engine at the reported 3 dp — Spark (Java Math.log) and
    DuckDB (libm log) agree on every one, making the corrected
    estimate as oracle-able as the raw one. The branch condition
    compares doubles both engines computed from identical exact
    integers, so both always take the same branch."""
    m = 2**p
    K = _HLL_K
    alpha = 0.7213 / (1.0 + 1.079 / m)
    regs = hll_registers(stream, p, item_col)
    present = regs.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({K} - m AS INT))")
        ).alias("z_p"),
        F.count("*").alias("n_present"),
    )
    z = F.col("z_p") + (F.lit(m) - F.col("n_present")) * F.lit(2**K)
    raw = F.lit(alpha * m * m) * F.lit(float(2**K)) / z.cast("double")
    v = (F.lit(m) - F.col("n_present")).cast("long")
    lin = F.lit(float(m)) * F.log(
        F.lit(float(m)) / v.cast("double")
    )
    est = F.when((raw <= F.lit(2.5 * m)) & (v > F.lit(0)), lin).otherwise(
        raw
    )
    return present.select(
        v.cast("int").alias("n_absent_registers"),
        F.round(raw, 3).alias("raw_estimate"),
        F.round(est, 3).alias("estimate"),
    )


def hll_estimate_corrected_sql(stream_sql: str, p: int = HLL_P) -> str:
    """DuckDB twin of :func:`hll_estimate_corrected` — identical
    registers, identical raw expression, identical m·ln(m/V) linear
    count and branch condition."""
    m = 2**p
    K = _HLL_K
    w = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = hash60_sql("CAST(item AS VARCHAR)")
    raw = (
        f"{alpha * m * m!r} * {float(2**K)!r} "
        f"/ CAST(z_p + ({m} - n_present) * {2**K} AS DOUBLE)"
    )
    v = f"({m} - n_present)"
    lin = f"{float(m)!r} * ln({float(m)!r} / CAST({v} AS DOUBLE))"
    return f"""
WITH s AS ({stream_sql}),
hb AS (
  SELECT {h} % {m} AS bucket,
         CAST({h} // {m} AS BIGINT) AS low
  FROM s
),
r AS (
  SELECT bucket,
         CASE WHEN low = 0 THEN {w + 1}
              ELSE CAST(bit_count((low & -low) - 1) AS BIGINT) + 1
         END AS rho
  FROM hb
),
regs AS (SELECT bucket, CAST(MAX(rho) AS BIGINT) AS mreg FROM r
         GROUP BY bucket),
agg AS (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST({K} - mreg AS INT))
              AS BIGINT) AS z_p,
         COUNT(*) AS n_present
  FROM regs
)
SELECT CAST({v} AS INT) AS n_absent_registers,
       ROUND({raw}, 3) AS raw_estimate,
       ROUND(CASE WHEN ({raw}) <= {2.5 * m!r} AND {v} > 0
                  THEN {lin} ELSE {raw} END, 3) AS estimate
FROM agg
"""


# ---------------------------------------------------------------------------
# Equi-width histogram quantile sketch
# ---------------------------------------------------------------------------

HIST_BINS = 64


def histogram_quantiles(
    df: DataFrame,
    col: str,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    n_bins: int = HIST_BINS,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Approximate quantiles from an equi-width histogram:
    DataFrame[q, est] with ``est`` = the lower edge (2dp) of the first
    bin whose cumulative count reaches ``⌈q·n⌉``.

    The MERGEABLE member of the quantile family: ``a13_quantile_stats``
    is the exact interpolated percentile (needs the sorted data /
    full-width aggregation state); this is the O(n_bins) summary that
    unions by adding counters — so it is valid unchanged as streaming
    state (like the CMS and HLL sketches above) and costs one narrow
    aggregate at any scale. Error is bounded by one bin width, by
    construction.

    Bit-portability: values are converted to integer cents, so bin
    edges, widths, and cumulative ranks are ALL integer arithmetic —
    the only floats are the final /100 and the ``⌈q·n⌉`` rank (IEEE
    double in both engines). ``bounds`` fixes (lo, hi) in cents for the
    streaming/merge case where bounds must be agreed upfront; default
    derives them from the data (one extra tiny aggregate).
    """
    cents = F.round(F.col(col) * 100).cast("long")
    vals = df.select(cents.alias("c")).where(F.col("c").isNotNull())
    if bounds is None:
        stats = vals.agg(
            F.min("c").alias("lo"),
            F.max("c").alias("hi"),
            F.count("*").alias("n"),
        )
    else:
        lo_b, hi_b = int(bounds[0]), int(bounds[1])
        stats = vals.agg(
            F.lit(lo_b).cast("long").alias("lo"),
            F.lit(hi_b).cast("long").alias("hi"),
            F.count("*").alias("n"),
        )
    binned = (
        vals.crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"(hi - lo + {n_bins}) div {n_bins}"),
            ),
        )
        .withColumn("bin", F.expr("(c - lo) div w"))
        .groupBy("bin", "lo", "w", "n")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    # The cumulative sum runs over the POST-AGGREGATION bin table —
    # ≤ n_bins rows by construction (one per occupied bin), never the
    # input — so a single window partition is the intended, bounded
    # plan, not a scale hazard. Partitioning by (lo, w, n) — constant
    # across all bins of one run by construction — declares that
    # partition explicitly, silencing WindowExec's "No Partition
    # Defined" warning (aimed at unbounded inputs; a foldable lit()
    # key would be optimized away). A plan test pins the window's
    # child being the bin aggregate.
    cum = binned.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("lo", "w", "n")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    qs = F.explode(
        F.array(*[F.lit(float(q)) for q in quantiles])
    ).alias("q")
    return (
        cum.select("bin", "lo", "w", "n", "cum")
        .crossJoin(F.broadcast(cum.sparkSession.range(1).select(qs)))
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(
            F.round(
                (F.min("bin") * F.first("w") + F.first("lo")) / 100.0, 2
            ).alias("est")
        )
    )


def histogram_quantiles_sql(
    source_expr: str,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    n_bins: int = HIST_BINS,
) -> str:
    """DuckDB twin of :func:`histogram_quantiles` (data-derived bounds).
    ``source_expr``: SQL producing one numeric column named ``v``."""
    qlist = ", ".join(f"CAST({q!r} AS DOUBLE)" for q in quantiles)
    return f"""
WITH vals AS (
  SELECT CAST(ROUND(v * 100) AS BIGINT) AS c FROM ({source_expr})
  WHERE v IS NOT NULL
),
s AS (SELECT MIN(c) AS lo, MAX(c) AS hi, COUNT(*) AS n FROM vals),
b AS (
  SELECT lo, n,
         GREATEST(CAST(1 AS BIGINT), (hi - lo + {n_bins}) // {n_bins})
           AS w
  FROM s
),
bins AS (
  SELECT (vals.c - b.lo) // b.w AS bin, COUNT(*) AS cnt
  FROM vals, b GROUP BY 1
),
cum AS (
  SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM bins
),
qs AS (SELECT unnest([{qlist}]) AS q)
SELECT qs.q AS q,
       ROUND((MIN(cum.bin) * b.w + b.lo) / 100.0, 2) AS est
FROM qs, cum, b
WHERE cum.cum >= CEIL(qs.q * b.n)
GROUP BY qs.q, b.w, b.lo
"""


def histogram_bins(
    df: DataFrame,
    col: str,
    bounds: tuple[int, int],
    n_bins: int = HIST_BINS,
) -> DataFrame:
    """The histogram sketch STATE on its own: fixed-bounds equi-width
    bin counts, DataFrame[bin, cnt].

    This is the streaming-facing primitive behind
    :func:`histogram_quantiles`: with bounds agreed upfront (in integer
    cents), the groupBy is a valid Structured Streaming aggregation in
    complete mode — state is ≤ ``n_bins`` counters, merging across
    batches/partitions is counter addition (same contract as
    :func:`cms_sketch` / :func:`hll_registers`, pinned by the same
    replay-parity test)."""
    lo, hi = int(bounds[0]), int(bounds[1])
    w = max(1, (hi - lo + n_bins) // n_bins)
    cents = F.round(F.col(col) * 100).cast("long")
    return (
        df.select(cents.alias("c"))
        .where(F.col("c").isNotNull())
        .select(F.expr(f"(c - {lo}) div {w}").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hll_estimate_by(
    stream: DataFrame,
    group_col: str,
    p: int = HLL_P,
    item_col: str = "item",
) -> DataFrame:
    """Per-group HyperLogLog estimate — the production shape of
    approximate distinct counting ("distinct users per event type"):
    DataFrame[<group_col>, z_scaled, estimate(3dp)].

    Same integer-exact register/harmonic machinery as
    :func:`hll_estimate`, keyed by (group, bucket): one map-side-
    combinable MAX aggregation to ≤ groups·2^p rows, then a per-group
    sum. Groups share nothing, so the sketch of each group is exactly
    the global sketch of that group's rows (merge property unchanged).
    Raw estimate, same ln-free portability contract as the global twin.
    """
    m = 2**p
    K = _HLL_K
    alpha = 0.7213 / (1.0 + 1.079 / m)
    w = 60 - p
    h = hash60(F.col(item_col).cast("string"))
    bucket = (h % F.lit(2**p)).alias("bucket")
    low = F.shiftright(h, p)
    lowest = low.bitwiseAND(-low)
    rho = F.when(low == F.lit(0), F.lit(w + 1)).otherwise(
        F.bit_count(lowest - F.lit(1)).cast("long") + F.lit(1)
    )
    regs = (
        stream.select(F.col(group_col).alias("g"), bucket, rho.alias("rho"))
        .groupBy("g", "bucket")
        .agg(F.max("rho").cast("long").alias("m"))
    )
    present = regs.groupBy("g").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({K} - m AS INT))")
        ).alias("z_p"),
        F.count("*").alias("n_present"),
    )
    z = F.col("z_p") + (F.lit(m) - F.col("n_present")) * F.lit(2**K)
    return present.select(
        F.col("g").alias(group_col),
        z.cast("long").alias("z_scaled"),
        F.round(
            F.lit(alpha * m * m) * F.lit(float(2**K)) / z.cast("double"),
            3,
        ).alias("estimate"),
    )


def hll_estimate_by_sql(
    stream_sql: str, group_col: str, p: int = HLL_P
) -> str:
    """DuckDB twin of :func:`hll_estimate_by`. ``stream_sql`` must
    yield columns (<group_col>, item)."""
    m = 2**p
    K = _HLL_K
    w = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = hash60_sql("CAST(item AS VARCHAR)")
    return f"""
WITH s AS ({stream_sql}),
hb AS (
  SELECT {group_col} AS g, {h} % {m} AS bucket,
         CAST({h} // {m} AS BIGINT) AS low
  FROM s
),
r AS (
  SELECT g, bucket,
         CASE WHEN low = 0 THEN {w + 1}
              ELSE CAST(bit_count((low & -low) - 1) AS BIGINT) + 1
         END AS rho
  FROM hb
),
regs AS (SELECT g, bucket, CAST(MAX(rho) AS BIGINT) AS mreg FROM r
         GROUP BY g, bucket),
agg AS (
  SELECT g,
         CAST(SUM(CAST(1 AS BIGINT) << CAST({K} - mreg AS INT))
              AS BIGINT) AS z_p,
         COUNT(*) AS n_present
  FROM regs GROUP BY g
)
SELECT g AS {group_col},
       CAST(z_p + ({m} - n_present) * {2**K} AS BIGINT) AS z_scaled,
       ROUND({alpha * m * m!r} * {float(2**K)!r}
             / CAST(z_p + ({m} - n_present) * {2**K} AS DOUBLE), 3)
         AS estimate
FROM agg
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — the bottom-k counterpart of the
# deterministic-HLL family above (Bar-Yossef et al. 2002; the DataSketches
# "theta sketch" base case). Same counter-based hash, so every register is
# a pure function of the data and both engines reproduce the sketch
# bit-for-bit — unlike native approx_count_distinct, the whole estimator
# chain is value-oracled.
# ---------------------------------------------------------------------------

KMV_K = 64
_KMV_SHIFT = 20  # hash60 >> 20 → sketch space M = 2^40
KMV_M = 2**40


def _kmv_hv(item_col: str) -> Column:
    return F.shiftright(
        hash60(F.col(item_col).cast("string")), _KMV_SHIFT
    ).alias("hv")


def kmv_sketch(
    stream: DataFrame,
    k: int = KMV_K,
    item_col: str = "item",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group bottom-``k`` distinct hash sketch:
    DataFrame[*group_cols, pos, hv] with pos = 1..min(k, ndv).

    hv = hash60(item) >> 20 — a 40-bit space so every estimator below
    stays in exact BIGINT arithmetic ((k−1)·2^40 ≪ 2^63; the 20
    dropped bits cost nothing at sketch precision, which is already
    ~1/√k). Sketches MERGE by union + re-bottom-k (tested), the
    property that makes KMV shardable like the HLL registers.

    Plan: distinct (group, hv) with map-side combine, then the rank
    filter — Spark executes it as WindowGroupLimit, i.e. per-partition
    partial bottom-k BEFORE the shuffle, so each partition contributes
    at most k rows per group no matter how many distincts it holds."""
    from pyspark.sql import Window

    gcols = list(group_cols or [])
    d = stream.select(
        *gcols, _kmv_hv(item_col)
    ).distinct()
    w = Window.partitionBy(*gcols).orderBy(F.asc("hv"))
    return (
        d.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= k)
        .select(*gcols, "pos", "hv")
    )


def kmv_estimate(
    stream: DataFrame,
    k: int = KMV_K,
    item_col: str = "item",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group KMV distinct-count estimate:
    DataFrame[*group_cols, n_sketch, kth_hv, estimate].

    The classic unbiased estimator, kept integer: when the sketch is
    not full (ndv < k) the count is EXACT (estimate = n_sketch);
    when full, estimate = (k−1)·M div kth_hv with M = 2^40 — one
    floor division on positive BIGINTs, bit-identical across engines.
    """
    gcols = list(group_cols or [])
    sk = kmv_sketch(stream, k, item_col, group_cols)
    agg = sk.groupBy(*gcols).agg(
        F.count("*").cast("long").alias("n_sketch"),
        F.max("hv").alias("kth_hv"),
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch")
    ).otherwise(
        F.expr(f"CAST({(k - 1) * KMV_M} AS BIGINT) div kth_hv")
    )
    return agg.select(
        *gcols, "n_sketch", "kth_hv", est.cast("long").alias("estimate")
    )


def kmv_jaccard(
    docs: DataFrame,
    label_col: str,
    label_a: str,
    label_b: str,
    k: int = KMV_K,
    item_col: str = "item",
) -> DataFrame:
    """Set-resemblance between the item sets labeled ``label_a`` and
    ``label_b`` from their KMV sketches (Beyer et al., SIGMOD 2007):
    1-row DataFrame[n_union_sketch, n_overlap, jaccard_milli].

    The union's bottom-k is a uniform sample of A ∪ B, so the fraction
    of it present in BOTH per-set sketches estimates |A∩B|/|A∪B|.
    jaccard_milli = 1000·n_overlap div n_union_sketch — floor division
    on positives, the engine's milli convention. Exact (not an
    estimate) whenever |A ∪ B| ≤ k.

    Plan: two grouped sketches off one scan (the label is just a group
    key), a ≤2k-row union re-sketch, and two ≤k-row semi joins —
    nothing beyond the sketch build touches data scale."""
    both = kmv_sketch(
        docs.where(F.col(label_col).isin([label_a, label_b])),
        k,
        item_col,
        group_cols=[label_col],
    )
    a = both.where(F.col(label_col) == label_a).select("hv")
    b = both.where(F.col(label_col) == label_b).select("hv")
    # bottom-k of the ≤2k-row sketch union via orderBy+limit —
    # TakeOrderedAndProject (per-partition heaps + driver merge), not
    # the single-partition row_number window the same selection used
    # to compile to (bounded input either way; this shape is
    # warning-free and the engine's preferred top-K plan)
    union_sk = a.union(b).distinct().orderBy("hv").limit(k)
    overlap = union_sk.join(a, "hv", "left_semi").join(
        b, "hv", "left_semi"
    )
    return (
        union_sk.agg(F.count("*").cast("long").alias("n_union_sketch"))
        .crossJoin(
            overlap.agg(F.count("*").cast("long").alias("n_overlap"))
        )
        .select(
            "n_union_sketch",
            "n_overlap",
            F.expr("(1000 * n_overlap) div n_union_sketch").alias(
                "jaccard_milli"
            ),
        )
    )


def _kmv_hv_sql(item_expr: str) -> str:
    return f"({hash60_sql(f'CAST({item_expr} AS VARCHAR)')} // {2**_KMV_SHIFT})"


def kmv_estimate_sql(
    stream_sql: str,
    k: int = KMV_K,
    group_cols: list[str] | None = None,
) -> str:
    """DuckDB twin of :func:`kmv_estimate` over ``stream_sql``
    producing (item [, *group_cols])."""
    gcols = list(group_cols or [])
    gsel = ", ".join(gcols) + ", " if gcols else ""
    part = f"PARTITION BY {', '.join(gcols)} " if gcols else ""
    return f"""
WITH s AS ({stream_sql}),
d AS (
  SELECT DISTINCT {gsel}{_kmv_hv_sql('item')} AS hv FROM s
),
r AS (
  SELECT {gsel}hv, row_number() OVER ({part}ORDER BY hv ASC) AS pos
  FROM d
),
sk AS (SELECT * FROM r WHERE pos <= {k}),
agg AS (
  SELECT {gsel}CAST(COUNT(*) AS BIGINT) AS n_sketch,
         CAST(MAX(hv) AS BIGINT) AS kth_hv
  FROM sk {('GROUP BY ' + ', '.join(gcols)) if gcols else ''}
)
SELECT {gsel}n_sketch, kth_hv,
       CAST(CASE WHEN n_sketch < {k} THEN n_sketch
                 ELSE {(k - 1) * KMV_M} // kth_hv END AS BIGINT)
         AS estimate
FROM agg
"""


def kmv_jaccard_sql(
    stream_sql: str, label_a: str, label_b: str, k: int = KMV_K
) -> str:
    """DuckDB twin of :func:`kmv_jaccard` over ``stream_sql``
    producing (label, item)."""
    return f"""
WITH s AS ({stream_sql}),
d AS (
  SELECT DISTINCT label, {_kmv_hv_sql('item')} AS hv FROM s
  WHERE label IN ({sql_str(label_a)}, {sql_str(label_b)})
),
r AS (
  SELECT label, hv,
         row_number() OVER (PARTITION BY label ORDER BY hv ASC) AS pos
  FROM d
),
sk AS (SELECT * FROM r WHERE pos <= {k}),
u AS (
  SELECT hv, row_number() OVER (ORDER BY hv ASC) AS pos
  FROM (SELECT DISTINCT hv FROM sk) t
),
us AS (SELECT hv FROM u WHERE pos <= {k}),
ov AS (
  SELECT us.hv FROM us
  WHERE us.hv IN (SELECT hv FROM sk WHERE label = {sql_str(label_a)})
    AND us.hv IN (SELECT hv FROM sk WHERE label = {sql_str(label_b)})
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM us) AS n_union_sketch,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ov) AS n_overlap,
       ((SELECT 1000 * COUNT(*) FROM ov)
        // (SELECT COUNT(*) FROM us)) AS jaccard_milli
"""


def kmv_pairwise_jaccard(
    docs: DataFrame,
    label_col: str,
    k: int = KMV_K,
    item_col: str = "item",
) -> DataFrame:
    """All-pairs set-resemblance matrix over the groups of
    ``label_col`` from their KMV sketches:
    DataFrame[label_a, label_b, n_union_sketch, n_overlap,
    jaccard_milli] for every unordered pair (label_a < label_b).

    The pairwise form of :func:`kmv_jaccard`: one grouped sketch build
    (the only data-scale pass), then pure SKETCH ALGEBRA — for each
    pair, the union's bottom-k is a uniform sample of A ∪ B and the
    overlap fraction estimates Jaccard (Beyer et al. 2007). With G
    groups the pair stage handles G·(G−1)/2 · ≤2k rows — at G=1000
    sources that is ~32M tiny rows, independent of corpus size; the
    corpus-sized work never grows with G².

    Convention: jaccard_milli = 1000·n_overlap div n_union_sketch
    (positive floor division); exact whenever |A ∪ B| ≤ k."""
    from pyspark.sql import Window

    sk = kmv_sketch(docs, k, item_col, group_cols=[label_col]).select(
        F.col(label_col).alias("lab"), "hv"
    )
    labels = sk.select("lab").distinct()
    pairs = (
        labels.select(F.col("lab").alias("label_a"))
        .crossJoin(labels.select(F.col("lab").alias("label_b")))
        .where(F.col("label_a") < F.col("label_b"))
    )
    # pair-membership explode: each pair sees both sides' sketch rows
    side_a = pairs.join(
        sk, F.col("label_a") == F.col("lab")
    ).select("label_a", "label_b", "hv", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    side_b = pairs.join(
        sk, F.col("label_b") == F.col("lab")
    ).select("label_a", "label_b", "hv", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    m = (
        side_a.unionByName(side_b)
        .groupBy("label_a", "label_b", "hv")
        .agg(
            F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
        )
    )
    w = Window.partitionBy("label_a", "label_b").orderBy(F.asc("hv"))
    usk = m.withColumn("pos", F.row_number().over(w)).where(
        F.col("pos") <= k
    )
    return usk.groupBy("label_a", "label_b").agg(
        F.count("*").cast("long").alias("n_union_sketch"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long"))
        .cast("long")
        .alias("n_overlap"),
    ).select(
        "label_a",
        "label_b",
        "n_union_sketch",
        "n_overlap",
        F.expr("(1000 * n_overlap) div n_union_sketch").alias(
            "jaccard_milli"
        ),
    )


def kmv_pairwise_jaccard_sql(
    stream_sql: str, k: int = KMV_K
) -> str:
    """DuckDB twin of :func:`kmv_pairwise_jaccard` over ``stream_sql``
    producing (label, item)."""
    return f"""
WITH s AS ({stream_sql}),
d AS (
  SELECT DISTINCT label AS lab, {_kmv_hv_sql('item')} AS hv FROM s
),
r AS (
  SELECT lab, hv,
         row_number() OVER (PARTITION BY lab ORDER BY hv ASC) AS pos
  FROM d
),
sk AS (SELECT lab, hv FROM r WHERE pos <= {k}),
labs AS (SELECT DISTINCT lab FROM sk),
pairs AS (
  SELECT a.lab AS label_a, b.lab AS label_b
  FROM labs a CROSS JOIN labs b WHERE a.lab < b.lab
),
m AS (
  SELECT label_a, label_b, hv,
         MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT p.label_a, p.label_b, sk.hv, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sk ON sk.lab = p.label_a
    UNION ALL
    SELECT p.label_a, p.label_b, sk.hv, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN sk ON sk.lab = p.label_b
  ) GROUP BY label_a, label_b, hv
),
usk AS (
  SELECT *, row_number() OVER
    (PARTITION BY label_a, label_b ORDER BY hv ASC) AS pos
  FROM m
)
SELECT label_a, label_b,
       CAST(COUNT(*) AS BIGINT) AS n_union_sketch,
       CAST(SUM(in_a * in_b) AS BIGINT) AS n_overlap,
       (1000 * CAST(SUM(in_a * in_b) AS BIGINT))
         // COUNT(*) AS jaccard_milli
FROM usk WHERE pos <= {k}
GROUP BY label_a, label_b
"""


# ---------------------------------------------------------------------------
# Misra-Gries mergeable summaries + exact two-pass frequent items
# ---------------------------------------------------------------------------


def mg_partition_summaries(
    stream: DataFrame, k: int, item_col: str = "item"
) -> DataFrame:
    """Per-partition Misra-Gries summaries of capacity ``k-1``:
    DataFrame[item, lb] with at most ``k-1`` rows per input partition.

    Each partition is streamed through an Arrow batch iterator holding
    at most ``k-1`` counters. A batch's exact counts are merged into
    the counters and, when the table exceeds ``k-1`` entries, the
    k-th-largest counter value is subtracted from every counter and the
    non-positive ones dropped — the mergeable-summaries reduction
    (Agarwal et al., PODS'12). Every reduction step that subtracts
    ``c`` pays ``>= k*c`` total mass, so the per-item undercount within
    a partition of n_p rows is at most n_p/k, and ``lb`` is a LOWER
    bound on the partition-local count.

    Scale shape: one pass over the data, O(k) executor memory per
    partition, and only n_partitions*(k-1) summary rows ever shuffle —
    the heavy-hitter candidate generation for streams too large to
    hash-aggregate exactly in one go.
    """
    if k < 2:
        raise ValueError("k must be >= 2 (capacity k-1 counters)")
    src = stream.select(F.col(item_col).cast("long").alias("item"))

    def _summarize(batches):
        import pandas as pd

        counters: dict[int, int] = {}
        for pdf in batches:
            for it, c in pdf["item"].value_counts().items():
                counters[it] = counters.get(it, 0) + int(c)
            if len(counters) > k - 1:
                vals = sorted(counters.values(), reverse=True)
                cut = vals[k - 1]
                counters = {
                    i: c - cut for i, c in counters.items() if c > cut
                }
        yield pd.DataFrame(
            {"item": list(counters.keys()), "lb": list(counters.values())}
        )

    return src.mapInPandas(_summarize, schema="item long, lb long")


def mg_frequent_exact(
    stream: DataFrame, phi: float, item_col: str = "item", k: int | None = None
) -> DataFrame:
    """EXACT frequent items (count >= phi*n) via the two-pass
    Misra-Gries idiom: DataFrame[item, cnt] == :func:`true_frequent_items`.

    Pass 1 builds per-partition MG summaries with ``k = ceil(1/phi)+1``
    counters. Completeness: if an item's global count exceeds n/k then
    some partition has count_p > n_p/k (averaging), so the item
    survives that partition's summary with lb > 0; k > 1/phi makes
    n/k < phi*n, hence every phi-frequent item is a candidate. Pass 2
    broadcast-semi-joins the candidate set (<= n_partitions*(k-1)
    items) back onto the stream and recounts exactly, so the output is
    the exact phi-frequent set — the sketch only prunes, it never
    decides.

    This is the scale path for exact heavy hitters when the full
    per-item hash aggregate would blow the shuffle: only candidate
    items are ever grouped globally.
    """
    if k is None:
        k = math.ceil(1.0 / phi) + 1
    if k <= 1.0 / phi:
        raise ValueError("k must exceed 1/phi for candidate completeness")
    candidates = (
        mg_partition_summaries(stream, k, item_col)
        .groupBy("item")
        .agg(F.sum("lb").alias("lb"))
        .select("item")
    )
    matched = stream.join(
        F.broadcast(candidates),
        stream[item_col] == candidates["item"],
        "left_semi",
    )
    counts = matched.groupBy(F.col(item_col).alias("item")).agg(
        F.count("*").alias("cnt")
    )
    return (
        counts.crossJoin(
            F.broadcast(stream.agg(F.count("*").alias("_total")))
        )
        .where(F.col("cnt") >= F.lit(phi) * F.col("_total"))
        .select("item", "cnt")
    )


def histogram_quantiles_by(
    df: DataFrame,
    col: str,
    group_col: str,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    n_bins: int = HIST_BINS,
) -> DataFrame:
    """Per-group histogram quantiles: DataFrame[group, q, est] — the
    grouped form of :func:`histogram_quantiles`, same integer-cents
    bins and ⌈q·n⌉ rank, with bounds/width derived PER GROUP (each
    group's histogram is independently mergeable — union two shards by
    adding counters within the group, the same law as the global
    summary). All windows are per-group over n_bins rows; the per-
    group (lo, w, n) triple rides a broadcast join back onto the
    binning, so cost is two narrow aggregates regardless of group
    count — the per-slice latency dashboard shape."""
    from pyspark.sql import Window

    cents = F.round(F.col(col) * 100).cast("long")
    vals = df.select(
        F.col(group_col).alias("grp"), cents.alias("c")
    ).where(F.col("c").isNotNull())
    stats = vals.groupBy("grp").agg(
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
        F.count("*").alias("n"),
    )
    binned = (
        vals.join(F.broadcast(stats), "grp")
        .withColumn(
            "w",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"(hi - lo + {n_bins}) div {n_bins}"),
            ),
        )
        .withColumn("bin", F.expr("(c - lo) div w"))
        .groupBy("grp", "bin", "lo", "w", "n")
        .agg(F.count("*").alias("cnt"))
    )
    cum = binned.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("grp")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    qs = F.explode(
        F.array(*[F.lit(float(q)) for q in quantiles])
    ).alias("q")
    qrows = cum.sparkSession.range(1).select(qs)
    return (
        cum.crossJoin(F.broadcast(qrows))
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("grp", "q")
        .agg(
            F.round(
                (F.min("bin") * F.first("w") + F.first("lo")) / 100.0,
                2,
            ).alias("est")
        )
        .select(F.col("grp").alias(group_col), "q", "est")
    )


def histogram_quantiles_by_sql(
    source_expr: str,
    group_expr: str = "grp",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    n_bins: int = HIST_BINS,
) -> str:
    """DuckDB twin of :func:`histogram_quantiles_by`. ``source_expr``
    must yield columns ``grp`` and ``v``."""
    qlist = ", ".join(f"CAST({q!r} AS DOUBLE)" for q in quantiles)
    return f"""
WITH vals AS (
  SELECT grp, CAST(ROUND(v * 100) AS BIGINT) AS c
  FROM ({source_expr}) WHERE v IS NOT NULL
),
s AS (
  SELECT grp, MIN(c) AS lo, MAX(c) AS hi, COUNT(*) AS n
  FROM vals GROUP BY grp
),
b AS (
  SELECT grp, lo, n,
         GREATEST(CAST(1 AS BIGINT), (hi - lo + {n_bins}) // {n_bins})
           AS w
  FROM s
),
bins AS (
  SELECT vals.grp, (vals.c - b.lo) // b.w AS bin, COUNT(*) AS cnt
  FROM vals JOIN b ON b.grp = vals.grp GROUP BY 1, 2
),
cum AS (
  SELECT grp, bin,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum
  FROM bins
),
qs AS (SELECT unnest([{qlist}]) AS q)
SELECT cum.grp AS {group_expr}, qs.q AS q,
       ROUND((MIN(cum.bin) * b.w + b.lo) / 100.0, 2) AS est
FROM qs, cum
JOIN b ON b.grp = cum.grp
WHERE cum.cum >= CEIL(qs.q * b.n)
GROUP BY cum.grp, qs.q, b.w, b.lo
"""


def kmv_set_ops(
    docs: DataFrame,
    label_col: str,
    label_a: str,
    label_b: str,
    k: int = KMV_K,
    item_col: str = "item",
) -> DataFrame:
    """Theta-sketch-style set algebra from two KMV sketches: 1-row
    DataFrame[est_a, est_b, est_union, est_intersect] — the
    cardinalities of A, B, A∪B, (by inclusion-exclusion) A∩B, and
    the directed differences A∖B / B∖A — all from sketch space,
    never from the full item sets.

    The union of two bottom-k sketches re-bottomed to k IS the KMV
    sketch of A ∪ B (bottom-k of a union = bottom-k of the union of
    bottom-ks), so est_union reuses the :func:`kmv_estimate` rule —
    exact when the union sketch is not full, (k−1)·M div kth_hv when
    it is. ``est_intersect = GREATEST(0, est_a + est_b − est_union)``:
    inclusion-exclusion on three integer estimates, clamped because
    independent ±1/√k noise can push a near-empty intersection
    negative (the clamp is the standard theta-sketch convention).

    Plan: one grouped sketch build off one scan, then pure ≤2k-row
    sketch algebra — the contamination-triage query (how much does
    corpus B's vocabulary overlap corpus A's?) at any corpus size.
    """
    both = kmv_sketch(
        docs.where(F.col(label_col).isin([label_a, label_b])),
        k,
        item_col,
        group_cols=[label_col],
    )
    per = both.groupBy(label_col).agg(
        F.count("*").cast("long").alias("n_sk"),
        F.max("hv").alias("kth"),
    )

    def _est(n_col: str, kth_col: str) -> Column:
        return F.when(F.col(n_col) < k, F.col(n_col)).otherwise(
            F.expr(f"CAST({(k - 1) * KMV_M} AS BIGINT) div {kth_col}")
        )

    a = per.where(F.col(label_col) == label_a).select(
        F.col("n_sk").alias("na"), F.col("kth").alias("ka")
    )
    b = per.where(F.col(label_col) == label_b).select(
        F.col("n_sk").alias("nb"), F.col("kth").alias("kb")
    )
    # bottom-k via orderBy+limit (TakeOrderedAndProject) — see
    # kmv_jaccard: same selection, no single-partition window
    union_agg = (
        both.select("hv")
        .distinct()
        .orderBy("hv")
        .limit(k)
        .agg(
            F.count("*").cast("long").alias("nu"),
            F.max("hv").alias("ku"),
        )
    )
    return (
        a.crossJoin(b)
        .crossJoin(union_agg)
        .select(
            _est("na", "ka").cast("long").alias("est_a"),
            _est("nb", "kb").cast("long").alias("est_b"),
            _est("nu", "ku").cast("long").alias("est_union"),
        )
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.greatest(
                F.lit(0), F.col("est_a") + F.col("est_b") - F.col("est_union")
            )
            .cast("long")
            .alias("est_intersect"),
        )
        .select(
            "*",
            F.expr("GREATEST(0, est_union - est_b)")
            .cast("long")
            .alias("est_diff_a"),
            F.expr("GREATEST(0, est_union - est_a)")
            .cast("long")
            .alias("est_diff_b"),
        )
    )


def kmv_set_ops_sql(
    rows_sql: str,
    label_expr: str,
    label_a: str,
    label_b: str,
    item_expr: str,
    k: int = KMV_K,
) -> str:
    """DuckDB twin of :func:`kmv_set_ops` — identical sketch space,
    estimator rule, and clamp."""
    est = (
        f"CASE WHEN n_sk < {k} THEN n_sk "
        f"ELSE {(k - 1) * KMV_M} // kth END"
    )
    return f"""
WITH base AS (
  SELECT {label_expr} AS lbl, {_kmv_hv_sql(item_expr)} AS hv
  FROM ({rows_sql})
  WHERE {label_expr} IN ({sql_str(label_a)}, {sql_str(label_b)})
  GROUP BY 1, 2
),
sk AS (
  SELECT lbl, hv,
         ROW_NUMBER() OVER (PARTITION BY lbl ORDER BY hv) AS pos
  FROM base QUALIFY pos <= {k}
),
per AS (
  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_sk,
         CAST(MAX(hv) AS BIGINT) AS kth
  FROM sk GROUP BY lbl
),
un AS (
  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS pos
  FROM (SELECT DISTINCT hv FROM sk) QUALIFY pos <= {k}
),
uagg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sk,
         CAST(MAX(hv) AS BIGINT) AS kth
  FROM un
),
est AS (
  SELECT
    (SELECT CAST({est} AS BIGINT) FROM per WHERE lbl = {sql_str(label_a)})
      AS est_a,
    (SELECT CAST({est} AS BIGINT) FROM per WHERE lbl = {sql_str(label_b)})
      AS est_b,
    (SELECT CAST({est} AS BIGINT) FROM uagg) AS est_union
)
SELECT est_a, est_b, est_union,
       GREATEST(0, est_a + est_b - est_union) AS est_intersect,
       GREATEST(0, est_union - est_b) AS est_diff_a,
       GREATEST(0, est_union - est_a) AS est_diff_b
FROM est
"""
