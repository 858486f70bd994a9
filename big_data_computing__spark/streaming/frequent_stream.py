"""Streaming frequent items on Structured Streaming.

Re-expresses the reference's DStream pipeline (big_data_computing_3.py):
socket text stream → per-batch driver-state updates → stop after n items
→ exact / reservoir / sticky reports.

Mapping (SURVEY.md §2.9):
- T1 micro-batch ingestion → ``spark.readStream`` (socket, rate, or file
  source); the reference's 10 ms batch interval is below practical
  Structured Streaming latency — semantics, not latency, is the parity
  target.
- T4 exact counts → stateful ``groupBy().count()`` in complete mode
  (:func:`exact_counts_query`) — Spark's distributed streaming state
  replaces the reference's driver dict (big_data_computing_3.py:84-88).
  Its state is sized to the task slots, not the batch shuffle default.
- T2/T5/T6 samplers → ``foreachBatch`` over a :class:`SamplerState`. The
  engine's samplers are **counter-based** (operators/frequent.py): each
  batch only appends its accepted writes / admissions, keyed by the
  stream position — so the streaming run produces *bit-identical* results
  to the batch operator on the same prefix, which the reference's
  stateful-RNG samplers cannot.
- T3 stop-at-n → batch-granular cutoff in foreachBatch: a batch that
  *starts* at-or-past n is skipped; the batch that crosses n is processed
  in full, then the query stops (replicates big_data_computing_3.py:75-77).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.hashing import TWO_POW_60
from ..functions.sqlsafe import sql_str
from ..operators.frequent import reservoir_size, sticky_rate
from .stateful import start_stateful

ITEM_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("item", T.LongType(), False),
    ]
)


def socket_items(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Socket text stream → DataFrame[item long] (one int per line —
    the reference's source, big_data_computing_3.py:62). Unbounded;
    arrival order is assigned downstream."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .select(F.col("value").cast("long").alias("item"))
    )


def collect_in_arrival_order(batch_df: DataFrame, col: str = "item") -> list:
    """Collect a socket-source micro-batch in true line-arrival order.

    Spark's socket source distributes the lines buffered for an epoch
    round-robin across ``default.parallelism`` partitions
    (``slices(idx % numPartitions)`` in TextSocketMicroBatchStream), so a
    plain ``collect()`` returns them partition-major — interleaved with
    stride = partition count, not in arrival order. Gathering per
    partition (``glom``) and re-interleaving inverts that exactly.

    Arrival order is the samplers' semantic input (the reference's
    "order of the stream", big_data_computing_3.py:80), so the ingest
    layer must recover it before assigning stream positions. The
    round-robin inversion is validated end-to-end by
    tools/compare_streaming.py (streaming ≡ batch bit-parity fails if
    the layout assumption ever breaks).
    """
    parts = batch_df.select(col).rdd.map(lambda r: r[0]).glom().collect()
    out: list = []
    i = 0
    while True:
        added = False
        for p in parts:
            if i < len(p):
                out.append(p[i])
                added = True
        if not added:
            return out
        i += 1


def file_items(spark: SparkSession, directory: str) -> DataFrame:
    """File-source replay of an item stream (test harness): parquet files
    with schema (seq, item) dropped into `directory`."""
    return spark.readStream.schema(ITEM_SCHEMA).parquet(directory)


def exact_counts_query(
    items: DataFrame, checkpoint: str, query_name: str = "exact_counts"
) -> StreamingQuery:
    """Stateful exact per-item counts, complete mode → in-memory sink,
    with one state partition per task slot (:func:`start_stateful`).

    Read results via ``spark.sql(f"SELECT * FROM {query_name}")``.
    """
    counts = items.groupBy("item").count()
    writer = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
    )
    return start_stateful(writer, items.sparkSession)


def _u(tag: str, seed: int, t: int) -> float:
    """Python twin of operators.frequent._u — same md5 counter PRNG."""
    import hashlib

    key = f"{tag}-{seed}-{t}".encode()
    return (
        int(hashlib.md5(key).hexdigest()[:15], 16) / TWO_POW_60
    )


@dataclass
class SamplerState:
    """Driver-held sampler state for foreachBatch (the engine's analogue
    of the reference's dicts/lists, big_data_computing_3.py:65-69), fed by
    the same counter-based PRNG as the batch operators so streaming and
    batch runs agree exactly."""

    n: int
    phi: float
    epsilon: float
    delta: float
    seed: int = 0
    processed: int = 0
    stopped: bool = False
    counts: dict[int, int] = field(default_factory=dict)
    reservoir: dict[int, int] = field(default_factory=dict)  # slot → item
    sticky: dict[int, int] = field(default_factory=dict)  # item → count

    def __post_init__(self) -> None:
        self.m = reservoir_size(self.phi)
        self.rate = sticky_rate(self.phi, self.epsilon, self.delta) / self.n

    def update(self, rows: list[tuple[int, int]]) -> None:
        """Apply one micro-batch of (seq, item) rows.

        Batch-granular cutoff: skip entirely if already at n
        (big_data_computing_3.py:75-76); the crossing batch is processed
        in full.
        """
        if self.stopped or self.processed >= self.n:
            self.stopped = True
            return
        for seq, item in sorted(rows):
            self.processed += 1
            self.counts[item] = self.counts.get(item, 0) + 1
            # reservoir (counter-based; matches operators.frequent)
            if seq <= self.m:
                self.reservoir[seq - 1] = item
            else:
                if _u("res-acc", self.seed, seq) <= self.m / seq:
                    slot = int(_u("res-slot", self.seed, seq) * self.m)
                    self.reservoir[slot] = item
            # sticky
            if item in self.sticky:
                self.sticky[item] += 1
            elif _u("sticky", self.seed, seq) < self.rate:
                self.sticky[item] = 1
        if self.processed >= self.n:
            self.stopped = True

    # -- reports (reference big_data_computing_3.py:110-137) --

    def true_frequent(self) -> list[int]:
        threshold = self.phi * self.processed
        return sorted(
            item for item, c in self.counts.items() if c >= threshold
        )

    def reservoir_items(self) -> list[int]:
        return sorted(set(self.reservoir.values()))

    def sticky_frequent(self) -> list[tuple[int, int]]:
        cut = (self.phi - self.epsilon) * self.n
        return sorted(
            (item, c) for item, c in self.sticky.items() if c > cut
        )


def run_sampler_stream(
    items: DataFrame,
    state: SamplerState,
    checkpoint: str,
    timeout_s: float = 120.0,
) -> SamplerState:
    """Drive a (seq, item) stream through the samplers until n items are
    processed, then stop the query (T3 semantics). Returns the final state.
    """
    query = (
        items.writeStream.foreachBatch(
            lambda batch_df, _epoch: state.update(
                [(r["seq"], r["item"]) for r in batch_df.collect()]
            )
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
    import time as _time

    deadline = _time.time() + timeout_s
    while not state.stopped and _time.time() < deadline:
        _time.sleep(0.2)
    query.stop()
    query.awaitTermination(30)
    return state


class KmvState:
    """Driver-side streaming KMV distinct sketch (the bottom-k twin of
    the CMS/HLL streaming aggregations, which Spark runs natively; a
    bottom-k-of-distinct is not a streaming aggregation, so the state
    lives here): per group, the k smallest distinct 40-bit item hashes.

    Merge law: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B))
    — each micro-batch contributes its OWN ≤ k·n_groups-row sketch
    (all heavy work stays in the cluster; only sketch rows reach the
    driver), and the folded state equals the batch
    :func:`~..operators.frequent.kmv_sketch` over the union of arrived
    rows BIT-FOR-BIT after any prefix (asserted in tests).

    Exactly-once: ``update`` is keyed by micro-batch id and ignores
    replays (the foreachBatch idempotence rule, table_stream.py).
    State is O(k · n_groups) driver ints."""

    def __init__(
        self,
        k: int | None = None,
        item_col: str = "item",
        group_cols: list[str] | None = None,
    ):
        from ..operators.frequent import KMV_K

        self.k = KMV_K if k is None else k
        self.item_col = item_col
        self.group_cols = list(group_cols or [])
        self.sketches: dict[tuple, list[int]] = {}
        self._seen: set[int] = set()

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.frequent import kmv_sketch

        if batch_id in self._seen:
            return
        self._seen.add(batch_id)
        rows = kmv_sketch(
            batch_df, self.k, self.item_col, self.group_cols
        ).collect()
        for r in rows:
            key = tuple(r[c] for c in self.group_cols)
            cur = self.sketches.setdefault(key, [])
            hv = r["hv"]
            if hv not in cur:
                cur.append(hv)
        for key, vals in self.sketches.items():
            vals.sort()
            del vals[self.k :]

    def estimate(self) -> dict[tuple, tuple[int, int, int]]:
        """group key -> (n_sketch, kth_hv, estimate) under the exact
        integer convention of the batch ``kmv_estimate``."""
        from ..operators.frequent import KMV_M

        out = {}
        for key, vals in self.sketches.items():
            n, kth = len(vals), max(vals)
            est = n if n < self.k else (self.k - 1) * KMV_M // kth
            out[key] = (n, kth, est)
        return out


class MgSummaryState:
    """Mergeable Misra-Gries summary maintained across micro-batches:
    at most ``k - 1`` counters in the driver, each batch folded by
    counter addition followed by the Agarwal et al. reduction
    (subtract the k-th largest, drop non-positive) — the same merge
    the batch operator uses per partition
    (operators/frequent.mg_partition_summaries), so after ANY prefix
    of batches the guarantees hold stream-wide:

        count(x) − n/k  <=  lb(x)  <=  count(x)

    and every item with count(x) > n/k is present. Feed ``fold`` the
    cluster-reduced per-partition summaries of a batch (never raw
    rows): driver work and state are O(k) regardless of batch size.
    Batch ids make replays no-ops (the foreachBatch at-least-once
    contract)."""

    def __init__(self, k: int):
        if k < 2:
            raise ValueError("k must be >= 2 (capacity k-1 counters)")
        self.k = k
        self.counters: dict[int, int] = {}
        self.n = 0
        self._batches: set[int] = set()

    def fold(
        self,
        summary_rows,
        n_rows: int,
        batch_id: int | None = None,
    ) -> None:
        """Merge one batch's (item, lb) summary rows; ``n_rows`` is the
        batch's raw row count (tracked for the n/k guarantee)."""
        if batch_id is not None:
            if batch_id in self._batches:
                return
            self._batches.add(batch_id)
        for r in summary_rows:
            it, lb = r["item"], r["lb"]
            self.counters[it] = self.counters.get(it, 0) + int(lb)
        self.n += int(n_rows)
        if len(self.counters) > self.k - 1:
            vals = sorted(self.counters.values(), reverse=True)
            cut = vals[self.k - 1]
            self.counters = {
                i: c - cut for i, c in self.counters.items() if c > cut
            }

    def candidates(self) -> set[int]:
        """Superset of every item with count > n/k over the arrived
        prefix — the first pass of the exact two-pass heavy hitters."""
        return set(self.counters)


def mg_stream_query(
    stream: DataFrame,
    state: MgSummaryState,
    checkpoint_dir: str,
    item_col: str = "item",
) -> StreamingQuery:
    """foreachBatch driver: per-partition MG summaries on the cluster,
    O(k · n_partitions) rows to the driver, one state merge."""
    from ..operators.frequent import mg_partition_summaries

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        summ = mg_partition_summaries(
            batch_df, state.k, item_col
        ).collect()
        state.fold(
            summ, n_rows=batch_df.count(), batch_id=batch_id
        )

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class F2State:
    """Mergeable streaming AMS F2 sketch: the S sign-counters of
    ``operators.stats.f2_sketch`` maintained across micro-batches by
    elementwise addition — counters are LINEAR in the input, so the
    folded state equals the batch counters over the union of arrived
    rows bit-for-bit after any prefix (asserted in tests), and the
    estimate applies the identical lower-median-of-means integer
    convention via ``stats.f2_estimate_from_counters``.

    Each batch contributes its own S-row counter delta (the heavy
    per-item aggregation and sign fan-out stay in the cluster; only
    S integers reach the driver). Batch ids make replays no-ops."""

    def __init__(
        self,
        n_counters: int = 64,
        n_groups: int = 8,
        item_col: str = "item",
        seed: int = 0,
    ):
        if n_counters % n_groups:
            raise ValueError("n_counters must be divisible by n_groups")
        self.n_counters = n_counters
        self.n_groups = n_groups
        self.item_col = item_col
        self.seed = seed
        self.counters = [0] * n_counters
        self._seen: set[int] = set()

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.stats import f2_counters

        if batch_id in self._seen:
            return
        self._seen.add(batch_id)
        for r in f2_counters(
            batch_df, self.item_col, self.n_counters, self.seed
        ).collect():
            self.counters[r["s"]] += int(r["c"])

    def estimate(self) -> int:
        from ..operators.stats import f2_estimate_from_counters

        return f2_estimate_from_counters(
            list(enumerate(self.counters)), self.n_groups
        )


class BootstrapState:
    """Mergeable streaming Poisson-bootstrap state: the R per-replicate
    (Σ w·v, Σ w) partial sums plus (n_rows, Σ v), all ADDITIVE — each
    micro-batch contributes its own R-row replicate-sums table (the
    heavy Generate + aggregate stays in the cluster; 2R+2 integers
    reach the driver), and after any prefix the folded state yields
    the identical (point, lo, hi) milli integers as the batch
    ``operators.stats.poisson_bootstrap_ci`` over the union of arrived
    rows — the weight of a row depends only on (seed, id, rep), never
    on arrival order. Batch ids make replays no-ops."""

    def __init__(
        self,
        value_col: str,
        id_col: str,
        n_replicates: int = 200,
        alpha_permille: int = 50,
        seed: int = 0,
    ):
        self.value_col = value_col
        self.id_col = id_col
        self.n_replicates = n_replicates
        self.alpha_permille = alpha_permille
        self.seed = seed
        self.s = [0] * n_replicates
        self.n = [0] * n_replicates
        self.n_rows = 0
        self.sum_v = 0
        self._seen: set[int] = set()

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..operators.stats import bootstrap_replicate_sums

        if batch_id in self._seen:
            return
        self._seen.add(batch_id)
        for r in bootstrap_replicate_sums(
            batch_df,
            self.value_col,
            self.id_col,
            self.n_replicates,
            self.seed,
        ).collect():
            self.s[r["rep"]] += int(r["s"])
            self.n[r["rep"]] += int(r["n"])
        tot = batch_df.agg(
            F.count("*").alias("c"),
            F.sum(F.col(self.value_col).cast("long")).alias("sv"),
        ).collect()[0]
        self.n_rows += int(tot["c"])
        self.sum_v += int(tot["sv"] or 0)

    def estimate(self) -> tuple[int, int | None, int | None]:
        """(point_milli, lo_milli, hi_milli) under the exact batch
        convention. Degenerate prefixes follow the shared contract
        (stats.bootstrap_ci_from_sums): raises on an empty prefix, and
        returns null CIs if every replicate drew zero weight."""
        from ..operators.stats import bootstrap_ci_from_sums

        return bootstrap_ci_from_sums(
            [
                (rep, self.s[rep], self.n[rep])
                for rep in range(self.n_replicates)
            ],
            self.n_rows,
            self.sum_v,
            self.n_replicates,
            self.alpha_permille,
        )


def _assert_float_keyable(df: DataFrame, col: str, cls: str) -> None:
    """The value/score-keyed states (KSDrift/Cvm/Auc) fold collected
    rows into a ``float``-keyed dict — exact only when the column is
    already a float/integer type whose values round-trip through
    ``float``. A DECIMAL (or non-numeric) column would collapse or
    reorder distinct keys relative to the batch operator's native
    grouping, breaking the documented bit-for-bit prefix equivalence —
    so reject it loudly at update() time (the documented numeric-score
    contract; cast or quantize upstream)."""
    dtype = dict(df.dtypes).get(col)
    ok = ("double", "float", "bigint", "int", "smallint", "tinyint")
    if dtype not in ok:
        raise TypeError(
            f"{cls}: column {col!r} has type {dtype!r}; the float-"
            f"keyed fold requires one of {ok} (decimal/string keys "
            "would collapse or reorder vs the batch operator) — cast "
            "or quantize the column upstream"
        )


class KSDriftState:
    """Mergeable streaming two-sample Kolmogorov-Smirnov state: the
    per-distinct-value (n_base, n_comp) counts of
    ``operators.stats.ks_drift`` folded additively across
    micro-batches — per-value counts are LINEAR in the input, so after
    any batch prefix ``estimate()`` equals the batch operator over the
    union of arrived rows bit-for-bit (asserted in tests). Each batch
    contributes its own distinct-value count delta (the heavy scan
    aggregation stays in the cluster; |batch distinct values| pairs of
    longs reach the driver). Batch ids make replays no-ops.

    State size is proportional to the number of DISTINCT values seen —
    the exact-KS contract. For unbounded-cardinality streams use the
    binned TVD drift (curation.corpus_drift_report), which this class
    deliberately does not replace."""

    def __init__(self, value_col: str, split_col: str, base_value: str):
        self.value_col = value_col
        self.split_col = split_col
        self.base_value = base_value
        self.counts: dict[float, list[int]] = {}
        self._seen: set[int] = set()

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if batch_id in self._seen:
            return
        self._seen.add(batch_id)
        _assert_float_keyable(batch_df, self.value_col, type(self).__name__)
        is_base = (
            F.col(self.split_col) == self.base_value
        ).cast("long")
        rows = (
            batch_df.where(F.col(self.value_col).isNotNull())
            .groupBy(F.col(self.value_col).alias("v"))
            .agg(
                F.sum(is_base).alias("na"),
                F.sum(F.lit(1) - is_base).alias("nb"),
            )
            .collect()
        )
        for r in rows:
            c = self.counts.setdefault(float(r["v"]), [0, 0])
            c[0] += int(r["na"])
            c[1] += int(r["nb"])

    def estimate(self) -> tuple[int, int, int, float | None]:
        """(n_base, n_comp, ks_milli, at_value) under the exact batch
        integer convention (gap = |ca·B − cb·A|, ks_milli =
        1000·max_gap DIV (A·B), at_value = smallest argmax).
        Raises if either slice is still empty — KS between an empty
        CDF and anything is undefined, and the batch twin emits a
        division by zero there too."""
        a_tot = sum(c[0] for c in self.counts.values())
        b_tot = sum(c[1] for c in self.counts.values())
        if a_tot == 0 or b_tot == 0:
            raise ValueError(
                "KSDriftState.estimate: a slice is empty — KS is "
                "undefined until both sides have arrived"
            )
        ca = cb = 0
        best_gap, at_value = -1, None
        for v in sorted(self.counts):
            na, nb = self.counts[v]
            ca += na
            cb += nb
            gap = abs(ca * b_tot - cb * a_tot)
            if gap > best_gap:
                best_gap, at_value = gap, v
        return (
            a_tot,
            b_tot,
            (1000 * best_gap) // (a_tot * b_tot),
            at_value,
        )


class AucState:
    """Mergeable streaming ROC-AUC state: the per-distinct-score
    (pos, neg) counts of ``operators.stats.auc_report`` folded
    additively across micro-batches — counts are LINEAR in the input,
    so after any batch prefix ``estimate()`` equals the batch operator
    over the union of arrived rows bit-for-bit (asserted in tests).
    The model-monitoring shape: score/label pairs stream in from the
    serving path, AUC is readable after every batch without a rescan.

    Each batch contributes its per-score count delta (the aggregation
    runs in the cluster; |batch distinct scores| rows reach the
    driver). Batch ids make replays no-ops. State size ∝ distinct
    scores seen — for unbounded score spaces quantize the score
    upstream (the documented cardinality contract, same as
    KSDriftState's)."""

    def __init__(self, score_col: str, label_col: str):
        self.score_col = score_col
        self.label_col = label_col
        self.counts: dict[float, list[int]] = {}
        self._seen: set[int] = set()

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if batch_id in self._seen:
            return
        self._seen.add(batch_id)
        _assert_float_keyable(batch_df, self.score_col, "AucState")
        is_pos = F.col(self.label_col).cast("boolean").cast("long")
        rows = (
            batch_df.where(
                F.col(self.score_col).isNotNull()
                & F.col(self.label_col).isNotNull()
            )
            .groupBy(F.col(self.score_col).alias("s"))
            .agg(
                F.sum(is_pos).alias("pos"),
                F.sum(F.lit(1) - is_pos).alias("neg"),
            )
            .collect()
        )
        for r in rows:
            c = self.counts.setdefault(float(r["s"]), [0, 0])
            c[0] += int(r["pos"])
            c[1] += int(r["neg"])

    def estimate(self) -> tuple[int, int, int]:
        """(n_pos, n_neg, auc_micro) under the exact batch integer
        convention (doubled midrank U, 10^6 floor). Raises while a
        class is still absent — AUC is undefined there and the batch
        twin divides by zero too."""
        n_pos = sum(c[0] for c in self.counts.values())
        n_neg = sum(c[1] for c in self.counts.values())
        if n_pos == 0 or n_neg == 0:
            raise ValueError(
                "AucState.estimate: a class is still empty — AUC is "
                "undefined until both labels have arrived"
            )
        cneg = 0
        u_x2 = 0
        for s in sorted(self.counts):
            pos, neg = self.counts[s]
            u_x2 += pos * (2 * cneg + neg)
            cneg += neg
        return n_pos, n_neg, (1_000_000 * u_x2) // (2 * n_pos * n_neg)


class HtState:
    """Mergeable streaming Horvitz-Thompson state: the per-stratum
    (n_rows, n_sampled, exact_cents, sampled_cents) sums of
    ``operators.stats.ht_total`` folded additively across
    micro-batches — all four are LINEAR in the input, so after any
    prefix ``estimate()`` equals the batch operator over the union of
    arrived rows bit-for-bit (asserted in tests). The streaming-AQP
    dashboard shape: the estimator updates per batch from four longs
    per stratum, never a rescan, and membership is the same pure md5
    row function both engines replay.

    Batch ids make replays no-ops. Strata outside the pinned rate map
    are excluded exactly as in the batch operator."""

    def __init__(
        self,
        value_col: str,
        stratum_col: str,
        id_col: str,
        rates: dict[str, tuple[int, int]] | None = None,
        seed: str | None = None,
    ):
        from ..operators.stats import HT_RATES, HT_SEED

        self.value_col = value_col
        self.stratum_col = stratum_col
        self.id_col = id_col
        self.rates = rates or HT_RATES
        self.seed = seed if seed is not None else HT_SEED
        self.sums: dict[str, list[int]] = {}
        self._seen: set[int] = set()

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..functions.hashing import hash60

        if batch_id in self._seen:
            return
        self._seen.add(batch_id)
        arms = " ".join(
            f"WHEN stratum = {sql_str(s)} THEN {(num << 60) // den}"
            for s, (num, den) in self.rates.items()
        )
        rows = (
            batch_df.select(
                F.col(self.stratum_col).alias("stratum"),
                F.round(F.col(self.value_col) * 100)
                .cast("long")
                .alias("cents"),
                hash60(
                    F.concat(
                        F.lit(self.seed + ":"),
                        F.col(self.id_col).cast("string"),
                    )
                ).alias("h"),
            )
            .where(F.col("stratum").isin(list(self.rates)))
            .select(
                "stratum",
                "cents",
                (F.col("h") < F.expr(f"CASE {arms} END"))
                .cast("long")
                .alias("in_sample"),
            )
            .groupBy("stratum")
            .agg(
                F.count("*").alias("n"),
                F.sum("in_sample").alias("ns"),
                F.sum("cents").alias("ec"),
                F.sum(F.col("cents") * F.col("in_sample")).alias("sc"),
            )
            .collect()
        )
        for r in rows:
            c = self.sums.setdefault(r["stratum"], [0, 0, 0, 0])
            c[0] += int(r["n"])
            c[1] += int(r["ns"])
            c[2] += int(r["ec"])
            c[3] += int(r["sc"] or 0)

    def estimate(self) -> list[tuple]:
        """Rows of (stratum, n_rows, n_sampled, exact_cents,
        est_cents, err_milli) under the exact batch integer
        convention, sorted by stratum."""
        out = []
        for s in sorted(self.sums):
            n, ns, ec, sc = self.sums[s]
            num, den = self.rates[s]
            est = (den * sc) // num
            err = (1000 * abs(est - ec)) // ec if ec > 0 else None
            out.append((s, n, ns, ec, est, err))
        return out


class GiniState:
    """Mergeable streaming Gini-concentration state: per-(group,
    value) counts of ``operators.stats.gini_by`` folded additively
    across micro-batches; ``estimate()`` re-derives the exact
    sorted-rank identity from the accumulated counts — bit-identical
    to the batch operator on the union of arrived rows after every
    prefix. Same counts-not-results pattern as AucState; state size ∝
    distinct (group, value) pairs (quantize unbounded value spaces
    upstream, the documented cardinality contract)."""

    def __init__(self, value_col: str, group_col: str):
        self.value_col = value_col
        self.group_col = group_col
        self.counts: dict[tuple[str, int], int] = {}
        self._seen: set[int] = set()

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if batch_id in self._seen:
            return
        self._seen.add(batch_id)
        rows = (
            batch_df.select(
                F.col(self.group_col).alias("g"),
                F.col(self.value_col).cast("long").alias("v"),
            )
            .where(F.col("v") >= 0)
            .groupBy("g", "v")
            .agg(F.count("*").cast("long").alias("c"))
            .collect()
        )
        for r in rows:
            key = (r["g"], int(r["v"]))
            self.counts[key] = self.counts.get(key, 0) + int(r["c"])

    def estimate(self) -> list[tuple]:
        """Rows of (group, n, total, gini_milli) under the exact batch
        convention (rank ties collapse: equal values contribute the
        same regardless of order), sorted by group; zero-total groups
        dropped as in batch."""
        by_g: dict[str, dict[int, int]] = {}
        for (g, v), c in self.counts.items():
            by_g.setdefault(g, {})[v] = by_g.setdefault(g, {}).get(v, 0) + c
        out = []
        for g in sorted(by_g):
            n = total = iw = 0
            rank = 0
            for v in sorted(by_g[g]):
                c = by_g[g][v]
                # ranks rank+1 .. rank+c all hold value v:
                # Σ i·v over the run = v · (c·rank + c(c+1)/2)
                iw += v * (c * rank + c * (c + 1) // 2)
                rank += c
                n += c
                total += v * c
            if total > 0:
                out.append(
                    (g, n, total,
                     (1000 * (2 * iw - (n + 1) * total)) // (n * total))
                )
        return out


class CvmDriftState:
    """Mergeable streaming Cramér–von Mises state: the same
    per-distinct-value (n_base, n_comp) counts as :class:`KSDriftState`
    (linear, replay-safe), with ``estimate()`` evaluating the
    integrated-squared-gap criterion of ``operators.stats.cvm_drift``
    instead of the supremum — run both states off one stream and the
    dashboard shows the sharp-shift detector and the accumulated-shift
    detector side by side from identical folded counts."""

    def __init__(self, value_col: str, split_col: str, base_value: str):
        self.value_col = value_col
        self.split_col = split_col
        self.base_value = base_value
        self.counts: dict[float, list[int]] = {}
        self._seen: set[int] = set()

    update = KSDriftState.update

    def estimate(self) -> tuple[int, int, int]:
        """(n_base, n_comp, cvm_micro) under the exact batch integer
        convention. Raises while a slice is empty (criterion
        undefined; the batch twin divides by zero there too)."""
        n = sum(c[0] for c in self.counts.values())
        m = sum(c[1] for c in self.counts.values())
        if n == 0 or m == 0:
            raise ValueError(
                "CvmDriftState.estimate: a slice is empty — the "
                "criterion is undefined until both sides have arrived"
            )
        ca = cb = 0
        u = 0
        for v in sorted(self.counts):
            na, nb = self.counts[v]
            ca += na
            cb += nb
            u += (na + nb) * (ca * m - cb * n) ** 2
        big_n = n + m
        return n, m, (1_000_000 * u) // (big_n * big_n * n * m)
