"""Streaming ingest into the ZTable snapshot log.

``foreachBatch`` + the snapshot log's metadata give the table format's
exactly-once story: every micro-batch append records its ``batch_id``
in the snapshot it commits, and a batch whose id is already present in
the log is skipped. Structured Streaming's checkpoint already prevents
re-processing in steady state — the snapshot-side guard covers the case
it cannot: the sink half-completing before a crash (batch committed to
the table, offset not yet checkpointed → the engine REPLAYS the batch
on restart). This is exactly Delta Lake's ``txn`` (appId, version)
action, reduced to one writer stream per table.

Scale note: finding the last committed batch id reads snapshot JSONs
newest-first and stops at the first append that carries one, so steady
state reads one file; an object-store deployment would fold the id into
the same conditional-PUT commit the log already uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.layout import ZTable


def last_committed_batch_id(table: ZTable) -> int | None:
    """Newest ``batch_id`` recorded in the snapshot log, or None."""
    for v in reversed(table.versions()):
        bid = table.snapshot(v).get("batch_id")
        if bid is not None:
            return int(bid)
    return None


def append_batch(
    table: ZTable, batch_df: DataFrame, batch_id: int, n_files: int = 2
) -> bool:
    """Idempotently append one micro-batch: returns True if committed,
    False if ``batch_id`` was already in the log (replayed batch).

    Micro-batch ids are monotonically increasing per query, so the
    guard only needs the newest recorded id — same contract Delta's
    idempotent writes use (``txn.version`` monotonicity)."""
    last = last_committed_batch_id(table)
    if last is not None and batch_id <= last:
        return False
    table.append(batch_df, n_files=n_files, extra_meta={"batch_id": batch_id})
    return True


def table_append_stream(
    src: DataFrame,
    table: ZTable,
    checkpoint_dir: str,
    n_files: int = 2,
):
    """Wire a streaming DataFrame into ``table``: returns the
    DataStreamWriter (caller picks the trigger and calls .start()).
    Each micro-batch becomes one snapshot-log append; replays are
    no-ops via :func:`append_batch`'s batch-id guard."""
    return (
        src.writeStream.foreachBatch(
            lambda df, bid: append_batch(table, df, bid, n_files)
        ).option("checkpointLocation", checkpoint_dir)
    )


class CdfAggState:
    """Incremental materialized-view maintenance off the change data
    feed: a GROUP-BY-count (and optional integer sum) over the table,
    kept current by APPLYING each commit's CDF rows with signs
    (+1 insert / −1 delete) instead of re-aggregating the table — the
    downstream half of the CDC story (``ZTable.changes`` is the
    upstream half; Delta's "incremental view" consumption pattern).

    ``advance(spark)`` folds every commit since the last seen version:
    one ``changes()`` scan of just those commits' touched files, one
    signed aggregation of change-volume-sized input, one driver merge
    into the O(n_keys) state. After any prefix of commits the state
    equals the full GROUP BY over the live table bit-for-bit (asserted
    in tests) — because count and sum are abelian-group aggregates,
    the only class CDF deltas can maintain without re-reads. Keys
    whose count reaches zero are dropped (a full recompute would never
    see them)."""

    def __init__(
        self, table: ZTable, key_col: str, sum_col: str | None = None
    ):
        self.table = table
        self.key_col = key_col
        self.sum_col = sum_col
        self.version = 0
        self.state: dict = {}
        # fold version 0 (create) as one "insert everything" batch
        self._bootstrap_pending = True

    def _apply(self, rows) -> None:
        for r in rows:
            k = r["k"]
            cnt, sm = self.state.get(k, (0, 0))
            cnt += r["dc"]
            sm += r["ds"] if r["ds"] is not None else 0
            if cnt == 0:
                self.state.pop(k, None)
            else:
                self.state[k] = (cnt, sm)

    def advance(self, spark) -> int:
        """Fold commits (self.version, latest]; returns the number of
        commits applied. Replay-safe: advancing twice is a no-op."""
        from pyspark.sql import functions as F

        latest = self.table.latest_version()
        n = 0
        if self._bootstrap_pending:
            base = self.table.read(spark, version=0)
            self._apply(self._signed_agg(base, F.lit(1)))
            self._bootstrap_pending = False
            n += 1
        if latest > self.version:
            ch = self.table.changes(spark, self.version, latest)
            sign = F.when(
                F.col("_change_type") == "insert", F.lit(1)
            ).otherwise(F.lit(-1))
            self._apply(self._signed_agg(ch, sign))
            n += len(
                [
                    v
                    for v in self.table.versions()
                    if self.version < v <= latest
                ]
            )
            self.version = latest
        return n

    def _signed_agg(self, df: DataFrame, sign):
        from pyspark.sql import functions as F

        aggs = [F.sum(sign).cast("long").alias("dc")]
        if self.sum_col is not None:
            aggs.append(
                F.sum(sign * F.col(self.sum_col))
                .cast("long")
                .alias("ds")
            )
        else:
            aggs.append(F.sum(F.lit(0)).cast("long").alias("ds"))
        return (
            df.groupBy(F.col(self.key_col).alias("k"))
            .agg(*aggs)
            .collect()
        )

    def snapshot_equals_recompute(self, spark) -> bool:
        """The parity contract: state == full GROUP BY over the live
        table (version self.version)."""
        from pyspark.sql import functions as F

        full = (
            self.table.read(spark, version=self.version)
            .groupBy(F.col(self.key_col).alias("k"))
            .agg(
                F.count("*").cast("long").alias("cnt"),
                (
                    F.sum(self.sum_col).cast("long")
                    if self.sum_col
                    else F.sum(F.lit(0)).cast("long")
                ).alias("sm"),
            )
            .collect()
        )
        want = {r["k"]: (r["cnt"], r["sm"]) for r in full}
        return want == self.state


class CdfJoinAggState:
    """Incremental maintenance of a JOIN-aggregate view over two
    ZTables: ``V = SELECT g, COUNT(*), SUM(s) FROM A JOIN B USING (k)
    GROUP BY g`` kept current by the classic bag-algebra delta rule

        dV = dA >< B_old  +  A_new >< dB

    (A_new = A_old + dA already contains the dA><dB cross term, so the
    two-term form is exact). Each side's deltas come from
    ``ZTable.changes`` with signs (+1 insert / -1 delete) and the OLD /
    NEW counter-snapshots come from ZTable time travel — no shadow
    copy of either table is kept anywhere. This is the join half of
    the incremental-view-maintenance story (:class:`CdfAggState` is
    the single-table half): the Materialize/DBSP z-set rule expressed
    as two Spark joins per advance.

    Scale shape: each advance joins a CHANGE-VOLUME-sized delta against
    one full-table scan (the delta side is the small side — broadcast
    when it fits), aggregates the signed products map-side, and merges
    O(n_groups) rows into driver state. Count and integer sum are the
    abelian-group aggregates this maintains exactly; after any prefix
    of commits on either table the state equals the full join
    recompute bit-for-bit (the parity contract, asserted in tests).

    ``group_col`` and ``sum_col`` name columns of the JOINED row (from
    either side); ``key`` must exist in both tables and data columns
    must otherwise be disjoint.
    """

    def __init__(
        self,
        table_a: ZTable,
        table_b: ZTable,
        key: str,
        group_col: str,
        sum_col: str | None = None,
    ):
        self.a = table_a
        self.b = table_b
        self.key = key
        self.group_col = group_col
        self.sum_col = sum_col
        self.va = 0
        self.vb = 0
        self.state: dict = {}
        self._bootstrap_pending = True

    def _apply(self, rows) -> None:
        for r in rows:
            g = r["g"]
            cnt, sm = self.state.get(g, (0, 0))
            cnt += r["dc"]
            sm += r["ds"] if r["ds"] is not None else 0
            if cnt == 0:
                self.state.pop(g, None)
            else:
                self.state[g] = (cnt, sm)

    def _signed_agg(self, joined: DataFrame, sign) -> list:
        from pyspark.sql import functions as F

        aggs = [F.sum(sign).cast("long").alias("dc")]
        if self.sum_col is not None:
            aggs.append(
                F.sum(sign * F.col(self.sum_col))
                .cast("long")
                .alias("ds")
            )
        else:
            aggs.append(F.sum(F.lit(0)).cast("long").alias("ds"))
        return (
            joined.groupBy(F.col(self.group_col).alias("g"))
            .agg(*aggs)
            .collect()
        )

    def advance(self, spark) -> int:
        """Fold every commit on either table since the last advance;
        returns the number of commits applied. The dA term joins
        against B at its PRE-advance version and the dB term against A
        at its POST-advance version — the exactness of the two-term
        rule depends on that asymmetry. Replay-safe."""
        from pyspark.sql import functions as F

        sign = F.when(
            F.col("_change_type") == "insert", F.lit(1)
        ).otherwise(F.lit(-1))
        n = 0
        if self._bootstrap_pending:
            j0 = self.a.read(spark, version=0).join(
                self.b.read(spark, version=0), self.key
            )
            self._apply(self._signed_agg(j0, F.lit(1)))
            self._bootstrap_pending = False
            n += 1
        la, lb = self.a.latest_version(), self.b.latest_version()
        if la > self.va:
            d_a = self.a.changes(spark, self.va, la)
            b_old = self.b.read(spark, version=self.vb)
            self._apply(
                self._signed_agg(d_a.join(b_old, self.key), sign)
            )
            n += len(
                [v for v in self.a.versions() if self.va < v <= la]
            )
            self.va = la
        if lb > self.vb:
            d_b = self.b.changes(spark, self.vb, lb)
            a_new = self.a.read(spark, version=self.va)
            self._apply(
                self._signed_agg(a_new.join(d_b, self.key), sign)
            )
            n += len(
                [v for v in self.b.versions() if self.vb < v <= lb]
            )
            self.vb = lb
        return n

    def snapshot_equals_recompute(self, spark) -> bool:
        """Parity contract: state == the full join-aggregate at
        (va, vb)."""
        from pyspark.sql import functions as F

        full = (
            self.a.read(spark, version=self.va)
            .join(self.b.read(spark, version=self.vb), self.key)
            .groupBy(F.col(self.group_col).alias("g"))
            .agg(
                F.count("*").cast("long").alias("cnt"),
                (
                    F.sum(self.sum_col).cast("long")
                    if self.sum_col
                    else F.sum(F.lit(0)).cast("long")
                ).alias("sm"),
            )
            .collect()
        )
        want = {r["g"]: (r["cnt"], r["sm"]) for r in full}
        return want == self.state


class CdfMinMaxState:
    """Incremental MIN/MAX materialized view off the change data feed
    — the NON-invertible half of the IVM story that
    :class:`CdfAggState` (count/sum, abelian-group aggregates) cannot
    cover by signed deltas alone.

    Inserts maintain MIN/MAX incrementally (new bound = min/max of
    old bound and the batch's). Deletes can only WIDEN uncertainty:
    a deleted value strictly inside the current bounds cannot move
    them, but a delete that TIES a bound may expose a new extreme —
    those groups (and only those) are re-read from the live table in
    one predicate-pushed scan per advance (the affected-group
    recompute every real IVM engine falls back to for MIN/MAX; with
    the group key declared in ``stats_cols`` the re-scan prunes to
    the files that can hold those keys). ``rescans`` counts the
    groups re-read so tests can assert advances with no boundary hit
    pay ZERO re-read.

    After any prefix of commits the state equals the full
    GROUP BY key -> (count, min, max) over the live table bit-for-bit
    (asserted in tests), including groups that vanish."""

    def __init__(self, table: ZTable, key_col: str, val_col: str):
        self.table = table
        self.key_col = key_col
        self.val_col = val_col
        self.version = 0
        self.state: dict = {}  # k -> (count, mn, mx)
        self.rescans = 0
        self._bootstrap_pending = True

    def _fold(self, rows, spark) -> None:
        dirty = set()
        for r in rows:
            k = r["k"]
            cnt, mn, mx = self.state.get(k, (0, None, None))
            cnt += r["ic"] - r["dc"]
            if cnt <= 0:
                self.state.pop(k, None)
                dirty.discard(k)
                continue
            if r["ic"]:
                mn = r["imn"] if mn is None else min(mn, r["imn"])
                mx = r["imx"] if mx is None else max(mx, r["imx"])
            self.state[k] = (cnt, mn, mx)
            if r["dc"] and (
                mn is None  # all-null value group: bounds unknowable
                or r["dmn"] is None  # deleted rows carried null values
                or r["dmn"] <= mn
                or r["dmx"] >= mx
            ):
                dirty.add(k)
        if dirty:
            self.rescans += len(dirty)
            from pyspark.sql import functions as F

            fresh = (
                self.table.read(spark, version=self._target)
                .where(F.col(self.key_col).isin(list(dirty)))
                .groupBy(F.col(self.key_col).alias("k"))
                .agg(
                    F.count("*").cast("long").alias("c"),
                    F.min(self.val_col).alias("mn"),
                    F.max(self.val_col).alias("mx"),
                )
                .collect()
            )
            seen = set()
            for r in fresh:
                self.state[r["k"]] = (r["c"], r["mn"], r["mx"])
                seen.add(r["k"])
            for k in dirty - seen:
                self.state.pop(k, None)

    def _agg(self, df: DataFrame, sign_col):
        from pyspark.sql import functions as F

        ins = F.when(sign_col > 0, F.col(self.val_col))
        del_ = F.when(sign_col < 0, F.col(self.val_col))
        return (
            df.groupBy(F.col(self.key_col).alias("k"))
            .agg(
                F.count(ins).cast("long").alias("ic"),
                F.min(ins).alias("imn"),
                F.max(ins).alias("imx"),
                F.count(del_).cast("long").alias("dc"),
                F.min(del_).alias("dmn"),
                F.max(del_).alias("dmx"),
            )
            .collect()
        )

    def advance(self, spark) -> int:
        """Fold commits (self.version, latest]; returns commits
        applied. Replay-safe: advancing twice is a no-op."""
        from pyspark.sql import functions as F

        latest = self.table.latest_version()
        n = 0
        if self._bootstrap_pending:
            self._target = 0
            base = self.table.read(spark, version=0)
            self._fold(self._agg(base, F.lit(1)), spark)
            self._bootstrap_pending = False
            n += 1
        if latest > self.version:
            self._target = latest
            ch = self.table.changes(spark, self.version, latest)
            sign = F.when(
                F.col("_change_type") == "insert", F.lit(1)
            ).otherwise(F.lit(-1))
            self._fold(self._agg(ch, sign), spark)
            n += len(
                [
                    v
                    for v in self.table.versions()
                    if self.version < v <= latest
                ]
            )
            self.version = latest
        return n

    def snapshot_equals_recompute(self, spark) -> bool:
        """Parity contract: state == full GROUP BY over the live
        table at the consumed version."""
        from pyspark.sql import functions as F

        full = (
            self.table.read(spark, version=self.version)
            .groupBy(F.col(self.key_col).alias("k"))
            .agg(
                F.count("*").cast("long").alias("c"),
                F.min(self.val_col).alias("mn"),
                F.max(self.val_col).alias("mx"),
            )
            .collect()
        )
        want = {r["k"]: (r["c"], r["mn"], r["mx"]) for r in full}
        return want == self.state
