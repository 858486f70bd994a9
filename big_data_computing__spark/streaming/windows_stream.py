"""Streaming event-time monitors over per-(key, day) event counts.

Each state folds one micro-batch's (key, day, count) aggregate on the
driver, keyed by batch id so a replayed batch is a no-op, and scores
the folded counts with the batch operator's exact integer math:
`SpikeState` mirrors ``operators.windows.event_spikes`` and `EwmaState`
mirrors ``operators.windows.ewma_daily``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class SpikeState:
    """Driver-side running (event_type, day) counters for streaming
    volume-spike monitoring — the ScatterState/DsirBucketState
    additive-integer pattern: each micro-batch contributes its own
    (type, day, count) aggregate (types × days rows to the driver —
    thousands, not corpus-sized), and the folded state equals the
    batch daily table over the union of arrived rows bit-for-bit
    after any prefix.

    Two read forms:
    - :meth:`spikes` — the CURRENT alert set under the same integer
      ratio as batch ``windows.event_spikes`` (trailing RANGE mean on
      the integer day); scoring the final state reproduces the batch
      operator exactly (asserted in tests), because both fold the
      identical daily table through the identical floor divisions;
    - the online monitoring loop calls :meth:`spikes` per batch — a
      day's alert status may flip while its data is still arriving
      (the documented prequential trade; day-watermarked pipelines
      call it only on closed days).

    Exactly-once: ``update`` is keyed by micro-batch id and ignores
    replays (the foreachBatch idempotence rule).
    """

    def __init__(self, ts_col: str = "ts"):
        self.ts_col = ts_col
        self.counts: dict[tuple[str, int], int] = {}
        self._seen: set[int] = set()

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.windows import event_day

        if batch_id in self._seen:
            return
        self._seen.add(batch_id)
        day = event_day(batch_df, self.ts_col)
        rows = (
            batch_df.select(F.col("event_type"), day.alias("day"))
            .groupBy("event_type", "day")
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        )
        for r in rows:
            key = (r["event_type"], r["day"])
            self.counts[key] = self.counts.get(key, 0) + r["n"]

    def spikes(
        self, horizon_days: int = 7, threshold_milli: int = 2000
    ) -> list[dict]:
        """Alert rows [{event_type, day, n_events, ratio_milli}] under
        the batch operator's exact integer math, sorted by
        (event_type, day)."""
        out = []
        by_type: dict[str, dict[int, int]] = {}
        for (et, d), n in self.counts.items():
            by_type.setdefault(et, {})[d] = n
        for et in sorted(by_type):
            days = by_type[et]
            for d in sorted(days):
                trail = [
                    days[x]
                    for x in range(d - horizon_days, d)
                    if x in days
                ]
                s = sum(trail)
                if s <= 0:
                    continue
                ratio = (1000 * days[d] * len(trail)) // s
                if ratio >= threshold_milli:
                    out.append(
                        {
                            "event_type": et,
                            "day": d,
                            "n_events": days[d],
                            "ratio_milli": ratio,
                        }
                    )
        return out


class EwmaState:
    """Mergeable streaming EWMA-trend state: per-(key, day) event
    counts folded additively across micro-batches (counts are LINEAR
    in the input), with ``estimate()`` recomputing
    ``operators.windows.ewma_daily``'s integer smoothing over the tiny
    accumulated daily grid — bit-identical to the batch operator on
    the union of arrived rows after every prefix (asserted in tests).

    The monitoring shape: events stream in, the per-type trend line +
    today-vs-trend milli ratio re-derive from n_keys × n_days longs,
    never a rescan. Batch ids make replays no-ops. The EWMA itself is
    NOT mergeable (it is order-dependent); the per-day counts are —
    which is why the state stores counts and derives the smoothing,
    the same counts-not-results pattern as KSDriftState."""

    def __init__(
        self, ts_col: str = "ts", key_col: str = "event_type",
        window: int = 8,
    ):
        self.ts_col = ts_col
        self.key_col = key_col
        self.window = window
        self.counts: dict[tuple[str, int], int] = {}
        self._seen: set[int] = set()

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..operators.windows import event_day

        if batch_id in self._seen:
            return
        self._seen.add(batch_id)
        day = event_day(batch_df, self.ts_col)
        rows = (
            batch_df.select(
                F.col(self.key_col).alias("k"), day.alias("d")
            )
            .groupBy("k", "d")
            .agg(F.count("*").cast("long").alias("c"))
            .collect()
        )
        for r in rows:
            key = (r["k"], int(r["d"]))
            self.counts[key] = self.counts.get(key, 0) + int(r["c"])

    def estimate(self) -> list[tuple]:
        """Rows of (key, day, n_events, ewma_milli, ratio_milli) under
        the exact batch convention — zero-filled dense grid per key,
        power-of-two weights, head normalization — sorted by
        (key, day)."""
        by_key: dict[str, dict[int, int]] = {}
        for (k, d), c in self.counts.items():
            by_key.setdefault(k, {})[d] = c
        out = []
        for k in sorted(by_key):
            days = by_key[k]
            d0, d1 = min(days), max(days)
            series = [days.get(d, 0) for d in range(d0, d1 + 1)]
            for t, x in enumerate(series):
                num = den = 0
                for j in range(self.window):
                    if t - j >= 0:
                        wgt = 1 << (self.window - 1 - j)
                        num += series[t - j] * wgt
                        den += wgt
                ewma = (1000 * num) // den
                ratio = (1_000_000 * x) // ewma if ewma > 0 else 0
                out.append((k, d0 + t, x, ewma, ratio))
        return out
