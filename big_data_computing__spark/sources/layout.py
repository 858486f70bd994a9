"""Z-order write layout + per-file min/max manifest pruning.

Two layers:

* the original single-shot layout writers (``write_zordered`` /
  ``write_lexicographic`` + ``read_pruned``), which produce one
  immutable directory with one ``_file_manifest.json``; and
* :class:`ZTable`, the evolving form — a versioned snapshot log with
  incremental ``append``, ``compact`` (OPTIMIZE ZORDER), time-travel
  reads, and ``vacuum`` — an Iceberg/Delta-shaped metadata layer over
  plain parquet.

The data-skipping story in two halves, the way Delta/Iceberg do it:

1. **Layout** (`write_zordered` / `write_lexicographic`): cluster rows
   into files by Morton key (``operators/outliers.zorder_key``) so each
   file covers a small axis-aligned box in (x, y) — what
   ``OPTIMIZE ... ZORDER BY (x, y)`` produces. A lexicographic (x, y)
   sort is the strawman: files are thin x-slabs spanning ALL of y, so
   min/max stats can prune only the leading column.
2. **Manifest** (`_file_manifest.json`, `read_pruned`): after the write,
   one narrow scan over the hidden ``_metadata.file_path`` column
   aggregates per-file min/max of the layout columns — the same stats a
   Delta transaction log / Iceberg manifest file records. A range query
   loads the manifest (tiny: one row per file, driver-side by design,
   exactly like a table format's planning step), keeps only files whose
   box intersects the predicate box, and hands Spark just those paths.
   The residual filter still applies, so pruning is purely an
   optimization — never a correctness change.

At 100 TB the manifest is the only part a driver touches (#files rows);
the stats scan is a metadata-column aggregation Spark evaluates without
reading data pages for the non-projected columns. The reference has no
write path at all (driver stdout only, big_data_computing_1.py:109-114);
this extends the engine's parquet sink the way its own queries (p2/c6's
range predicates) would want at scale.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_file_manifest.json"


# Lossless type-widening lattice (the Delta "type widening" feature
# set): a value of the left type is exactly representable in the right
# type — integer upcasts, float -> double, and small-int -> float/
# double (int -> double is exact: 53-bit mantissa holds every int32).
# long -> double is NOT here (lossy above 2^53).
_WIDENINGS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "float"), ("smallint", "float"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
}


def _can_widen(src: str, dst: str) -> bool:
    return src == dst or (src, dst) in _WIDENINGS


def _wider(a: str, b: str) -> str | None:
    """The wider of two primitive type names if one losslessly
    contains the other, else None (incompatible)."""
    if _can_widen(a, b):
        return b
    if _can_widen(b, a):
        return a
    return None


def _reconcile_types(
    table_types: dict[str, str] | None,
    batch_types: dict[str, str],
    schema_mode: str,
    ctx: str = "append",
) -> tuple[dict[str, str] | None, dict[str, str]]:
    """Merge a batch's column types into the table's recorded types.
    Returns ``(merged_types, casts)``: ``casts`` maps batch columns
    that must be upcast to the (wider) recorded type before writing,
    so data files never carry a type narrower than an EARLIER
    snapshot recorded; a batch column WIDER than the recorded type
    widens the recorded type instead (``schema_mode='merge'`` only) —
    older, narrower files are then read through the widened schema via
    the parquet readers' read-time widening, no rewrite. Incompatible
    types raise. ``table_types=None`` (legacy snapshot) disables type
    tracking entirely."""
    if table_types is None:
        return None, {}
    merged = dict(table_types)
    casts: dict[str, str] = {}
    for c, bt in batch_types.items():
        tt = table_types.get(c)
        if tt is None:
            merged[c] = bt  # newly added column
            continue
        if bt == tt:
            continue
        w = _wider(bt, tt)
        if w is None:
            raise ValueError(
                f"{ctx}: column {c!r} batch type {bt} is incompatible "
                f"with table type {tt}"
            )
        if w == tt:
            casts[c] = tt
        else:
            if schema_mode != "merge":
                raise ValueError(
                    f"{ctx}: column {c!r} batch type {bt} widens "
                    f"table type {tt}; pass schema_mode='merge' to "
                    "evolve the schema"
                )
            merged[c] = bt
    return merged, casts


def _df_types(df: DataFrame) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


class ConcurrentWriteConflict(RuntimeError):
    """A read-modify-write commit (compact / delete / merge) lost the
    version race and could not be safely rebased within its retry
    budget. The op's data files are on disk but uncommitted
    (vacuum-able); re-run the operation against the new table state —
    the Delta ``ConcurrentAppendException`` / ``ConcurrentDelete…``
    family collapsed into one type."""


BLOOM_PROBES = 3
_BLOOM_WORD = 60  # bits per manifest bloom word (fits signed BIGINT)


def _bloom_probe_positions(col: str, bits: int):
    """Array column of the ``BLOOM_PROBES`` probe positions for a
    value: hash60(str(v) || '#i') % bits — the same cross-engine hash
    primitive the sampling oracles use, so a probe is a pure function
    of the value."""
    from ..functions.hashing import hash60

    return F.array(
        *[
            hash60(
                F.concat(F.col(col).cast("string"), F.lit(f"#{i}"))
            )
            % F.lit(bits)
            for i in range(BLOOM_PROBES)
        ]
    )


def _file_blooms(
    spark: SparkSession, path: str, col: str, bits: int
) -> dict[str, list[int]]:
    """Per-file Bloom filter over ``col`` for every parquet file under
    ``path``: file -> dense list of ceil(bits/60) 60-bit words. One
    narrow aggregate (only ``col``'s pages are read); words OR-combine
    map-side, so each partition ships at most n_words rows per file."""
    n_words = (bits + _BLOOM_WORD - 1) // _BLOOM_WORD
    probes = (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_path").alias("file"),
            F.explode(_bloom_probe_positions(col, bits)).alias("pos"),
        )
        .select(
            "file",
            F.expr(f"pos DIV {_BLOOM_WORD}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))"
            ).alias("b"),
        )
        .groupBy("file", "word")
        .agg(F.bit_or("b").alias("wv"))
        .collect()
    )
    out: dict[str, list[int]] = {}
    for r in probes:
        out.setdefault(r["file"], [0] * n_words)[r["word"]] = r["wv"]
    return out


def _file_ndv_sketches(
    spark: SparkSession, path: str, col: str, k: int
) -> dict[str, list[int]]:
    """Per-file KMV bottom-k distinct sketch over ``col`` for every
    parquet file under ``path``: file -> sorted list of ≤ k 40-bit
    hashes (the same hv space as operators.frequent.kmv_sketch, so
    file sketches MERGE into table-level estimates by union +
    re-bottom-k). The rank filter runs as WindowGroupLimit — partial
    per-partition bottom-k before any shuffle."""
    from pyspark.sql import Window

    from ..operators.frequent import _kmv_hv

    d = (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_path").alias("file"),
            F.col(col).alias("item"),
        )
        .select("file", _kmv_hv("item"))
        .distinct()
    )
    w = Window.partitionBy("file").orderBy(F.asc("hv"))
    rows = (
        d.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= k)
        .collect()
    )
    out: dict[str, list[int]] = {}
    for r in rows:
        out.setdefault(r["file"], []).append(r["hv"])
    for v in out.values():
        v.sort()
    return out


def _bloom_value_probes(value, bits: int) -> list[tuple[int, int]]:
    """(word, mask) pairs a file's bloom must ALL contain for the file
    to possibly hold ``value`` — the driver-side probe. Uses the same
    md5-derived hash as the write side (pure python re-implementation,
    pinned equal by test)."""
    import hashlib

    out = []
    for i in range(BLOOM_PROBES):
        h = int(
            hashlib.md5(f"{value}#{i}".encode()).hexdigest()[:15], 16
        )
        pos = h % bits
        out.append((pos // _BLOOM_WORD, 1 << (pos % _BLOOM_WORD)))
    return out


def _file_stats(
    spark: SparkSession,
    path: str,
    x: str,
    y: str,
    extra_cols: tuple[str, ...] | list[str] = (),
    bloom_cols: tuple[str, ...] | list[str] = (),
    bloom_bits: int = 1024,
    ndv_cols: tuple[str, ...] | list[str] = (),
    ndv_k: int = 64,
) -> list[dict]:
    """Per-file min/max of the layout columns (plus any ``extra_cols``)
    for every parquet file under ``path``, via the hidden
    ``_metadata.file_path`` column — the stats a Delta transaction log /
    Iceberg manifest records. One tiny aggregate; the non-projected
    columns' data pages are never read. Extra columns land in the
    entries as ``min_<col>`` / ``max_<col>`` keys. ``bloom_cols`` adds
    a per-file Bloom filter (``bloom_<col>`` = dense 60-bit word list)
    for point-lookup skipping on high-cardinality columns whose
    min/max boxes span everything — the Parquet/Iceberg bloom idea
    lifted to the manifest so planning stays driver-side."""
    aggs = [
        F.min(x).alias("min_x"),
        F.max(x).alias("max_x"),
        F.min(y).alias("min_y"),
        F.max(y).alias("max_y"),
        F.count("*").alias("n_rows"),
        # on-disk parquet bytes (constant per file): the byte-budget
        # input broadcast gates need — row counts alone can't see a
        # wide-string table blowing executor broadcast memory
        F.min("_fsize").alias("size_bytes"),
    ]
    for c in extra_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
        # per-file null count (Delta's nullCount): IS NULL skips files
        # with none, IS NOT NULL skips all-null files — min/max can't
        # answer either (they ignore nulls)
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        )
    stats = (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.file_size").alias("_fsize"),
            x,
            y,
            *extra_cols,
        )
        .groupBy("file")
        .agg(*aggs)
    )
    entries = [r.asDict() for r in stats.collect()]
    for c in bloom_cols:
        blooms = _file_blooms(spark, path, c, bloom_bits)
        for e in entries:
            e[f"bloom_{c}"] = blooms.get(e["file"], [])
    for c in ndv_cols:
        sketches = _file_ndv_sketches(spark, path, c, ndv_k)
        for e in entries:
            e[f"ndv_{c}"] = sketches.get(e["file"], [])
    entries.sort(key=lambda e: e["file"])
    return entries


def _write_manifest(
    spark: SparkSession, path: str, x: str, y: str
) -> list[dict]:
    """Scan the just-written files' metadata column and record per-file
    min/max of the layout columns. Returns the manifest entries."""
    entries = _file_stats(spark, path, x, y)
    with open(os.path.join(path, MANIFEST_NAME), "w") as fh:
        json.dump({"x": x, "y": y, "files": entries}, fh, indent=1)
    return entries


def write_zordered(
    df: DataFrame,
    path: str,
    x: str = "x",
    y: str = "y",
    n_files: int = 16,
    cell: float = 1.0,
    bits: int = 20,
) -> list[dict]:
    """Write ``df`` as ``n_files`` parquet files clustered by Morton
    key of the ``cell``-quantized (x, y), plus the min/max manifest.

    repartitionByRange on the key gives contiguous, balanced key ranges
    (range partitioner samples the key distribution), so each file is a
    compact Z-curve segment ≈ a small box in both dimensions. The key
    is a transient column — dropped before the write.
    """
    _zorder_write(df, path, x, y, n_files, cell, bits)
    return _write_manifest(df.sparkSession, path, x, y)


def _zorder_write(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    n_files: int,
    cell: float,
    bits: int,
) -> None:
    """Write the data files of a Z-ordered layout (no manifest)."""
    from ..operators.outliers import zorder_key

    ci = F.floor(F.col(x) / cell).cast("long")
    cj = F.floor(F.col(y) / cell).cast("long")
    mins = df.agg(
        F.min(ci).alias("_mci"), F.min(cj).alias("_mcj")
    )
    keyed = df.crossJoin(F.broadcast(mins)).withColumn(
        "_zkey",
        zorder_key(ci - F.col("_mci"), cj - F.col("_mcj"), bits),
    ).drop("_mci", "_mcj")
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_hilbert(
    df: DataFrame,
    path: str,
    x: str = "x",
    y: str = "y",
    n_files: int = 16,
    cell: float = 1.0,
    bits: int = 16,
) -> list[dict]:
    """Hilbert-clustered layout: files are contiguous ranges of the
    Hilbert key (``operators/outliers.hilbert_key``) of the
    ``cell``-quantized (x, y) — the liquid-clustering write order.

    Same manifest contract and write shape as :func:`write_zordered`;
    the difference is the curve. Consecutive Hilbert keys are always
    grid-adjacent cells, so a file holding a contiguous key range never
    absorbs the cross-plane jumps the Morton curve takes at quadrant
    boundaries — its min/max stats box is tighter and a box query
    prunes at least as many files (measured in STRESS.md and pinned by
    test_layout.py)."""
    _hilbert_write(df, path, x, y, n_files, cell, bits)
    return _write_manifest(df.sparkSession, path, x, y)


def _hilbert_write(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    n_files: int,
    cell: float,
    bits: int,
) -> None:
    """Write the data files of a Hilbert-clustered layout (no
    manifest) — the curve-swapped twin of :func:`_zorder_write`."""
    from ..operators.outliers import hilbert_key

    ci = F.floor(F.col(x) / cell).cast("long")
    cj = F.floor(F.col(y) / cell).cast("long")
    mins = df.agg(F.min(ci).alias("_mci"), F.min(cj).alias("_mcj"))
    keyed = df.crossJoin(F.broadcast(mins)).withColumn(
        "_hkey",
        hilbert_key(ci - F.col("_mci"), cj - F.col("_mcj"), bits),
    ).drop("_mci", "_mcj")
    (
        keyed.repartitionByRange(n_files, "_hkey")
        .sortWithinPartitions("_hkey")
        .drop("_hkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _zorder3_data_write(
    df: DataFrame,
    path: str,
    cols: tuple[str, str, str],
    n_files: int,
    cell: float,
    bits: int,
) -> None:
    """Data files of a 3-D Morton layout (no manifest) — the 3-column
    twin of :func:`_zorder_write`."""
    from ..operators.outliers import zorder_key3

    q = [F.floor(F.col(col) / cell).cast("long") for col in cols]
    mins = df.agg(
        F.min(q[0]).alias("_m0"),
        F.min(q[1]).alias("_m1"),
        F.min(q[2]).alias("_m2"),
    )
    keyed = (
        df.crossJoin(F.broadcast(mins))
        .withColumn(
            "_zkey",
            zorder_key3(
                q[0] - F.col("_m0"),
                q[1] - F.col("_m1"),
                q[2] - F.col("_m2"),
                bits,
            ),
        )
        .drop("_m0", "_m1", "_m2")
    )
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _table_data_write(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    zcol: str | None,
    n_files: int,
    cell: float,
    bits: int,
    curve: str = "morton",
) -> None:
    """Dispatch a ZTable data write to the 2-D (Morton or Hilbert,
    per the table's recorded ``curve``) or 3-D Morton layout
    depending on whether the table declared a third layout column."""
    if zcol is None:
        if curve == "hilbert":
            # Hilbert keys stay in 2*bits <= 62; the table default
            # bits=20 exceeds no bound (40 bits)
            _hilbert_write(df, path, x, y, n_files, cell, bits)
        else:
            _zorder_write(df, path, x, y, n_files, cell, bits)
    else:
        _zorder3_data_write(df, path, (x, y, zcol), n_files, cell, bits)


def write_lexicographic(
    df: DataFrame,
    path: str,
    x: str = "x",
    y: str = "y",
    n_files: int = 16,
) -> list[dict]:
    """The comparison layout: files are contiguous (x, y)-lexicographic
    ranges — thin slabs in x spanning the full y extent, so y min/max
    stats are useless for pruning. Same manifest contract."""
    (
        df.repartitionByRange(n_files, x, y)
        .sortWithinPartitions(x, y)
        .write.mode("overwrite")
        .parquet(path)
    )
    return _write_manifest(df.sparkSession, path, x, y)


def prune_files(
    path: str,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
) -> tuple[list[str], int]:
    """Manifest planning step: (files whose stats box intersects the
    query box, total file count). Pure driver-side metadata — no data
    files are opened."""
    with open(os.path.join(path, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    xs, xe = x_range
    ys, ye = y_range
    keep = [
        e["file"]
        for e in manifest["files"]
        if e["max_x"] >= xs
        and e["min_x"] <= xe
        and e["max_y"] >= ys
        and e["min_y"] <= ye
    ]
    return keep, len(manifest["files"])


def read_pruned(
    spark: SparkSession,
    path: str,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    x: str = "x",
    y: str = "y",
) -> tuple[DataFrame, int, int]:
    """Range query through the manifest: returns (result DataFrame over
    ONLY the intersecting files with the exact residual filter applied,
    n_files_read, n_files_total). Falls back to every file listed in
    the manifest when the predicate box covers the table."""
    files, total = prune_files(path, x_range, y_range)
    if not files:
        # empty selection: preserve schema via a zero-file read of the
        # full table filtered to false
        df = spark.read.parquet(path).where(F.lit(False))
        return df, 0, total
    df = spark.read.parquet(*files)
    res = df.where(
        (F.col(x) >= x_range[0])
        & (F.col(x) <= x_range[1])
        & (F.col(y) >= y_range[0])
        & (F.col(y) <= y_range[1])
    )
    return res, len(files), total


# ---------------------------------------------------------------------------
# ZTable — versioned snapshot log over the Z-order layout
# ---------------------------------------------------------------------------

SNAPSHOT_DIR = "_snapshots"
REFS_DIR = "_refs"
BRANCHES_DIR = "_branches"

#: every Nth commit is a full file-list checkpoint; the commits in
#: between store only their (adds, removes) delta against the previous
#: version — the Delta Lake log design, which makes blind-append commit
#: metadata O(batch) instead of O(live files). Reconstruction cost is
#: bounded by this interval.
CHECKPOINT_INTERVAL = 10


class LogStore:
    """Abstract commit-log storage for :class:`ZTable` — the Delta
    LogStore contract, reduced to what optimistic concurrency needs:

    - ``put_if_absent(version, text)``: ATOMIC publish; raises
      ``FileExistsError`` iff the version is already committed. This is
      the ONLY primitive the whole conflict protocol (append rebase,
      RMW conflict-range checks) keys on.
    - ``read(version) -> str`` (``FileNotFoundError`` if absent),
      ``list_versions() -> list[int]`` (ascending), ``delete(version)``
      (vacuum).

    Snapshot JSON goes through the store; DATA files are parquet
    written by Spark executors and addressed by URI in the snapshots,
    so they need no coordination — exactly Delta's split. Swapping the
    filesystem store for an object-store conditional PUT
    (S3 If-None-Match / GCS if-generation-match) is a subclass, not a
    table change; :class:`InMemoryLogStore` plays that role in tests,
    proving the protocol never leans on filesystem semantics beyond
    this interface.
    """

    def put_if_absent(self, version: int, text: str) -> None:
        raise NotImplementedError

    def read(self, version: int) -> str:
        raise NotImplementedError

    def list_versions(self) -> list[int]:
        raise NotImplementedError

    def delete(self, version: int) -> None:
        raise NotImplementedError


class FileSystemLogStore(LogStore):
    """Single-filesystem LogStore: ``os.link`` from a per-writer
    unique temp name is the atomic claim (two writers racing for the
    same version never share a staging inode — a shared name would let
    one writer's truncate/rewrite publish under the other's link, and
    the winner's cleanup unlink would turn the loser's signal into
    FileNotFoundError; see the r5 race fix, STRESS.md). POSIX ``link``
    fails with ``FileExistsError`` iff the target exists — the exact
    conditional-PUT semantics the protocol needs."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def _key(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version:05d}.json")

    def put_if_absent(self, version: int, text: str) -> None:
        os.makedirs(self.log_dir, exist_ok=True)
        final = self._key(version)
        tmp = (
            f"{final}.{os.getpid()}.{threading.get_ident()}."
            f"{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "w") as fh:
            fh.write(text)
        try:
            os.link(tmp, final)  # atomic publish; loses race -> raises
        finally:
            os.unlink(tmp)

    def read(self, version: int) -> str:
        with open(self._key(version)) as fh:
            return fh.read()

    def list_versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def delete(self, version: int) -> None:
        os.unlink(self._key(version))


class InMemoryLogStore(LogStore):
    """Dict-backed LogStore with compare-and-swap publish — the test
    stand-in for an object store's conditional PUT. The optional
    ``on_put`` hook fires INSIDE the lock-free window (after the
    conflict check would pass, before the claim), for deterministic
    race injection."""

    def __init__(self):
        self._lock = threading.Lock()
        self._snaps: dict[int, str] = {}
        self.on_put = None  # optional callable(version) for race tests

    def put_if_absent(self, version: int, text: str) -> None:
        if self.on_put is not None:
            self.on_put(version)
        with self._lock:
            if version in self._snaps:
                raise FileExistsError(f"version {version} exists")
            self._snaps[version] = text

    def read(self, version: int) -> str:
        try:
            return self._snaps[version]
        except KeyError:
            raise FileNotFoundError(f"version {version}") from None

    def list_versions(self) -> list[int]:
        return sorted(self._snaps)

    def delete(self, version: int) -> None:
        del self._snaps[version]


class ZTable:
    """An evolving Z-ordered table: plain parquet data files plus an
    Iceberg/Delta-shaped snapshot log.

    Layout on disk::

        <path>/_snapshots/v00000.json   # one immutable snapshot per commit
        <path>/data-v00000/part-*.parquet
        <path>/data-v00001/part-*.parquet

    Each LOGICAL snapshot is the COMPLETE live-file list (with per-file
    min/max stats) at that version — readers never list directories,
    they read exactly the files a snapshot names. PHYSICALLY the log is
    incremental (the Delta Lake transaction-log design): version 0 and
    every ``checkpoint_interval``-th commit store the full list (a
    checkpoint); commits in between store only (adds, removes) deltas
    against their parent, so blind-append commit METADATA is O(batch)
    instead of O(live files) — at 100 TB a table holds millions of
    files and rewriting the full manifest per append would dwarf the
    data write. ``snapshot()`` resolves deltas by folding forward from
    the nearest checkpoint (chain ≤ the interval; memoized per handle),
    and an op whose delta would not be smaller than the full list (a
    compact rewrites everything) stores a checkpoint regardless of
    cadence. ``vacuum`` keeps the tiny log records a retained delta
    chains through, while still reclaiming dropped versions' data
    files. The logical contract is unchanged: that gives:

    * **incremental append** — a commit writes one new data dir, scans
      only those files for stats, and writes snapshot ``v+1`` = parent's
      entries + the new ones. Cost is O(batch), not O(table).
    * **snapshot isolation / time travel** — ``read(version=n)`` sees
      exactly version ``n``'s files; a concurrent append creates new
      dirs the pinned list never references, so pinned readers are
      unaffected mid-scan.
    * **compaction** (``OPTIMIZE ... ZORDER``) — rewrites the live rows
      into fresh Z-ordered files and commits a snapshot listing ONLY
      those; the old files stay on disk for time travel until
      ``vacuum`` drops versions.

    Commit protocol: stats are computed first, then the snapshot JSON is
    written to a temp name and published with ``os.link`` — which fails
    with ``FileExistsError`` if another writer already committed that
    version (optimistic concurrency, first writer wins). Data dirs
    carry a per-writer random token (``data-v00003-a1b2c3d4``) so two
    racing writers can never clobber each other's files; snapshots name
    files explicitly, so the dir name is only a provenance hint, and a
    loser's dir is orphaned and vacuum-able. ``append`` can REBASE a
    lost race (``max_retries``): its data files are already on disk and
    a blind append conflicts with nothing, so the retry just re-reads
    the new latest snapshot and re-commits metadata — no data rewrite,
    exactly Delta's blind-append conflict rule. Read-modify-write
    commits (compact / delete / merge) resolve a lost race by
    conflict-range checks (``max_retries`` > 0): interleaved blind
    appends whose file stats boxes are disjoint from the op's
    predicate/match region commute, so the op rebases metadata-only;
    an overlapping append or a non-append commit re-runs the op (or,
    for compact, raises) against the new state, keeping the serial
    order modify-AFTER-append. An exhausted budget raises
    :class:`ConcurrentWriteConflict`.
    Log storage is pluggable (:class:`LogStore`): the default
    :class:`FileSystemLogStore` publishes with ``os.link``; the 100 TB
    deployment swaps in an object-store conditional PUT (S3
    If-None-Match) by subclassing the four-method store, exactly as
    Delta's LogStore does — everything else (manifest shape, planning,
    isolation, the rebase/conflict protocol) is storage-agnostic,
    proven by running the full lifecycle + races over
    :class:`InMemoryLogStore` in tests.

    Beyond the layout pair (x, y), ``create(stats_cols=[...])`` records
    min/max for any additional columns in every manifest entry (carried
    through append/compact/delete/merge); ``read_pruned_where`` then
    plans file skipping from ANY recorded column's range predicate —
    the Delta ``dataSkippingNumIndexedCols`` story.

    Schema evolution (``schema_mode='merge'``) covers column ADDS
    (older files null-fill on read) and TYPE WIDENING (int chain,
    float -> double, small-int -> float/double): a wider batch widens
    the recorded ``column_types`` and older narrow files are read
    through the widened schema via the parquet readers' read-time
    widening — never a rewrite; a narrower batch upcasts at write
    time; incompatible changes raise. Reads use the snapshot's
    recorded schema explicitly, so each version time-travels with its
    own schema.
    """

    def __init__(
        self,
        path: str,
        x: str = "x",
        y: str = "y",
        z: str | None = None,
        log_store: LogStore | None = None,
    ):
        self.path = path
        self.x = x
        self.y = y
        # the optional THIRD layout column; persisted in every snapshot
        # as "zcol", so handles opened without it recover it lazily
        self._z = z
        # commit log storage; default = the os.link filesystem store.
        # Every snapshot read/list/publish/delete routes through this,
        # so an object-store port swaps ONLY the store.
        self.log = log_store or FileSystemLogStore(
            os.path.join(path, SNAPSHOT_DIR)
        )
        #: full-checkpoint cadence for the incremental commit log (see
        #: CHECKPOINT_INTERVAL); per-handle tunable, not persisted —
        #: any cadence reads any log, the interval only shapes writes
        self.checkpoint_interval = CHECKPOINT_INTERVAL
        # logical-snapshot cache: log records are immutable per version
        # (put_if_absent is the only publish), so entries never go
        # stale; _resolve returns deep copies so callers can't corrupt
        # the cache through the returned dicts
        self._snap_cache: dict[int, dict] = {}

    def zcol(self, snap: dict | None = None) -> str | None:
        """The table's third layout column (None for 2-D tables)."""
        if self._z is not None:
            return self._z
        try:
            self._z = (snap or self.snapshot()).get("zcol")
        except FileNotFoundError:
            return None
        return self._z

    # -- snapshot log -----------------------------------------------------

    def _new_data_dir(self, version: int) -> str:
        """Fresh, collision-free data directory for one write attempt.
        The version in the name is a provenance hint only — snapshots
        list file paths explicitly — and the random token keeps two
        racing writers (who both think they're writing ``version``)
        out of each other's directories."""
        token = os.urandom(4).hex()
        return os.path.join(self.path, f"data-v{version:05d}-{token}")

    def stats_cols(self, snap: dict | None = None) -> list[str]:
        """Extra stats columns recorded by this table's snapshots."""
        return list((snap or self.snapshot()).get("stats_cols", []))

    def curve(self, snap: dict | None = None) -> str:
        """The table's recorded clustering curve: ``"morton"``
        (default, also every pre-curve snapshot) or ``"hilbert"``
        (liquid-clustering-style layout; see write_hilbert for the
        measured pruning delta). Parameterizes clustering quality
        only — read correctness always comes from per-file stats."""
        if snap is None:
            snap = self.snapshot()
        return str(snap.get("curve", "morton"))

    def bloom_cols(self, snap: dict | None = None) -> list[str]:
        """Columns with per-file manifest Bloom filters."""
        if snap is None:
            if not self.versions():
                return []
            snap = self.snapshot()
        return list(snap.get("bloom_cols", []))

    def bloom_bits(self, snap: dict | None = None) -> int:
        if snap is None:
            if not self.versions():
                return 1024
            snap = self.snapshot()
        return int(snap.get("bloom_bits", 1024))

    def ndv_cols(self, snap: dict | None = None) -> list[str]:
        """Columns with per-file KMV NDV sketches in the manifest."""
        if snap is None:
            if not self.versions():
                return []
            snap = self.snapshot()
        return list(snap.get("ndv_cols", []))

    def ndv_k(self, snap: dict | None = None) -> int:
        if snap is None:
            if not self.versions():
                return 64
            snap = self.snapshot()
        return int(snap.get("ndv_k", 64))

    def versions(self) -> list[int]:
        """Committed versions still present in the log, ascending."""
        return self.log.list_versions()

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no snapshots under {self.path}")
        return vs[-1]

    def _read_schema_ddl(self, snap: dict) -> str | None:
        """Explicit read schema (DDL string) from the snapshot's
        recorded columns + types, or None for legacy snapshots without
        type tracking (those fall back to parquet mergeSchema). The
        explicit schema gives the two evolution semantics in one shot:
        files missing an added column null-fill it, and files written
        before a type widening are read through the wider type by the
        parquet readers' read-time widening."""
        cols = snap.get("columns")
        types = snap.get("column_types")
        if not cols or not types or set(cols) - set(types):
            return None
        return ", ".join(f"`{c}` {types[c]}" for c in cols)

    def _read_files(self, spark: SparkSession, files, snap: dict):
        """Scan exactly these manifest entries (or raw paths) under
        the snapshot's schema contract: the recorded explicit schema
        when types are tracked (null-fill for added columns, read-time
        widening for widened ones), parquet mergeSchema for legacy
        snapshots. When the snapshot records column renames, files are
        grouped by the schema EPOCH they were written under, each
        group is read with its epoch's on-disk names, aliased to the
        current names, and the groups union — a rename never touches
        data files."""
        entries = [
            e if isinstance(e, dict) else {"file": e} for e in files
        ]
        ddl = self._read_schema_ddl(snap)
        renames = snap.get("epoch_renames") or {}
        if ddl is None or not renames:
            reader = spark.read
            reader = (
                reader.option("mergeSchema", "true")
                if ddl is None
                else reader.schema(ddl)
            )
            return self._apply_dvs(
                spark,
                reader.parquet(*[e["file"] for e in entries]),
                snap,
            )
        cols = snap["columns"]
        types = snap["column_types"]
        by_epoch: dict[int, list[str]] = {}
        for e in entries:
            by_epoch.setdefault(int(e.get("epoch", 0)), []).append(
                e["file"]
            )
        parts = []
        for ep, paths in sorted(by_epoch.items()):
            # current name -> the name epoch-ep files used on disk
            disk_of = {
                cur: disk
                for disk, cur in renames.get(str(ep), {}).items()
            }
            ep_ddl = ", ".join(
                f"`{disk_of.get(c, c)}` {types[c]}" for c in cols
            )
            parts.append(
                self._apply_dvs(
                    spark, spark.read.schema(ep_ddl).parquet(*paths),
                    snap,
                ).select(
                    *[
                        F.col(disk_of.get(c, c)).alias(c)
                        for c in cols
                    ]
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _apply_dvs(
        self, spark: SparkSession, df: DataFrame, snap: dict
    ) -> DataFrame:
        """Merge-on-read: subtract the snapshot's deletion vectors —
        (file_path, row_index) tombstones written by
        :meth:`delete_where_dv` — from a freshly-scanned DataFrame via
        one anti-join on the parquet ``_metadata`` position columns.
        No-op when the snapshot carries no DVs."""
        dvs = snap.get("dvs") or []
        if not dvs:
            return df
        dv = spark.read.parquet(*dvs).select(
            F.col("file_path").alias("_dv_fp"),
            F.col("row_index").alias("_dv_ri"),
        )
        tagged = df.withColumns(
            {
                "_fp": F.col("_metadata.file_path"),
                "_ri": F.col("_metadata.row_index"),
            }
        )
        return tagged.join(
            dv,
            (tagged["_fp"] == dv["_dv_fp"])
            & (tagged["_ri"] == dv["_dv_ri"]),
            "left_anti",
        ).drop("_fp", "_ri")

    @staticmethod
    def _schema_meta(snap: dict) -> dict:
        """The rename-tracking and deletion-vector keys every commit
        carries forward (compact pops ``dvs`` — it materializes
        them)."""
        return {
            k: snap[k]
            for k in (
                "schema_epoch", "epoch_renames", "retired_names", "dvs",
                "bloom_cols", "bloom_bits", "ndv_cols", "ndv_k",
                "constraints", "curve",
            )
            if k in snap
        }

    @staticmethod
    def _stamp_epoch(entries: list[dict], snap: dict) -> list[dict]:
        """Mark new manifest entries with the schema epoch their files
        were written under (omitted at epoch 0 for compatibility)."""
        ep = snap.get("schema_epoch", 0)
        if ep:
            for e in entries:
                e["epoch"] = ep
        return entries

    def snapshot(self, version: int | None = None) -> dict:
        """The LOGICAL snapshot at ``version`` — always with the
        complete ``files`` list, whether the log stored that version as
        a full checkpoint or as a delta record (see :meth:`_commit`).
        Delta records are resolved by folding (adds, removes) forward
        from the nearest checkpoint; the chain is bounded by the
        writing handle's ``checkpoint_interval``. ``version`` may be a
        TAG name (see :meth:`tag`) — resolved to its pinned version."""
        if isinstance(version, str):
            version = self.resolve_tag(version)
        v = self.latest_version() if version is None else version
        return self._resolve(v)

    def _resolve(self, v: int) -> dict:
        import copy

        if v in self._snap_cache:
            return copy.deepcopy(self._snap_cache[v])
        try:
            rec = json.loads(self.log.read(v))
        except FileNotFoundError:
            raise FileNotFoundError(
                f"version {v} of {self.path} does not exist "
                "(never committed, or vacuumed away)"
            ) from None
        if "files" in rec:
            snap = rec
        else:
            # delta record: upsert adds over the parent's file map
            # (an add REPLACES a same-path entry — that is how carried
            # entries whose content changed, e.g. epoch stamps, are
            # encoded), then drop removes
            parent = self._resolve(rec["delta_of"])
            fmap = {e["file"]: e for e in parent["files"]}
            for f in rec["removes"]:
                fmap.pop(f, None)
            for e in rec["adds"]:
                fmap[e["file"]] = e
            snap = {
                k: val
                for k, val in rec.items()
                if k not in ("delta_of", "adds", "removes")
            }
            snap["files"] = sorted(
                fmap.values(), key=lambda e: e["file"]
            )
        self._snap_cache[v] = snap
        return copy.deepcopy(snap)

    def history(self) -> list[dict]:
        """One summary row per retained snapshot (the DESCRIBE HISTORY
        view): version, operation, file and row counts."""
        out = []
        for v in self.versions():
            s = self.snapshot(v)
            out.append(
                {
                    "version": v,
                    "operation": s["operation"],
                    "n_files": len(s["files"]),
                    "n_rows": sum(e["n_rows"] for e in s["files"]),
                }
            )
        return out

    def history_metrics(self) -> list[dict]:
        """DESCRIBE HISTORY with per-commit operation metrics (Delta's
        operationMetrics): files/rows added and removed per commit,
        computed driver-side from consecutive manifest diffs — no data
        read. ``rows_removed`` counts rows of files LEAVING the
        manifest (a compact therefore shows the full rewrite volume on
        both sides; a DV delete shows 0 here — its tombstone count
        lives in the commit's own ``n_deleted`` metadata)."""
        out = []
        prev: dict[str, int] = {}
        for v in self.versions():
            s = self.snapshot(v)
            cur = {e["file"]: e["n_rows"] for e in s["files"]}
            added = [f for f in cur if f not in prev]
            removed = [f for f in prev if f not in cur]
            out.append(
                {
                    "version": v,
                    "operation": s["operation"],
                    "files_added": len(added),
                    "files_removed": len(removed),
                    "rows_added": sum(cur[f] for f in added),
                    "rows_removed": sum(prev[f] for f in removed),
                    "n_files": len(cur),
                    "n_rows": sum(cur.values()),
                }
            )
            prev = cur
        return out

    # -- named refs (tags) + rollback -------------------------------------

    def _refs_dir(self) -> str:
        d = os.path.join(self.path, REFS_DIR)
        os.makedirs(d, exist_ok=True)
        return d

    @staticmethod
    def _ref_name_ok(name: str) -> None:
        if not name or not all(
            c.isalnum() or c in "._-" for c in name
        ) or name.startswith("."):
            raise ValueError(f"invalid ref name: {name!r}")

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin an IMMUTABLE named ref to a snapshot (Iceberg's tags):
        ``tag('prod-2024w07')`` then ``read(spark, version='prod-2024w07')``
        forever resolves the same snapshot. Tags are create-only
        (``O_EXCL`` — re-pointing a tag is a delete + create, so two
        racing taggers can't silently swap targets) and ``vacuum``
        RETAINS every tagged version and its reconstruction chain —
        a tag is the durable audit/repro handle, the retention window
        only governs unnamed history. Refs live beside the log as one
        tiny JSON each (``<path>/_refs/<name>.json``); they are
        pointers INTO the log, not commits, exactly Iceberg's
        refs-in-metadata design."""
        self._ref_name_ok(name)
        v = self.latest_version() if version is None else version
        self._resolve(v)  # must exist (and not be vacuumed away)
        path = os.path.join(self._refs_dir(), f"{name}.json")
        fd = None
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(
                fd, json.dumps({"name": name, "version": v}).encode()
            )
        except FileExistsError:
            raise FileExistsError(
                f"tag {name!r} already exists (tags are immutable — "
                "delete_tag it first to re-point)"
            ) from None
        finally:
            if fd is not None:
                os.close(fd)
        return v

    def tags(self) -> dict[str, int]:
        """All tags as {name: version} (empty dict if none)."""
        d = os.path.join(self.path, REFS_DIR)
        if not os.path.isdir(d):
            return {}
        out: dict[str, int] = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".json"):
                rec = json.loads(open(os.path.join(d, fn)).read())
                out[rec["name"]] = rec["version"]
        return out

    def resolve_tag(self, name: str) -> int:
        t = self.tags()
        if name not in t:
            raise FileNotFoundError(
                f"tag {name!r} does not exist on {self.path}"
            )
        return t[name]

    def delete_tag(self, name: str) -> None:
        self._ref_name_ok(name)
        path = os.path.join(self.path, REFS_DIR, f"{name}.json")
        try:
            os.unlink(path)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"tag {name!r} does not exist on {self.path}"
            ) from None

    def restore(self, target: int | str) -> int:
        """RESTORE TABLE TO VERSION — rollback as a new commit (the
        Delta RESTORE semantics): the new snapshot's file list AND all
        non-file metadata (schema, column types, rename epochs, DVs,
        stats/bloom/ndv config) are copied from ``target`` (a version
        number or tag name), so post-restore reads are
        indistinguishable from reading ``target`` directly — but
        history is PRESERVED: nothing is deleted, the rolled-back
        versions remain time-travelable until vacuum, and the change
        feed reports the rollback as exact delete(new)+insert(restored)
        rows like any other commit. Metadata-only: no data file is
        read, written, or moved. A lost commit race raises
        ConcurrentWriteConflict — a restore decision made against a
        stale latest must be re-taken by the operator, never silently
        rebased."""
        snap = self.snapshot(
            self.resolve_tag(target) if isinstance(target, str) else target
        )
        latest = self.latest_version()
        meta = {
            k: v
            for k, v in snap.items()
            if k not in ("version", "operation", "x", "y", "files")
        }
        meta["restored_from"] = snap["version"]
        try:
            return self._commit(
                latest + 1, "restore", snap["files"], meta
            )
        except FileExistsError:
            raise ConcurrentWriteConflict(
                f"restore to v{snap['version']} lost the commit race "
                f"for v{latest + 1}; re-examine the new latest and "
                "re-issue"
            ) from None

    # -- CHECK constraints (Delta's table invariants) ----------------------

    @staticmethod
    def _enforce_constraints(df: DataFrame, snap: dict) -> None:
        """Reject a batch violating any recorded CHECK constraint.
        SQL-standard semantics: a row violates only when the predicate
        evaluates FALSE — NULL passes (add an explicit IS NOT NULL to
        a constraint to forbid nulls)."""
        cons = snap.get("constraints") or {}
        for name, expr in cons.items():
            n_bad = df.where(
                F.coalesce(F.expr(expr), F.lit(True)) == False  # noqa: E712
            ).count()
            if n_bad:
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated by "
                    f"{n_bad} row(s) of the batch — nothing committed"
                )

    def constraints(self) -> dict[str, str]:
        """The table's recorded CHECK constraints ({} if none)."""
        return dict(self.snapshot().get("constraints") or {})

    def add_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> int:
        """ALTER TABLE ADD CONSTRAINT: validate ``expr`` against the
        LIVE table first (a constraint existing data violates is a
        lie), then record it in a metadata-only commit; every later
        append/upsert batch is checked before anything commits, and
        every commit path carries the constraint set forward. A lost
        commit race raises :class:`ConcurrentWriteConflict`."""
        parent = self.snapshot()
        cons = dict(parent.get("constraints") or {})
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists: {cons[name]}"
            )
        self._enforce_constraints(
            self.read(spark), {"constraints": {name: expr}}
        )
        cons[name] = expr
        meta = {
            k: v
            for k, v in parent.items()
            if k not in ("version", "operation", "x", "y", "files")
        }
        meta["constraints"] = cons
        try:
            return self._commit(
                parent["version"] + 1,
                "add_constraint",
                parent["files"],
                meta,
            )
        except FileExistsError:
            raise ConcurrentWriteConflict(
                "add_constraint lost the commit race — re-issue"
            ) from None

    def drop_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT (metadata-only commit)."""
        parent = self.snapshot()
        cons = dict(parent.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint named {name!r}")
        del cons[name]
        meta = {
            k: v
            for k, v in parent.items()
            if k not in ("version", "operation", "x", "y", "files")
        }
        meta["constraints"] = cons
        try:
            return self._commit(
                parent["version"] + 1,
                "drop_constraint",
                parent["files"],
                meta,
            )
        except FileExistsError:
            raise ConcurrentWriteConflict(
                "drop_constraint lost the commit race — re-issue"
            ) from None

    def shallow_clone(
        self,
        dest_path: str,
        version: int | str | None = None,
        log_store: "LogStore | None" = None,
    ) -> "ZTable":
        """Zero-copy clone (Delta's CREATE TABLE ... SHALLOW CLONE):
        a NEW table at ``dest_path`` whose version 0 carries THIS
        table's file list at ``version`` (a number, a tag name, or
        latest) — metadata only, instant, no data file is read or
        copied. The two tables then evolve independently: commits on
        either side never see the other, and each side's ``vacuum``
        only ever deletes files under its OWN directory, so a clone
        can never reclaim source data.

        The classic shallow-clone hazard — the SOURCE vacuums away a
        shared file the clone still references — is closed by pinning:
        cloning tags the source at the cloned version
        (``clone-<dest>-v<N>``), and :meth:`vacuum` retains tagged
        versions unconditionally. Delete that tag to disown the clone
        (its reads then fail LOUDLY on the missing files, per the
        vacuum reader-isolation contract — never silently partial).
        ``compact()`` on the clone rewrites its live rows into its own
        directory, making it self-contained and safe to disown.

        All non-file metadata (schema, column types, rename epochs,
        DVs, stats/bloom/ndv config, layout columns) is inherited from
        the cloned snapshot, so the clone reads/writes exactly like
        the source did at that version."""
        snap = self.snapshot(version)  # resolves tag names too
        v = snap["version"]
        base = os.path.basename(os.path.normpath(dest_path))
        safe = (
            "".join(
                c if (c.isalnum() or c in "._-") else "-" for c in base
            )
            or "clone"
        )
        tag_name = f"clone-{safe}-v{v}"
        try:
            self.tag(tag_name, v)
        except FileExistsError:
            # same dest + version re-cloned: the pin already exists
            pass
        dest = ZTable(
            dest_path,
            snap["x"],
            snap["y"],
            snap.get("zcol"),
            log_store=log_store,
        )
        if dest.versions():
            raise FileExistsError(
                f"{dest_path} already has a snapshot log"
            )
        meta = {
            k: val
            for k, val in snap.items()
            if k not in ("version", "operation", "x", "y", "files")
        }
        meta["cloned_from"] = self.path
        meta["clone_source_version"] = v
        dest._commit(0, "clone", snap["files"], meta)
        return dest

    def optimize_small_files(
        self,
        spark: SparkSession,
        target_rows: int,
        small_threshold: int | None = None,
        max_retries: int = 0,
    ) -> tuple[int, int, int]:
        """Incremental OPTIMIZE (Delta's bin-packing form): coalesce
        only the files SMALLER than ``small_threshold`` (default
        ``target_rows // 2``) into ~``target_rows``-row files, leaving
        every adequately-sized file untouched — at 100 TB the
        small-file debt from streaming appends is fixed WITHOUT
        rewriting the table, which is what full :meth:`compact` does.
        Returns (version, n_rewritten, n_kept); no-op (version = -1)
        when fewer than two files qualify.

        The rewritten rows are read THROUGH the snapshot's deletion
        vectors (dead rows do not resurrect); the DV list is carried
        for the kept files (stale DV rows addressing rewritten files
        match nothing — their file paths leave the manifest). New
        files are Z-ordered among THEMSELVES; global clustering across
        kept files is compact's job, not this one's (exactly Delta's
        OPTIMIZE vs OPTIMIZE ZORDER split). Blind appends commute
        (``max_retries``); any other interleaved commit raises
        :class:`ConcurrentWriteConflict`."""
        parent = self.snapshot()
        thr = (
            target_rows // 2 if small_threshold is None else small_threshold
        )
        small = [e for e in parent["files"] if e["n_rows"] < thr]
        kept = [e for e in parent["files"] if e["n_rows"] >= thr]
        if len(small) < 2:
            return (-1, 0, len(parent["files"]))
        rows = self._read_files(spark, small, parent)
        n_small_rows = sum(e["n_rows"] for e in small)
        n_out = max(1, round(n_small_rows / target_rows))
        cols = self.stats_cols(parent)
        new = self._stamp_epoch(
            self._write_data(
                rows,
                parent["version"] + 1,
                n_out,
                parent["cell"],
                parent["bits"],
                cols,
                self.bloom_cols(parent),
                self.bloom_bits(parent),
                self.ndv_cols(parent),
                self.ndv_k(parent),
                self.curve(parent),
            ),
            parent,
        )
        meta = {
            "cell": parent["cell"],
            "bits": parent["bits"],
            "stats_cols": cols,
            "zcol": self.zcol(parent),
            "columns": parent.get("columns"),
            **self._schema_meta(parent),
        }
        if "column_types" in parent:
            meta["column_types"] = parent["column_types"]
        version = parent["version"] + 1
        manifest = kept + list(new)
        for attempt in range(max_retries + 1):
            try:
                v = self._commit(version, "optimize", manifest, meta)
                return (v, len(small), len(kept))
            except FileExistsError as exc:
                added, pure = self._appends_since(parent)
                if not pure:
                    raise ConcurrentWriteConflict(
                        f"optimize of {self.path} raced a non-append "
                        "commit — re-run"
                    ) from exc
                if attempt == max_retries:
                    raise ConcurrentWriteConflict(
                        f"optimize of {self.path} lost the commit "
                        f"race {max_retries + 1} time(s); raise "
                        "max_retries"
                    ) from exc
                manifest = kept + list(new) + added
                version = self.latest_version() + 1
        raise AssertionError("unreachable")

    def publish_from(self, staged: "ZTable") -> int:
        """Write-Audit-Publish (Iceberg's WAP flow on this log): adopt
        everything an APPEND-ONLY staging clone added since its clone
        point, as ONE metadata-only commit on this table — zero data
        read, rewritten, or copied. The flow:

            stage  = source.shallow_clone(staging_path)
            stage.append(increment)        # write (isolated)
            ... run any checks on stage.read(spark) ...   # audit
            source.publish_from(stage)     # publish (atomic)

        A failed audit simply never publishes — the source never saw
        the data, and the staging directory is disposable.

        Adopted data files are HARDLINKED into a fresh data dir of this
        table (one inode, two names), so afterwards neither table's
        ``vacuum`` can break the other and the staging clone can be
        deleted wholesale. Manifest entries (stats, blooms, NDV
        sketches) are carried verbatim from the staging snapshot —
        they were computed when the stage wrote the files.

        Preconditions (each raises ValueError): ``staged`` must be a
        clone OF THIS TABLE; its staging commits must be append-only
        (every clone-point file still live, no new deletion vectors —
        a staging compact/delete makes "what was added" ambiguous);
        and its column set must match the table's. The source MAY have
        advanced since the clone: publish adopts on top of the current
        latest (Delta's blind-append conflict rule). A lost commit
        race raises :class:`ConcurrentWriteConflict`; the hardlinked
        dir is orphaned and vacuum-able, re-issue to retry."""
        ssnap = staged.snapshot()
        base = staged.snapshot(0)
        # the clone markers live in the stage's v0 (the clone commit);
        # later appends carry only schema/config metadata forward
        if base.get("cloned_from") != self.path:
            raise ValueError(
                "publish_from: staged table is not a clone of "
                f"{self.path} (cloned_from="
                f"{base.get('cloned_from')!r})"
            )
        base_files = {e["file"] for e in base["files"]}
        live_files = {e["file"] for e in ssnap["files"]}
        if not base_files <= live_files:
            raise ValueError(
                "publish_from: staging dropped clone-point files "
                "(compact/delete ran on the stage) — publish supports "
                "append-only staging"
            )
        if set(ssnap.get("dvs") or []) - set(base.get("dvs") or []):
            raise ValueError(
                "publish_from: staging added deletion vectors — "
                "publish supports append-only staging"
            )
        parent = self.snapshot()
        if set(ssnap.get("columns") or []) != set(
            parent.get("columns") or []
        ):
            raise ValueError(
                "publish_from: staged columns "
                f"{sorted(ssnap.get('columns') or [])} != table "
                f"columns {sorted(parent.get('columns') or [])}"
            )
        new_entries = [
            e for e in ssnap["files"] if e["file"] not in base_files
        ]
        version = self.latest_version() + 1
        if new_entries:
            dest_dir = self._new_data_dir(version)
            os.makedirs(dest_dir, exist_ok=True)
            adopted = []
            import re as _re

            for e in new_entries:
                src = e["file"]
                # Spark records local URIs as file:/abs/path
                src_path = _re.sub(r"^file:/+", "/", src)
                dst_path = os.path.join(
                    dest_dir, os.path.basename(src_path)
                )
                os.link(src_path, dst_path)
                e2 = dict(e)
                e2["file"] = f"file:{dst_path}"
                adopted.append(e2)
        else:
            adopted = []
        meta = {
            k: v
            for k, v in parent.items()
            if k not in ("version", "operation", "x", "y", "files")
        }
        meta["published_from"] = staged.path
        meta["published_files"] = len(adopted)
        try:
            return self._commit(
                version, "publish", parent["files"] + adopted, meta
            )
        except FileExistsError:
            raise ConcurrentWriteConflict(
                f"publish_from lost the commit race for v{version}; "
                "the adopted dir is orphaned (vacuum-able) — re-issue"
            ) from None

    # -- writable branches (Iceberg refs, git-flow shape) ------------------

    def _branch_path(self, name: str) -> str:
        self._ref_name_ok(name)
        return os.path.join(self.path, BRANCHES_DIR, name)

    def create_branch(
        self, name: str, version: int | str | None = None
    ) -> "ZTable":
        """Writable branch forked at ``version`` (number, tag, or
        latest): a full ZTable living under ``<path>/_branches/<name>``
        whose version 0 is a shallow clone of the fork snapshot — so a
        branch write/delete/compact/schema-change is just a ZTable
        commit, isolated from main by construction (no shared commit
        counter to race on). The fork point is pinned against main's
        vacuum by the clone tag; main's vacuum never walks the
        ``_branches`` subtree, and the branch's own vacuum can only
        reclaim branch-local files. Dev flow: ``create_branch`` →
        commits on the handle → audit → :meth:`fast_forward` to adopt,
        or :meth:`delete_branch` to abandon — the WAP pattern
        (:meth:`publish_from`) generalized beyond append-only staging."""
        bpath = self._branch_path(name)
        if ZTable(bpath).versions():
            raise FileExistsError(
                f"branch {name!r} already exists on {self.path}"
            )
        return self.shallow_clone(bpath, version)

    def branch(self, name: str) -> "ZTable":
        """Open an existing branch (layout columns recovered from its
        own snapshot log)."""
        bpath = self._branch_path(name)
        probe = ZTable(bpath)
        if not probe.versions():
            raise FileNotFoundError(
                f"branch {name!r} does not exist on {self.path}"
            )
        s = probe.snapshot()
        return ZTable(bpath, s["x"], s["y"], s.get("zcol"))

    def branches(self) -> dict[str, dict]:
        """All branches as {name: {fork_version, head}}."""
        d = os.path.join(self.path, BRANCHES_DIR)
        if not os.path.isdir(d):
            return {}
        out: dict[str, dict] = {}
        for name in sorted(os.listdir(d)):
            try:
                br = self.branch(name)
            except (FileNotFoundError, ValueError):
                continue
            out[name] = {
                "fork_version": br.snapshot(0).get(
                    "clone_source_version"
                ),
                "head": br.latest_version(),
            }
        return out

    def fast_forward(self, name: str) -> int:
        """Adopt a branch's entire evolution onto main as ONE commit —
        legal only when main has NOT advanced past the fork point
        (the git fast-forward rule; otherwise the branch must be
        re-created from the new latest and re-applied — raises
        :class:`ConcurrentWriteConflict`, including when a racing
        commit lands between the check and the publish).

        Unlike :meth:`publish_from` this adopts ARBITRARY branch
        history — deletes, upserts, compactions, schema evolution —
        because it installs the branch head's full manifest and
        non-file metadata rather than diffing appends: inherited
        main files are referenced verbatim, branch-written files are
        HARDLINKED into a fresh main data dir (one inode, two names —
        neither side's vacuum can break the other, and the branch dir
        can be deleted wholesale afterwards), and branch deletion-
        vector parquets are adopted the same way.

        One honest refusal: a branch DV that tombstones positions in a
        BRANCH-written data file indexes that file by its branch path,
        which adoption renames — position tombstones never survive a
        path rewrite (the delete_where_dv contract), so this raises
        with the escape hatch spelled out: ``compact()`` the branch
        (materializes DVs away) and fast-forward again. DVs over
        inherited main files adopt cleanly (their paths are unchanged).
        """
        br = self.branch(name)
        bsnap = br.snapshot()
        fork_v = br.snapshot(0).get("clone_source_version")
        latest = self.latest_version()
        if latest != fork_v:
            raise ConcurrentWriteConflict(
                f"fast_forward({name!r}): main advanced past the fork "
                f"(fork v{fork_v}, latest v{latest}) — re-create the "
                "branch from the new latest and re-apply"
            )
        if bsnap["version"] == 0:
            return latest  # nothing committed on the branch
        import re as _re

        babs = os.path.abspath(br.path)

        def _local(uri: str) -> str | None:
            p = _re.sub(r"^file:/+", "/", uri)
            if os.path.abspath(p).startswith(babs + os.sep):
                return p
            return None

        dvs = list(bsnap.get("dvs") or [])
        if dvs:
            import pyarrow.parquet as _pq

            branch_file_uris = {
                e["file"] for e in bsnap["files"]
                if _local(e["file"]) is not None
            }
            for p in dvs:
                refs = set(
                    _pq.read_table(p, columns=["file_path"])
                    .column("file_path")
                    .to_pylist()
                )
                if refs & branch_file_uris:
                    raise ValueError(
                        f"fast_forward({name!r}): a branch deletion "
                        "vector tombstones a branch-written file — "
                        "position tombstones cannot survive the "
                        "adoption rename; compact() the branch first"
                    )
        version = latest + 1
        dest_dir: str | None = None

        def _adopt(path: str) -> str:
            nonlocal dest_dir
            if dest_dir is None:
                dest_dir = self._new_data_dir(version)
                os.makedirs(dest_dir, exist_ok=True)
            dst = os.path.join(dest_dir, os.path.basename(path))
            os.link(path, dst)
            return dst

        files = []
        for e in bsnap["files"]:
            local = _local(e["file"])
            if local is None:
                files.append(dict(e))
            else:
                e2 = dict(e)
                e2["file"] = f"file:{_adopt(local)}"
                files.append(e2)
        adopted_dvs = []
        for p in dvs:
            local = _local(p)
            adopted_dvs.append(_adopt(local) if local else p)
        meta = {
            k: v
            for k, v in bsnap.items()
            if k not in ("version", "operation", "x", "y", "files",
                         "dvs", "cloned_from", "clone_source_version")
        }
        if adopted_dvs:
            meta["dvs"] = adopted_dvs
        meta["fast_forwarded_from"] = name
        meta["branch_head"] = bsnap["version"]
        try:
            return self._commit(version, "fast_forward", files, meta)
        except FileExistsError:
            raise ConcurrentWriteConflict(
                f"fast_forward({name!r}) lost the commit race for "
                f"v{version}; the adopted dir is orphaned "
                "(vacuum-able) — re-examine and re-issue"
            ) from None

    def delete_branch(self, name: str, force: bool = False) -> None:
        """Remove a branch directory and un-pin its fork tag. Refuses
        when the branch carries commits main never adopted (its head
        differs from the last ``fast_forward`` of this branch recorded
        on main) unless ``force=True`` — the git ``-D`` rule."""
        import shutil

        br = self.branch(name)
        head = br.latest_version()
        fork_v = br.snapshot(0).get("clone_source_version")
        if head > 0 and not force:
            merged = any(
                s.get("fast_forwarded_from") == name
                and s.get("branch_head") == head
                for s in (self.snapshot(v) for v in self.versions())
            )
            if not merged:
                raise ValueError(
                    f"branch {name!r} has unmerged commits (head "
                    f"v{head}) — fast_forward it or pass force=True"
                )
        shutil.rmtree(br.path)
        try:
            self.delete_tag(f"clone-{name}-v{fork_v}")
        except FileNotFoundError:
            pass

    def _appends_since(self, parent: dict) -> tuple[list[dict], bool]:
        """Conflict detection for read-modify-write rebases: walk every
        commit after ``parent`` up to the current latest and return
        ``(added_entries, pure)``. ``pure`` is True iff each one was a
        blind append — operation ``"append"`` AND every prior manifest
        entry carried forward — in which case ``added_entries`` lists
        exactly the file entries (with their stats boxes) those commits
        introduced. ``pure=False`` means some interleaved commit
        rewrote or dropped files this writer's plan may have read, so
        no metadata-only rebase is ever safe and the caller must re-run
        against the new state."""
        added: list[dict] = []
        prev = parent
        for v in self.versions():
            if v <= parent["version"]:
                continue
            snap = self.snapshot(v)
            prev_files = {e["file"] for e in prev["files"]}
            cur_files = {e["file"] for e in snap["files"]}
            if snap["operation"] != "append" or not prev_files <= cur_files:
                return [], False
            added.extend(
                e for e in snap["files"] if e["file"] not in prev_files
            )
            prev = snap
        return added, True

    def _commit(
        self, version: int, operation: str, files: list[dict], meta: dict
    ) -> int:
        snap = {
            "version": version,
            "operation": operation,
            "x": self.x,
            "y": self.y,
            **meta,
            "files": sorted(files, key=lambda e: e["file"]),
        }
        # in-commit timestamp (Delta's inCommitTimestamp): stamped at
        # publish time and clamped MONOTONIC past the parent's stamp,
        # so timestamp-as-of resolution is well-defined even under
        # clock skew. Set AFTER the meta merge — restore/clone/
        # fast-forward copy source metadata wholesale and must never
        # inherit a stale stamp.
        import time as _time

        parent_ts = 0
        if version > 0:
            try:
                parent_ts = (
                    self._resolve(version - 1).get("committed_at_us")
                    or 0
                )
            except FileNotFoundError:
                pass
        snap["committed_at_us"] = max(
            int(_time.time() * 1_000_000), parent_ts + 1
        )
        rec = self._encode_commit(snap)
        # the LogStore's put_if_absent is the single atomic claim;
        # FileExistsError is the only lost-race signal the rebase
        # loops key on (per-writer staging details live in the store)
        self.log.put_if_absent(version, json.dumps(rec, indent=1))
        # cache only AFTER the claim succeeded — a lost race must not
        # poison the logical-snapshot cache with the loser's state
        import copy

        self._snap_cache[version] = copy.deepcopy(snap)
        return version

    def _encode_commit(self, snap: dict) -> dict:
        """Physical log record for ``snap``: the full file list at the
        checkpoint cadence (version 0 and every ``checkpoint_interval``
        commits), else an (adds, removes) DELTA against version-1 —
        adds are new-or-changed entries (content compare, so carried
        entries mutated by an op are re-shipped), removes are parent
        paths absent from the new list. A delta is only written when
        it is strictly smaller than the full list (a compact that
        rewrites everything stores a checkpoint no matter the cadence),
        so reads never pay a chain longer than the interval and commit
        metadata for a blind append is O(batch), not O(live files) —
        the Delta Lake transaction-log design. All non-file metadata
        (schema, types, dvs, renames) stays complete in EVERY record,
        like Delta's metaData action."""
        version = snap["version"]
        if version == 0 or version % self.checkpoint_interval == 0:
            return snap
        try:
            parent = self._resolve(version - 1)
        except FileNotFoundError:
            return snap
        pmap = {e["file"]: e for e in parent["files"]}
        adds = [
            e for e in snap["files"] if pmap.get(e["file"]) != e
        ]
        nset = {e["file"] for e in snap["files"]}
        removes = sorted(f for f in pmap if f not in nset)
        if len(adds) + len(removes) >= len(snap["files"]):
            return snap
        rec = {k: v for k, v in snap.items() if k != "files"}
        rec["delta_of"] = version - 1
        rec["adds"] = adds
        rec["removes"] = removes
        return rec

    # -- writes -----------------------------------------------------------

    @classmethod
    def create(
        cls,
        df: DataFrame,
        path: str,
        x: str = "x",
        y: str = "y",
        n_files: int = 16,
        cell: float = 1.0,
        bits: int = 20,
        stats_cols: tuple[str, ...] | list[str] = (),
        z: str | None = None,
        log_store: LogStore | None = None,
        bloom_cols: tuple[str, ...] | list[str] = (),
        bloom_bits: int = 1024,
        ndv_cols: tuple[str, ...] | list[str] = (),
        ndv_k: int = 64,
        constraints: dict[str, str] | None = None,
        curve: str = "morton",
    ) -> "ZTable":
        """Commit version 0 with ``df`` as the initial Z-ordered data.
        ``curve`` picks the 2-D clustering order: ``"morton"`` or
        ``"hilbert"`` (tighter per-file boxes — the liquid-clustering
        write order; 3-D tables are Morton-only). Recorded in every
        snapshot and honored by each append/compact/COW rewrite;
        :meth:`compact` can migrate an existing table to a new curve.
        ``constraints`` maps name -> SQL predicate (CHECK constraints,
        Delta's table invariants): validated against ``df`` now and
        against every later append/upsert batch BEFORE anything
        commits; carried through every commit path.
        ``stats_cols`` names extra (non-layout) columns whose per-file
        min/max every snapshot will record for data skipping. ``z``
        declares a THIRD layout column: data files cluster by the 3-D
        Morton key (``OPTIMIZE ZORDER BY (x, y, z)``) and z stats are
        recorded automatically, so ``read_pruned_where({z: ...})``
        prunes the third axis too."""
        if curve not in ("morton", "hilbert"):
            raise ValueError(f"create: unknown curve {curve!r}")
        if z is not None and curve != "morton":
            raise ValueError(
                "create: 3-D layouts are Morton-only (no 3-D Hilbert "
                "kernel); drop z or use curve='morton'"
            )
        stats_cols = list(stats_cols)
        if z is not None and z not in stats_cols:
            stats_cols = [z] + stats_cols
        for c in stats_cols:
            if c in (x, y):
                raise ValueError(
                    f"stats_cols: {c!r} is a layout column — its stats "
                    "are always recorded"
                )
            if c in ("x", "y"):
                raise ValueError(
                    f"stats_cols: {c!r} would collide with the layout "
                    "stat keys min_x/max_x/min_y/max_y in the manifest"
                )
        bloom_cols = list(bloom_cols)
        ndv_cols = list(ndv_cols)
        for c in bloom_cols + ndv_cols:
            if c not in df.columns:
                raise ValueError(
                    f"bloom/ndv cols: {c!r} is not a column of the table"
                )
        t = cls(path, x, y, z, log_store=log_store)
        if t.versions():
            raise FileExistsError(f"{path} already has a snapshot log")
        if constraints:
            cls._enforce_constraints(df, {"constraints": constraints})
        t._write_commit(
            df, 0, "create", n_files, cell, bits, [],
            {
                **({"constraints": dict(constraints)} if constraints else {}),
                "stats_cols": stats_cols,
                "bloom_cols": bloom_cols,
                "bloom_bits": bloom_bits,
                "ndv_cols": ndv_cols,
                "ndv_k": ndv_k,
                "columns": list(df.columns),
                "column_types": _df_types(df),
                "zcol": z,
                **({"curve": curve} if curve != "morton" else {}),
            },
            stats_cols,
        )
        return t

    def _write_data(
        self,
        df: DataFrame,
        version: int,
        n_files: int,
        cell: float,
        bits: int,
        stats_cols: list[str],
        bloom_cols: list[str] | None = None,
        bloom_bits: int | None = None,
        ndv_cols: list[str] | None = None,
        ndv_k: int | None = None,
        curve: str | None = None,
    ) -> list[dict]:
        """Write one attempt's data files and return their stats
        entries (no commit). Dispatches to the 2-D or 3-D Morton
        writer by the table's declared layout."""
        data_dir = self._new_data_dir(version)
        _table_data_write(
            df, data_dir, self.x, self.y, self.zcol(),
            n_files, cell, bits,
            curve if curve is not None
            else (self.curve() if self.versions() else "morton"),
        )
        return _file_stats(
            df.sparkSession, data_dir, self.x, self.y, stats_cols,
            self.bloom_cols() if bloom_cols is None else bloom_cols,
            self.bloom_bits() if bloom_bits is None else bloom_bits,
            self.ndv_cols() if ndv_cols is None else ndv_cols,
            self.ndv_k() if ndv_k is None else ndv_k,
        )

    def _write_commit(
        self,
        df: DataFrame,
        version: int,
        operation: str,
        n_files: int,
        cell: float,
        bits: int,
        carried: list[dict],
        extra_meta: dict | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        cols = (
            self.stats_cols() if stats_cols is None else stats_cols
        )
        em = extra_meta or {}
        bcols = em.get("bloom_cols", self.bloom_cols() if self.versions() else [])
        bbits = em.get("bloom_bits", self.bloom_bits() if self.versions() else 1024)
        ncols = em.get("ndv_cols", self.ndv_cols() if self.versions() else [])
        nk = em.get("ndv_k", self.ndv_k() if self.versions() else 64)
        cv = em.get(
            "curve", self.curve() if self.versions() else "morton"
        )
        new = self._write_data(
            df, version, n_files, cell, bits, cols, bcols, bbits,
            ncols, nk, cv,
        )
        return self._commit(
            version,
            operation,
            carried + new,
            {
                "cell": cell,
                "bits": bits,
                "stats_cols": cols,
                "bloom_cols": bcols,
                "bloom_bits": bbits,
                "ndv_cols": ncols,
                "ndv_k": nk,
                "zcol": self.zcol(),
                **(extra_meta or {}),
            },
        )

    def append(
        self,
        df: DataFrame,
        n_files: int = 4,
        extra_meta: dict | None = None,
        max_retries: int = 0,
        schema_mode: str = "strict",
    ) -> int:
        """Commit a new version = parent's files + ``df`` written as
        fresh Z-ordered files. Only the new files are scanned for stats.
        ``extra_meta`` is recorded in the snapshot (e.g. a streaming
        batch id for idempotent replays).

        ``schema_mode``: ``"strict"`` (default) rejects a batch whose
        column set differs from the table's recorded columns;
        ``"merge"`` is Delta's mergeSchema — the batch may ADD new
        columns (recorded in the snapshot; reads null-fill them for
        older files) and may omit non-layout columns (null-filled for
        the new files on read). Layout and stats columns can never be
        omitted: their stats are what commits are made of.

        ``max_retries`` > 0 turns on blind-append rebase: if another
        writer wins the version race, the data files (already on disk,
        in this writer's private dir) are re-committed against the NEW
        latest snapshot — metadata-only, no Spark re-write, the Delta
        conflict rule for appends. Raises RuntimeError once retries are
        exhausted; the orphaned data dir is vacuum-able."""
        parent = self.snapshot()
        self._enforce_constraints(df, parent)
        cols = self.stats_cols(parent)
        table_cols = parent.get("columns", list(df.columns))
        required = {self.x, self.y, *cols}
        missing_required = required - set(df.columns)
        if missing_required:
            raise ValueError(
                f"append: batch lacks layout/stats columns "
                f"{sorted(missing_required)}"
            )
        if schema_mode == "strict":
            if set(df.columns) != set(table_cols):
                raise ValueError(
                    "append: batch columns "
                    f"{sorted(set(df.columns))} != table columns "
                    f"{sorted(set(table_cols))}; pass "
                    "schema_mode='merge' to evolve the schema"
                )
            merged_cols = table_cols
        elif schema_mode == "merge":
            added_cols = [
                c for c in df.columns if c not in set(table_cols)
            ]
            retired = set(parent.get("retired_names", []))
            bad = [c for c in added_cols if c in retired]
            if bad:
                raise ValueError(
                    f"append: column name(s) {bad} were renamed away "
                    "earlier; reusing them would alias old data"
                )
            merged_cols = list(table_cols) + added_cols
        else:
            raise ValueError(
                f"append: unknown schema_mode {schema_mode!r}"
            )
        batch_types = _df_types(df)
        merged_types, casts = _reconcile_types(
            parent.get("column_types"), batch_types, schema_mode
        )
        if casts:
            # upcast narrower batch columns to the recorded type so
            # data files never carry a type an earlier snapshot's
            # schema would have to narrow
            df = df.select(
                *[
                    (
                        F.col(c).cast(casts[c])
                        if c in casts
                        else F.col(c)
                    ).alias(c)
                    for c in df.columns
                ]
            )
        # the types physically on disk for this batch (post-cast)
        written_types = {
            c: casts.get(c, batch_types[c]) for c in batch_types
        }
        planned_epoch = parent.get("schema_epoch", 0)
        new = self._stamp_epoch(
            self._write_data(
                df,
                parent["version"] + 1,
                n_files,
                parent["cell"],
                parent["bits"],
                cols,
                self.bloom_cols(parent),
                self.bloom_bits(parent),
                self.ndv_cols(parent),
                self.ndv_k(parent),
                self.curve(parent),
            ),
            parent,
        )
        for attempt in range(max_retries + 1):
            meta = {
                "cell": parent["cell"],
                "bits": parent["bits"],
                "stats_cols": cols,
                "columns": merged_cols,
                "zcol": parent.get("zcol"),
                **self._schema_meta(parent),
                **(extra_meta or {}),
            }
            if merged_types is not None:
                meta["column_types"] = merged_types
            try:
                return self._commit(
                    parent["version"] + 1,
                    "append",
                    parent["files"] + new,
                    meta,
                )
            except FileExistsError:
                if attempt == max_retries:
                    raise RuntimeError(
                        f"append to {self.path} lost the commit race "
                        f"{max_retries + 1} time(s); data files are "
                        "written but uncommitted (vacuum-able) — "
                        "re-call append or raise max_retries"
                    )
                parent = self.snapshot()  # rebase onto the new latest
                if parent.get("schema_epoch", 0) != planned_epoch:
                    # a rename won the race: our files are stamped
                    # with the old epoch but the batch's column set
                    # was validated against pre-rename names — re-run
                    raise ConcurrentWriteConflict(
                        f"append to {self.path} raced a column "
                        "rename; re-run append against the new schema"
                    )
                pcols = parent.get("columns", merged_cols)
                merged_cols = list(pcols) + [
                    c for c in df.columns if c not in set(pcols)
                ]
                # the winner may itself have widened types; our files
                # are on disk with written_types, which is always <=
                # the merged record, so rebase stays metadata-only
                merged_types, _ = _reconcile_types(
                    parent.get("column_types"),
                    written_types,
                    "merge",
                )

    def rename_column(self, old: str, new: str) -> int:
        """Iceberg-style metadata-only column rename: no data file is
        touched. The commit bumps the table's schema EPOCH and records
        how each past epoch's on-disk column names map to the current
        names; reads group files by the epoch they were written under
        and alias per group (``_read_files``). Constraints that keep
        the name->data binding sound without Iceberg's column IDs:
        layout/stats columns can't be renamed (stats keys and the
        handle's predicate API are name-bound), and a renamed-away
        name is RETIRED — reusing it for a new column would silently
        alias the old files' data. A lost commit race raises
        :class:`ConcurrentWriteConflict` (the rename is cheap —
        re-run); racing appends likewise re-run (their batch was
        validated against pre-rename names)."""
        parent = self.snapshot()
        cols = parent.get("columns")
        types = parent.get("column_types")
        if cols is None or types is None:
            raise ValueError(
                "rename_column requires a type-tracked table "
                "(snapshot lacks columns/column_types)"
            )
        if old not in cols:
            raise ValueError(f"rename_column: no column {old!r}")
        if new in cols:
            raise ValueError(
                f"rename_column: {new!r} already exists"
            )
        protected = {
            self.x, self.y,
            *parent.get("stats_cols", []),
            *parent.get("bloom_cols", []),
            *parent.get("ndv_cols", []),
        }
        if self.zcol(parent):
            protected.add(self.zcol(parent))
        if old in protected:
            raise ValueError(
                f"rename_column: {old!r} is a layout/stats column — "
                "its name binds the manifest stats keys and the "
                "predicate API"
            )
        retired = set(parent.get("retired_names", []))
        if new in retired:
            raise ValueError(
                f"rename_column: {new!r} was renamed away earlier; "
                "reusing it would alias old files' data"
            )
        epoch = parent.get("schema_epoch", 0)
        renames = {
            k: dict(v)
            for k, v in (parent.get("epoch_renames") or {}).items()
        }
        # earlier epochs whose disk names currently resolve to `old`
        # now resolve to `new`
        for m in renames.values():
            for dk, cur in m.items():
                if cur == old:
                    m[dk] = new
        # files of the CURRENT epoch store `old` on disk
        renames.setdefault(str(epoch), {})[old] = new
        meta = {
            "cell": parent["cell"], "bits": parent["bits"],
            "stats_cols": parent.get("stats_cols", []),
            "zcol": parent.get("zcol"),
            **self._schema_meta(parent),  # carries dvs
            "columns": [new if c == old else c for c in cols],
            "column_types": {
                (new if k == old else k): v for k, v in types.items()
            },
            "schema_epoch": epoch + 1,
            "epoch_renames": renames,
            "retired_names": sorted(retired | {old}),
        }
        try:
            return self._commit(
                parent["version"] + 1, "rename",
                list(parent["files"]), meta,
            )
        except FileExistsError as exc:
            raise ConcurrentWriteConflict(
                f"rename on {self.path} lost the commit race; re-run"
            ) from exc

    def compact(
        self, spark: SparkSession, n_files: int = 16,
        max_retries: int = 0,
        cell: float | None = None, bits: int | None = None,
        curve: str | None = None,
    ) -> int:
        """OPTIMIZE: rewrite the live rows into ``n_files`` fresh
        Z-ordered files (restoring global clustering lost to appends)
        and commit a snapshot that lists only those.

        ``cell`` / ``bits`` re-cluster under NEW layout parameters
        (finer or coarser Morton grid — Delta's ``OPTIMIZE ZORDER``
        after changing the clustering spec); the new values are
        recorded in the snapshot, so every later append/delete/merge
        lays out its files with them. Omitted = keep the parent's.

        ``max_retries`` > 0 turns on the OPTIMIZE conflict rule: a
        compact commutes with blind appends (it rewrote exactly the
        parent's rows; appended rows live in files it never touched),
        so a lost race against pure appends rebases metadata-only —
        the new snapshot = the compacted files + every file appended
        since the parent. Any interleaved delete/merge/compact
        invalidates the rewrite itself and raises
        :class:`ConcurrentWriteConflict`; re-run against the new
        state. (A raced rebase keeps the appended files' OLD layout —
        sound, because cell/bits only parameterize clustering quality,
        never read correctness: pruning uses per-file min/max stats,
        not the grid.)"""
        parent = self.snapshot()
        cell = parent["cell"] if cell is None else cell
        bits = parent["bits"] if bits is None else bits
        if curve is None:
            curve = self.curve(parent)
        elif curve not in ("morton", "hilbert"):
            raise ValueError(f"compact: unknown curve {curve!r}")
        elif curve == "hilbert" and self.zcol(parent) is not None:
            raise ValueError(
                "compact: 3-D layouts are Morton-only; cannot migrate "
                "a z-declared table to curve='hilbert'"
            )
        cols = self.stats_cols(parent)
        live = self.read(spark)
        new = self._stamp_epoch(
            self._write_data(
                live, parent["version"] + 1, n_files,
                cell, bits, cols,
                self.bloom_cols(parent), self.bloom_bits(parent),
                self.ndv_cols(parent), self.ndv_k(parent),
                curve,
            ),
            parent,
        )
        meta = {
            "cell": cell, "bits": bits,
            "stats_cols": cols, "zcol": self.zcol(parent),
            # carry the recorded table schema so a later strict-mode
            # append still enforces it (compact never changes columns)
            "columns": parent.get("columns", list(live.columns)),
            **self._schema_meta(parent),
        }
        # the rewrite read `live` THROUGH the deletion vectors, so the
        # compacted files materialize them — drop the tombstones
        meta.pop("dvs", None)
        # a curve migration overrides the carried value; every later
        # append/rewrite clusters under the new curve
        if curve != "morton":
            meta["curve"] = curve
        else:
            meta.pop("curve", None)
        if "column_types" in parent:
            meta["column_types"] = parent["column_types"]
        version = parent["version"] + 1
        manifest: list[dict] = list(new)
        for attempt in range(max_retries + 1):
            try:
                return self._commit(version, "compact", manifest, meta)
            except FileExistsError as exc:
                added, pure = self._appends_since(parent)
                if not pure:
                    raise ConcurrentWriteConflict(
                        f"compact of {self.path} raced a non-append "
                        "commit; the rewrite no longer covers the "
                        "live rows — re-run compact"
                    ) from exc
                if attempt == max_retries:
                    raise ConcurrentWriteConflict(
                        f"compact of {self.path} lost the commit race "
                        f"{max_retries + 1} time(s); raise max_retries"
                    ) from exc
                latest = self.snapshot()
                version = latest["version"] + 1
                manifest = list(new) + added
                if "columns" in latest:  # appends may evolve schema
                    meta["columns"] = latest["columns"]
                if "column_types" in latest:
                    meta["column_types"] = latest["column_types"]

    # -- reads ------------------------------------------------------------

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Scan exactly the files of ``version`` (default: latest).
        mergeSchema unifies files written before a schema-evolving
        append (missing columns read as null, the Delta semantics)."""
        snap = self.snapshot(version)
        return self._read_files(spark, snap["files"], snap)

    def version_as_of(self, ts_us: int) -> int:
        """Latest retained version committed at or before ``ts_us``
        (Delta's TIMESTAMP AS OF, resolved against the monotone
        in-commit timestamps `_commit` stamps). Raises when the whole
        retained history is later than ``ts_us``, or when a retained
        version predates the timestamp feature (unstamped history
        cannot be ordered against a wall-clock bound — re-commit or
        use version numbers)."""
        best = None
        for v in self.versions():
            ts = self.snapshot(v).get("committed_at_us")
            if ts is None:
                raise ValueError(
                    f"version {v} carries no in-commit timestamp — "
                    "timestamp travel needs stamped history"
                )
            if ts <= ts_us:
                best = v
        if best is None:
            raise ValueError(
                f"no retained version committed at or before {ts_us}"
            )
        return best

    def read_as_of(self, spark: SparkSession, ts_us: int) -> DataFrame:
        """TIMESTAMP AS OF read: the table as of a wall-clock micro
        timestamp."""
        return self.read(spark, self.version_as_of(ts_us))

    def _scan_with_pos(
        self, spark: SparkSession, entries: list[dict], snap: dict
    ) -> DataFrame:
        """Raw rows of these manifest entries plus (``_fp``, ``_ri``)
        parquet-position columns, read under the snapshot's schema
        contract but with NO deletion-vector subtraction — the scan
        :meth:`changes` needs to classify tombstoned positions."""
        meta = [
            F.col("_metadata.file_path").alias("_fp"),
            F.col("_metadata.row_index").alias("_ri"),
        ]
        ddl = self._read_schema_ddl(snap)
        renames = snap.get("epoch_renames") or {}
        if ddl is None or not renames:
            reader = (
                spark.read.option("mergeSchema", "true")
                if ddl is None
                else spark.read.schema(ddl)
            )
            return reader.parquet(
                *[e["file"] for e in entries]
            ).select("*", *meta)
        cols = snap["columns"]
        types = snap["column_types"]
        by_epoch: dict[int, list[str]] = {}
        for e in entries:
            by_epoch.setdefault(int(e.get("epoch", 0)), []).append(
                e["file"]
            )
        parts = []
        for ep, paths in sorted(by_epoch.items()):
            disk_of = {
                cur: disk
                for disk, cur in renames.get(str(ep), {}).items()
            }
            ep_ddl = ", ".join(
                f"`{disk_of.get(c, c)}` {types[c]}" for c in cols
            )
            parts.append(
                spark.read.schema(ep_ddl)
                .parquet(*paths)
                .select(
                    *[F.col(disk_of.get(c, c)).alias(c) for c in cols],
                    *meta,
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def changes(
        self,
        spark: SparkSession,
        from_version: int | str,
        to_version: int | str | None = None,
    ) -> DataFrame:
        """Change data feed (Delta's ``table_changes``, compute-on-read
        form): every row logically inserted or deleted by each commit
        in ``(from_version, to_version]``, as the table's columns plus
        ``_change_type`` ('insert' | 'delete') and ``_commit_version``.
        An update surfaces as delete(old) + insert(new) at the same
        version — the CDC pair downstream MERGE consumers apply.

        Derivation is per-commit from the snapshot log, exact by
        construction (no change files are ever written):

        - file-level diff: inserts = rows of added files EXCEPT ALL
          rows of removed files; deletes = the reverse. Both sides are
          read under the RANGE-END schema contract of that commit (so
          a rewrite's carried-through rows cancel in the multiset
          difference — an upsert reports only genuinely changed rows),
          and removed files are read through the PARENT's deletion
          vectors (a row already dead cannot die again).
        - a ``delete_dv`` commit adds no files; its deletes are the
          positions its new tombstones address, classified by one
          semi-join on the parquet position columns (minus positions
          already dead under the parent's DVs — stacked DVs never
          double-report).
        - ``compact`` and ``rename`` commits are logical no-ops and
          contribute nothing (compact's file churn would cancel in the
          multiset difference anyway; skipping it skips the scan).
        - a ``restore`` commit reports its rollback exactly: the file
          diff covers re-added/dropped files, and tombstones it DROPS
          while carrying their target file forward surface the revived
          positions as inserts (minus positions still dead under the
          restored version's own DVs).

        A ``rename`` INSIDE the range raises: the feed's column names
        would be ambiguous across the boundary — read the two
        sub-ranges separately. Commits that widen the schema union by
        name with null-fill (the Delta CDF convention).

        Scale: each commit costs a scan of just its added+removed
        files — change volume, not table size; the multiset difference
        shuffles only rewritten files' rows."""
        if isinstance(from_version, str):
            from_version = self.resolve_tag(from_version)
        if isinstance(to_version, str):
            to_version = self.resolve_tag(to_version)
        hi = self.latest_version() if to_version is None else to_version
        if from_version > hi:
            raise ValueError(
                f"changes({from_version}, {hi}): empty/inverted range"
            )
        versions = [
            v for v in self.versions() if from_version < v <= hi
        ]
        tag = lambda df, ct, v: df.select(
            "*",
            F.lit(ct).alias("_change_type"),
            F.lit(v).cast("int").alias("_commit_version"),
        )
        parts: list[DataFrame] = []
        for v in versions:
            cur = self.snapshot(v)
            op = cur["operation"]
            if op in ("compact", "vacuum"):
                continue
            if op == "rename":
                raise ValueError(
                    f"changes(): version {v} renames columns; a CDF "
                    "range cannot span a rename — split the range at "
                    f"version {v}"
                )
            prev = self.snapshot(v - 1)
            prev_paths = {e["file"] for e in prev["files"]}
            cur_paths = {e["file"] for e in cur["files"]}
            removed = [
                e for e in prev["files"] if e["file"] not in cur_paths
            ]
            added = [
                e for e in cur["files"] if e["file"] not in prev_paths
            ]
            prev_dvs = prev.get("dvs") or []
            new_dvs = [
                p for p in (cur.get("dvs") or []) if p not in prev_dvs
            ]
            if added or removed:
                old_rows = (
                    self._read_files(
                        spark, removed, {**cur, "dvs": prev_dvs}
                    )
                    if removed
                    else None
                )
                new_rows = (
                    self._read_files(spark, added, cur)
                    if added
                    else None
                )
                if old_rows is not None and new_rows is not None:
                    parts.append(
                        tag(new_rows.exceptAll(old_rows), "insert", v)
                    )
                    parts.append(
                        tag(old_rows.exceptAll(new_rows), "delete", v)
                    )
                elif new_rows is not None:
                    parts.append(tag(new_rows, "insert", v))
                else:
                    parts.append(tag(old_rows, "delete", v))
            if new_dvs:
                dv = spark.read.parquet(*new_dvs).select(
                    F.col("file_path").alias("_dv_fp"),
                    F.col("row_index").alias("_dv_ri"),
                )
                scan = self._scan_with_pos(spark, cur["files"], cur)
                if prev_dvs:
                    old = spark.read.parquet(*prev_dvs).select(
                        F.col("file_path").alias("_dv_fp"),
                        F.col("row_index").alias("_dv_ri"),
                    )
                    scan = scan.join(
                        old,
                        (scan["_fp"] == old["_dv_fp"])
                        & (scan["_ri"] == old["_dv_ri"]),
                        "left_anti",
                    )
                dead = scan.join(
                    dv,
                    (scan["_fp"] == dv["_dv_fp"])
                    & (scan["_ri"] == dv["_dv_ri"]),
                    "left_semi",
                ).drop("_fp", "_ri")
                parts.append(tag(dead, "delete", v))
            # DVs DROPPED while their target file is carried forward —
            # only a restore rolling back a merge-on-read delete does
            # this (compact is skipped above; COW rewrites drop the
            # FILE too, excluded here) — revive rows: positions the
            # dropped tombstones addressed, minus positions still dead
            # under the commit's remaining DVs, surface as inserts.
            cur_dvs = cur.get("dvs") or []
            dropped_dvs = [p for p in prev_dvs if p not in cur_dvs]
            carried = [
                e for e in cur["files"] if e["file"] in prev_paths
            ]
            if dropped_dvs and carried:
                dv = spark.read.parquet(*dropped_dvs).select(
                    F.col("file_path").alias("_dv_fp"),
                    F.col("row_index").alias("_dv_ri"),
                )
                scan = self._scan_with_pos(spark, carried, cur)
                if cur_dvs:
                    still = spark.read.parquet(*cur_dvs).select(
                        F.col("file_path").alias("_dv_fp"),
                        F.col("row_index").alias("_dv_ri"),
                    )
                    scan = scan.join(
                        still,
                        (scan["_fp"] == still["_dv_fp"])
                        & (scan["_ri"] == still["_dv_ri"]),
                        "left_anti",
                    )
                revived = scan.join(
                    dv,
                    (scan["_fp"] == dv["_dv_fp"])
                    & (scan["_ri"] == dv["_dv_ri"]),
                    "left_semi",
                ).drop("_fp", "_ri")
                parts.append(tag(revived, "insert", v))
        if not parts:
            base = self.snapshot(hi)
            if not base["files"]:
                raise ValueError(
                    "changes(): no commits in range and the range-end "
                    "snapshot is empty — nothing to derive a schema from"
                )
            return tag(
                self._read_files(spark, base["files"], base), "insert", 0
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def bloom_prune(
        self, col: str, value, version: int | None = None
    ) -> tuple[list[dict], int]:
        """Driver-side point-lookup planning: the manifest entries of
        ``version`` whose per-file Bloom filter MAY contain
        ``col = value`` (plus any entry without a recorded bloom —
        never a false negative), and the total file count. The probe
        re-derives the write side's md5 positions in pure python, so
        planning reads zero data files — the Iceberg/Parquet bloom
        idea lifted to the manifest."""
        snap = self.snapshot(version)
        if col not in snap.get("bloom_cols", []):
            raise ValueError(
                f"bloom_prune: no bloom recorded for {col!r} "
                f"(bloom_cols={snap.get('bloom_cols', [])})"
            )
        probes = _bloom_value_probes(value, self.bloom_bits(snap))
        kept = []
        for e in snap["files"]:
            words = e.get(f"bloom_{col}")
            if not words:
                kept.append(e)
                continue
            if all(
                w < len(words) and (words[w] & m) for w, m in probes
            ):
                kept.append(e)
        return kept, len(snap["files"])

    def read_bloom_eq(
        self,
        spark: SparkSession,
        col: str,
        value,
        version: int | None = None,
    ) -> DataFrame:
        """Point lookup through the manifest blooms: scan only the
        may-contain files, then apply the exact residual predicate
        (a bloom is one-sided — hits must still be verified). Intended
        for integer/string keys whose min/max boxes span every file
        (the case range stats cannot skip). Returns the snapshot's
        matching rows exactly (no false positives survive)."""
        snap = self.snapshot(version)
        kept, _ = self.bloom_prune(col, value, version)
        if not kept:
            return self._read_files(
                spark, snap["files"], snap
            ).where(F.lit(False))
        return self._read_files(spark, kept, snap).where(
            F.col(col) == F.lit(value)
        )

    def estimate_ndv(
        self, col: str, version: int | None = None
    ) -> tuple[int, int]:
        """Table-level distinct-count estimate for ``col`` from the
        manifest's per-file KMV sketches — ZERO data reads (the
        Iceberg puffin-file NDV idea): file sketches union and
        re-bottom-k on the driver (the KMV merge law), then the
        operators.frequent estimator — exact when the union holds
        fewer than k hashes, (k−1)·2^40 div kth otherwise. Returns
        (estimate, n_sketch).

        Planning numbers only: sketches are file-level, so rows
        tombstoned by deletion vectors still count until a compact
        materializes them (same caveat as every manifest stat)."""
        from ..operators.frequent import KMV_M

        snap = self.snapshot(version)
        if col not in snap.get("ndv_cols", []):
            raise ValueError(
                f"estimate_ndv: no NDV sketch for {col!r} "
                f"(ndv_cols={snap.get('ndv_cols', [])})"
            )
        k = self.ndv_k(snap)
        merged: set[int] = set()
        for e in snap["files"]:
            merged.update(e.get(f"ndv_{col}") or [])
        sk = sorted(merged)[:k]
        if not sk:
            return 0, 0
        n = len(sk)
        est = n if n < k else (k - 1) * KMV_M // sk[-1]
        return est, n

    def read_pruned(
        self,
        spark: SparkSession,
        x_range: tuple[float, float],
        y_range: tuple[float, float],
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Range query planned through the snapshot's min/max stats:
        (result with exact residual filter, n_files_read, n_files_total)."""
        snap = self.snapshot(version)
        xs, xe = x_range
        ys, ye = y_range
        keep = [
            e
            for e in snap["files"]
            if e["max_x"] >= xs
            and e["min_x"] <= xe
            and e["max_y"] >= ys
            and e["min_y"] <= ye
        ]
        total = len(snap["files"])
        if not keep:
            df = self.read(spark, version).where(F.lit(False))
            return df, 0, total
        df = self._read_files(spark, keep, snap)
        res = df.where(
            (F.col(self.x) >= xs)
            & (F.col(self.x) <= xe)
            & (F.col(self.y) >= ys)
            & (F.col(self.y) <= ye)
        )
        return res, len(keep), total

    def read_null_pruned(
        self,
        spark: SparkSession,
        col: str,
        null: bool = True,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """IS NULL / IS NOT NULL planned through the per-file null
        counts every ``stats_cols`` manifest entry records (Delta's
        nullCount skipping): ``null=True`` reads only files containing
        at least one null of ``col``; ``null=False`` skips all-null
        files. Entries written before null counts existed (or carried
        from them) conservatively stay in the plan. Returns (result
        with exact residual filter, n_files_read, n_files_total)."""
        snap = self.snapshot(version)
        if col not in snap.get("stats_cols", []):
            raise ValueError(
                f"read_null_pruned: no stats recorded for {col!r}; "
                f"indexed columns: {sorted(snap.get('stats_cols', []))}"
            )
        k = f"nulls_{col}"

        def keep_entry(e: dict) -> bool:
            n = e.get(k)
            if n is None:  # pre-nullcount entry: cannot prune
                return True
            return n > 0 if null else n < e["n_rows"]

        keep = [e for e in snap["files"] if keep_entry(e)]
        total = len(snap["files"])
        pred = F.col(col).isNull() if null else F.col(col).isNotNull()
        if not keep:
            df = self.read(spark, version).where(F.lit(False))
            return df, 0, total
        return (
            self._read_files(spark, keep, snap).where(pred),
            len(keep),
            total,
        )

    def read_incremental(
        self, spark: SparkSession, since: int | str
    ) -> tuple[DataFrame, int]:
        """Incremental consumption (Delta's ``startingVersion`` stream
        read, poll form): the rows INSERTED by every commit after
        ``since`` (a version or tag), plus the version to pass as the
        next ``since``. Deletes are excluded — this is the
        append-consumer's view; a MERGE/CDC consumer wants
        :meth:`changes` with both signs (``CdfAggState`` /
        ``CdfJoinAggState`` build on that). Cost is a scan of the new
        commits' files only."""
        if isinstance(since, str):
            since = self.resolve_tag(since)
        latest = self.latest_version()
        if latest <= since:
            return (
                self.read(spark, version=latest).where(F.lit(False)),
                since,
            )
        feed = self.changes(spark, since, latest)
        return (
            feed.where(F.col("_change_type") == "insert").drop(
                "_change_type", "_commit_version"
            ),
            latest,
        )

    def read_pruned_where(
        self,
        spark: SparkSession,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Range query planned through ANY recorded column's stats:
        ``ranges`` maps column -> (lo, hi); every named column must be
        a layout column or in ``stats_cols`` (raises otherwise — a
        typo'd column silently skipping nothing would look like a
        correct-but-useless plan). Returns (result with exact residual
        filter, n_files_read, n_files_total)."""
        snap = self.snapshot(version)
        indexed = {self.x, self.y, *snap.get("stats_cols", [])}
        unknown = set(ranges) - indexed
        if unknown:
            raise ValueError(
                f"read_pruned_where: no stats recorded for "
                f"{sorted(unknown)}; indexed columns: {sorted(indexed)}"
            )
        # layout columns are recorded under the fixed keys min_x/max_x/
        # min_y/max_y whatever their real names; extras under min_<col>
        key = {self.x: "x", self.y: "y"}
        keep = [
            e
            for e in snap["files"]
            if all(
                e[f"max_{key.get(c, c)}"] >= lo
                and e[f"min_{key.get(c, c)}"] <= hi
                for c, (lo, hi) in ranges.items()
            )
        ]
        total = len(snap["files"])
        pred = None
        for c, (lo, hi) in ranges.items():
            p = (F.col(c) >= lo) & (F.col(c) <= hi)
            pred = p if pred is None else (pred & p)
        if not keep:
            df = self.read(spark, version).where(F.lit(False))
            return df, 0, total
        return (
            self._read_files(spark, keep, snap).where(pred),
            len(keep),
            total,
        )

    def upsert(
        self, spark: SparkSession, df: DataFrame, n_files: int = 4,
        max_retries: int = 0, extra_meta: dict | None = None,
    ) -> tuple[int, int, int]:
        """Coordinate-keyed MERGE — see :func:`ztable_upsert`."""
        self._enforce_constraints(df, self.snapshot())
        return ztable_upsert(
            self, spark, df, n_files, max_retries, extra_meta
        )

    def delete_where(
        self,
        spark: SparkSession,
        x_range: tuple[float, float],
        y_range: tuple[float, float],
        max_retries: int = 0,
    ) -> tuple[int, int, int]:
        """Copy-on-write DELETE of the box — see
        :func:`ztable_delete_where`."""
        return ztable_delete_where(
            self, spark, x_range, y_range, max_retries
        )

    def delete_where_dv(
        self,
        spark: SparkSession,
        x_range: tuple[float, float],
        y_range: tuple[float, float],
    ) -> tuple[int, int, int]:
        """Merge-on-read DELETE of the (x, y) box via deletion
        vectors: instead of rewriting the affected files (the
        copy-on-write :meth:`delete_where`), the commit writes one
        small parquet of (file_path, row_index) tombstones — the
        positions come from the parquet ``_metadata.row_index``
        column, exactly Delta's DV design — and every read subtracts
        them with one anti-join (``_apply_dvs``). Returns
        (new_version, n_rows_deleted, n_files_hit).

        The trade vs copy-on-write: a delete costs O(matching rows)
        writes instead of O(affected files) rewrites — the right
        choice for small/frequent deletes on huge files — while reads
        pay the anti-join until :meth:`compact` materializes the DVs
        away (it reads through them and clears ``dvs``). Appends,
        renames and COW delete/merge carry unapplied DVs forward;
        time travel still sees pre-delete versions (their snapshots
        don't list the tombstones). Lost commit race: raises
        :class:`ConcurrentWriteConflict` (no auto-rebase — a racing
        commit may have rewritten the very files the positions index
        into, and position-based tombstones never survive a
        rewrite).

        Stacked-DV contract (pinned end-to-end by
        tests/test_layout.py::test_ztable_dv_contract_family):

        - **Stacking**: successive DV commits APPEND tombstone files
          (``dvs`` is cumulative); rows already tombstoned are
          excluded from later deletes (the left-anti above), so
          ``n_rows_deleted`` stays honest and no position is listed
          twice even when deletes hit the same data files.
        - **Time travel**: each version reads with exactly the DVs
          its own snapshot lists — intermediate DV states reproduce
          exactly.
        - **Vacuum**: tombstone parquets are live-set members like
          data files; they are reclaimed only when NO retained
          snapshot references them (a later snapshot carries earlier
          DVs forward, so dropping the version that created a DV
          does not free it).
        - **MERGE/COW over tombstoned ground**: every rewrite path
          reads THROUGH the DVs (``_read_files`` → ``_apply_dvs``),
          so deleted rows can never resurrect; tombstones pointing
          into rewritten (now-dereferenced) files become dangling and
          inert — the anti-join key is the file path, which is never
          reused (versioned data dirs)."""
        snap = self.snapshot()
        hit = [
            e for e in snap["files"]
            if _entry_hits_box(e, x_range, y_range)
        ]
        version = snap["version"] + 1
        meta = {
            "cell": snap["cell"], "bits": snap["bits"],
            "stats_cols": self.stats_cols(snap),
            "zcol": self.zcol(snap),
            **self._schema_meta(snap),
        }
        for k in ("columns", "column_types"):
            if k in snap:
                meta[k] = snap[k]
        n_del = 0
        if hit:
            # scan ONLY the layout pair (+ the hidden position cols):
            # layout columns can never be renamed, so one narrow
            # schema is valid across every epoch's files
            types = snap.get("column_types") or {}
            if types.get(self.x) and types.get(self.y):
                reader = spark.read.schema(
                    f"`{self.x}` {types[self.x]}, "
                    f"`{self.y}` {types[self.y]}"
                )
            else:
                reader = spark.read.option("mergeSchema", "true")
            scan = reader.parquet(*[e["file"] for e in hit])
            matches = scan.select(
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("row_index"),
                self.x, self.y,
            ).where(
                _box_pred(self.x, self.y, x_range, y_range)
            ).select("file_path", "row_index")
            if snap.get("dvs"):
                # rows already tombstoned must not be re-deleted
                # (keeps n_rows_deleted honest and DVs duplicate-free)
                old = spark.read.parquet(*snap["dvs"])
                matches = matches.join(
                    old, ["file_path", "row_index"], "left_anti"
                )
            dv_dir = self._new_data_dir(version)
            matches.coalesce(1).write.parquet(dv_dir)
            n_del = spark.read.parquet(dv_dir).count()
            dv_files = [
                os.path.join(dv_dir, f)
                for f in sorted(os.listdir(dv_dir))
                if f.endswith(".parquet")
            ]
            meta["dvs"] = list(snap.get("dvs") or []) + dv_files
        try:
            self._commit(
                version, "delete_dv", list(snap["files"]), meta
            )
        except FileExistsError as exc:
            raise ConcurrentWriteConflict(
                f"delete_dv on {self.path} lost the commit race; "
                "re-run against the new state (position tombstones "
                "cannot be rebased across a rewrite)"
            ) from exc
        return version, n_del, len(hit)

    # -- maintenance ------------------------------------------------------

    def describe_detail(self) -> dict:
        """One maintenance summary for the live table (Delta's
        DESCRIBE DETAIL): version/file/row counts, per-file row
        distribution (the small-file compaction signal), deletion-
        vector debt, schema surface, and which metadata features are
        on. Driver-only — reads the snapshot log, never data."""
        snap = self.snapshot()
        rows = [e["n_rows"] for e in snap["files"]]
        dvs = snap.get("dvs") or []
        return {
            "path": self.path,
            "version": snap["version"],
            "n_versions_retained": len(self.versions()),
            "operation": snap["operation"],
            "n_files": len(snap["files"]),
            "n_rows": sum(rows),
            "min_file_rows": min(rows) if rows else 0,
            "max_file_rows": max(rows) if rows else 0,
            "n_dv_files": len(dvs),
            "layout": {
                "x": self.x,
                "y": self.y,
                "z": snap.get("zcol"),
                "cell": snap.get("cell"),
                "bits": snap.get("bits"),
            },
            "columns": snap.get("columns"),
            "column_types": snap.get("column_types"),
            "schema_epoch": snap.get("schema_epoch", 0),
            "stats_cols": snap.get("stats_cols", []),
            "bloom_cols": snap.get("bloom_cols", []),
            "ndv_cols": snap.get("ndv_cols", []),
            "checkpoint_interval": self.checkpoint_interval,
        }

    def analyze_histograms(
        self,
        spark: SparkSession,
        cols: list[str],
        bins: int = 8,
        incremental: bool = False,
    ) -> int:
        """ANALYZE TABLE for range selectivity: record a per-file
        equi-width histogram (``hist_<col>`` = {lo, hi, counts[bins]})
        for each column in ``cols`` on every CURRENT file, as one
        metadata commit — the optimizer-statistics layer min/max boxes
        can't provide (a box says a range *may* match; a histogram
        says *how much*). The Delta/Iceberg ANALYZE contract: stats
        are collected on demand, carried verbatim with their file
        entries through later commits, and files written AFTER the
        analyze simply lack them until the next run —
        :meth:`estimate_range_count` reports its histogram coverage so
        staleness is visible, and falls back to whole-file pro-rata
        for unanalyzed files. Histograms count physical non-null rows
        (deletion vectors are not subtracted — they're estimates, and
        DV-heavy tables should compact anyway). Two scans per run
        (bounds, then bucket counts), both projecting only ``cols``.
        A lost commit race raises :class:`ConcurrentWriteConflict`."""
        snap = self.snapshot()
        if not snap["files"]:
            raise ValueError("analyze_histograms: empty table")
        entries = [dict(e) for e in snap["files"]]
        if incremental:
            # O(new files): scan only entries missing any requested
            # histogram — the stats-refresh a streaming-append table
            # runs per maintenance tick. Bin count must match the
            # recorded one or the carried and fresh histograms would
            # not be comparable.
            rec_bins = snap.get("hist_bins")
            if rec_bins is not None and rec_bins != bins:
                raise ValueError(
                    f"incremental analyze with bins={bins} over "
                    f"recorded hist_bins={rec_bins} — re-run full"
                )
            todo = [
                e for e in entries
                if any(f"hist_{c}" not in e for c in cols)
            ]
            if not todo:
                return snap["version"]  # nothing stale, no commit
            paths = [e["file"] for e in todo]
        else:
            paths = [e["file"] for e in entries]
        by_file = {e["file"]: e for e in entries}
        for c in cols:
            scan = spark.read.option("mergeSchema", "true").parquet(
                *paths
            ).select(
                F.col("_metadata.file_path").alias("_fp"),
                F.col(c).cast("double").alias("_v"),
            ).where(F.col("_v").isNotNull())
            bounds = {
                r["_fp"]: (r["lo"], r["hi"])
                for r in scan.groupBy("_fp")
                .agg(F.min("_v").alias("lo"), F.max("_v").alias("hi"))
                .collect()
            }
            lo_map = F.create_map(
                *[
                    F.lit(v)
                    for fp, (lo, hi) in bounds.items()
                    for v in (fp, float(lo))
                ]
            )
            hi_map = F.create_map(
                *[
                    F.lit(v)
                    for fp, (lo, hi) in bounds.items()
                    for v in (fp, float(hi))
                ]
            )
            width = hi_map[F.col("_fp")] - lo_map[F.col("_fp")]
            b = F.when(width <= 0, F.lit(0)).otherwise(
                F.least(
                    F.floor(
                        (F.col("_v") - lo_map[F.col("_fp")])
                        * bins
                        / width
                    ).cast("int"),
                    F.lit(bins - 1),
                )
            )
            counts: dict[str, list[int]] = {
                fp: [0] * bins for fp in bounds
            }
            for r in (
                scan.select("_fp", b.alias("_b"))
                .groupBy("_fp", "_b")
                .agg(F.count("*").alias("n"))
                .collect()
            ):
                counts[r["_fp"]][r["_b"]] = r["n"]
            for fp, (lo, hi) in bounds.items():
                if fp in by_file:
                    by_file[fp][f"hist_{c}"] = {
                        "lo": float(lo),
                        "hi": float(hi),
                        "counts": counts[fp],
                    }
            # a scanned file whose column is entirely NULL never
            # reaches `bounds` (the isNotNull filter) — record an
            # explicit empty histogram so it leaves the incremental
            # todo set instead of being rescanned and re-committed
            # identically on every maintenance tick (round-7 advice)
            for fp in paths:
                e = by_file.get(fp)
                if e is not None and f"hist_{c}" not in e:
                    e[f"hist_{c}"] = {
                        "lo": None,
                        "hi": None,
                        "counts": [0] * bins,
                    }
        meta = {
            k: v
            for k, v in snap.items()
            if k not in ("version", "operation", "x", "y", "files")
        }
        meta["hist_cols"] = sorted(
            set(meta.get("hist_cols", [])) | set(cols)
        )
        meta["hist_bins"] = bins
        try:
            return self._commit(
                snap["version"] + 1, "analyze", entries, meta
            )
        except FileExistsError:
            raise ConcurrentWriteConflict(
                f"analyze of {self.path} lost the commit race — "
                "re-run against the new state"
            ) from None

    def estimate_range_count(
        self, col: str, lo: float, hi: float
    ) -> tuple[float, int, int]:
        """Driver-side selectivity estimate for ``col BETWEEN lo AND
        hi``: (estimated_rows, n_files_with_histogram, n_files_total)
        — zero data read. Files with a recorded histogram pro-rate
        each overlapping bin under the uniform-within-bin assumption
        (the Selinger convention); unanalyzed files pro-rate the whole
        file over their min/max stats box when it exists, else count
        fully (conservative). Exact by construction when the range
        covers a file entirely or misses it entirely."""
        snap = self.snapshot()
        est = 0.0
        n_hist = 0
        for e in snap["files"]:
            h = e.get(f"hist_{col}")
            if h is not None:
                n_hist += 1
                if h["lo"] is None:
                    # explicit all-NULL histogram: no non-null value
                    # exists, so no range can match — contributes 0
                    continue
                h_lo, h_hi, counts = h["lo"], h["hi"], h["counts"]
                if h_hi <= h_lo:
                    if lo <= h_lo <= hi:
                        est += sum(counts)
                    continue
                width = (h_hi - h_lo) / len(counts)
                for j, cnt in enumerate(counts):
                    b0 = h_lo + j * width
                    b1 = h_lo + (j + 1) * width
                    ov = min(hi, b1) - max(lo, b0)
                    if ov >= width:
                        est += cnt
                    elif ov > 0:
                        est += cnt * ov / width
                continue
            f_lo, f_hi = e.get(f"min_{col}"), e.get(f"max_{col}")
            if f_lo is None or f_hi is None:
                est += e["n_rows"]
            elif f_hi <= f_lo:
                if lo <= f_lo <= hi:
                    est += e["n_rows"]
            else:
                ov = min(hi, f_hi) - max(lo, f_lo)
                if ov > 0:
                    est += e["n_rows"] * min(
                        1.0, ov / (f_hi - f_lo)
                    )
        return est, n_hist, len(snap["files"])

    def files_df(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The manifest as a queryable DataFrame (Iceberg's ``.files``
        metadata table): one row per live data file with its stats box,
        row count, schema epoch, and histogram/bloom/NDV availability
        flags — so table maintenance itself is a Spark query (small-
        file counts, stats staleness, per-file row distribution) with
        ZERO data read; the input is the snapshot JSON."""
        snap = self.snapshot(version)
        rows = [
            (
                e["file"],
                int(e["n_rows"]),
                float(e["min_x"]),
                float(e["max_x"]),
                float(e["min_y"]),
                float(e["max_y"]),
                int(e.get("schema_epoch", 0)),
                sorted(
                    k[len("hist_"):]
                    for k in e
                    if k.startswith("hist_")
                ),
                sorted(
                    k[len("bloom_"):]
                    for k in e
                    if k.startswith("bloom_")
                ),
            )
            for e in snap["files"]
        ]
        return spark.createDataFrame(
            rows,
            "file string, n_rows long, min_x double, max_x double, "
            "min_y double, max_y double, schema_epoch long, "
            "hist_cols array<string>, bloom_cols array<string>",
        )

    def history_df(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE HISTORY as a DataFrame: one row per retained
        commit with version, operation, in-commit timestamp, and the
        file/row deltas from :meth:`history_metrics` — the audit view
        a lakehouse UI renders, derived entirely from the log."""
        rows = [
            (
                int(m["version"]),
                str(m["operation"]),
                int(
                    self.snapshot(m["version"]).get(
                        "committed_at_us", 0
                    )
                ),
                int(m["files_added"]),
                int(m["files_removed"]),
                int(m["rows_added"]),
                int(m["rows_removed"]),
            )
            for m in self.history_metrics()
        ]
        return spark.createDataFrame(
            rows,
            "version long, operation string, committed_at_us long, "
            "n_files_added long, n_files_removed long, "
            "n_rows_added long, n_rows_removed long",
        )

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop all but the last ``keep_last`` snapshots and delete every
        data file no retained snapshot references (including orphans from
        lost commit races). Returns the deleted file paths.

        Reader-isolation contract (the Delta VACUUM trade): versioned
        reads only promise RETAINED versions. After vacuum, resolving a
        dropped version raises FileNotFoundError ("vacuumed away") at
        plan time; a DataFrame planned BEFORE the vacuum against a
        dropped version keeps working only while every file it
        references is still shared with a retained snapshot (pure
        appends carry parent files forward; compact/delete/merge
        supersede them), and otherwise fails LOUDLY at execution with a
        missing-file error — ``ignoreMissingFiles`` is deliberately not
        set, so a torn read can never return silently partial results.
        Pick ``keep_last`` >= the longest reader you expect in flight,
        exactly like Delta's retention window.

        TAGGED versions (see :meth:`tag`) are always retained — with
        their data files and delta-reconstruction chains — regardless
        of ``keep_last``; delete the tag to let the version age out."""
        import shutil

        vs = self.versions()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        keep_set = set(vs[-keep_last:]) | (
            set(self.tags().values()) & set(vs)
        )
        kept = sorted(keep_set)
        dropped = [v for v in vs if v not in keep_set]
        live: set[str] = set()
        for v in kept:
            s = self.snapshot(v)
            live.update(e["file"] for e in s["files"])
            live.update(s.get("dvs") or [])  # deletion vectors
        # reconstruction closure: a kept version stored as a DELTA
        # record chains back to its nearest checkpoint — those log
        # records must survive the vacuum or the kept version becomes
        # unresolvable. Only the tiny JSON records are retained; the
        # DATA files of dropped versions are still reclaimed below by
        # the kept-snapshots live-set rule.
        needed: set[int] = set()
        for v in kept:
            w = v
            while True:
                rec = json.loads(self.log.read(w))
                if "files" in rec:
                    break
                w = rec["delta_of"]
                needed.add(w)
        removed: list[str] = []
        for v in dropped:
            if v not in needed:
                self.log.delete(v)
                # a deleted version must resolve like one — evict it,
                # or this handle's cache would keep serving it
                self._snap_cache.pop(v, None)
        for name in sorted(os.listdir(self.path)):
            if not name.startswith("data-v"):
                continue
            d = os.path.join(self.path, name)
            for f in sorted(os.listdir(d)):
                full = os.path.join(d, f)
                # snapshots record file:// URIs from _metadata.file_path
                if f.endswith(".parquet") and not any(
                    u.endswith(full) for u in live
                ):
                    os.unlink(full)
                    removed.append(full)
            if not any(f.endswith(".parquet") for f in os.listdir(d)):
                shutil.rmtree(d)
        return removed


def _box_pred(x: str, y: str, x_range, y_range):
    return (
        (F.col(x) >= x_range[0])
        & (F.col(x) <= x_range[1])
        & (F.col(y) >= y_range[0])
        & (F.col(y) <= y_range[1])
    )


def _entry_hits_box(e: dict, x_range, y_range) -> bool:
    """Can the file's stats box intersect the (x, y) query box?"""
    return (
        e["max_x"] >= x_range[0]
        and e["min_x"] <= x_range[1]
        and e["max_y"] >= y_range[0]
        and e["min_y"] <= y_range[1]
    )


def ztable_delete_where(
    table: ZTable,
    spark: SparkSession,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    max_retries: int = 0,
) -> tuple[int, int, int]:
    """Copy-on-write DELETE of the rows inside the (x, y) box:
    returns (new_version, n_files_rewritten, n_files_total).

    The table-format delete plan: the snapshot's min/max stats identify
    which files can POSSIBLY hold matching rows; only those are read
    and rewritten (minus the deleted rows), every other file's manifest
    entry is carried over untouched. Cost is O(affected files), not
    O(table) — on a 100 TB table a small-box delete rewrites a handful
    of files. Old versions still see the deleted rows (time travel);
    vacuum reclaims the superseded files.

    ``max_retries`` > 0 turns on the Delta conflict protocol for a
    lost commit race. Each lost race consumes one retry and resolves
    by the conflict-range check: if every interleaved commit was a
    blind append whose files' stats boxes are DISJOINT from the delete
    box, the delete commutes with them and rebases metadata-only (new
    snapshot = latest's files minus the rewritten ones, plus the
    survivors — no Spark re-write). If an appended file's box
    intersects the box (it may hold rows this delete should have
    removed) or a non-append commit interleaved, the whole delete
    re-runs against the new state, so the serial order is always
    delete-AFTER-append. Exhausted budget raises
    :class:`ConcurrentWriteConflict`; orphaned data dirs from failed
    attempts are vacuum-able."""
    budget = max_retries
    while True:
        snap = table.snapshot()
        hit = [
            e for e in snap["files"]
            if _entry_hits_box(e, x_range, y_range)
        ]
        hitset = {e["file"] for e in hit}
        kept = [e for e in snap["files"] if e["file"] not in hitset]
        version = snap["version"] + 1
        total = len(snap["files"])
        cols = table.stats_cols(snap)
        meta = {
            "cell": snap["cell"], "bits": snap["bits"],
            "stats_cols": cols, "zcol": table.zcol(snap),
            **table._schema_meta(snap),
        }
        if "columns" in snap:  # delete never changes the table schema
            meta["columns"] = snap["columns"]
        if "column_types" in snap:
            meta["column_types"] = snap["column_types"]
        if hit:
            survivors = table._read_files(spark, hit, snap).where(
                ~_box_pred(table.x, table.y, x_range, y_range)
            )
            data_dir = table._new_data_dir(version)
            _table_data_write(
                survivors, data_dir, table.x, table.y,
                table.zcol(snap), max(1, len(hit)),
                snap["cell"], snap["bits"], table.curve(snap),
            )
            new = table._stamp_epoch(
                _file_stats(
                    spark, data_dir, table.x, table.y, cols,
                    table.bloom_cols(snap), table.bloom_bits(snap),
                    table.ndv_cols(snap), table.ndv_k(snap),
                ),
                snap,
            )
        else:
            new = []
        manifest = kept + new
        rerun = False
        while not rerun:
            try:
                table._commit(version, "delete", manifest, meta)
                return version, len(hit), total
            except FileExistsError as exc:
                if budget == 0:
                    raise ConcurrentWriteConflict(
                        f"delete on {table.path} lost the commit race "
                        "and the retry budget is exhausted; re-run or "
                        "raise max_retries"
                    ) from exc
                budget -= 1
                added, pure = table._appends_since(snap)
                if pure and not any(
                    _entry_hits_box(e, x_range, y_range) for e in added
                ):
                    # disjoint blind appends: metadata-only rebase
                    latest = table.snapshot()
                    version = latest["version"] + 1
                    manifest = [
                        e for e in latest["files"]
                        if e["file"] not in hitset
                    ] + new
                    if "columns" in latest:
                        meta["columns"] = latest["columns"]
                    if "column_types" in latest:
                        meta["column_types"] = latest["column_types"]
                else:
                    rerun = True  # conflicting rows may exist: re-plan


def ztable_upsert(
    table: ZTable,
    spark: SparkSession,
    df: DataFrame,
    n_files: int = 4,
    max_retries: int = 0,
    extra_meta: dict | None = None,
) -> tuple[int, int, int]:
    """Coordinate-keyed MERGE: rows of ``df`` REPLACE any existing row
    at the same (x, y) and are inserted otherwise. Returns
    (new_version, n_files_rewritten, n_files_total).

    The copy-on-write plan, like :func:`ztable_delete_where` but with
    the match set coming from data: each batch row is tested against
    the (tiny, broadcast) per-file stats boxes, so only files that can
    possibly hold a matched coordinate are read, anti-joined on (x, y)
    against the batch keys, and rewritten together with the batch;
    every other manifest entry carries over. Cost is O(affected files
    + batch).

    The key is fixed to the layout columns (x, y) by design: stats
    pruning is only sound when the match key is the thing the stats
    describe — a MERGE on a non-layout key could match a row in a file
    whose box excludes the incoming row's coordinates, and would have
    to scan the full table. That trade is the same one Delta users hit
    when the MERGE condition isn't aligned with partitioning/Z-order.

    ``max_retries`` > 0 turns on the Delta MERGE conflict protocol for
    a lost commit race (same shape as :func:`ztable_delete_where`): a
    race against blind appends whose files' stats boxes contain NO
    batch key rebases metadata-only; an appended file that could hold
    a matched coordinate (its rows would escape replacement), or any
    non-append commit, re-runs the whole MERGE against the new state —
    serial order merge-AFTER-append. Exhausted budget raises
    :class:`ConcurrentWriteConflict`."""
    x, y = table.x, table.y
    keys = (
        df.select(F.col(x).alias("_kx"), F.col(y).alias("_ky"))
        .distinct()
        .localCheckpoint()
    )

    def files_hit(entries: list[dict]) -> set[str]:
        """Which of these files' stats boxes contain a batch key?
        One broadcast theta-join per call; the box side is tiny (one
        row per file), the key side stays distributed."""
        if not entries:
            return set()
        boxes = spark.createDataFrame(
            [
                (e["file"], e["min_x"], e["max_x"],
                 e["min_y"], e["max_y"])
                for e in entries
            ],
            ["file", "min_x", "max_x", "min_y", "max_y"],
        )
        rows = (
            keys.join(
                F.broadcast(boxes),
                (F.col("_kx") >= F.col("min_x"))
                & (F.col("_kx") <= F.col("max_x"))
                & (F.col("_ky") >= F.col("min_y"))
                & (F.col("_ky") <= F.col("max_y")),
            )
            .select("file")
            .distinct()
            .collect()
        )
        return {r["file"] for r in rows}

    budget = max_retries
    while True:
        snap = table.snapshot()
        version = snap["version"] + 1
        total = len(snap["files"])
        hit = files_hit(snap["files"])
        kept = [e for e in snap["files"] if e["file"] not in hit]
        hit_entries = [e for e in snap["files"] if e["file"] in hit]
        if hit:
            old = table._read_files(spark, hit_entries, snap).join(
                keys,
                (F.col(x) == F.col("_kx")) & (F.col(y) == F.col("_ky")),
                "left_anti",
            )
            # allowMissingColumns: the batch or the hit files may carry
            # schema-evolved columns the other side lacks (null-filled,
            # the mergeSchema read semantics)
            merged = old.unionByName(df, allowMissingColumns=True)
        else:
            merged = df
        cols = table.stats_cols(snap)
        data_dir = table._new_data_dir(version)
        _table_data_write(
            merged, data_dir, x, y, table.zcol(snap),
            max(n_files, len(hit)), snap["cell"], snap["bits"],
            table.curve(snap),
        )
        new = table._stamp_epoch(
            _file_stats(
                spark, data_dir, x, y, cols,
                table.bloom_cols(snap), table.bloom_bits(snap),
                table.ndv_cols(snap), table.ndv_k(snap),
            ),
            snap,
        )
        # Schema carries through (and may grow: unionByName above
        # accepts batch-only columns, the mergeSchema evolution
        # semantics)
        table_cols = snap.get("columns", list(df.columns))
        added_cols = [
            c for c in df.columns if c not in set(table_cols)
        ]
        bad = [
            c for c in added_cols
            if c in set(snap.get("retired_names", []))
        ]
        if bad:
            raise ValueError(
                f"merge: column name(s) {bad} were renamed away "
                "earlier; reusing them would alias old data"
            )
        merged_cols = list(table_cols) + added_cols
        # MERGE always evolves: unionByName above already coerced both
        # sides to the per-column wider type, so record exactly that
        merged_types, _ = _reconcile_types(
            snap.get("column_types"), _df_types(df), "merge", "merge"
        )
        meta = {
            "cell": snap["cell"], "bits": snap["bits"],
            "stats_cols": cols, "zcol": table.zcol(snap),
            "columns": merged_cols,
            **table._schema_meta(snap),
            **(extra_meta or {}),
        }
        if merged_types is not None:
            meta["column_types"] = merged_types
        manifest = kept + new
        rerun = False
        while not rerun:
            try:
                table._commit(version, "merge", manifest, meta)
                return version, len(hit), total
            except FileExistsError as exc:
                if budget == 0:
                    raise ConcurrentWriteConflict(
                        f"merge on {table.path} lost the commit race "
                        "and the retry budget is exhausted; re-run or "
                        "raise max_retries"
                    ) from exc
                budget -= 1
                added, pure = table._appends_since(snap)
                if pure and not files_hit(added):
                    # no appended file can hold a matched key:
                    # metadata-only rebase onto the latest snapshot
                    latest = table.snapshot()
                    version = latest["version"] + 1
                    manifest = [
                        e for e in latest["files"]
                        if e["file"] not in hit
                    ] + new
                    latest_cols = latest.get("columns", merged_cols)
                    meta["columns"] = list(latest_cols) + [
                        c for c in df.columns
                        if c not in set(latest_cols)
                    ]
                    if (
                        merged_types is not None
                        and "column_types" in latest
                    ):
                        meta["column_types"] = _reconcile_types(
                            latest["column_types"], merged_types,
                            "merge", "merge",
                        )[0]
                else:
                    rerun = True  # a matched row may hide: re-plan


def scd2_merge(
    table: ZTable,
    spark: SparkSession,
    updates: DataFrame,
    attr: str = "status",
    ts: str = "ts_us",
    seq: str = "seq",
    n_files: int = 4,
    extra_meta: dict | None = None,
) -> tuple[int, int, int]:
    """Apply one time-ordered batch of dimension updates to an SCD
    Type 2 ZTable — the incremental half of
    ``operators/windows.scd2_history``.

    The table's layout columns ARE the version identity: ``table.x``
    is the entity key and ``table.y`` is ``valid_from_us``, so the
    coordinate-keyed :func:`ztable_upsert` gives the merge its exact
    row-replacement semantics (closing the open version rewrites the
    same coordinate; a new version is a new coordinate) and its
    replay idempotence (re-applying a batch re-upserts identical
    rows — a strict no-op on the data).

    ``updates`` rows are (``table.x``, ``attr``, ``ts`` micros,
    ``seq``); the entity-local total order is (ts, seq). Per batch:
    the standing open version of each affected entity is prepended as
    the chain head (seq NULL sorts first on ties), consecutive equal
    attribute values collapse (so a no-change update never opens a
    spurious version), LEAD assigns ``valid_to_us``, and the rebuilt
    chain — O(batch + affected entities) rows — is upserted. Closed
    history rows are never touched.

    Contract: batches must be time-ordered per entity. An update
    older than the entity's open version is admitted only when it is
    REPLAY-CONSISTENT — some retained version's interval covers its
    timestamp with the same attribute value — and is then dropped
    (at-least-once delivery replays whole batches; those rows carry
    no new information). A late row that contradicts history, or
    predates the entity's first version, raises: genuinely
    late-arriving dimension rewrites need the full-history rebuild,
    which is exactly :func:`~big_data_computing__spark.operators
    .windows.scd2_history` over the corrected stream. Sequentially
    applying any time-ordered batch split of a stream — including
    re-applying any batch — yields bit-identical history to the
    one-shot batch operator, pinned by tests/test_layout.py.
    """
    from pyspark.sql import Window

    key = table.x
    cur = table.read(spark).where(F.col("is_current"))
    b = updates.select(
        F.col(key),
        F.col(attr).alias("_status"),
        F.col(ts).cast("long").alias("_ts_us"),
        F.col(seq).cast("long").alias("_seq"),
    )
    keys = b.select(key).distinct()
    cur_aff = cur.join(keys, key, "inner")
    opens = cur_aff.select(F.col(key), F.col(table.y).alias("_open_from"))
    b = b.join(opens, key, "left")
    late = b.where(F.col("_ts_us") < F.col("_open_from"))
    hist = table.read(spark).select(
        F.col(key).alias("_hk"),
        F.col(table.y).alias("_vf"),
        F.col("valid_to_us").alias("_vt"),
        F.col(attr).alias("_vstat"),
    )
    covered = late.join(
        hist,
        (late[key] == hist["_hk"])
        & (F.col("_vf") <= F.col("_ts_us"))
        & (F.col("_vt").isNull() | (F.col("_ts_us") < F.col("_vt"))),
        "left",
    )
    bad = (
        covered.where(
            F.col("_vstat").isNull()
            | (F.col("_vstat") != F.col("_status"))
        )
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            "scd2_merge: batch contains an update older than an "
            "entity's open version that contradicts recorded history "
            "(not a replay); rebuild from the corrected full stream "
            "with operators/windows.scd2_history instead"
        )
    b = b.where(
        F.col("_open_from").isNull()
        | (F.col("_ts_us") >= F.col("_open_from"))
    ).drop("_open_from")
    head = cur_aff.select(
        F.col(key),
        F.col(attr).alias("_status"),
        F.col(table.y).cast("long").alias("_ts_us"),
        F.lit(None).cast("long").alias("_seq"),
    )
    w = Window.partitionBy(key).orderBy(
        "_ts_us", F.col("_seq").asc_nulls_first()
    )
    chain = (
        head.unionByName(b)
        .withColumn("_prev", F.lag("_status").over(w))
        .where(
            F.col("_prev").isNull()
            | (F.col("_prev") != F.col("_status"))
        )
        .withColumn("_next_us", F.lead("_ts_us").over(w))
    )
    out = chain.select(
        F.col(key),
        F.col("_ts_us").alias(table.y),
        F.col("_status").alias(attr),
        F.col("_next_us").alias("valid_to_us"),
        F.col("_next_us").isNull().alias("is_current"),
    )
    return table.upsert(
        spark, out, n_files=n_files, extra_meta=extra_meta
    )
