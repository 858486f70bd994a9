"""Z-order layout + manifest min/max file pruning (sources/layout.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from big_data_computing__spark.sources import layout as L
from big_data_computing__spark.sources.readers import customer_points

N_FILES = 64
# Small square box in the middle of the fixture's coordinate space
# (customer_points: x = acctbal ∈ [-999, 9999], y = Knuth-scatter
# ∈ [0, 10000)) — the 2-D range shape p2/c6's grid predicates take.
BOX_X = (4000.0, 5000.0)
BOX_Y = (4000.0, 5000.0)


def _layouts(spark, sf_dir, tmp_path):
    pts = customer_points(spark, sf_dir)
    zpath = str(tmp_path / "zordered")
    lpath = str(tmp_path / "lexicographic")
    L.write_zordered(pts, zpath, n_files=N_FILES, cell=200.0)
    L.write_lexicographic(pts, lpath, n_files=N_FILES)
    return pts, zpath, lpath


def test_manifest_written_and_covers_all_rows(spark, sf_dir, tmp_path):
    pts, zpath, lpath = _layouts(spark, sf_dir, tmp_path)
    n = pts.count()
    for path in (zpath, lpath):
        assert os.path.exists(os.path.join(path, L.MANIFEST_NAME))
        files, total = L.prune_files(
            path, (-1e18, 1e18), (-1e18, 1e18)
        )
        assert len(files) == total == N_FILES
        assert spark.read.parquet(path).count() == n


def test_zorder_prunes_more_files_than_lexicographic(
    spark, sf_dir, tmp_path
):
    """The point of the layout: for a 2-D box predicate the Z-order
    manifest must skip MORE files than the lexicographic one, and for a
    trailing-column (y-only) band the gap must be dramatic — lex files
    span all of y, so y stats prune almost nothing there."""
    _, zpath, lpath = _layouts(spark, sf_dir, tmp_path)
    z_files, z_total = L.prune_files(zpath, BOX_X, BOX_Y)
    l_files, l_total = L.prune_files(lpath, BOX_X, BOX_Y)
    assert z_total == l_total == N_FILES
    assert len(z_files) < len(l_files), (len(z_files), len(l_files))
    # the box is ~1/100 of the area: Z-order should read a small
    # minority of files, not just "one fewer"
    assert len(z_files) <= N_FILES // 4

    full_x = (-1e18, 1e18)
    zb, _ = L.prune_files(zpath, full_x, BOX_Y)
    lb, _ = L.prune_files(lpath, full_x, BOX_Y)
    # lex layout is blind on the trailing column: it keeps the large
    # majority of files, Z-order keeps a small minority
    assert len(zb) < len(lb)
    assert len(zb) <= N_FILES // 4 < N_FILES // 2 <= len(lb)


def test_pruned_read_is_exact(spark, sf_dir, tmp_path):
    """Pruning is an optimization, never a correctness change: the
    manifest-pruned read must return exactly the full-scan filter's
    rows, under both layouts."""
    pts, zpath, lpath = _layouts(spark, sf_dir, tmp_path)
    want = sorted(
        (r["x"], r["y"])
        for r in pts.where(
            (F.col("x").between(*BOX_X)) & (F.col("y").between(*BOX_Y))
        ).collect()
    )
    assert want, "fixture box must be non-empty for the test to bite"
    for path in (zpath, lpath):
        res, n_read, n_total = L.read_pruned(spark, path, BOX_X, BOX_Y)
        got = sorted((r["x"], r["y"]) for r in res.collect())
        assert got == want
        assert 0 < n_read <= n_total


def test_empty_box_reads_zero_files(spark, sf_dir, tmp_path):
    _, zpath, _ = _layouts(spark, sf_dir, tmp_path)
    res, n_read, _ = L.read_pruned(
        spark, zpath, (1e17, 2e17), (1e17, 2e17)
    )
    assert n_read == 0
    assert res.count() == 0


# -- ZTable: snapshot log / append / time travel / compact / vacuum ------


def _seed_table(spark, sf_dir, tmp_path, n_files=8):
    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0)
    extra = pts.where(F.col("y") >= 5000.0)
    t = L.ZTable.create(
        base, str(tmp_path / "ztable"), n_files=n_files, cell=200.0
    )
    return t, base, extra


def test_ztable_create_and_read(spark, sf_dir, tmp_path):
    t, base, _ = _seed_table(spark, sf_dir, tmp_path)
    assert t.versions() == [0]
    assert t.read(spark).count() == base.count()
    snap = t.snapshot()
    assert snap["operation"] == "create"
    assert sum(e["n_rows"] for e in snap["files"]) == base.count()


def test_ztable_append_is_incremental_and_time_travels(
    spark, sf_dir, tmp_path
):
    """Append commits parent files + new files; a pinned version-0 read
    is unaffected by the append (snapshot isolation / time travel)."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    v0_files = {e["file"] for e in t.snapshot(0)["files"]}
    t.append(extra, n_files=4)
    assert t.versions() == [0, 1]
    s1 = t.snapshot(1)
    # incremental: every v0 entry carried over verbatim, new files added
    assert v0_files < {e["file"] for e in s1["files"]}
    assert t.read(spark).count() == base.count() + extra.count()
    # time travel: v0 still reads exactly the original rows
    assert t.read(spark, version=0).count() == base.count()


def test_ztable_pruned_read_exact_across_versions(
    spark, sf_dir, tmp_path
):
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra, n_files=4)
    pts = customer_points(spark, sf_dir)
    want = sorted(
        (r["x"], r["y"])
        for r in pts.where(
            (F.col("x").between(*BOX_X)) & (F.col("y").between(*BOX_Y))
        ).collect()
    )
    assert want
    res, n_read, n_total = t.read_pruned(spark, BOX_X, BOX_Y)
    got = sorted((r["x"], r["y"]) for r in res.collect())
    assert got == want
    assert 0 < n_read < n_total


def test_ztable_compact_restores_clustering(spark, sf_dir, tmp_path):
    """After many small appends the table is fragmented; compaction
    rewrites to globally Z-ordered files, so a box query prunes at least
    as well as before while the rows are unchanged."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    for i in range(4):
        lo, hi = 5000.0 + 1250.0 * i, 5000.0 + 1250.0 * (i + 1)
        t.append(
            extra.where(
                (F.col("y") >= lo) & (F.col("y") < hi)
            ),
            n_files=4,
        )
    frag_res, frag_read, frag_total = t.read_pruned(spark, BOX_X, BOX_Y)
    want = sorted((r["x"], r["y"]) for r in frag_res.collect())
    v = t.compact(spark, n_files=frag_total)
    assert t.snapshot(v)["operation"] == "compact"
    res, n_read, n_total = t.read_pruned(spark, BOX_X, BOX_Y)
    assert sorted((r["x"], r["y"]) for r in res.collect()) == want
    assert n_total == frag_total
    assert n_read <= frag_read
    hist = t.history()
    assert [h["operation"] for h in hist] == [
        "create", "append", "append", "append", "append", "compact"
    ]
    # compaction preserved the row count
    assert hist[-1]["n_rows"] == hist[-2]["n_rows"]


def test_ztable_vacuum_drops_old_versions(spark, sf_dir, tmp_path):
    import pytest

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra, n_files=4)
    t.compact(spark, n_files=8)
    n = t.read(spark).count()
    removed = t.vacuum(keep_last=1)
    assert removed, "pre-compaction files must be deleted"
    assert t.versions() == [2]
    assert t.read(spark).count() == n
    with pytest.raises(FileNotFoundError):
        t.snapshot(0)


def test_ztable_concurrent_commit_loses_race(spark, sf_dir, tmp_path):
    """Two writers committing the same version: the second publish must
    fail loudly, never silently clobber the log."""
    import pytest

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t2 = L.ZTable(t.path)  # second handle on the same table
    t.append(extra.limit(10), n_files=1)
    snap_before = t2.snapshot(0)  # t2 still believes v0 is latest
    with pytest.raises(FileExistsError):
        t2._write_commit(
            extra.limit(5), 1, "append", 1,
            snap_before["cell"], snap_before["bits"], snap_before["files"],
        )
    # the winning commit is intact
    assert t.snapshot(1)["operation"] == "append"


def test_ztable_delete_where_rewrites_only_affected_files(
    spark, sf_dir, tmp_path
):
    """Copy-on-write delete: only stats-intersecting files are
    rewritten, the deleted box is empty afterwards, every other row
    survives byte-for-byte, and time travel still sees the old rows."""
    pts = customer_points(spark, sf_dir)
    t = L.ZTable.create(
        pts, str(tmp_path / "zt_del"), n_files=16, cell=200.0
    )
    before = pts.count()
    in_box = pts.where(
        (F.col("x").between(*BOX_X)) & (F.col("y").between(*BOX_Y))
    ).count()
    assert in_box > 0
    v, rewritten, total = t.delete_where(spark, BOX_X, BOX_Y)
    assert 0 < rewritten < total == 16
    assert t.snapshot(v)["operation"] == "delete"
    after = t.read(spark)
    assert after.count() == before - in_box
    assert (
        after.where(
            (F.col("x").between(*BOX_X)) & (F.col("y").between(*BOX_Y))
        ).count()
        == 0
    )
    # rows outside the box are untouched
    want = sorted(
        (r["x"], r["y"])
        for r in pts.where(
            ~((F.col("x").between(*BOX_X)) & (F.col("y").between(*BOX_Y)))
        ).collect()
    )
    got = sorted((r["x"], r["y"]) for r in after.collect())
    assert got == want
    # time travel: version 0 still holds the deleted rows
    assert t.read(spark, version=0).count() == before


def test_ztable_delete_miss_is_metadata_only(spark, sf_dir, tmp_path):
    """A delete whose box intersects no file stats commits a new
    version without touching any data file."""
    pts = customer_points(spark, sf_dir)
    t = L.ZTable.create(
        pts, str(tmp_path / "zt_del2"), n_files=8, cell=200.0
    )
    v, rewritten, total = t.delete_where(
        spark, (1e17, 2e17), (1e17, 2e17)
    )
    assert (v, rewritten, total) == (1, 0, 8)
    assert t.read(spark).count() == pts.count()


def test_ztable_upsert_replaces_and_inserts(spark, sf_dir, tmp_path):
    """Coordinate-keyed MERGE: batch rows replace existing rows at the
    same (x, y) and insert elsewhere; only stats-matched files are
    rewritten; time travel sees the pre-merge payloads."""
    pts = customer_points(spark, sf_dir)
    t = L.ZTable.create(
        pts, str(tmp_path / "zt_ups"), n_files=16, cell=200.0
    )
    n0 = pts.count()
    # batch: 50 existing coordinates with a flipped payload id, plus 5
    # brand-new points far outside any current file box
    existing = pts.limit(50).select(
        (F.col("id") + 1_000_000).alias("id"), "x", "y"
    )
    novel = spark.range(5).select(
        (F.col("id") + 2_000_000).alias("id"),
        (F.col("id").cast("double") + 50_000.0).alias("x"),
        (F.col("id").cast("double") + 50_000.0).alias("y"),
    )
    batch = existing.unionByName(novel).localCheckpoint()
    v, rewritten, total = t.upsert(spark, batch)
    assert 0 < rewritten <= total == 16
    assert t.snapshot(v)["operation"] == "merge"
    after = t.read(spark)
    assert after.count() == n0 + 5  # replacements don't grow the table
    # every batch payload present exactly; no stale payload remains
    assert after.where(F.col("id") >= 1_000_000).count() == 55
    stale = after.join(
        batch.select("x", "y"), ["x", "y"], "left_semi"
    ).where(F.col("id") < 1_000_000)
    assert stale.count() == 0
    # time travel: the create snapshot still shows the old payloads
    assert t.read(spark, version=0).where(
        F.col("id") >= 1_000_000
    ).count() == 0


def test_ztable_upsert_into_empty_region_carries_all_files(
    spark, sf_dir, tmp_path
):
    pts = customer_points(spark, sf_dir)
    t = L.ZTable.create(
        pts, str(tmp_path / "zt_ups2"), n_files=8, cell=200.0
    )
    novel = spark.range(7).select(
        (F.col("id") + 3_000_000).alias("id"),
        (F.col("id").cast("double") + 90_000.0).alias("x"),
        (F.col("id").cast("double") + 90_000.0).alias("y"),
    )
    v, rewritten, total = t.upsert(spark, novel)
    assert (rewritten, total) == (0, 8)
    assert t.read(spark).count() == pts.count() + 7


def test_ztable_append_rebase_retries_lost_race(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Blind-append rebase: a writer that loses the version race with
    max_retries > 0 must re-commit its ALREADY-WRITTEN files against
    the new latest snapshot — metadata only, exactly one data write —
    and the final table holds all three batches."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    b_rows = extra.where(F.col("y") < 7000.0)
    c_rows = extra.where(F.col("y") >= 7000.0)
    t.append(b_rows, n_files=2)  # honest v1

    writes = []
    orig_write = L._zorder_write

    def counting_write(*a, **kw):
        writes.append(1)
        return orig_write(*a, **kw)

    monkeypatch.setattr(L, "_zorder_write", counting_write)

    # feed the next append a STALE parent (v0) on its first snapshot()
    # read, so its first commit targets v1 and collides
    stale = t.snapshot(0)
    orig_snapshot = L.ZTable.snapshot
    served = []

    def stale_first(self, version=None):
        if version is None and not served:
            served.append(1)
            return stale
        return orig_snapshot(self, version)

    monkeypatch.setattr(L.ZTable, "snapshot", stale_first)
    v = t.append(c_rows, n_files=2, max_retries=1)
    monkeypatch.setattr(L.ZTable, "snapshot", orig_snapshot)

    assert v == 2
    assert len(writes) == 1, "rebase must not rewrite data files"
    assert t.snapshot(2)["operation"] == "append"
    assert (
        t.read(spark).count()
        == base.count() + b_rows.count() + c_rows.count()
    )
    # v1 (the racing winner) still reads base + B only
    assert t.read(spark, version=1).count() == base.count() + b_rows.count()


def test_ztable_append_race_without_retries_raises(
    spark, sf_dir, tmp_path, monkeypatch
):
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra.limit(10), n_files=1)
    stale = t.snapshot(0)
    orig_snapshot = L.ZTable.snapshot
    served = []

    def stale_first(self, version=None):
        if version is None and not served:
            served.append(1)
            return stale
        return orig_snapshot(self, version)

    monkeypatch.setattr(L.ZTable, "snapshot", stale_first)
    import pytest

    with pytest.raises(RuntimeError, match="lost the commit race"):
        t.append(extra.limit(5), n_files=1)  # max_retries=0


def test_ztable_racing_writers_use_private_data_dirs(
    spark, sf_dir, tmp_path
):
    """Two writers that both believe they're writing the same version
    must land their parquet files in DIFFERENT directories (random
    token), so the loser's write can never clobber the winner's data."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    d1 = t._new_data_dir(1)
    d2 = t._new_data_dir(1)
    assert d1 != d2
    assert os.path.basename(d1).startswith("data-v00001-")


def test_ztable_stats_cols_prune_non_layout_column(
    spark, sf_dir, tmp_path
):
    """Multi-column stats: a table created with stats_cols=['id'] must
    prune files from an id-range predicate alone (no layout column in
    the query), return exactly the true rows, and keep working across
    append and compact (stats carried through every commit path)."""
    pts = customer_points(spark, sf_dir).withColumn(
        "id", F.monotonically_increasing_id()
    )
    # correlate id with y so id-ranges are spatially clustered enough
    # for per-file min/max to bite under the Z-order write
    pts = pts.withColumn(
        "id", (F.col("y") * 1000).cast("long")
    ).localCheckpoint()
    base = pts.where(F.col("y") < 5000.0)
    extra = pts.where(F.col("y") >= 5000.0)
    t = L.ZTable.create(
        base,
        str(tmp_path / "zt_stats"),
        n_files=8,
        cell=200.0,
        stats_cols=["id"],
    )
    t.append(extra, n_files=8)
    assert t.stats_cols() == ["id"]
    lo, hi = 1_000_000, 2_000_000
    want = sorted(
        (r["x"], r["y"], r["id"])
        for r in pts.where(F.col("id").between(lo, hi)).collect()
    )
    assert want, "fixture range must be non-empty"
    res, n_read, n_total = t.read_pruned_where(spark, {"id": (lo, hi)})
    got = sorted((r["x"], r["y"], r["id"]) for r in res.collect())
    assert got == want
    assert 0 < n_read < n_total, (n_read, n_total)
    # compaction carries the stats columns
    t.compact(spark, n_files=16)
    res2, n_read2, n_total2 = t.read_pruned_where(
        spark, {"id": (lo, hi)}
    )
    assert sorted(
        (r["x"], r["y"], r["id"]) for r in res2.collect()
    ) == want
    assert 0 < n_read2 < n_total2
    # combined layout + extra predicate prunes at least as hard
    res3, n_read3, _ = t.read_pruned_where(
        spark, {"id": (lo, hi), "x": BOX_X}
    )
    assert n_read3 <= n_read2


def test_ztable_stats_cols_guards(spark, sf_dir, tmp_path):
    import pytest

    pts = customer_points(spark, sf_dir)
    with pytest.raises(ValueError, match="layout column"):
        L.ZTable.create(
            pts, str(tmp_path / "g1"), stats_cols=["x"]
        )
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    with pytest.raises(ValueError, match="no stats recorded"):
        t.read_pruned_where(spark, {"nope": (0, 1)})


def test_ztable_concurrent_appends_all_land_via_rebase(
    spark, sf_dir, tmp_path
):
    """The concurrency claim end-to-end: 4 writers appending
    concurrently (real thread races on the os.link publish) must ALL
    land with max_retries — every batch present exactly once, one
    append commit per writer, no clobbered data files."""
    from concurrent.futures import ThreadPoolExecutor

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    batches = [
        extra.where(F.col("y") >= 5000.0 + 1250.0 * i).where(
            F.col("y") < 5000.0 + 1250.0 * (i + 1)
        ).localCheckpoint()
        for i in range(4)
    ]
    sizes = [b.count() for b in batches]
    assert all(sizes), "fixture slices must be non-empty"

    def do_append(b):
        # each thread gets its own handle (no shared snapshot cache)
        return L.ZTable(t.path).append(b, n_files=1, max_retries=8)

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(do_append, batches))

    assert sorted(versions) == [1, 2, 3, 4]
    assert t.latest_version() == 4
    assert t.read(spark).count() == base.count() + sum(sizes)
    ops = [h["operation"] for h in t.history()]
    assert ops == ["create"] + ["append"] * 4
    # every snapshot's file list is strictly a superset of its parent's
    for v in range(1, 5):
        prev = {e["file"] for e in t.snapshot(v - 1)["files"]}
        cur = {e["file"] for e in t.snapshot(v)["files"]}
        assert prev < cur


def test_ztable_schema_evolution_on_append(spark, sf_dir, tmp_path):
    """Delta-style mergeSchema: strict append rejects a changed column
    set; schema_mode='merge' admits an added column, reads null-fill it
    for pre-evolution files, and the layout/stats columns can never be
    omitted."""
    import pytest

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    evolved = extra.withColumn("tag", F.lit("fresh"))
    with pytest.raises(ValueError, match="schema_mode='merge'"):
        t.append(evolved, n_files=2)
    v = t.append(evolved, n_files=2, schema_mode="merge")
    assert "tag" in t.snapshot(v)["columns"]
    full = t.read(spark)
    assert "tag" in full.columns
    assert full.where(F.col("tag") == "fresh").count() == extra.count()
    assert full.where(F.col("tag").isNull()).count() == base.count()
    # a later batch may omit the evolved column (null-filled), but
    # never the layout columns
    v2 = t.append(extra.limit(7), n_files=1, schema_mode="merge")
    assert "tag" in t.snapshot(v2)["columns"]
    with pytest.raises(ValueError, match="layout/stats"):
        t.append(
            extra.select("x").withColumn("tag", F.lit("z")),
            schema_mode="merge",
        )
    # pinned pre-evolution read is unaffected (time travel)
    assert "tag" not in t.read(spark, version=0).columns


def test_ztable_3d_layout_prunes_z_axis(spark, sf_dir, tmp_path):
    """A ZTable created with z='w' clusters data by the 3-D Morton key
    and records w stats, so a w-band read prunes files; the zcol
    survives append (fresh handle without z), delete, and compact; and
    pruned reads stay exact throughout."""
    import random

    rnd = random.Random(11)
    rows = [
        (rnd.uniform(0, 100), rnd.uniform(0, 100), rnd.uniform(0, 100))
        for _ in range(30_000)
    ]
    df = spark.createDataFrame(rows, "x double, y double, w double")
    half = df.where(F.col("w") < 50.0)
    rest = df.where(F.col("w") >= 50.0)
    t = L.ZTable.create(
        half, str(tmp_path / "zt3"), n_files=16, cell=5.0, z="w"
    )
    assert t.snapshot()["zcol"] == "w"
    # fresh handle (no z passed) recovers the layout from the log and
    # keeps writing 3-D
    t2 = L.ZTable(t.path)
    t2.append(rest, n_files=16)
    assert t2.snapshot()["zcol"] == "w"
    band = {"w": (40.0, 45.0)}
    want = sorted(
        (r["x"], r["y"], r["w"])
        for r in df.where(F.col("w").between(40.0, 45.0)).collect()
    )
    res, n_read, n_total = t2.read_pruned_where(spark, band)
    assert sorted((r["x"], r["y"], r["w"]) for r in res.collect()) == want
    assert 0 < n_read < n_total, (n_read, n_total)
    # delete a w-region copy-on-write, stats carried
    v, n_hit, _ = t2.delete_where(spark, (0.0, 10.0), (0.0, 10.0))
    res2, n_read2, _ = t2.read_pruned_where(spark, band)
    want2 = sorted(
        (r["x"], r["y"], r["w"])
        for r in df.where(
            (F.col("w").between(40.0, 45.0))
            & ~((F.col("x").between(0.0, 10.0))
                & (F.col("y").between(0.0, 10.0)))
        ).collect()
    )
    assert sorted(
        (r["x"], r["y"], r["w"]) for r in res2.collect()
    ) == want2
    # compaction restores one clustered file set, zcol intact
    t2.compact(spark, n_files=32)
    assert t2.snapshot()["zcol"] == "w"
    res3, n_read3, n_total3 = t2.read_pruned_where(spark, band)
    assert sorted(
        (r["x"], r["y"], r["w"]) for r in res3.collect()
    ) == want2
    assert 0 < n_read3 < n_total3


def test_ztable_columns_meta_survives_all_commit_paths(
    spark, sf_dir, tmp_path
):
    """The recorded table schema ('columns') must survive compact,
    delete and merge commits — otherwise a later strict-mode append
    falls back to the batch's own columns and the strict schema check
    silently disarms (r4 advisor finding). Merge may GROW the schema
    with batch-only columns (the unionByName evolution semantics)."""
    import pytest

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    want = t.snapshot()["columns"]
    assert want  # create records it

    t.compact(spark, n_files=4)
    assert t.snapshot()["columns"] == want

    L.ztable_delete_where(t, spark, (4000.0, 4100.0), (0.0, 5000.0))
    assert t.snapshot()["columns"] == want

    L.ztable_upsert(t, spark, extra.limit(50), n_files=1)
    assert t.snapshot()["columns"] == want

    # upsert with an evolved batch grows the recorded schema
    L.ztable_upsert(
        t, spark, extra.limit(5).withColumn("tag", F.lit("m")), n_files=1
    )
    assert t.snapshot()["columns"] == want + ["tag"]

    # and the strict gate still works after all of the above: a batch
    # missing the evolved column is rejected in strict mode
    with pytest.raises(ValueError, match="schema_mode='merge'"):
        t.append(extra.limit(3), n_files=1)


def test_ztable_vacuum_reader_isolation_contract(
    spark, sf_dir, tmp_path
):
    """Pins the documented vacuum contract: versioned reads only
    promise retained versions. After compact + vacuum(keep_last=1),
    (a) resolving the dropped version raises FileNotFoundError at plan
    time with the 'vacuumed away' message, (b) a DataFrame planned
    against the dropped version BEFORE the vacuum fails loudly at
    execution (its files were superseded by the compact — never a
    silent partial result), and (c) a pre-vacuum reader of a dropped
    version whose files are all CARRIED into the retained snapshot
    (pure append lineage) still succeeds."""
    import pytest

    # (a)+(b): compact supersedes v0's files
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    pinned_v0 = t.read(spark, version=0)  # planned pre-vacuum
    t.compact(spark, n_files=4)
    removed = t.vacuum(keep_last=1)
    assert removed  # v0's files are gone
    with pytest.raises(FileNotFoundError, match="vacuumed away"):
        t.read(spark, version=0)
    with pytest.raises(Exception):
        pinned_v0.collect()  # loud failure, not partial rows
    # the retained version is intact
    assert t.read(spark).count() == base.count()

    # (c): append-only lineage carries v0's files into v1, so a
    # pre-vacuum v0 reader survives vacuum (files still referenced)
    t2 = L.ZTable.create(
        base, str(tmp_path / "ztable_append"), n_files=4, cell=200.0
    )
    pinned = t2.read(spark, version=0)
    t2.append(extra, n_files=2)
    t2.vacuum(keep_last=1)
    assert pinned.count() == base.count()


# -- ZTable: read-modify-write conflict protocol -------------------------


def _arm_commit_race(victim: L.ZTable, interleave):
    """Make ``victim`` lose exactly one commit race, deterministically:
    its first ``_commit`` runs ``interleave()`` (which commits through
    a DIFFERENT handle) just before publishing, so the victim's
    ``os.link`` hits FileExistsError in precisely the window a thread
    race would, and its conflict protocol takes over. Subsequent
    commits pass straight through."""
    orig = victim._commit
    state = {"fired": 0}

    def patched(version, operation, files, meta):
        if not state["fired"]:
            state["fired"] = 1
            interleave()
        return orig(version, operation, files, meta)

    victim._commit = patched
    return state


# delete box whose y-range stays >= 100 below the appended batch's
# y >= 5000, so the appended files' stats boxes are provably disjoint
DBOX_Y = (4000.0, 4900.0)


def test_ztable_delete_rebases_onto_disjoint_append(
    spark, sf_dir, tmp_path
):
    """Delete racing a blind append OUTSIDE the delete box: the
    conflict-range check proves commutativity and the delete rebases
    metadata-only — both commits land, appended files carried
    forward, no appended row lost."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    n_extra = extra.count()
    n_box = base.where(
        F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
    ).count()
    assert n_box > 0
    other = L.ZTable(t.path)
    state = _arm_commit_race(
        t, lambda: other.append(extra, n_files=2)
    )
    v, n_hit, total = t.delete_where(
        spark, BOX_X, DBOX_Y, max_retries=2
    )
    assert state["fired"] == 1
    assert (v, t.latest_version()) == (2, 2)
    assert [h["operation"] for h in t.history()] == [
        "create", "append", "delete",
    ]
    # metadata-only rebase: every file the append introduced is in the
    # delete's published manifest verbatim
    appended = {e["file"] for e in t.snapshot(1)["files"]} - {
        e["file"] for e in t.snapshot(0)["files"]
    }
    assert appended
    assert appended <= {e["file"] for e in t.snapshot(2)["files"]}
    final = t.read(spark)
    assert final.count() == base.count() - n_box + n_extra
    assert final.where(
        F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
    ).count() == 0


def test_ztable_delete_reruns_when_append_overlaps_box(
    spark, sf_dir, tmp_path
):
    """Delete racing an append INSIDE the delete box: rebase would
    leak the appended rows past the delete, so the protocol re-runs
    the whole delete against the new state — serial order is
    delete-AFTER-append and the appended in-box rows die too."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    box_pred = F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
    n_box = base.where(box_pred).count()
    inside = base.where(box_pred).limit(25).localCheckpoint()
    n_inside = inside.count()
    assert n_inside > 0
    other = L.ZTable(t.path)
    state = _arm_commit_race(
        t, lambda: other.append(inside, n_files=1)
    )
    v, n_hit, total = t.delete_where(
        spark, BOX_X, DBOX_Y, max_retries=3
    )
    assert state["fired"] == 1
    assert [h["operation"] for h in t.history()] == [
        "create", "append", "delete",
    ]
    final = t.read(spark)
    assert final.where(box_pred).count() == 0
    assert final.count() == base.count() - n_box


def test_ztable_rmw_race_without_retries_raises(
    spark, sf_dir, tmp_path
):
    """max_retries=0 keeps the old contract: any lost race raises
    (now as ConcurrentWriteConflict), and the loser's commit never
    lands."""
    import pytest

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    other = L.ZTable(t.path)
    _arm_commit_race(t, lambda: other.append(extra.limit(10), n_files=1))
    with pytest.raises(L.ConcurrentWriteConflict, match="retry budget"):
        t.delete_where(spark, BOX_X, DBOX_Y)
    assert [h["operation"] for h in t.history()] == ["create", "append"]


def test_ztable_compact_rebases_onto_concurrent_append(
    spark, sf_dir, tmp_path
):
    """OPTIMIZE commutes with blind appends: a compact that loses the
    race to an append republishes as (compacted files + appended
    files) without rewriting anything."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    other = L.ZTable(t.path)
    state = _arm_commit_race(t, lambda: other.append(extra, n_files=2))
    v = t.compact(spark, n_files=4, max_retries=2)
    assert state["fired"] == 1
    assert v == 2
    assert [h["operation"] for h in t.history()] == [
        "create", "append", "compact",
    ]
    appended = {e["file"] for e in t.snapshot(1)["files"]} - {
        e["file"] for e in t.snapshot(0)["files"]
    }
    assert appended <= {e["file"] for e in t.snapshot(2)["files"]}
    assert t.read(spark).count() == base.count() + extra.count()


def test_ztable_compact_raises_on_non_append_race(
    spark, sf_dir, tmp_path
):
    """A compact racing a DELETE can't rebase (its rewrite still holds
    the deleted rows) — it must fail loudly however many retries are
    left, never resurrect deleted data."""
    import pytest

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    other = L.ZTable(t.path)
    _arm_commit_race(
        t, lambda: other.delete_where(spark, BOX_X, DBOX_Y)
    )
    with pytest.raises(L.ConcurrentWriteConflict, match="re-run compact"):
        t.compact(spark, n_files=4, max_retries=5)
    # the delete won; its result is intact and the box stays empty
    assert t.snapshot()["operation"] == "delete"
    assert t.read(spark).where(
        F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
    ).count() == 0


def test_ztable_upsert_rebases_onto_disjoint_append(
    spark, sf_dir, tmp_path
):
    """MERGE racing an append none of whose files can hold a batch
    key: rebases metadata-only; replacements and appended rows both
    land."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    batch = (
        base.orderBy("id").limit(30)
        .withColumn("id", F.col("id") + 1000000)
        .localCheckpoint()
    )
    n_batch = batch.count()
    other = L.ZTable(t.path)
    state = _arm_commit_race(t, lambda: other.append(extra, n_files=2))
    v, n_hit, total = t.upsert(spark, batch, max_retries=2)
    assert state["fired"] == 1
    assert n_hit > 0
    assert [h["operation"] for h in t.history()] == [
        "create", "append", "merge",
    ]
    final = t.read(spark)
    # pure replacement at the batch keys + every appended row present
    assert final.where(F.col("id") >= 1000000).count() == n_batch
    assert final.count() == base.count() + extra.count()


def test_ztable_upsert_reruns_when_append_matches_key(
    spark, sf_dir, tmp_path
):
    """MERGE racing an append AT one of its keys: rebase would leave
    the appended row unreplaced (two rows at one coordinate), so the
    protocol re-runs — serial order merge-AFTER-append leaves exactly
    the batch's row at every key."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    seed_rows = base.orderBy("id").limit(5).localCheckpoint()
    batch = seed_rows.withColumn(
        "id", F.col("id") + 1000000
    ).localCheckpoint()
    dup = seed_rows.withColumn(
        "id", F.col("id") + 2000000
    ).limit(1).localCheckpoint()
    other = L.ZTable(t.path)
    state = _arm_commit_race(t, lambda: other.append(dup, n_files=1))
    v, n_hit, total = t.upsert(spark, batch, max_retries=3)
    assert state["fired"] == 1
    assert [h["operation"] for h in t.history()] == [
        "create", "append", "merge",
    ]
    final = t.read(spark)
    assert final.where(F.col("id") >= 2000000).count() == 0
    assert final.where(F.col("id") >= 1000000).count() == 5
    # exactly one row survives at each contested coordinate
    keys = seed_rows.select("x", "y")
    assert (
        final.join(keys, ["x", "y"], "left_semi").count() == 5
    )


def test_ztable_mixed_concurrent_writers_all_land(
    spark, sf_dir, tmp_path
):
    """The full concurrency story under a REAL thread race: two
    appenders (disjoint y-slabs) and one deleter (box disjoint from
    both slabs) run concurrently with retry budgets. All three commits
    land exactly once in some serial order; blind appends rebase over
    anything, the delete rebases over the disjoint appends."""
    from concurrent.futures import ThreadPoolExecutor

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    slabs = [
        extra.where(
            F.col("y").between(5100.0 + 2000.0 * i,
                               5100.0 + 2000.0 * i + 1900.0)
        ).localCheckpoint()
        for i in range(2)
    ]
    sizes = [s.count() for s in slabs]
    assert all(sizes)
    box_pred = F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
    n_box = base.where(box_pred).count()
    assert n_box > 0

    def do_append(s):
        return L.ZTable(t.path).append(s, n_files=1, max_retries=8)

    def do_delete():
        return L.ZTable(t.path).delete_where(
            spark, BOX_X, DBOX_Y, max_retries=8
        )[0]

    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [ex.submit(do_append, s) for s in slabs]
        futs.append(ex.submit(do_delete))
        versions = [f.result() for f in futs]

    assert sorted(versions) == [1, 2, 3]
    ops = [h["operation"] for h in t.history()]
    assert sorted(ops[1:]) == ["append", "append", "delete"]
    final = t.read(spark)
    assert final.where(box_pred).count() == 0
    assert final.count() == base.count() - n_box + sum(sizes)


# -- ZTable: type-widening schema evolution ------------------------------


def test_ztable_type_widening_on_append(spark, sf_dir, tmp_path):
    """Delta-style type widening: a batch carrying a WIDER type for an
    existing column evolves the recorded type (merge mode only); older
    narrow files are read through the widened schema with exact
    values; a later narrow batch upcasts at write time; incompatible
    changes refuse loudly; time travel keeps the narrow schema."""
    import pytest

    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0).select(
        "id", "x", "y",
        F.col("id").cast("int").alias("score"),
        (F.col("x") / 100.0).cast("float").alias("ratio"),
    )
    extra = pts.where(F.col("y") >= 5000.0).select(
        "id", "x", "y",
        F.col("id").cast("long").alias("score"),
        (F.col("x") / 100.0).cast("double").alias("ratio"),
    )
    t = L.ZTable.create(
        base, str(tmp_path / "ztw"), n_files=4, cell=200.0
    )
    ct = t.snapshot()["column_types"]
    assert (ct["score"], ct["ratio"]) == ("int", "float")
    with pytest.raises(ValueError, match="widens"):
        t.append(extra, n_files=2)  # strict: widening must be explicit
    v = t.append(extra, n_files=2, schema_mode="merge")
    ct = t.snapshot(v)["column_types"]
    assert (ct["score"], ct["ratio"]) == ("bigint", "double")
    full = t.read(spark)
    types = {
        f.name: f.dataType.simpleString() for f in full.schema.fields
    }
    assert (types["score"], types["ratio"]) == ("bigint", "double")
    want = (
        base.agg(F.sum(F.col("score").cast("bigint"))).collect()[0][0]
        + extra.agg(F.sum("score")).collect()[0][0]
    )
    assert full.agg(F.sum("score")).collect()[0][0] == want
    # a later NARROW batch upcasts at write time (strict mode: the
    # column names are unchanged); the recorded type stays wide
    v2 = t.append(base.limit(7), n_files=1)
    assert t.snapshot(v2)["column_types"]["score"] == "bigint"
    assert t.read(spark).count() == base.count() + extra.count() + 7
    # incompatible change refuses in any mode
    bad = base.limit(3).withColumn("score", F.lit("oops"))
    with pytest.raises(ValueError, match="incompatible"):
        t.append(bad, n_files=1, schema_mode="merge")
    # time travel: v0 still reads the original narrow schema
    t0 = {
        f.name: f.dataType.simpleString()
        for f in t.read(spark, version=0).schema.fields
    }
    assert (t0["score"], t0["ratio"]) == ("int", "float")


def test_ztable_type_widening_carries_through_rmw(
    spark, sf_dir, tmp_path
):
    """A widened type survives every read-modify-write commit: MERGE
    with a wider batch widens the record; compact and delete carry it;
    values stay exact throughout."""
    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0).select(
        "id", "x", "y", F.col("id").cast("int").alias("score")
    )
    t = L.ZTable.create(
        base, str(tmp_path / "ztw2"), n_files=4, cell=200.0
    )
    batch = (
        base.orderBy("id").limit(10)
        .withColumn("score", (F.col("id") + 5000000000).cast("bigint"))
        .localCheckpoint()
    )
    v, n_hit, _ = t.upsert(spark, batch)
    assert t.snapshot(v)["column_types"]["score"] == "bigint"
    # the replaced rows carry values only the wide type can hold
    assert t.read(spark).where(
        F.col("score") >= 5000000000
    ).count() == 10
    t.compact(spark, n_files=4)
    assert t.snapshot()["column_types"]["score"] == "bigint"
    t.delete_where(spark, BOX_X, DBOX_Y)
    assert t.snapshot()["column_types"]["score"] == "bigint"
    n_box = base.where(
        F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
        # the 10 upserted rows keep their original coordinates, so the
        # count is unchanged by the merge
    ).count()
    assert t.read(spark).count() == base.count() - n_box


# -- ZTable: column renames (metadata-only, epoch-mapped) ----------------


def test_ztable_rename_column_metadata_only(spark, sf_dir, tmp_path):
    """Rename never touches data files; pre-rename files are read
    through the epoch mapping with exact values; the old name is
    rejected by strict appends and permanently retired; chained
    renames compose; time travel keeps each version's names."""
    import pytest

    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0).select(
        "id", "x", "y", (F.col("id") * 2).cast("long").alias("score")
    )
    extra = pts.where(F.col("y") >= 5000.0).select(
        "id", "x", "y", (F.col("id") * 2).cast("long").alias("points")
    )
    t = L.ZTable.create(
        base, str(tmp_path / "ztr"), n_files=4, cell=200.0
    )
    files_v0 = {e["file"] for e in t.snapshot(0)["files"]}
    want_sum = base.agg(F.sum("score")).collect()[0][0]

    v = t.rename_column("score", "points")
    assert {e["file"] for e in t.snapshot(v)["files"]} == files_v0
    assert t.snapshot(v)["operation"] == "rename"
    cur = t.read(spark)
    assert "points" in cur.columns and "score" not in cur.columns
    assert cur.agg(F.sum("points")).collect()[0][0] == want_sum

    # post-rename append uses the new name; both epochs union exactly
    t.append(extra, n_files=2)
    full = t.read(spark)
    assert full.count() == base.count() + extra.count()
    assert (
        full.agg(F.sum("points")).collect()[0][0]
        == want_sum + extra.agg(F.sum("points")).collect()[0][0]
    )
    # a batch still shaped like the OLD schema is rejected
    with pytest.raises(ValueError, match="batch columns"):
        t.append(base.limit(3), n_files=1)
    # the old name is retired forever
    with pytest.raises(ValueError, match="renamed away"):
        t.append(
            extra.limit(3).withColumn("score", F.lit(1)),
            n_files=1, schema_mode="merge",
        )
    with pytest.raises(ValueError, match="renamed away"):
        t.rename_column("points", "score")

    # chained rename composes the epoch mappings
    v2 = t.rename_column("points", "pts")
    assert t.read(spark).agg(F.sum("pts")).collect()[0][0] == (
        want_sum + extra.agg(F.sum("points")).collect()[0][0]
    )
    # time travel: each version reads its own names
    assert "score" in t.read(spark, version=0).columns
    assert "points" in t.read(spark, version=v).columns
    assert "pts" in t.read(spark, version=v2).columns

    # layout columns can't be renamed
    with pytest.raises(ValueError, match="layout/stats"):
        t.rename_column("x", "xx")


def test_ztable_rename_survives_rmw_and_pruning(
    spark, sf_dir, tmp_path
):
    """After a rename, delete/compact keep the mapping sound (mixed
    epochs in one table) and pruned reads still return exact rows."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t2 = L.ZTable(t.path)
    # give the table a payload column to rename: evolve via merge
    t.append(
        extra.withColumn("w", (F.col("id") % 7).cast("long")),
        n_files=2, schema_mode="merge",
    )
    v = t.rename_column("w", "weight")
    n_all = base.count() + extra.count()
    assert t.read(spark).count() == n_all
    # delete a box: survivors rewritten under the CURRENT epoch,
    # pre-rename files carried — both resolve to 'weight'
    box_pred = F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
    n_box = t.read(spark).where(box_pred).count()
    t.delete_where(spark, BOX_X, DBOX_Y)
    after = t.read(spark)
    assert after.count() == n_all - n_box
    assert "weight" in after.columns
    # null-fill: pre-evolution rows have NULL weight, evolved rows keep it
    assert after.where(F.col("weight").isNotNull()).count() > 0
    # compact rewrites everything into the current epoch
    t.compact(spark, n_files=4)
    snap = t.snapshot()
    assert all(
        e.get("epoch", 0) == snap["schema_epoch"]
        for e in snap["files"]
    )
    assert t.read(spark).count() == n_all - n_box
    # pruned read across the rename still exact
    res, n_read, n_total = t.read_pruned(
        spark, (6000.0, 7000.0), (6000.0, 7000.0)
    )
    want = t.read(spark).where(
        F.col("x").between(6000.0, 7000.0)
        & F.col("y").between(6000.0, 7000.0)
    ).count()
    assert res.count() == want


# -- ZTable: deletion vectors (merge-on-read delete) ---------------------


def test_ztable_deletion_vectors_merge_on_read(
    spark, sf_dir, tmp_path
):
    """DV delete rewrites NO data file; reads subtract the tombstones
    exactly; a second DV delete accumulates without double-counting;
    time travel sees pre-delete rows; compact materializes the DVs
    away and vacuum then reclaims the tombstone files."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    box_pred = F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
    n_all = base.count()
    n_box = base.where(box_pred).count()
    assert n_box > 0
    files_v0 = {e["file"] for e in t.snapshot(0)["files"]}

    v, n_del, n_hit = t.delete_where_dv(spark, BOX_X, DBOX_Y)
    assert (n_del, t.snapshot(v)["operation"]) == (n_box, "delete_dv")
    # merge-on-read: the data file list is IDENTICAL
    assert {e["file"] for e in t.snapshot(v)["files"]} == files_v0
    assert t.snapshot(v)["dvs"]
    after = t.read(spark)
    assert after.count() == n_all - n_box
    assert after.where(box_pred).count() == 0
    # time travel: v0 still sees the deleted rows
    assert t.read(spark, version=0).count() == n_all

    # overlapping second DV delete: already-tombstoned rows are not
    # re-deleted; the union of both boxes is gone
    box2_x = (BOX_X[0] - 500.0, BOX_X[1])
    n_box2_new = base.where(
        F.col("x").between(*box2_x)
        & F.col("y").between(*DBOX_Y)
        & ~box_pred
    ).count()
    v2, n_del2, _ = t.delete_where_dv(spark, box2_x, DBOX_Y)
    assert n_del2 == n_box2_new
    assert t.read(spark).count() == n_all - n_box - n_box2_new

    # pruned reads subtract DVs too
    res, _, _ = t.read_pruned(spark, BOX_X, DBOX_Y)
    assert res.count() == 0

    # appends carry DVs; compact materializes and clears them
    t.append(extra, n_files=2)
    assert t.snapshot()["dvs"]
    want = n_all - n_box - n_box2_new + extra.count()
    assert t.read(spark).count() == want
    t.compact(spark, n_files=4)
    assert "dvs" not in t.snapshot()
    assert t.read(spark).count() == want
    removed = t.vacuum(keep_last=1)
    assert any("data-v00001" in p for p in removed), (
        "the DV tombstone files must be reclaimed once dereferenced"
    )
    assert t.read(spark).count() == want


def test_ztable_compact_recluster_changes_layout_params(
    spark, sf_dir, tmp_path
):
    """compact(cell=, bits=) re-clusters under new Morton parameters,
    records them for every later write, and changes nothing about
    row-level results (pruning uses per-file stats, not the grid)."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    assert t.snapshot()["cell"] == 200.0
    v = t.compact(spark, n_files=8, cell=50.0, bits=22)
    snap = t.snapshot(v)
    assert (snap["cell"], snap["bits"]) == (50.0, 22)
    assert t.read(spark).count() == base.count()
    # later appends inherit the new parameters
    t.append(extra.limit(20), n_files=1)
    s2 = t.snapshot()
    assert (s2["cell"], s2["bits"]) == (50.0, 22)
    # pruned reads stay exact across the re-cluster
    res, n_read, n_total = t.read_pruned(spark, BOX_X, BOX_Y)
    want = base.where(
        F.col("x").between(*BOX_X) & F.col("y").between(*BOX_Y)
    ).count() + extra.limit(20).where(
        F.col("x").between(*BOX_X) & F.col("y").between(*BOX_Y)
    ).count()
    assert res.count() == want


def test_ztable_full_lifecycle_kitchen_sink(spark, sf_dir, tmp_path):
    """Every evolution feature composing on ONE table: type widening,
    column rename, deletion-vector delete, post-rename append, MERGE,
    re-clustering compact (materializes DVs), vacuum. Counts and
    values stay exact at every step."""
    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0).select(
        "id", "x", "y", F.col("id").cast("int").alias("score")
    )
    extra = pts.where(F.col("y") >= 5100.0).select(
        "id", "x", "y",
        (F.col("id") + 5000000000).cast("bigint").alias("points"),
    )
    t = L.ZTable.create(
        base, str(tmp_path / "sink"), n_files=8, cell=200.0
    )
    n_base = base.count()

    # widen int -> bigint via a merge append, then rename
    t.append(
        base.limit(10).withColumn(
            "score", (F.col("id") + 6000000000).cast("bigint")
        ),
        n_files=1, schema_mode="merge",
    )
    t.rename_column("score", "points")
    assert t.snapshot()["column_types"]["points"] == "bigint"

    # DV delete of a box (merge-on-read, files untouched)
    box_pred = F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
    n_box = t.read(spark).where(box_pred).count()
    v, n_del, _ = t.delete_where_dv(spark, BOX_X, DBOX_Y)
    assert n_del == n_box
    live = n_base + 10 - n_box
    assert t.read(spark).count() == live

    # post-rename append (new name, wide type) + coordinate MERGE
    t.append(extra, n_files=2, schema_mode="merge")
    live += extra.count()
    assert t.read(spark).count() == live
    upd = (
        t.read(spark).where(~box_pred).orderBy("id").limit(5)
        .withColumn("id", F.col("id") + 7000000)
        .localCheckpoint()
    )
    t.upsert(spark, upd)
    assert t.read(spark).count() == live  # pure replacement
    assert t.read(spark).where(
        F.col("id") >= 7000000
    ).count() == 5

    # re-clustering compact materializes DVs and unifies epochs
    t.compact(spark, n_files=4, cell=100.0)
    snap = t.snapshot()
    assert "dvs" not in snap and snap["cell"] == 100.0
    assert t.read(spark).count() == live
    assert t.read(spark).where(box_pred).count() == 0
    # wide values survived every step
    assert t.read(spark).where(
        F.col("points") >= 5000000000
    ).count() == extra.count() + 10

    # vacuum drops all superseded files; the table still reads exact
    removed = t.vacuum(keep_last=1)
    assert removed
    assert t.read(spark).count() == live
    res, n_read, n_total = t.read_pruned(
        spark, (6000.0, 7000.0), (6000.0, 7000.0)
    )
    assert res.count() == t.read(spark).where(
        F.col("x").between(6000.0, 7000.0)
        & F.col("y").between(6000.0, 7000.0)
    ).count()


def test_ztable_dv_contract_family(spark, sf_dir, tmp_path):
    """The stacked-DV contract in one family (delete_where_dv
    docstring): (a) two DV commits tombstoning the SAME files stack
    without double-deleting; (b) time travel reads each intermediate
    DV state exactly; (c) vacuum never reclaims tombstone files while
    any retained version references them — including a dropped
    version's DVs carried forward by a later snapshot; (d) a MERGE
    whose match region overlaps tombstoned rows reads THROUGH the DVs
    (deleted rows never resurrect) and leaves dangling tombstones
    harmless."""
    import os

    # sf0.01 regardless of the session fixture: the family needs
    # several rows per y-band (sf0.001 has ~1 per band)
    t, base, _ = _seed_table(spark, "/root/testdata/sf0.01", tmp_path)
    n_all = base.count()
    box1 = F.col("x").between(*BOX_X) & F.col("y").between(*DBOX_Y)
    n1 = base.where(box1).count()
    assert n1 > 0

    # (a) stacked DVs over the same files: the second delete's box is
    # inside the first (nothing new to tombstone), the third shares
    # box1's x-range on the adjacent y band (same z-order files)
    v1, d1, _ = t.delete_where_dv(spark, BOX_X, DBOX_Y)
    inner_x = (BOX_X[0] + 200.0, BOX_X[1] - 200.0)
    v2, d2, _ = t.delete_where_dv(spark, inner_x, DBOX_Y)
    assert d1 == n1 and d2 == 0  # inner box fully tombstoned already
    y2 = (3000.0, 4000.0)
    wider = F.col("x").between(*BOX_X) & F.col("y").between(
        DBOX_Y[0] - 1000.0, DBOX_Y[1]
    )
    n3 = base.where(
        F.col("x").between(*BOX_X) & F.col("y").between(*y2)
    ).count()
    assert n3 > 0
    v3, d3, _ = t.delete_where_dv(spark, BOX_X, y2)
    assert d3 == n3
    dv_sets = [set(t.snapshot(v).get("dvs") or []) for v in (v1, v2, v3)]
    assert dv_sets[0] and dv_sets[0] <= dv_sets[2]  # stacking, not replace
    files1 = {
        r["file_path"]
        for r in spark.read.parquet(*t.snapshot(v1)["dvs"])
        .select("file_path").distinct().collect()
    }
    files3 = {
        r["file_path"]
        for r in spark.read.parquet(
            *(dv_sets[2] - dv_sets[0])
        ).select("file_path").distinct().collect()
    }
    assert files1 & files3, "the stacked deletes must hit shared files"

    # (b) time travel: every intermediate DV state reads exactly
    assert t.read(spark, version=0).count() == n_all
    assert t.read(spark, version=v1).count() == n_all - n1
    assert t.read(spark, version=v2).count() == n_all - n1
    assert t.read(spark, version=v3).count() == n_all - n1 - n3
    assert t.read(spark).where(wider).count() == 0

    # (c) vacuum with live DVs: keep v2+v3 — every tombstone file is
    # still referenced (v3 carries v1's DVs forward), nothing may go
    before = {f for s in dv_sets for f in s}
    removed = t.vacuum(keep_last=2)
    assert not (set(removed) & before)
    for f in before:
        assert os.path.exists(f.replace("file://", ""))
    assert t.read(spark, version=v3).count() == n_all - n1 - n3
    assert t.read(spark, version=v2).count() == n_all - n1

    # (d) MERGE over tombstoned ground: replace some live rows inside
    # the wider box's y-shadow; none of the DV-deleted rows resurrect
    live = t.read(spark)
    batch = (
        live.where(~wider).orderBy("id").limit(8)
        .withColumn("id", F.col("id") + 9000000)
        .localCheckpoint()
    )
    n_live = live.count()
    t.upsert(spark, batch)
    after = t.read(spark)
    assert after.count() == n_live  # pure replacement, no resurrection
    assert after.where(wider).count() == 0
    assert after.where(F.col("id") >= 9000000).count() == 8
    # the post-merge snapshot may carry dangling tombstones (rewritten
    # files) — they must be inert for reads at any retained version
    assert t.read(spark, version=v3).count() == n_all - n1 - n3


# ---------------------------------------------------------------------------
# LogStore abstraction: the commit protocol never leans on filesystem
# semantics beyond put-if-absent / read / list / delete
# ---------------------------------------------------------------------------


def test_ztable_full_lifecycle_over_in_memory_log_store(
    spark, sf_dir, tmp_path
):
    """Create → append → COW delete → compact → time travel → vacuum,
    with every snapshot living ONLY in an InMemoryLogStore (the
    object-store conditional-PUT stand-in): nothing under _snapshots/
    on disk, identical results."""
    store = L.InMemoryLogStore()
    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0)
    extra = pts.where(F.col("y") >= 5000.0)
    t = L.ZTable.create(
        base, str(tmp_path / "mem"), n_files=4, cell=200.0,
        log_store=store,
    )
    t.append(extra, n_files=2)
    assert not os.path.isdir(str(tmp_path / "mem" / "_snapshots"))
    assert t.versions() == [0, 1]
    assert t.read(spark).count() == pts.count()
    # time travel across the in-memory log
    assert t.read(spark, version=0).count() == base.count()
    n_box = pts.where(
        (F.col("x") >= 2000.0) & (F.col("x") <= 4000.0)
        & (F.col("y") >= 1000.0) & (F.col("y") <= 9000.0)
    ).count()
    assert n_box > 0
    v, n_rw, _ = L.ztable_delete_where(
        t, spark, (2000.0, 4000.0), (1000.0, 9000.0)
    )
    assert v == 2 and n_rw > 0
    assert t.read(spark).count() == pts.count() - n_box
    t.compact(spark, n_files=2)
    assert t.read(spark).count() == pts.count() - n_box
    removed = t.vacuum(keep_last=1)
    assert t.versions() == [3]
    assert removed  # rewritten/orphaned data files reclaimed
    assert t.read(spark).count() == pts.count() - n_box


def test_ztable_rebase_on_injected_log_store_race(
    spark, sf_dir, tmp_path
):
    """Deterministic lost race THROUGH the store interface: the on_put
    hook commits a competing version just before the writer's claim,
    so the first put_if_absent raises and append must rebase
    metadata-only onto the interloper's commit."""
    store = L.InMemoryLogStore()
    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0)
    extra = pts.where(F.col("y") >= 5000.0).localCheckpoint()
    t = L.ZTable.create(
        base, str(tmp_path / "race"), n_files=2, cell=200.0,
        log_store=store,
    )
    fired = {"n": 0}

    def interlope(version):
        if fired["n"] == 0 and version == 1:
            fired["n"] += 1
            store.on_put = None  # the interloper itself must not loop
            other = L.ZTable(t.path, log_store=store)
            other.append(extra.limit(50), n_files=1)
            store.on_put = interlope

    store.on_put = interlope
    v = t.append(extra, n_files=1, max_retries=4)
    assert fired["n"] == 1
    assert v == 2  # rebased past the interloper's version 1
    assert t.read(spark).count() == base.count() + 50 + extra.count()
    ops = [h["operation"] for h in t.history()]
    assert ops == ["create", "append", "append"]


def test_ztable_threaded_races_on_in_memory_store(
    spark, sf_dir, tmp_path
):
    """Real thread races on the dict CAS: all writers land via rebase,
    exactly as on the filesystem store."""
    from concurrent.futures import ThreadPoolExecutor

    store = L.InMemoryLogStore()
    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0)
    extra = pts.where(F.col("y") >= 5000.0)
    t = L.ZTable.create(
        base, str(tmp_path / "thr"), n_files=2, cell=200.0,
        log_store=store,
    )
    batches = [
        extra.where(F.col("y") >= 5000.0 + 1250.0 * i).where(
            F.col("y") < 5000.0 + 1250.0 * (i + 1)
        ).localCheckpoint()
        for i in range(4)
    ]
    sizes = [b.count() for b in batches]
    assert all(sizes)

    def do_append(b):
        return L.ZTable(t.path, log_store=store).append(
            b, n_files=1, max_retries=8
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(do_append, batches))
    assert sorted(versions) == [1, 2, 3, 4]
    assert t.read(spark).count() == base.count() + sum(sizes)


# ---------------------------------------------------------------------
# Incremental commit log: delta records + checkpoints
# ---------------------------------------------------------------------

def _raw_record(t, v):
    import json

    return json.loads(t.log.read(v))


def _five_batches(extra):
    # five tiny disjoint append batches out of the seed table's spare half
    tagged = extra.withColumn("x_int", F.col("x").cast("long"))
    return [
        tagged.where(F.col("x_int") % 5 == i).drop("x_int")
        for i in range(5)
    ]


def test_log_deltas_and_checkpoint_cadence(spark, sf_dir, tmp_path):
    """v0 and every checkpoint_interval-th commit store the full file
    list; appends in between store only their adds — and EVERY version
    resolves to the same logical state an all-checkpoint log would."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.checkpoint_interval = 4
    expected = [base.count()]
    batches = _five_batches(extra)
    for b in batches:
        t.append(b, n_files=2)
        expected.append(expected[-1] + b.count())
    # physical shapes: full at 0 and 4, deltas at 1-3 and 5
    for v in (0, 4):
        rec = _raw_record(t, v)
        assert "files" in rec and "delta_of" not in rec, v
    for v in (1, 2, 3, 5):
        rec = _raw_record(t, v)
        assert "delta_of" in rec and rec["delta_of"] == v - 1, v
        assert rec["removes"] == [], "an append never removes"
        assert rec["adds"], "an append's delta lists its new files"
    # a delta append's metadata is O(batch): fewer entries shipped
    # than the logical file list it implies
    assert len(_raw_record(t, 5)["adds"]) < len(t.snapshot(5)["files"])
    # logical reads: every version, from the WRITING handle (warm
    # cache) and from a FRESH handle (cold resolve through the chain)
    fresh = L.ZTable(t.path)
    for v, n in enumerate(expected):
        assert t.read(spark, version=v).count() == n, v
        assert fresh.snapshot(v)["version"] == v
        assert sum(e["n_rows"] for e in fresh.snapshot(v)["files"]) == n


def test_log_compact_forces_checkpoint_off_cadence(
    spark, sf_dir, tmp_path
):
    """An op whose delta would not beat the full list (compact rewrites
    every file) stores a checkpoint even between cadence points."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra, n_files=4)
    assert "delta_of" in _raw_record(t, 1)
    t.compact(spark, n_files=8)  # v2: rewrites everything
    rec = _raw_record(t, 2)
    assert "files" in rec and "delta_of" not in rec
    assert t.read(spark).count() == base.count() + extra.count()


def test_log_metadata_only_commit_is_a_tiny_delta(
    spark, sf_dir, tmp_path
):
    """A rename touches no data files: its delta carries empty adds and
    removes, and resolution carries the parent's files under the NEW
    metadata."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra, n_files=4)
    v = t.rename_column("id", "row_id")
    rec = _raw_record(t, v)
    assert rec["adds"] == [] and rec["removes"] == []
    snap = L.ZTable(t.path).snapshot(v)  # cold resolve
    assert len(snap["files"]) == len(t.snapshot(v - 1)["files"])
    assert "row_id" in snap["columns"]


def test_vacuum_keeps_delta_reconstruction_closure(
    spark, sf_dir, tmp_path
):
    """vacuum must not delete the checkpoint a RETAINED delta chains
    through — the kept version stays resolvable from a cold handle —
    while other dropped log records and dead data files still go."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.checkpoint_interval = 4
    for b in _five_batches(extra):
        t.append(b, n_files=2)
    n = t.read(spark).count()
    assert "delta_of" in _raw_record(t, 5)  # latest is a delta of v4
    t.vacuum(keep_last=1)
    # closure: v4 (checkpoint base) retained; v0-v3 logs gone
    import pytest as _pt

    kept_logs = t.log.list_versions()
    assert 5 in kept_logs and 4 in kept_logs
    for v in (0, 1, 2, 3):
        assert v not in kept_logs
        with _pt.raises(FileNotFoundError):
            t.snapshot(v)
    # cold handle resolves the retained delta through its closure
    assert L.ZTable(t.path).read(spark).count() == n


# -- change data feed (compute-on-read CDF from the snapshot log) --


def _multiset(df, cols=("id", "x", "y")):
    from collections import Counter

    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def test_cdf_append_reports_exactly_the_appended_rows(
    spark, sf_dir, tmp_path
):
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra, n_files=4)
    ch = t.changes(spark, 0)
    assert set(
        r["_change_type"] for r in ch.select("_change_type").distinct().collect()
    ) == {"insert"}
    assert _multiset(ch) == _multiset(extra)
    assert ch.select("_commit_version").distinct().collect()[0][0] == 1


def test_cdf_cow_delete_reports_only_dead_rows(spark, sf_dir, tmp_path):
    t, base, _ = _seed_table(spark, sf_dir, tmp_path)
    before = t.read(spark)
    box_x, box_y = BOX_X, DBOX_Y
    dead = before.where(
        (F.col("x") >= box_x[0]) & (F.col("x") <= box_x[1])
        & (F.col("y") >= box_y[0]) & (F.col("y") <= box_y[1])
    )
    dead_ms = _multiset(dead)
    assert dead_ms  # fixture must actually hit the box
    t.delete_where(spark, box_x, box_y)
    ch = t.changes(spark, 0)
    ins = ch.where(F.col("_change_type") == "insert")
    dels = ch.where(F.col("_change_type") == "delete")
    # surviving rows of the rewritten files must NOT surface
    assert ins.count() == 0
    assert _multiset(dels) == dead_ms


def test_cdf_dv_deletes_report_only_newly_dead(spark, sf_dir, tmp_path):
    t, base, _ = _seed_table(spark, sf_dir, tmp_path)
    box1_x, box2_x, box_y = (3000.0, 5000.0), (4000.0, 6000.0), (
        1000.0,
        4000.0,
    )
    v1, d1, _ = t.delete_where_dv(spark, box1_x, box_y)
    v2, d2, _ = t.delete_where_dv(spark, box2_x, box_y)
    assert d1 > 0 and d2 > 0
    c1 = t.changes(spark, 0, v1)
    c2 = t.changes(spark, v1, v2)
    assert c1.count() == d1 and c2.count() == d2
    assert set(
        r[0] for r in c1.select("_change_type").distinct().collect()
    ) == {"delete"}
    # stacked DVs: the two feeds are disjoint and together equal the
    # multiset difference v0 minus v2
    from collections import Counter

    all_dead = _multiset(c1) + _multiset(c2)
    assert _multiset(t.read(spark, 0)) - _multiset(t.read(spark, v2)) == all_dead
    assert not set(_multiset(c1)) & set(_multiset(c2))


def test_cdf_upsert_emits_cdc_pairs_only_for_changed_rows(
    spark, sf_dir, tmp_path
):
    from big_data_computing__spark.sources.readers import customer_points

    pts = customer_points(spark, sf_dir)
    t = L.ZTable.create(
        pts, str(tmp_path / "zt_cdf_ups"), n_files=16, cell=200.0
    )
    replaced = pts.limit(40).localCheckpoint()
    batch = replaced.select(
        (F.col("id") + 1_000_000).alias("id"), "x", "y"
    ).localCheckpoint()
    v, rewritten, _ = t.upsert(spark, batch)
    assert rewritten > 0
    ch = t.changes(spark, 0)
    ins = ch.where(F.col("_change_type") == "insert")
    dels = ch.where(F.col("_change_type") == "delete")
    # exactly the 40 replaced payloads die and the 40 new ones appear;
    # carried-through rows of the rewritten files cancel
    assert _multiset(ins) == _multiset(batch)
    assert _multiset(dels) == _multiset(replaced)


def test_cdf_compact_is_silent_and_replay_reconstructs(
    spark, sf_dir, tmp_path
):
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra, n_files=4)
    t.compact(spark, n_files=2)
    v_del, _, _ = t.delete_where(spark, BOX_X, DBOX_Y)
    ch = t.changes(spark, 0)
    # compact contributed nothing
    assert set(
        r[0] for r in ch.select("_commit_version").distinct().collect()
    ) <= {1, v_del}
    # replay: v0 + inserts − deletes == latest, as multisets
    ms = _multiset(t.read(spark, 0))
    ms += _multiset(ch.where(F.col("_change_type") == "insert"))
    ms -= _multiset(ch.where(F.col("_change_type") == "delete"))
    assert ms == _multiset(t.read(spark))


def test_cdf_range_spanning_rename_raises(spark, sf_dir, tmp_path):
    import pytest

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra, n_files=4)
    t.rename_column("id", "row_id")
    with pytest.raises(ValueError, match="rename"):
        t.changes(spark, 0)
    # sub-ranges on either side of the rename work
    assert t.changes(spark, 0, 1).count() > 0


# -- manifest Bloom filters (point-lookup file skipping) --


def test_bloom_no_false_negatives_and_exact_lookup(
    spark, sf_dir, tmp_path
):
    pts = customer_points(spark, sf_dir)
    t = L.ZTable.create(
        pts,
        str(tmp_path / "zt_bloom"),
        n_files=16,
        cell=200.0,
        bloom_cols=["id"],
    )
    # which file actually holds each id (ground truth via _metadata)
    rows = (
        t.read(spark)
        .select("id", F.col("_metadata.file_path").alias("fp"))
        .collect()
    )
    holder = {r["id"]: r["fp"] for r in rows}
    ids = sorted(holder)[:20]
    for i in ids:
        kept, total = t.bloom_prune("id", i)
        assert total == 16
        # no false negative: the file holding i survives pruning
        assert holder[i] in {e["file"] for e in kept}
        # effectiveness: 3 probes over 1024 bits with ~10 rows/file
        # → expected false-positive files ≈ 0; allow a little slack
        assert len(kept) <= 3, (i, len(kept))
        got = t.read_bloom_eq(spark, "id", i).collect()
        assert len(got) == 1 and got[0]["id"] == i
    # a value not in the table reads empty
    assert t.read_bloom_eq(spark, "id", -987654).count() == 0


def test_bloom_carried_through_append_and_compact(
    spark, sf_dir, tmp_path
):
    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0)
    extra = pts.where(F.col("y") >= 5000.0)
    t = L.ZTable.create(
        base,
        str(tmp_path / "zt_bloom_evo"),
        n_files=8,
        cell=200.0,
        bloom_cols=["id"],
    )
    t.append(extra, n_files=4)
    some_extra = extra.select("id").limit(3).collect()
    for r in some_extra:
        got = t.read_bloom_eq(spark, "id", r["id"]).collect()
        assert len(got) == 1
    t.compact(spark, n_files=2)
    assert t.bloom_cols() == ["id"]
    for r in some_extra:
        kept, total = t.bloom_prune("id", r["id"])
        assert total == 2 and len(kept) >= 1
        got = t.read_bloom_eq(spark, "id", r["id"]).collect()
        assert len(got) == 1
    # un-bloomed column raises
    import pytest

    with pytest.raises(ValueError, match="bloom"):
        t.bloom_prune("x", 1.0)


def test_bloom_col_rename_refused(spark, sf_dir, tmp_path):
    import pytest

    pts = customer_points(spark, sf_dir)
    t = L.ZTable.create(
        pts,
        str(tmp_path / "zt_bloom_ren"),
        n_files=4,
        cell=200.0,
        bloom_cols=["id"],
    )
    with pytest.raises(ValueError):
        t.rename_column("id", "row_id")


# -- manifest NDV sketches (per-file KMV, driver-side estimates) --


def test_ndv_sketch_merge_matches_batch_kmv(spark, sf_dir, tmp_path):
    """The manifest estimate must equal the batch kmv_estimate over
    the same rows EXACTLY — file sketches merged on the driver are the
    same bottom-k the operator computes in-cluster (the KMV merge
    law), so this is bit-parity, not tolerance."""
    from big_data_computing__spark.operators.frequent import (
        kmv_estimate,
    )

    pts = customer_points(spark, sf_dir)
    t = L.ZTable.create(
        pts,
        str(tmp_path / "zt_ndv"),
        n_files=8,
        cell=200.0,
        ndv_cols=["id"],
    )
    est, n_sk = t.estimate_ndv("id")
    want = kmv_estimate(
        pts.select(F.col("id").alias("item"))
    ).collect()[0]
    assert (est, n_sk) == (want["estimate"], want["n_sketch"])
    # exact regime sanity: fixture has > k distinct ids, so the
    # estimate is the floor-div form and within KMV error of truth
    truth = pts.select("id").distinct().count()
    assert abs(est - truth) < truth * 0.5


def test_ndv_sketch_carried_and_updated_through_lifecycle(
    spark, sf_dir, tmp_path
):
    from big_data_computing__spark.operators.frequent import (
        kmv_estimate,
    )

    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0)
    extra = pts.where(F.col("y") >= 5000.0)
    t = L.ZTable.create(
        base,
        str(tmp_path / "zt_ndv_evo"),
        n_files=8,
        cell=200.0,
        ndv_cols=["id"],
    )
    t.append(extra, n_files=4)
    t.compact(spark, n_files=2)
    est, n_sk = t.estimate_ndv("id")
    want = kmv_estimate(
        pts.select(F.col("id").alias("item"))
    ).collect()[0]
    assert (est, n_sk) == (want["estimate"], want["n_sketch"])
    # time travel: version 0's estimate covers only the base rows
    est0, _ = t.estimate_ndv("id", version=0)
    want0 = kmv_estimate(
        base.select(F.col("id").alias("item"))
    ).collect()[0]
    assert est0 == want0["estimate"]
    import pytest

    with pytest.raises(ValueError, match="ndv"):
        t.estimate_ndv("x")
    with pytest.raises(ValueError):
        t.rename_column("id", "row_id")


def test_describe_detail_reports_maintenance_surface(
    spark, sf_dir, tmp_path
):
    pts = customer_points(spark, sf_dir)
    t = L.ZTable.create(
        pts,
        str(tmp_path / "zt_detail"),
        n_files=8,
        cell=200.0,
        bloom_cols=["id"],
        ndv_cols=["id"],
    )
    t.delete_where_dv(spark, BOX_X, DBOX_Y)
    d = t.describe_detail()
    assert d["version"] == 1 and d["n_versions_retained"] == 2
    assert d["n_files"] == 8
    assert d["n_rows"] == pts.count()  # file-level rows (pre-DV)
    assert d["n_dv_files"] == 1
    assert d["bloom_cols"] == ["id"] and d["ndv_cols"] == ["id"]
    assert d["layout"]["x"] == "x" and d["layout"]["z"] is None
    assert 0 < d["min_file_rows"] <= d["max_file_rows"]


# -- tags + restore ------------------------------------------------------


def test_tags_pin_resolve_and_are_immutable(spark, sf_dir, tmp_path):
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra)
    v = t.tag("prod-w07", 0)
    assert v == 0 and t.tags() == {"prod-w07": 0}
    # tag resolves through snapshot()/read()
    assert t.read(spark, version="prod-w07").count() == base.count()
    assert t.snapshot("prod-w07")["version"] == 0
    # default pins latest
    assert t.tag("latest-now") == 1
    # immutable: re-pointing requires delete + create
    import pytest as _pt

    with _pt.raises(FileExistsError):
        t.tag("prod-w07", 1)
    t.delete_tag("prod-w07")
    assert t.tag("prod-w07", 1) == 1
    with _pt.raises(FileNotFoundError):
        t.delete_tag("never-created")
    with _pt.raises(FileNotFoundError):
        t.resolve_tag("also-never")
    for bad in ("", "a/b", "..", ".hidden", "a b"):
        with _pt.raises(ValueError):
            t.tag(bad, 0)
    with _pt.raises(FileNotFoundError):
        t.tag("v99", 99)  # can't tag a version that doesn't exist


def test_vacuum_retains_tagged_versions(spark, sf_dir, tmp_path):
    """A compact supersedes v0's data files entirely, so without the
    tag vacuum(keep_last=1) would reclaim them; the tag must keep the
    version readable — and deleting the tag lets it age out."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.tag("audit", 0)
    t.compact(spark)  # v1: rewrites every file -> v0 shares nothing
    t.vacuum(keep_last=1)
    # v0 survives via the tag, data files intact, from a cold handle
    t2 = L.ZTable(t.path)
    assert _multiset(t2.read(spark, version="audit")) == _multiset(
        t2.read(spark, 1)
    )
    # delete the tag -> the version ages out on the next vacuum
    t.delete_tag("audit")
    removed = t.vacuum(keep_last=1)
    assert removed, "v0's superseded data files must now be reclaimed"
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        L.ZTable(t.path).snapshot(0)


def test_restore_rolls_back_cow_delete_and_keeps_history(
    spark, sf_dir, tmp_path
):
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra)  # v1
    v2, n_rewritten, _ = t.delete_where(
        spark, (3000.0, 6000.0), (0.0, 5000.0)
    )
    n_v1, n_v2 = t.read(spark, 1).count(), t.read(spark, v2).count()
    assert n_rewritten > 0 and n_v2 < n_v1
    v3 = t.restore(1)
    assert v3 == 3
    # latest now equals v1 exactly; the rolled-back v2 still time-travels
    assert _multiset(t.read(spark)) == _multiset(t.read(spark, 1))
    assert t.read(spark, v2).count() == n_v2
    snap = t.snapshot()
    assert snap["operation"] == "restore"
    assert snap["restored_from"] == 1
    ops = [h["operation"] for h in t.history()]
    assert ops == ["create", "append", "delete", "restore"]


def test_restore_via_tag_and_commit_race_raises(spark, sf_dir, tmp_path):
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.tag("good", 0)
    t.append(extra)
    assert t.restore("good") == 2
    assert _multiset(t.read(spark)) == _multiset(t.read(spark, 0))
    # simulate a lost commit race (another writer claimed the next
    # version between the restore's read of latest and its commit) by
    # pinning a stale latest: restore must raise, never silently
    # rebase a rollback decision
    import pytest as _pt

    t.latest_version = lambda: 1  # stale view; v2 already exists
    with _pt.raises(L.ConcurrentWriteConflict):
        t.restore("good")


def test_restore_revives_dv_deleted_rows_and_cdf_reports_them(
    spark, sf_dir, tmp_path
):
    """Rolling back a merge-on-read delete drops tombstones while the
    file list is unchanged — reads must revive the rows and the change
    feed must surface exactly those positions as inserts."""
    t, base, _ = _seed_table(spark, sf_dir, tmp_path)
    v1, n_dead, _ = t.delete_where_dv(
        spark, (3000.0, 6000.0), (0.0, 5000.0)
    )
    assert n_dead > 0
    v2 = t.restore(0)
    assert _multiset(t.read(spark)) == _multiset(t.read(spark, 0))
    feed = t.changes(spark, v1, v2)
    assert set(
        r[0] for r in feed.select("_change_type").distinct().collect()
    ) == {"insert"}
    revived = _multiset(feed)
    dead = _multiset(t.read(spark, 0)) - _multiset(t.read(spark, v1))
    assert revived == dead
    # and the whole-range feed nets to zero: delete(d) + insert(d)
    whole = t.changes(spark, 0, v2)
    ins = _multiset(whole.where("_change_type = 'insert'"))
    dele = _multiset(whole.where("_change_type = 'delete'"))
    assert ins == dele == dead


# -- shallow clone --------------------------------------------------------


def _parquet_count(root):
    import os as _os

    n = 0
    for dirpath, _dirs, files in _os.walk(root):
        if "_snapshots" in dirpath or "_refs" in dirpath:
            continue
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_shallow_clone_zero_copy_and_independent(
    spark, sf_dir, tmp_path
):
    """Cloning copies NO data (the clone dir holds only a log), reads
    identically at the cloned version, auto-pins a source tag, and the
    two tables evolve independently afterwards."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.append(extra)  # v1
    c = t.shallow_clone(str(tmp_path / "clone"), version=1)
    assert _parquet_count(c.path) == 0, "shallow = no data files copied"
    assert _multiset(c.read(spark)) == _multiset(t.read(spark, 1))
    assert c.snapshot()["operation"] == "clone"
    assert c.snapshot()["clone_source_version"] == 1
    assert t.tags() == {"clone-clone-v1": 1}

    # divergence: writes on one side never appear on the other
    n_src = t.read(spark).count()
    c.append(extra.limit(10).localCheckpoint())
    assert t.read(spark).count() == n_src
    t.delete_where(spark, (0.0, 5000.0), (0.0, 2500.0))
    assert c.read(spark).count() == n_src + 10

    # cloning a TAG works and is pinned at the tag's version
    t.tag("pin0", 0)
    c0 = t.shallow_clone(str(tmp_path / "clone0"), version="pin0")
    assert _multiset(c0.read(spark)) == _multiset(t.read(spark, 0))


def test_shallow_clone_survives_source_vacuum_until_disowned(
    spark, sf_dir, tmp_path
):
    """The clone pin keeps shared files through a source
    compact+vacuum; compacting the clone makes it self-contained, and
    only after disowning (deleting the pin) may the source reclaim."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    c = t.shallow_clone(str(tmp_path / "clone"))
    t.compact(spark)  # source v1 shares nothing with v0
    t.vacuum(keep_last=1)
    # clone still reads: the auto-tag retained v0's files
    assert _multiset(c.read(spark)) == _multiset(base)

    # self-contain the clone, then disown it
    c.compact(spark)
    assert _parquet_count(c.path) > 0
    t.delete_tag("clone-clone-v0")
    removed = t.vacuum(keep_last=1)
    assert removed, "disowned v0 files must now be reclaimed"
    # clone is unaffected: its live files are its own
    assert _multiset(c.read(spark)) == _multiset(base)


def test_clone_vacuum_never_touches_source_files(
    spark, sf_dir, tmp_path
):
    """vacuum on a clone only deletes files under the CLONE's own
    directory — dropping the shared version from the clone's log must
    leave every source data file on disk."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    c = t.shallow_clone(str(tmp_path / "clone"))
    n_src_files = _parquet_count(t.path)
    c.append(extra)  # clone v1, files in clone dir
    c.compact(spark)  # clone v2: fully self-contained
    removed = c.vacuum(keep_last=1)
    assert all(f.startswith(c.path) for f in removed)
    assert _parquet_count(t.path) == n_src_files
    assert _multiset(t.read(spark)) == _multiset(base)


def test_write_audit_publish_flow(spark, sf_dir, tmp_path):
    """WAP end-to-end: stage on a shallow clone, audit, publish as one
    metadata-only commit — adopted files are hardlinks (same inode, no
    data copy), the source may have advanced in between, and the
    staging clone is disposable afterwards."""
    import os as _os

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    stage = t.shallow_clone(str(tmp_path / "stage"))
    inc = extra.where(F.col("y") < 7500.0).localCheckpoint()
    stage.append(inc)

    # audit on the STAGE: increment present, source untouched
    assert stage.read(spark).count() == base.count() + inc.count()
    assert t.read(spark).count() == base.count()

    # source advances independently before the publish
    other = extra.where(F.col("y") >= 7500.0).localCheckpoint()
    t.append(other)

    v = t.publish_from(stage)
    assert t.snapshot(v)["operation"] == "publish"
    assert _multiset(t.read(spark)) == _multiset(
        base.unionAll(other).unionAll(inc)
    )

    # metadata-only: every adopted file is a hardlink of a stage file
    pub = t.snapshot(v)
    base0 = {e["file"] for e in stage.snapshot(0)["files"]}
    adopted = [
        e["file"]
        for e in pub["files"]
        if e["file"] not in base0
        and e["file"] not in {x["file"] for x in t.snapshot(v - 1)["files"]}
    ]
    assert len(adopted) == pub["published_files"] > 0
    import re as _re

    for uri in adopted:
        assert _os.stat(_re.sub(r"^file:/+", "/", uri)).st_nlink >= 2

    # the staging clone is disposable: remove it wholesale, source
    # still reads (the hardlinked inodes survive)
    import shutil

    t.delete_tag("clone-stage-v0")
    shutil.rmtree(stage.path)
    t2 = L.ZTable(t.path)
    assert t2.read(spark).count() == base.count() + inc.count() + other.count()


def test_publish_from_rejects_non_append_staging(
    spark, sf_dir, tmp_path
):
    import pytest as _pt

    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    # not a clone of this table
    other_tbl = L.ZTable.create(
        base, str(tmp_path / "unrelated"), n_files=2, cell=200.0
    )
    with _pt.raises(ValueError, match="not a clone"):
        t.publish_from(other_tbl)

    # staging compact drops clone-point files -> ambiguous adds
    s1 = t.shallow_clone(str(tmp_path / "s1"))
    s1.append(extra.limit(10).localCheckpoint())
    s1.compact(spark)
    with _pt.raises(ValueError, match="append-only"):
        t.publish_from(s1)

    # staging DV delete -> refused too
    s2 = t.shallow_clone(str(tmp_path / "s2"))
    s2.delete_where_dv(spark, (0.0, 9000.0), (0.0, 2000.0))
    with _pt.raises(ValueError, match="deletion vectors"):
        t.publish_from(s2)


def test_null_count_stats_prune_is_null_reads(spark, sf_dir, tmp_path):
    """Per-file null counts answer IS NULL / IS NOT NULL at plan time:
    only files containing nulls are read for IS NULL, all-null files
    are skipped for IS NOT NULL, results equal the full-scan filter,
    and the counts survive a compact."""
    pts = customer_points(spark, sf_dir)
    # nulls in the bottom-left QUADRANT — a contiguous Morton-prefix
    # range, so whole z-ordered files land entirely inside it (all-
    # null) and entirely outside it (no-null), with boundary files
    # mixed
    df = pts.select(
        "id",
        "x",
        "y",
        F.when(
            (F.col("x") < 5000.0) & (F.col("y") < 5000.0),
            F.lit(None).cast("long"),
        )
        .otherwise(F.col("id"))
        .alias("tag"),
    )
    t = L.ZTable.create(
        df,
        str(tmp_path / "zt_nulls"),
        n_files=8,
        cell=200.0,
        stats_cols=["tag"],
    )
    full = t.read(spark)
    want_null = full.where(F.col("tag").isNull())
    want_notnull = full.where(F.col("tag").isNotNull())

    got_null, nread_null, total = t.read_null_pruned(spark, "tag", True)
    assert _multiset(got_null) == _multiset(want_null)
    got_nn, nread_nn, _ = t.read_null_pruned(spark, "tag", False)
    assert _multiset(got_nn) == _multiset(want_notnull)
    # pruning really skipped files on both sides
    assert 0 < nread_null < total
    assert 0 < nread_nn < total

    # counts recompute through a compact (same _file_stats path)
    t.compact(spark, n_files=4)
    got2, nread2, total2 = t.read_null_pruned(spark, "tag", True)
    assert _multiset(got2) == _multiset(want_null)
    assert nread2 <= total2

    # unindexed column raises instead of silently scanning
    import pytest as _pt

    with _pt.raises(ValueError, match="no stats recorded"):
        t.read_null_pruned(spark, "id")


def test_optimize_small_files_binpacks_without_touching_big(
    spark, sf_dir, tmp_path
):
    """Incremental OPTIMIZE: tiny streaming appends coalesce into
    target-sized files while adequately-sized files keep their exact
    paths (never rewritten); rows survive byte-for-byte, deletion
    vectors on kept files stay effective, and a tiny table is a
    no-op."""
    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0)
    t = L.ZTable.create(
        base, str(tmp_path / "zt_opt"), n_files=2, cell=200.0
    )
    # DV-delete some rows from the big files BEFORE the small appends
    _, n_dead, _ = t.delete_where_dv(
        spark, (0.0, 4000.0), (0.0, 2000.0)
    )
    assert n_dead > 0
    # small-file debt: five 1-file micro-appends
    extra = pts.where(F.col("y") >= 5000.0).localCheckpoint()
    n_extra = extra.count()
    for i in range(5):
        t.append(
            extra.where(F.col("id") % 5 == i).localCheckpoint(),
            n_files=1,
        )
    before = t.read(spark)
    want = _multiset(before)
    big_paths = {
        e["file"]
        for e in t.snapshot()["files"]
        if e["n_rows"] >= (n_extra // 5) * 2
    }
    n_files_before = len(t.snapshot()["files"])

    v, n_rew, n_kept = t.optimize_small_files(
        spark, target_rows=n_extra
    )
    assert v > 0 and n_rew == 5
    snap = t.snapshot()
    assert snap["operation"] == "optimize"
    # big files untouched — same paths in the new manifest
    assert big_paths <= {e["file"] for e in snap["files"]}
    # debt coalesced: fewer files, none below half target among new
    assert len(snap["files"]) < n_files_before
    # rows identical (DV dead rows still dead, nothing resurrected)
    assert _multiset(t.read(spark)) == want
    # DVs carried for the kept files
    assert snap.get("dvs"), "kept files' tombstones must survive"

    # below-threshold: nothing to do
    v2, n_rew2, _ = t.optimize_small_files(spark, target_rows=10)
    assert v2 == -1 and n_rew2 == 0
    assert t.latest_version() == v


def test_history_metrics_per_commit_diffs(spark, sf_dir, tmp_path):
    """Operation metrics from manifest diffs: an append adds files and
    rows without removing any; an optimize removes exactly the small
    files it coalesced and adds fewer; totals always equal the
    snapshot's own counts."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path, n_files=2)
    for i in range(3):
        t.append(
            extra.where(F.col("id") % 3 == i).localCheckpoint(),
            n_files=1,
        )
    t.optimize_small_files(spark, target_rows=extra.count())
    h = t.history_metrics()
    assert [r["operation"] for r in h] == [
        "create", "append", "append", "append", "optimize",
    ]
    assert h[0]["files_added"] == 2 and h[0]["files_removed"] == 0
    for r in h[1:4]:
        assert r["files_added"] == 1 and r["files_removed"] == 0
        assert r["rows_added"] > 0 and r["rows_removed"] == 0
    opt = h[4]
    assert opt["files_removed"] == 3  # the three micro-appends
    assert opt["files_added"] >= 1
    assert opt["rows_added"] == opt["rows_removed"] == extra.count()
    # running totals match each snapshot's own numbers
    for r, hh in zip(h, t.history()):
        assert r["n_files"] == hh["n_files"]
        assert r["n_rows"] == hh["n_rows"]


def test_check_constraints_enforced_and_carried(spark, sf_dir, tmp_path):
    """CHECK constraints: a violating batch is rejected BEFORE commit
    (append and upsert), NULL passes per SQL semantics, the set
    carries through compact, add_constraint validates existing data,
    and drop lifts enforcement."""
    import pytest as _pt

    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0)
    t = L.ZTable.create(
        base,
        str(tmp_path / "zt_chk"),
        n_files=4,
        cell=200.0,
        constraints={"y_in_range": "y >= 0 AND y < 5000"},
    )
    assert t.constraints() == {"y_in_range": "y >= 0 AND y < 5000"}

    good = pts.where(
        (F.col("y") >= 0) & (F.col("y") < 5000) & (F.col("x") > 9000)
    ).localCheckpoint()
    bad = pts.where(F.col("y") >= 5000.0).localCheckpoint()
    v_before = t.latest_version()
    with _pt.raises(ValueError, match="y_in_range"):
        t.append(bad)
    with _pt.raises(ValueError, match="y_in_range"):
        t.upsert(spark, bad.limit(5).localCheckpoint())
    assert t.latest_version() == v_before, "nothing committed"
    t.append(good)

    # creating WITH a violating seed is refused too
    with _pt.raises(ValueError, match="y_in_range"):
        L.ZTable.create(
            pts,
            str(tmp_path / "zt_chk2"),
            n_files=2,
            cell=200.0,
            constraints={"y_in_range": "y < 5000"},
        )

    # NULL passes (SQL CHECK semantics)
    t2 = L.ZTable.create(
        base.select("id", "x", "y", F.lit(5).alias("tag")),
        str(tmp_path / "zt_chk3"),
        n_files=2,
        cell=200.0,
        constraints={"tag_pos": "tag > 0"},
    )
    nulls = base.limit(7).select(
        (F.col("id") + 10**9).alias("id"),
        "x",
        "y",
        F.lit(None).cast("int").alias("tag"),
    ).localCheckpoint()
    t2.append(nulls)  # must NOT raise

    # carried through compact; add validates live data; drop lifts
    t.compact(spark, n_files=2)
    assert L.ZTable(t.path).constraints() == {
        "y_in_range": "y >= 0 AND y < 5000"
    }
    with _pt.raises(ValueError, match="violated"):
        t.add_constraint(spark, "x_low", "x < 9000")  # live rows fail
    t.add_constraint(spark, "x_sane", "x > -100000")
    assert set(t.constraints()) == {"y_in_range", "x_sane"}
    t.drop_constraint("y_in_range")
    t.append(bad.limit(3).localCheckpoint())  # now allowed
    ops = [h["operation"] for h in t.history()]
    assert "add_constraint" in ops and "drop_constraint" in ops


def test_changes_accepts_tag_names(spark, sf_dir, tmp_path):
    """The change feed resolves tag names like read()/snapshot() do."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    t.tag("start")
    t.append(extra)
    t.tag("end")
    by_tag = _multiset(t.changes(spark, "start", "end"))
    by_ver = _multiset(t.changes(spark, 0, 1))
    assert by_tag == by_ver and by_tag


def test_read_incremental_consumes_appends_exactly_once(
    spark, sf_dir, tmp_path
):
    """Poll-form incremental reads: each poll returns exactly the
    rows appended since the cursor; the union of polls equals the
    table; an idle poll returns an empty frame and the same cursor."""
    t, base, extra = _seed_table(spark, sf_dir, tmp_path)
    cursor = t.latest_version()
    seen = _multiset(t.read(spark))
    for i in range(3):
        t.append(
            extra.where(F.col("id") % 3 == i).localCheckpoint(),
            n_files=1,
        )
        inc, cursor = t.read_incremental(spark, cursor)
        rows = _multiset(inc)
        assert rows and not (rows & seen)
        seen |= rows
    assert seen == _multiset(t.read(spark))
    idle, cursor2 = t.read_incremental(spark, cursor)
    assert idle.count() == 0 and cursor2 == cursor


def test_hilbert_layout_prunes_at_least_as_well_as_morton(
    spark, sf_dir, tmp_path
):
    """The curve upgrade must pay: over a sweep of box queries the
    Hilbert layout reads no more files than the Morton one in
    aggregate (its contiguous key ranges are tighter boxes), both
    crush lexicographic, and the pruned read stays exact."""
    pts = customer_points(spark, sf_dir)
    hpath = str(tmp_path / "hilbert")
    zpath = str(tmp_path / "zorder")
    L.write_hilbert(pts, hpath, n_files=N_FILES, cell=200.0)
    L.write_zordered(pts, zpath, n_files=N_FILES, cell=200.0)

    boxes = [
        ((x0, x0 + 1000.0), (y0, y0 + 1000.0))
        for x0 in (0.0, 2500.0, 5000.0, 7500.0)
        for y0 in (0.0, 2500.0, 5000.0, 7500.0)
    ]
    h_total = z_total = 0
    for bx, by in boxes:
        hf, ht = L.prune_files(hpath, bx, by)
        zf, zt = L.prune_files(zpath, bx, by)
        assert ht == zt == N_FILES
        h_total += len(hf)
        z_total += len(zf)
    assert h_total <= z_total, (h_total, z_total)
    # a ~1% box sweep must keep the read a small minority of files
    assert h_total <= len(boxes) * N_FILES // 4

    # exactness under the new layout
    want = sorted(
        (r["x"], r["y"])
        for r in pts.where(
            (F.col("x").between(*BOX_X)) & (F.col("y").between(*BOX_Y))
        ).collect()
    )
    res, n_read, n_tot = L.read_pruned(spark, hpath, BOX_X, BOX_Y)
    got = sorted((r["x"], r["y"]) for r in res.collect())
    assert got == want
    assert 0 < n_read < n_tot


def test_scd2_merge_matches_batch_history_and_contracts(
    spark, sf_dir, tmp_path
):
    """SCD Type 2 on ZTable: applying time-ordered batches through
    scd2_merge must reproduce the one-shot scd2_history of the full
    stream bit-for-bit; replays are data no-ops; late updates raise."""
    import pytest as _pytest

    from big_data_computing__spark.operators import windows as W
    from big_data_computing__spark.sources.readers import read_table

    SCD = ("user_id", "valid_from_us", "status", "valid_to_us",
           "is_current")

    def ms(df):
        return _multiset(df, cols=SCD)

    events = read_table(spark, sf_dir, "events")
    us = W.event_time_us(events)
    ev = events.withColumn("_us", us)
    p1, p2 = (
        ev.selectExpr(
            "percentile_approx(_us, 0.34)", "percentile_approx(_us, 0.67)"
        ).collect()[0]
    )
    batches = [
        ev.where(F.col("_us") <= p1),
        ev.where((F.col("_us") > p1) & (F.col("_us") <= p2)),
        ev.where(F.col("_us") > p2),
    ]

    def upd(df):
        return df.select(
            "user_id",
            F.col("event_type").alias("status"),
            F.col("_us").alias("ts_us"),
            F.col("event_id").alias("seq"),
        )

    # version 0 = the batch operator over the first slice
    h0 = W.scd2_history(batches[0])
    t = L.ZTable.create(
        h0.select(
            "user_id", "valid_from_us", "status", "valid_to_us",
            "is_current",
        ),
        str(tmp_path / "scd2"),
        x="user_id",
        y="valid_from_us",
        n_files=4,
        cell=86400e6,
    )
    for b in batches[1:]:
        L.scd2_merge(t, spark, upd(b))

    want = ms(W.scd2_history(events))
    assert ms(t.read(spark)) == want

    # replay of the last batch: data unchanged
    L.scd2_merge(t, spark, upd(batches[2]))
    assert ms(t.read(spark)) == want

    # a whole-batch replay of OLD data is replay-consistent: dropped,
    # data unchanged
    L.scd2_merge(t, spark, upd(batches[0]))
    assert ms(t.read(spark)) == want

    # a late update that CONTRADICTS recorded history must raise
    some_user = events.select("user_id").first()[0]
    early = int(
        ev.where(F.col("user_id") == some_user)
        .agg(F.min("_us"))
        .collect()[0][0]
    )
    bogus = spark.createDataFrame(
        [(some_user, "___bogus___", early, 10**15)],
        "user_id long, status string, ts_us long, seq long",
    )
    with _pytest.raises(ValueError, match="contradicts"):
        L.scd2_merge(t, spark, bogus)


def test_ztable_curve_property_family(spark, sf_dir, tmp_path):
    """curve='hilbert' is a carried table property: honored at create,
    inherited by every later commit, migratable via compact, and at
    least as prunable as the Morton twin over a box sweep. Guards:
    unknown curve and 3-D+hilbert raise."""
    import pytest as _pytest

    pts = customer_points(spark, sf_dir)
    ht = L.ZTable.create(
        pts, str(tmp_path / "zt_h"), n_files=16, cell=200.0,
        curve="hilbert",
    )
    mt = L.ZTable.create(
        pts, str(tmp_path / "zt_m"), n_files=16, cell=200.0,
    )
    assert ht.curve() == "hilbert" and mt.curve() == "morton"

    # lifecycle: append + DV delete + COW delete + upsert + optimize
    # all carry the curve
    extra = pts.withColumn("x", F.col("x") + 20000.0)
    ht.append(extra, n_files=4)
    assert ht.curve() == "hilbert"
    ht.delete_where_dv(spark, (20000.0, 22000.0), (0.0, 4000.0))
    assert ht.curve() == "hilbert"
    ht.delete_where(spark, (25000.0, 26000.0), (0.0, 1000.0))
    assert ht.curve() == "hilbert"
    batch = pts.limit(50).withColumn("y", F.col("y"))
    ht.upsert(spark, batch)
    assert ht.curve() == "hilbert"
    ht.compact(spark, n_files=16)
    assert ht.curve() == "hilbert"

    # box-sweep pruning: the hilbert table reads no more files than
    # the morton one in aggregate (both freshly compacted, same files)
    mt.compact(spark, n_files=16)
    boxes = [
        ((x0, x0 + 1000.0), (y0, y0 + 1000.0))
        for x0 in (0.0, 4000.0, 8000.0)
        for y0 in (0.0, 4000.0, 8000.0)
    ]
    def swept(t):
        tot = 0
        for bx, by in boxes:
            _, n_read, _ = t.read_pruned(spark, bx, by)
            tot += n_read
        return tot

    # compare on equal row sets: build fresh twins of the same data
    h2 = L.ZTable.create(
        pts, str(tmp_path / "zt_h2"), n_files=16, cell=200.0,
        curve="hilbert",
    )
    m2 = L.ZTable.create(
        pts, str(tmp_path / "zt_m2"), n_files=16, cell=200.0,
    )
    assert swept(h2) <= swept(m2)

    # migration: compact(curve=...) re-clusters and records the curve
    m2.compact(spark, n_files=16, curve="hilbert")
    assert m2.curve() == "hilbert"
    m2.append(pts.limit(10), n_files=1)
    assert m2.curve() == "hilbert"
    m2.compact(spark, n_files=16, curve="morton")
    assert m2.curve() == "morton"

    with _pytest.raises(ValueError, match="curve"):
        L.ZTable.create(
            pts, str(tmp_path / "zt_bad"), curve="peano"
        )
    emb3 = pts.withColumn("z", F.col("x") * 0.5)
    with _pytest.raises(ValueError, match="Morton-only"):
        L.ZTable.create(
            emb3, str(tmp_path / "zt_z"), z="z", curve="hilbert"
        )
    z_t = L.ZTable.create(
        emb3, str(tmp_path / "zt_z2"), z="z", cell=200.0
    )
    with _pytest.raises(ValueError, match="Morton-only"):
        z_t.compact(spark, curve="hilbert")
