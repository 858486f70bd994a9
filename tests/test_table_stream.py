"""Streaming ingest into the ZTable snapshot log: micro-batch appends
must land exactly once — Structured Streaming's checkpoint covers
steady state, the snapshot-side batch-id guard covers sink-committed-
but-not-checkpointed replays."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_computing__spark.sources import layout as L
from big_data_computing__spark.sources.readers import customer_points
from big_data_computing__spark.streaming.table_stream import (
    append_batch,
    last_committed_batch_id,
    table_append_stream,
)


def _make_table(spark, sf_dir, tmp_path):
    pts = customer_points(spark, sf_dir)
    base = pts.where(F.col("y") < 5000.0)
    incoming = pts.where(F.col("y") >= 5000.0)
    t = L.ZTable.create(
        base, str(tmp_path / "zt_stream"), n_files=8, cell=200.0
    )
    return t, base, incoming


def test_stream_appends_land_in_snapshot_log(spark, sf_dir, tmp_path):
    t, base, incoming = _make_table(spark, sf_dir, tmp_path)
    src_dir = str(tmp_path / "incoming")
    # several files so availableNow produces at least one batch with
    # real data to append
    incoming.repartition(3).write.parquet(src_dir)
    src = spark.readStream.schema(incoming.schema).parquet(src_dir)
    q = (
        table_append_stream(
            src, t, str(tmp_path / "ckpt"), n_files=2
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert t.read(spark).count() == base.count() + incoming.count()
    assert last_committed_batch_id(t) is not None
    ops = [h["operation"] for h in t.history()]
    assert ops[0] == "create" and "append" in ops
    # the pruned read spans base + streamed rows exactly
    res, n_read, n_total = t.read_pruned(
        spark, (-1e18, 1e18), (-1e18, 1e18)
    )
    assert res.count() == base.count() + incoming.count()


def test_replayed_batch_is_skipped(spark, sf_dir, tmp_path):
    """The crash-replay case the engine checkpoint cannot cover: the
    same (batch_id, data) delivered twice must commit once."""
    t, base, incoming = _make_table(spark, sf_dir, tmp_path)
    batch = incoming.limit(100)
    assert append_batch(t, batch, batch_id=0) is True
    n_after_first = t.read(spark).count()
    versions_after_first = t.versions()
    # replay: same batch id arrives again (sink committed, offset lost)
    assert append_batch(t, batch, batch_id=0) is False
    assert t.read(spark).count() == n_after_first
    assert t.versions() == versions_after_first
    # the next batch id proceeds normally
    assert append_batch(t, incoming.limit(10), batch_id=1) is True
    assert t.read(spark).count() == n_after_first + 10


def test_cdf_agg_state_tracks_full_lifecycle(spark, sf_dir, tmp_path):
    """CdfAggState folded over create → append → DV delete → upsert →
    compact equals the full GROUP BY recompute after EVERY advance —
    incremental view maintenance off the change feed, never a table
    re-aggregation."""
    from big_data_computing__spark.sources.layout import ZTable
    from big_data_computing__spark.sources.readers import (
        customer_points,
    )
    from big_data_computing__spark.streaming.table_stream import (
        CdfAggState,
    )

    pts = customer_points(spark, sf_dir).withColumn(
        "bucket", F.pmod(F.col("id"), F.lit(7))
    )
    base = pts.where(F.col("y") < 5000.0)
    extra = pts.where(F.col("y") >= 5000.0)
    t = ZTable.create(
        base, str(tmp_path / "zt_cdf_agg"), n_files=8, cell=200.0
    )
    st = CdfAggState(t, "bucket", sum_col="id")
    assert st.advance(spark) == 1  # bootstrap
    assert st.snapshot_equals_recompute(spark)

    t.append(extra, n_files=4)
    assert st.advance(spark) == 1
    assert st.snapshot_equals_recompute(spark)

    t.delete_where_dv(spark, (3000.0, 6000.0), (1000.0, 4000.0))
    batch = (
        pts.limit(20)
        .select(
            (F.col("id") + 500_000).alias("id"),
            "x",
            "y",
            F.pmod(F.col("id") + 500_000, F.lit(7)).alias("bucket"),
        )
        .localCheckpoint()
    )
    t.upsert(spark, batch)
    assert st.advance(spark) == 2  # both commits folded in one call
    assert st.snapshot_equals_recompute(spark)

    t.compact(spark, n_files=2)
    st.advance(spark)
    assert st.snapshot_equals_recompute(spark)
    # replay safety: advancing again changes nothing
    before = dict(st.state)
    assert st.advance(spark) == 0
    assert st.state == before


def test_cdf_join_agg_state_tracks_both_tables(spark, sf_dir, tmp_path):
    """CdfJoinAggState maintains a join-aggregate view under commits
    on EITHER side (append A → DV-delete B → upsert A → append B →
    compact A) and equals the full join recompute after every advance
    — the two-term delta rule dV = dA><B_old + A_new><dB, with the
    old/new counter-snapshots read via ZTable time travel."""
    from big_data_computing__spark.sources.layout import ZTable
    from big_data_computing__spark.sources.readers import (
        customer_points,
    )
    from big_data_computing__spark.streaming.table_stream import (
        CdfJoinAggState,
    )

    pts = customer_points(spark, sf_dir)
    # fact side A: join key k, measure val
    fact = pts.select(
        "id",
        "x",
        "y",
        F.pmod(F.col("id"), F.lit(37)).alias("k"),
        (F.col("id") % 1000).alias("val"),
    )
    # dim side B: same key domain, group column grp (disjoint ids/cols)
    dim = (
        pts.where(F.col("id") < 3700)
        .select(
            (F.col("id") + 10_000_000).alias("b_id"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.pmod(F.col("id"), F.lit(37)).alias("k"),
            F.pmod(F.col("id"), F.lit(5)).alias("grp"),
        )
    )
    a = ZTable.create(
        fact.where(F.col("id") % 2 == 0),
        str(tmp_path / "zt_fact"),
        n_files=6,
        cell=200.0,
    )
    b = ZTable.create(
        dim.where(F.col("b_id") % 3 != 0),
        str(tmp_path / "zt_dim"),
        x="bx",
        y="by",
        n_files=4,
        cell=200.0,
    )
    st = CdfJoinAggState(a, b, "k", "grp", sum_col="val")
    assert st.advance(spark) == 1  # one bootstrap fold of (A0 >< B0)
    assert st.state, "join view must be non-empty"
    assert st.snapshot_equals_recompute(spark)

    # append on the fact side only
    a.append(fact.where(F.col("id") % 2 == 1), n_files=4)
    assert st.advance(spark) == 1
    assert st.snapshot_equals_recompute(spark)

    # merge-on-read delete on the dim side only
    b.delete_where_dv(spark, (0.0, 5000.0), (0.0, 5000.0))
    assert st.advance(spark) == 1
    assert st.snapshot_equals_recompute(spark)

    # commits on BOTH sides folded by one advance: fact upsert
    # (replace + insert) and a dim append
    batch = (
        fact.limit(25)
        .select(
            (F.col("id") + 900_000).alias("id"),
            "x",
            "y",
            F.pmod(F.col("id") + 900_000, F.lit(37)).alias("k"),
            ((F.col("id") + 900_000) % 1000).alias("val"),
        )
        .localCheckpoint()
    )
    a.upsert(spark, batch)
    b.append(dim.where(F.col("b_id") % 3 == 0), n_files=2)
    assert st.advance(spark) == 2
    assert st.snapshot_equals_recompute(spark)

    # compact is a logical no-op for the view
    a.compact(spark, n_files=3)
    st.advance(spark)
    assert st.snapshot_equals_recompute(spark)

    # replay safety
    before = dict(st.state)
    assert st.advance(spark) == 0
    assert st.state == before


def test_cdf_minmax_state_affected_group_recompute(
    spark, sf_dir, tmp_path
):
    """MIN/MAX IVM: inserts maintain bounds with zero re-reads;
    deletes re-read ONLY groups whose boundary was tied; parity with
    the full GROUP BY holds after every advance through the whole
    lifecycle (append, interior DV delete, boundary COW delete,
    upsert)."""
    from big_data_computing__spark.streaming.table_stream import (
        CdfMinMaxState,
    )

    pts = customer_points(spark, sf_dir)
    # key = y-decile bucket, value = x
    base = pts.select(
        "x", "y",
        (F.floor(F.col("y") / 1000.0)).cast("long").alias("bucket"),
    )
    t = L.ZTable.create(
        base, str(tmp_path / "zt_mm"), n_files=8, cell=200.0,
        stats_cols=["bucket"],
    )
    st = CdfMinMaxState(t, "bucket", "x")
    st.advance(spark)
    assert st.snapshot_equals_recompute(spark)
    assert st.rescans == 0  # bootstrap is inserts only

    # pure append: bounds fold incrementally, still no rescan
    t.append(
        base.limit(200).withColumn("x", F.col("x") + 1.0), n_files=2
    )
    st.advance(spark)
    assert st.snapshot_equals_recompute(spark)
    assert st.rescans == 0

    # interior delete: a y-box strictly inside one bucket whose x
    # range avoids that bucket's min/max — pick it from the state
    bkt, (_, mn, mx) = sorted(st.state.items())[3]
    inner = t.read(spark).where(
        (F.col("bucket") == bkt) & (F.col("x") > mn) & (F.col("x") < mx)
    )
    lo = inner.agg(F.min("y"), F.max("y")).collect()[0]
    # DV-delete a thin y-band inside the bucket, x-range interior
    t.delete_where_dv(
        spark, (float(mn) + 0.001, float(mx) - 0.001),
        (float(lo[0]), float(lo[0]) + 50.0),
    )
    before = st.rescans
    st.advance(spark)
    assert st.snapshot_equals_recompute(spark)
    assert st.rescans == before  # interior values never tie a bound

    # boundary delete: remove the exact row holding one bucket's max
    row = (
        t.read(spark).where(F.col("bucket") == bkt)
        .orderBy(F.desc("x")).limit(1).collect()[0]
    )
    t.delete_where(
        spark, (row["x"], row["x"]), (row["y"], row["y"])
    )
    st.advance(spark)
    assert st.snapshot_equals_recompute(spark)
    assert st.rescans > before  # the tie forced a re-read

    # upsert over tombstoned ground keeps parity
    t.upsert(spark, base.limit(30).withColumn("x", F.col("x") - 2.5))
    st.advance(spark)
    assert st.snapshot_equals_recompute(spark)
    # replay safety
    v = st.version
    assert st.advance(spark) == 0 and st.version == v
