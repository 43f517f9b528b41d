"""Incremental materialized-view maintenance (plans/matview.py): the
refresh must be physically incremental (untouched view partitions carried
forward file-for-file), exact (≡ a full rebuild from the post-merge
lake), honor the delete contract (a base day losing every row drops its
view partition), and enforce freshness (any unabsorbed base commit
flips serving back off the view)."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.plans.matview import (
    _rollup,
    apply_versioned_cdc,
    build_rollup_view,
    mv_lake_path,
    refresh_rollup_view,
    rollup_view_fresh,
    rollup_view_path,
    serve_rollup,
)
from etl_pdf_pipepline_spark.sources.catalog import load_table
from etl_pdf_pipepline_spark.sources.manifest import (
    _read_manifest,
    init_versioned_lake,
    latest_version,
    merge_commit,
    read_snapshot,
)

SF = "/root/testdata/sf0.001"


def _built(spark):
    """Build base lake + full view once per test run (idempotent)."""
    root = mv_lake_path(SF)
    ev = load_table(spark, SF, "events").withColumn("event_date", F.to_date("ts"))
    init_versioned_lake(ev, root, "event_date")
    build_rollup_view(spark, root, SF)
    return root, ev


def test_refresh_is_incremental_and_exact(spark):
    root, ev = _built(spark)
    view_root = rollup_view_path(SF)
    v1 = _read_manifest(view_root, latest_version(view_root))

    changed = apply_versioned_cdc(spark, root, ev)
    refresh_rollup_view(spark, root, SF, changed)

    v2 = _read_manifest(view_root, latest_version(view_root))
    changed_strs = {str(d) for d in changed}
    untouched = 0
    for part, rels in v1["files"].items():
        if part.split("=", 1)[1] not in changed_strs:
            # carried forward file-for-file: same rel paths, same inodes
            assert v2["files"][part] == rels
            for rel in rels:
                assert os.path.exists(os.path.join(view_root, rel))
            untouched += 1
    assert untouched > 0  # the lake has days the CDC batch never touched
    for d in changed_strs:
        key = f"event_date={d}"
        assert v2["files"][key] != v1["files"].get(key)

    # exactness: incrementally-refreshed view == full rebuild from the
    # post-merge base snapshot
    cols = ["event_date", "event_type", "n", "total_cents"]
    expect = sorted(map(tuple, _rollup(read_snapshot(spark, root)).select(*cols).collect()))
    got = sorted(map(tuple, read_snapshot(spark, view_root).select(*cols).collect()))
    assert got == expect
    assert rollup_view_fresh(root, SF)


def test_delete_all_day_drops_view_partition(spark):
    root, ev = _built(spark)
    # Pick a real day and delete EVERY row of it in the base lake.
    victim = ev.agg(F.min("event_date")).collect()[0][0]
    empty = read_snapshot(spark, root).filter(F.lit(False))
    merge_commit(empty, root, "event_date", changed_partitions=[victim])
    refresh_rollup_view(spark, root, SF, [victim])

    view_root = rollup_view_path(SF)
    vm = _read_manifest(view_root, latest_version(view_root))
    assert f"event_date={victim}" not in vm["files"]
    served = serve_rollup(spark, SF).filter(F.col("event_date") == F.lit(victim))
    assert served.count() == 0
    assert rollup_view_fresh(root, SF)


def test_staleness_flips_serving_off_the_view(spark):
    root, ev = _built(spark)
    assert rollup_view_fresh(root, SF)
    # Any base commit the view hasn't absorbed → stale.
    day = ev.agg(F.max("event_date")).collect()[0][0]
    one = (
        read_snapshot(spark, root)
        .filter(F.col("event_date") == F.lit(day))
        .limit(1)
        .withColumn("event_id", F.col("event_id") + 77_000_000_000)
    )
    base = read_snapshot(spark, root).filter(F.col("event_date") == F.lit(day))
    merge_commit(base.unionByName(one), root, "event_date", changed_partitions=[day])
    assert not rollup_view_fresh(root, SF)
    # Refresh absorbs it and the view is again exact.
    refresh_rollup_view(spark, root, SF, [day])
    assert rollup_view_fresh(root, SF)
    cols = ["event_date", "event_type", "n", "total_cents"]
    expect = (
        _rollup(read_snapshot(spark, root).filter(F.col("event_date") == F.lit(day)))
        .select(*cols)
        .collect()
    )
    got = (
        read_snapshot(spark, rollup_view_path(SF))
        .filter(F.col("event_date") == F.lit(day))
        .select(*cols)
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))


def test_view_serves_display_form(spark):
    root, _ = _built(spark)
    row = serve_rollup(spark, SF).limit(1).collect()
    assert {"event_date", "event_type", "n", "total_value"} == set(row[0].asDict())
    assert isinstance(row[0]["total_value"], float)
    assert isinstance(row[0]["event_date"], datetime.date)


def test_streaming_maintenance_matches_batch_and_is_multi_batch(spark):
    """The foreachBatch-maintained view must equal a batch rollup of the
    flat table, and the drain must have genuinely run build + >=3
    incremental refreshes (one manifest version per micro-batch)."""
    from etl_pdf_pipepline_spark.functions.money import cents as _cents
    from etl_pdf_pipepline_spark.plans.matview import streaming_rollup_maintenance
    from etl_pdf_pipepline_spark.sources.catalog import warehouse_path

    got = streaming_rollup_maintenance(spark, SF)
    ev = load_table(spark, SF, "events").withColumn("event_date", F.to_date("ts"))
    expect = (
        ev.groupBy("event_date", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_cents("value")).cast("double") / 100, 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select("event_date", "event_type", "n", "total_value", "n_users")
        .orderBy("event_date", "event_type")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    view_root = os.path.join(warehouse_path(SF, "events_stream_mv"), "view")
    assert latest_version(view_root) >= 4  # v1 build + one refresh per later batch


def test_concurrent_disjoint_refreshes_both_land(spark):
    """Two refreshes for DISJOINT day sets racing on the view's version
    slot must both land (merge_commit's optimistic rebase), and the view
    must end exactly equal to a full rebuild — the same concurrency
    contract the base lake has, extended to its materialized view."""
    import threading

    root, ev = _built(spark)
    view_root = rollup_view_path(SF)
    d1 = ev.agg(F.min("event_date")).collect()[0][0]
    d2 = ev.agg(F.max("event_date")).collect()[0][0]
    assert d1 != d2
    # Two serial base merges (one synthetic extra row per day), then
    # two concurrent view refreshes, one per touched day.
    for off, day in ((11_000_000_000, d1), (22_000_000_000, d2)):
        slice_ = read_snapshot(spark, root).filter(F.col("event_date") == F.lit(day))
        extra = slice_.limit(1).withColumn("event_id", F.col("event_id") + off)
        merge_commit(slice_.unionByName(extra), root, "event_date", changed_partitions=[day])
    assert not rollup_view_fresh(root, SF)

    errs: list[Exception] = []

    def worker(day):
        try:
            refresh_rollup_view(spark, root, SF, [day])
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(d,)) for d in (d1, d2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    cols = ["event_date", "event_type", "n", "total_cents", "n_users"]
    expect = sorted(map(tuple, _rollup(read_snapshot(spark, root)).select(*cols).collect()))
    got = sorted(map(tuple, read_snapshot(spark, view_root).select(*cols).collect()))
    assert got == expect
    assert rollup_view_fresh(root, SF)


def test_empty_bootstrap_snapshot_reads_as_empty(spark):
    """A lake bootstrapped EMPTY (schema-only manifest, zero data files)
    must read back as an empty frame with the committed schema — the
    shape a streaming sink sees before its first append lands."""
    import shutil

    ev = load_table(spark, SF, "events").withColumn("event_date", F.to_date("ts"))
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        "empty_bootstrap_lake",
    )
    shutil.rmtree(root, ignore_errors=True)
    init_versioned_lake(ev.filter(F.lit(False)), root, "event_date")
    snap = read_snapshot(spark, root)
    assert snap.count() == 0
    assert snap.schema == ev.schema


def test_optimize_does_not_invalidate_view(spark):
    """OPTIMIZE compaction of the base lake is a row-preserving commit
    (tagged rows_preserved): the view must STAY fresh across it — the
    aggregate of identical rows is identical, and nightly maintenance
    must not stampede every dashboard back to fact scans. A genuine
    row-changing merge afterwards must still flip it stale."""
    from etl_pdf_pipepline_spark.sources.manifest import merge_commit, optimize_commit

    root, ev = _built(spark)
    assert rollup_view_fresh(root, SF)
    served_before = sorted(map(tuple, serve_rollup(spark, SF).collect()))

    optimize_commit(spark, root)
    assert rollup_view_fresh(root, SF)  # layout changed, rows did not
    assert sorted(map(tuple, serve_rollup(spark, SF).collect())) == served_before

    # A real row change still invalidates.
    day = ev.agg(F.max("event_date")).collect()[0][0]
    slice_ = read_snapshot(spark, root).filter(F.col("event_date") == F.lit(day))
    extra = slice_.limit(1).withColumn("event_id", F.col("event_id") + 44_000_000_000)
    merge_commit(slice_.unionByName(extra), root, "event_date", changed_partitions=[day])
    assert not rollup_view_fresh(root, SF)


def test_view_time_travel_matches_base_time_travel(spark):
    """Derived state time-travels in lockstep with its base: view v1
    (pre-CDC build) must equal the rollup of base v1, and view HEAD the
    rollup of base HEAD — because refreshes only ever merge-commit, old
    view versions stay readable exactly like old base versions."""
    root, ev = _built(spark)
    view_root = rollup_view_path(SF)
    changed = apply_versioned_cdc(spark, root, ev)
    refresh_rollup_view(spark, root, SF, changed)

    cols = ["event_date", "event_type", "n", "total_cents", "n_users"]

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    assert rows(read_snapshot(spark, view_root, 1)) == rows(
        _rollup(read_snapshot(spark, root, 1))
    )
    assert rows(read_snapshot(spark, view_root)) == rows(
        _rollup(read_snapshot(spark, root))
    )
    # And the two view versions genuinely differ (the CDC changed rows).
    assert rows(read_snapshot(spark, view_root, 1)) != rows(
        read_snapshot(spark, view_root)
    )


def test_streaming_hourly_view_serve_or_build(spark):
    """ensure_streaming_hourly_view reuses a fresh view (no rebuild —
    the whole point of the serving face) and the served rows equal a
    direct hourly rollup of the source."""
    from etl_pdf_pipepline_spark.plans.matview import (
        ensure_streaming_hourly_view,
    )
    from etl_pdf_pipepline_spark.registry import all_queries
    from etl_pdf_pipepline_spark.sources.manifest import latest_version

    sf = "/root/testdata/sf0.001"
    view_root = ensure_streaming_hourly_view(spark, sf)
    v_built = latest_version(view_root)
    assert ensure_streaming_hourly_view(spark, sf) == view_root
    assert latest_version(view_root) == v_built  # reused, not rebuilt

    served = all_queries()["streaming_hourly_served"](spark, sf)
    from etl_pdf_pipepline_spark.functions.money import cents as _cents
    from etl_pdf_pipepline_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    direct = (
        load_table(spark, sf, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_cents("value")).cast("double") / 100, 2).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )
    assert [tuple(r) for r in served.collect()] == [tuple(r) for r in direct.collect()]


def test_daemon_refresh_absorbs_dv_delete(spark, tmp_path):
    """r11: the decoupled daemon hand-off (changed_partitions_between →
    refresh_rollup_view) must absorb a merge-on-read DV delete — the
    file lists don't change across a delete_commit, so only the DV-aware
    diff names the masked day. After the refresh the view must serve the
    masked aggregates and report fresh; the empty-list early-return must
    therefore never swallow a DV delete."""
    from etl_pdf_pipepline_spark.sources.manifest import (
        changed_partitions_between,
        delete_commit,
        read_meta,
    )

    root = str(tmp_path / "dv_mv_base")
    view_root = str(tmp_path / "dv_mv_view")
    meta_root = view_root + "_meta"
    ev = load_table(spark, SF, "events").withColumn("event_date", F.to_date("ts"))
    init_versioned_lake(ev, root, "event_date")
    build_rollup_view(spark, root, SF, view_root=view_root, meta_root=meta_root)

    # writer: DV-delete some of one day's rows (no file rewritten)
    day = ev.select(F.min("event_date")).first()[0]
    keys = (
        ev.filter((F.col("event_date") == F.lit(day)) & (F.col("user_id") % 3 == 0))
        .select("event_id", "event_date")
    )
    n_dead = keys.count()
    assert n_dead > 0
    delete_commit(spark, root, keys, "event_id")

    # daemon: discovery names the masked day, refresh absorbs it
    absorbed = int(read_meta(meta_root)["base_version"])
    days = changed_partitions_between(root, absorbed, latest_version(root))
    assert str(day) in days
    refresh_rollup_view(spark, root, SF, days, view_root=view_root, meta_root=meta_root)
    assert rollup_view_fresh(root, SF, meta_root=meta_root)

    served = {
        (str(r.event_date), r.event_type): r.n
        for r in serve_rollup(spark, SF, view_root=view_root).collect()
    }
    expect = {
        (str(r.event_date), r.event_type): r.n
        for r in _rollup(read_snapshot(spark, root)).collect()
    }
    assert served == expect


def test_daemon_refresh_empty_list_advances_freshness(spark, tmp_path):
    """The ADVICE r10 early-return: an empty changed-partitions list
    (every commit since absorption was rows_preserved) must not raise,
    must recompute nothing, and must still advance the freshness record
    so serving keeps routing to the view."""
    from etl_pdf_pipepline_spark.sources.manifest import (
        changed_partitions_between,
        optimize_commit,
        read_meta,
        rows_changed_since,
    )

    root = str(tmp_path / "empty_mv_base")
    view_root = str(tmp_path / "empty_mv_view")
    meta_root = view_root + "_meta"
    ev = load_table(spark, SF, "events").withColumn("event_date", F.to_date("ts"))
    init_versioned_lake(ev, root, "event_date")
    build_rollup_view(spark, root, SF, view_root=view_root, meta_root=meta_root)

    optimize_commit(spark, root)  # rows_preserved: rows unchanged
    absorbed = int(read_meta(meta_root)["base_version"])
    assert not rows_changed_since(root, absorbed)
    view_v_before = latest_version(view_root)
    out = refresh_rollup_view(
        spark, root, SF, [], view_root=view_root, meta_root=meta_root
    )
    assert out == []
    assert latest_version(view_root) == view_v_before  # nothing recomputed
    assert int(read_meta(meta_root)["base_version"]) == latest_version(root)
    assert rollup_view_fresh(root, SF, meta_root=meta_root)
