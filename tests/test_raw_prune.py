"""Raw-table footer-stat file pruning (catalog.raw_pruned_files, r13).

The contract under test: pruning only SHRINKS the read set — the routed
query applies the exact predicate downstream, so its result is identical
to the full scan's; single-file tables and statless columns return None
(callers fall back to load_table, plans unchanged at driver data)."""

from __future__ import annotations

import os

import pytest

from etl_pdf_pipepline_spark.sources import catalog as cat
from etl_pdf_pipepline_spark.sources.catalog import raw_pruned_files


def _forget_raw_file_stats() -> None:
    """Drop the in-process level of _raw_file_stats: its memo entries."""
    for k in [k for k in cat._MEMO if k[0] == "raw_file_stats"]:
        del cat._MEMO[k]


@pytest.fixture()
def multi_file_dir(spark, tmp_path):
    """An sf-dir whose orders table is a DIRECTORY of part files with
    disjoint o_custkey ranges per file — the clustered-on-write shape
    gen_scale's per-replica key offsets produce."""
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "orders.parquet")
    rows = []
    for rep in range(3):
        base = rep * 1000
        rows.append(
            [
                (base + i, 100 * rep + i, float(10 * i), f"2024-01-{(i % 9) + 1:02d}")
                for i in range(100)
            ]
        )
    dfs = [
        spark.createDataFrame(
            chunk, "o_custkey long, o_orderkey long, o_totalprice double, o_orderdate string"
        ).coalesce(1)
        for chunk in rows
    ]
    # One file per replica: write each slice into the same directory.
    dfs[0].write.mode("overwrite").parquet(path)
    for d in dfs[1:]:
        d.write.mode("append").parquet(path)
    return sf_dir


def test_prunes_to_overlapping_files_only(multi_file_dir):
    files = raw_pruned_files(multi_file_dir, "orders", "o_custkey", hi_exclusive=50)
    assert files is not None and len(files) == 1
    # And the kept file really is the one holding custkey < 50.
    import pyarrow.parquet as pq

    md = pq.ParquetFile(files[0]).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    st = md.row_group(0).column(names["o_custkey"]).statistics
    assert st.min < 50


def test_pruned_read_equals_full_scan(spark, multi_file_dir):
    files = raw_pruned_files(multi_file_dir, "orders", "o_custkey", hi_exclusive=50)
    pruned = (
        spark.read.parquet(*files).filter("o_custkey < 50").orderBy("o_custkey", "o_orderkey")
    )
    full = (
        spark.read.parquet(os.path.join(multi_file_dir, "orders.parquet"))
        .filter("o_custkey < 50")
        .orderBy("o_custkey", "o_orderkey")
    )
    assert pruned.collect() == full.collect()


def test_no_pruning_cases(multi_file_dir):
    # Predicate overlapping every file -> None (nothing saved).
    assert raw_pruned_files(multi_file_dir, "orders", "o_custkey", hi_exclusive=10**9) is None
    # Predicate matching NO file -> None (plain scan yields the empty set).
    assert raw_pruned_files(multi_file_dir, "orders", "o_custkey", hi_exclusive=-1) is None
    # Unknown column -> None.
    assert raw_pruned_files(multi_file_dir, "orders", "nope", hi_exclusive=50) is None


def test_single_file_table_returns_none(tmp_path, spark):
    sf_dir = str(tmp_path / "flat")
    os.makedirs(sf_dir)
    df = spark.createDataFrame([(1,), (2,)], "o_custkey long").coalesce(1)
    tmp = str(tmp_path / "stage")
    df.write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(os.path.join(tmp, part), os.path.join(sf_dir, "orders.parquet"))
    assert raw_pruned_files(sf_dir, "orders", "o_custkey", hi_exclusive=50) is None


def test_stats_cache_invalidates_on_rewrite(spark, multi_file_dir):
    files1 = raw_pruned_files(multi_file_dir, "orders", "o_custkey", hi_exclusive=50)
    assert files1 and len(files1) == 1
    # Memo key shape: ("raw_file_stats", abs table dir, col) — abspath-normalized.
    table_dir = os.path.join(os.path.abspath(multi_file_dir), "orders.parquet")
    key_hits = [k for k in cat._MEMO if k[:2] == ("raw_file_stats", table_dir)]
    assert key_hits
    # Rewrite the table with different ranges: signature changes, the
    # memo recomputes, and the prune reflects the new layout.
    path = os.path.join(multi_file_dir, "orders.parquet")
    df = spark.createDataFrame(
        [(5000 + i, i, 1.0, "2024-01-01") for i in range(10)],
        "o_custkey long, o_orderkey long, o_totalprice double, o_orderdate string",
    ).coalesce(1)
    df.write.mode("overwrite").parquet(path)
    assert raw_pruned_files(multi_file_dir, "orders", "o_custkey", hi_exclusive=50) is None


def test_events_sessionization_raw_prune_branch(spark, tmp_path):
    """events_sessionization's raw-prune branch (r13 final session):
    multi-file events dir with disjoint per-file user_id ranges — the
    routed result equals the forced-scan result, and the pruned list is
    a strict subset."""
    import datetime as dt

    from etl_pdf_pipepline_spark.operators.events_queries import events_sessionization
    from etl_pdf_pipepline_spark.plans.bucketed import force_scan_path

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "events.parquet")
    t0 = dt.datetime(2024, 1, 1)
    mode = "overwrite"
    for rep in range(3):
        base = rep * 100
        rows = [
            (
                1000 * rep + i,
                t0 + dt.timedelta(minutes=40 * (i % 7), seconds=i),
                base + (i % 5),
                "click",
                1.0,
                "{}",
            )
            for i in range(60)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1)
        df.write.mode(mode).parquet(path)
        mode = "append"
    pruned = raw_pruned_files(sf_dir, "events", "user_id", hi_exclusive=10)
    assert pruned is not None and len(pruned) == 1
    routed = events_sessionization(spark, sf_dir).collect()
    with force_scan_path():
        scanned = events_sessionization(spark, sf_dir).collect()
    assert routed == scanned and len(routed) > 0


def test_routed_queries_identical_on_multi_file(spark, multi_file_dir):
    """order_sequence_window / running_spend_budget through the routed
    source equal the forced-scan branch on a corpus where pruning FIRES."""
    from etl_pdf_pipepline_spark.plans.bucketed import force_scan_path
    from etl_pdf_pipepline_spark.plans.relational import (
        order_sequence_window,
        running_spend_budget,
    )

    for fn in (order_sequence_window, running_spend_budget):
        routed = fn(spark, multi_file_dir).collect()
        with force_scan_path():
            scanned = fn(spark, multi_file_dir).collect()
        assert routed == scanned
        assert len(routed) > 0


def test_float_column_not_prunable(multi_file_dir):
    """r14 (ADVICE r13 #2): min/max pruning is int-only — float stats lie
    under NaN, string stats may be truncated; a float column must refuse
    to prune rather than silently drop matching files."""
    assert (
        raw_pruned_files(multi_file_dir, "orders", "o_totalprice", hi_exclusive=20.0)
        is None
    )


def test_stats_manifest_round_trip(multi_file_dir, monkeypatch):
    """r14 (VERDICT r13 ask #3): with the serial cap forced to 0 the
    footer walk persists a CAS stats manifest; a cold process (cleared
    in-memory memo) resolves from the manifest and prunes identically."""
    import shutil

    from etl_pdf_pipepline_spark.sources import catalog as cat

    monkeypatch.setattr(cat, "_RAW_STATS_MAX_SERIAL", 0)
    table_dir = os.path.join(os.path.abspath(multi_file_dir), "orders.parquet")
    mroot = cat._raw_stats_manifest_root(table_dir, "o_custkey")
    shutil.rmtree(mroot, ignore_errors=True)
    _forget_raw_file_stats()
    warm = raw_pruned_files(multi_file_dir, "orders", "o_custkey", hi_exclusive=50)
    assert warm and len(warm) == 1
    assert os.path.isdir(mroot)  # manifest committed
    # Simulate a cold process: drop the in-memory memo, resolve again.
    _forget_raw_file_stats()
    from etl_pdf_pipepline_spark.sources.manifest import read_meta

    meta = read_meta(mroot)
    assert meta and meta["col"] == "o_custkey" and meta["stats"]
    cold = raw_pruned_files(multi_file_dir, "orders", "o_custkey", hi_exclusive=50)
    assert cold == warm
    shutil.rmtree(mroot, ignore_errors=True)


def test_small_dirs_do_not_persist_manifest(multi_file_dir):
    """Directories at or below _RAW_STATS_MAX_SERIAL files recompute in
    single-digit ms — no warehouse manifest should be written for them
    (tiny test corpora must not litter spark-warehouse)."""
    from etl_pdf_pipepline_spark.sources import catalog as cat

    _forget_raw_file_stats()
    stats = cat._raw_file_stats(multi_file_dir, "orders", "o_custkey")
    assert stats and len(stats) == 3
    table_dir = os.path.join(os.path.abspath(multi_file_dir), "orders.parquet")
    mroot = cat._raw_stats_manifest_root(table_dir, "o_custkey")
    assert not os.path.exists(mroot)
