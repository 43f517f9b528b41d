"""The one memo rule (sources/catalog.py: memo, stat_signature).

A memoized value is served while its stat signature is unchanged, and a
DataFrame only to the session that built it. The signature's string is
load-bearing: every persisted `source_signature` (BM25 index, z-order,
bucketed facts, LSH, IVF, media manifest, matview, raw-stats manifests)
is compared against it, so its format is pinned here by an independent
reference."""

from __future__ import annotations

import hashlib
import os

from conftest import SF_SMALL as SF
from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.sources import catalog as cat
from etl_pdf_pipepline_spark.sources.catalog import (
    TABLES,
    load_table,
    read_parquet_cached,
    table_path,
    table_stat_signature,
)


def _md5_reference(paths) -> str:
    """md5 over "path:mtime_ns:size" joined by "|": a file as given, a
    directory's files ordered by (directory, name), a missing path
    skipped."""
    entries = []
    for p in paths:
        if os.path.isdir(p):
            entries += [f"{r}/{f}" for r, f in sorted((r, f) for r, _, fs in os.walk(p) for f in fs)]
        elif os.path.exists(p):
            entries.append(p)
    stats = [os.stat(e) for e in entries]
    parts = [f"{e}:{st.st_mtime_ns}:{st.st_size}" for e, st in zip(entries, stats)]
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def test_table_stat_signature_matches_reference(tmp_path, monkeypatch):
    sf_dir = str(tmp_path)
    nested = tmp_path / "lineitem.parquet"
    for rel, data in (
        ("part-0.parquet", b"a"),
        ("_SUCCESS", b""),
        ("b=2/part-1.parquet", b"bb"),
        ("b=10/part-2.parquet", b"ccc"),
        ("b=10/deeper/part-3.parquet", b"dddd"),
    ):
        (nested / rel).parent.mkdir(parents=True, exist_ok=True)
        (nested / rel).write_bytes(data)
    (tmp_path / "orders.parquet").write_bytes(b"single file")

    pair = ("lineitem", "orders")
    paths = [table_path(sf_dir, t) for t in pair]
    assert table_stat_signature(sf_dir, pair) == _md5_reference(paths)
    assert table_stat_signature(sf_dir, ("orders", "lineitem")) == _md5_reference(paths[::-1])
    assert table_stat_signature(sf_dir, ("region",)) == _md5_reference([])
    for t in TABLES:
        assert table_stat_signature(SF, (t,)) == _md5_reference([table_path(SF, t)])

    # A file that vanishes between the directory listing and its stat is
    # skipped, not raised.
    victim = nested / "b=10" / "part-2.parquet"
    victim.rename(tmp_path / "aside")
    without_victim = _md5_reference(paths)
    (tmp_path / "aside").rename(victim)
    real_stat = os.stat

    def stat(p, *args, **kwargs):
        if os.fspath(p) == str(victim):
            raise FileNotFoundError(p)
        return real_stat(p, *args, **kwargs)

    monkeypatch.setattr(os, "stat", stat)
    assert table_stat_signature(sf_dir, pair) == without_victim


def test_memo_serves_each_session_its_own_frames(spark, tmp_path):
    """load_table, read_parquet_cached, read_snapshot and a stream stage
    each hand a session a frame of that session, memoized per session; an
    entry that holds another session's frame (a dead session whose id()
    was recycled) is evicted and rebuilt, not served."""
    from etl_pdf_pipepline_spark.sources.manifest import init_versioned_lake, read_snapshot
    from etl_pdf_pipepline_spark.streaming.events import _hourly_rollup_stage

    root = str(tmp_path / "lake")
    ev = load_table(spark, SF, "events").withColumn("event_date", F.to_date("ts"))
    init_versioned_lake(ev, root, "event_date")
    region = table_path(SF, "region")
    calls = {
        "load_table": lambda s: load_table(s, SF, "orders"),
        "read_parquet_cached": lambda s: read_parquet_cached(s, region),
        "read_snapshot": lambda s: read_snapshot(s, root),
        "stream_stage": lambda s: _hourly_rollup_stage(s, SF),
    }
    other = spark.newSession()
    for name, call in calls.items():
        mine, theirs = call(spark), call(other)
        assert mine.sparkSession is spark and theirs.sparkSession is other, name
        assert call(spark) is mine and call(other) is theirs, name

        key = next(k for k, (_sig, v) in cat._MEMO.items() if v is mine)
        sig = cat._MEMO[key][0]
        cat._MEMO[key] = (sig, theirs)
        rebuilt = call(spark)
        assert rebuilt.sparkSession is spark and rebuilt is not theirs, name
        assert cat._MEMO[key] == (sig, rebuilt), name
