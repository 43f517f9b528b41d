"""Layout/index freshness + routing-override contracts added in r7.

A persisted layout (bucketed facts, LSH band index) is only servable
while its build-time stat-signature of the source tables still matches:
a corpus regenerated in place must invalidate the layout instead of
being served stale (the materialized-index invalidation contract —
reference parity: the ref rebuilds its FTS/vector indexes at ingest,
src/services/document_service.py). force_scan_path() is the routing
override that lets the scan branch be gated/measured even when a layout
is registered.
"""

from __future__ import annotations

import os
import shutil

import pytest


@pytest.fixture(scope="module")
def corpus_copy(tmp_path_factory):
    """A writable copy of the sf0.001 tables so tests can mutate mtimes
    (testdata itself is read-only by contract)."""
    src = "/root/testdata/sf0.001"
    dst = tmp_path_factory.mktemp("corpus")
    for t in ("lineitem", "orders", "documents", "nation", "customer",
              "supplier", "region", "part"):
        shutil.copy(os.path.join(src, f"{t}.parquet"), dst / f"{t}.parquet")
    return str(dst)


def _touch(path: str) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_mtime_ns + 1_000_000, st.st_mtime_ns + 1_000_000))


def test_stat_signature_tracks_file_changes(corpus_copy):
    from etl_pdf_pipepline_spark.sources.catalog import table_stat_signature

    before = table_stat_signature(corpus_copy, ("lineitem", "orders"))
    assert before == table_stat_signature(corpus_copy, ("lineitem", "orders"))
    _touch(os.path.join(corpus_copy, "lineitem.parquet"))
    assert table_stat_signature(corpus_copy, ("lineitem", "orders")) != before
    # tables not in the tuple don't affect the tag
    sig = table_stat_signature(corpus_copy, ("lineitem", "orders"))
    _touch(os.path.join(corpus_copy, "documents.parquet"))
    assert table_stat_signature(corpus_copy, ("lineitem", "orders")) == sig


def test_bucketed_layout_invalidated_by_source_rewrite(spark, corpus_copy):
    from etl_pdf_pipepline_spark.plans.bucketed import (
        bucketed_layout_exists,
        force_scan_path,
        write_bucketed_facts,
    )

    write_bucketed_facts(spark, corpus_copy)
    assert bucketed_layout_exists(spark, corpus_copy)
    # routing override wins even while the layout is fresh
    with force_scan_path():
        assert not bucketed_layout_exists(spark, corpus_copy)
    assert bucketed_layout_exists(spark, corpus_copy)
    # an in-place source rewrite (mtime bump) invalidates the route
    _touch(os.path.join(corpus_copy, "orders.parquet"))
    assert not bucketed_layout_exists(spark, corpus_copy)
    # a rebuild re-tags and restores the route
    write_bucketed_facts(spark, corpus_copy)
    assert bucketed_layout_exists(spark, corpus_copy)


def test_scan_variants_match_routed_results(spark):
    """The forced-scan gate variants must return exactly what the routed
    queries return — routing is a physical-plan choice, never a result
    change."""
    from etl_pdf_pipepline_spark.plans.bucketed import (
        revenue_by_nation_scan,
        shipping_priority_scan,
        write_bucketed_facts,
    )
    from etl_pdf_pipepline_spark.plans.relational import (
        revenue_by_nation,
        shipping_priority_top10,
    )

    sf = "/root/testdata/sf0.001"
    write_bucketed_facts(spark, sf)  # ensure the routed path has a layout
    assert [tuple(r) for r in revenue_by_nation_scan(spark, sf).collect()] == [
        tuple(r) for r in revenue_by_nation(spark, sf).collect()
    ]
    assert [tuple(r) for r in shipping_priority_scan(spark, sf).collect()] == [
        tuple(r) for r in shipping_priority_top10(spark, sf).collect()
    ]


def test_ensure_lsh_band_index_reuses_until_stale(spark, corpus_copy):
    from etl_pdf_pipepline_spark.operators.dedup import (
        ensure_lsh_band_index,
        lsh_index_path,
    )

    from etl_pdf_pipepline_spark.sources.manifest import read_meta

    path = ensure_lsh_band_index(spark, corpus_copy)
    assert path == lsh_index_path(corpus_copy)
    # freshness record is a CAS-committed manifest payload (r8: the
    # hand-rolled _meta.json side-files are gone — one commit path)
    meta = read_meta(path)
    assert meta is not None and meta["exclude_mod"] == 20
    # fresh source → serve, no rebuild (payload object unchanged)
    assert ensure_lsh_band_index(spark, corpus_copy) == path
    assert read_meta(path) == meta
    # different exclude_mod → contract mismatch → rebuild
    ensure_lsh_band_index(spark, corpus_copy, exclude_mod=10)
    meta2 = read_meta(path)
    assert meta2 is not None and meta2["exclude_mod"] == 10
    # stale source → rebuild (signature re-tagged)
    _touch(os.path.join(corpus_copy, "documents.parquet"))
    ensure_lsh_band_index(spark, corpus_copy, exclude_mod=10)
    meta3 = read_meta(path)
    assert meta3 is not None and meta3["source_signature"] != meta2["source_signature"]


def test_ensure_zorder_events_reuses_until_stale(spark, corpus_copy):
    import shutil as _shutil

    from etl_pdf_pipepline_spark.plans.zorder import (
        ensure_zorder_events,
        zorder_events_path,
    )
    from etl_pdf_pipepline_spark.sources.manifest import read_meta

    _shutil.copy(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(corpus_copy, "events.parquet"),
    )
    path = ensure_zorder_events(spark, corpus_copy)
    assert path == zorder_events_path(corpus_copy)
    meta = read_meta(path)
    assert meta is not None
    # fresh source → serve (payload object unchanged)
    assert ensure_zorder_events(spark, corpus_copy) == path
    assert read_meta(path) == meta
    # different file count → contract mismatch → rebuild
    ensure_zorder_events(spark, corpus_copy, n_files=meta["n_files"] + 1)
    meta2 = read_meta(path)
    assert meta2 is not None and meta2["n_files"] == meta["n_files"] + 1
    # stale source → rebuild (signature re-tagged)
    _touch(os.path.join(corpus_copy, "events.parquet"))
    ensure_zorder_events(spark, corpus_copy, n_files=meta2["n_files"])
    meta3 = read_meta(path)
    assert meta3 is not None and meta3["source_signature"] != meta2["source_signature"]


def test_ensure_media_manifest_reuses_until_stale(spark, corpus_copy):
    """Digest-at-ingest lifecycle (r10): the media metadata manifest is
    built once, served while the documents signature matches, rebuilt on
    an in-place source rewrite — and the served rows equal the recompute
    path exactly (also oracle-gated by media_metadata_served)."""
    import shutil as _shutil

    from etl_pdf_pipepline_spark.operators.multimodal import (
        ensure_media_manifest,
        media_manifest_path,
        media_metadata,
    )
    from etl_pdf_pipepline_spark.sources.manifest import read_meta

    path = ensure_media_manifest(spark, corpus_copy)
    try:
        assert path == media_manifest_path(corpus_copy)
        meta = read_meta(path)
        assert meta is not None and "source_signature" in meta
        # fresh source → serve, record object unchanged
        assert ensure_media_manifest(spark, corpus_copy) == path
        assert read_meta(path) == meta
        # served rows ≡ recompute rows
        served = sorted(
            tuple(r) for r in spark.read.parquet(path).collect()
        )
        recomputed = sorted(
            tuple(r) for r in media_metadata(spark, corpus_copy).collect()
        )
        assert served == recomputed
        # stale source → rebuild (signature re-tagged)
        _touch(os.path.join(corpus_copy, "documents.parquet"))
        ensure_media_manifest(spark, corpus_copy)
        meta2 = read_meta(path)
        assert meta2["source_signature"] != meta["source_signature"]
    finally:
        _shutil.rmtree(path, ignore_errors=True)


def test_lsh_plane_divergence_warns():
    """Past 8192 embeddings the derived plane count departs from the
    static oracle constants; the guard must make that loud (ADVICE r6)."""
    import warnings

    from etl_pdf_pipepline_spark.operators.similarity import (
        _LSH_PLANES_PER_BAND,
        _warn_if_oracle_diverges,
        derive_lsh_planes,
    )

    assert derive_lsh_planes(8192) == _LSH_PLANES_PER_BAND
    big = derive_lsh_planes(8193)
    assert big > _LSH_PLANES_PER_BAND
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _warn_if_oracle_diverges(_LSH_PLANES_PER_BAND, 8192)
        assert not caught
        _warn_if_oracle_diverges(big, 8193)
        assert len(caught) == 1 and "oracle" in str(caught[0].message)


def test_bm25_routing_serves_fresh_and_falls_back(spark, corpus_copy):
    """r11 keyword-family routing: bm25_search serves from the persisted
    postings index while its freshness signature matches, matches the
    live-scan result exactly, honors force_scan_path, and invalidates on
    a source rewrite (same contract as the bucketed fact layout)."""
    import shutil as _shutil

    from etl_pdf_pipepline_spark.plans.bucketed import force_scan_path
    from etl_pdf_pipepline_spark.retrieval.queries import (
        _bm25_index_path,
        bm25_index_servable,
        bm25_search,
        ensure_bm25_index,
    )

    path = _bm25_index_path(corpus_copy)
    try:
        assert not bm25_index_servable(spark, corpus_copy)  # no index yet
        scan = [tuple(r) for r in bm25_search(spark, corpus_copy).collect()]

        ensure_bm25_index(spark, corpus_copy)
        assert bm25_index_servable(spark, corpus_copy)
        served = [tuple(r) for r in bm25_search(spark, corpus_copy).collect()]
        assert served == scan  # routed path is result-identical

        # the routed plan reads the postings parquet, not the corpus
        plan = bm25_search(spark, corpus_copy)._jdf.queryExecution().toString()
        assert "postings" in plan and "documents.parquet" not in plan

        with force_scan_path():
            assert not bm25_index_servable(spark, corpus_copy)
            forced = bm25_search(spark, corpus_copy)
            fplan = forced._jdf.queryExecution().toString()
            assert "documents.parquet" in fplan

        # a source rewrite invalidates the route
        _touch(os.path.join(corpus_copy, "documents.parquet"))
        assert not bm25_index_servable(spark, corpus_copy)
    finally:
        _shutil.rmtree(path, ignore_errors=True)


def test_bm25_routing_never_serves_older_layout(spark, corpus_copy):
    """An index whose meta record lacks the current layout (the pre-r13
    shape, signature still matching) is not servable: bm25_search takes
    the scan path, and ensure_bm25_index rebuilds it in the current
    layout, after which it serves again."""
    import shutil as _shutil

    from etl_pdf_pipepline_spark.retrieval.bm25 import _LAYOUT_VERSION
    from etl_pdf_pipepline_spark.retrieval.queries import (
        _bm25_index_path,
        bm25_index_servable,
        bm25_search,
        ensure_bm25_index,
    )
    from etl_pdf_pipepline_spark.sources.manifest import commit_meta, read_meta

    path = _bm25_index_path(corpus_copy)
    try:
        scan = [tuple(r) for r in bm25_search(spark, corpus_copy).collect()]
        ensure_bm25_index(spark, corpus_copy)
        meta = read_meta(path)
        commit_meta(path, {k: v for k, v in meta.items() if k != "layout"})

        assert not bm25_index_servable(spark, corpus_copy)
        assert [tuple(r) for r in bm25_search(spark, corpus_copy).collect()] == scan
        plan = bm25_search(spark, corpus_copy)._jdf.queryExecution().toString()
        assert "documents.parquet" in plan

        ensure_bm25_index(spark, corpus_copy)
        assert read_meta(path)["layout"] == _LAYOUT_VERSION
        assert bm25_index_servable(spark, corpus_copy)
        assert [tuple(r) for r in bm25_search(spark, corpus_copy).collect()] == scan
    finally:
        _shutil.rmtree(path, ignore_errors=True)


def test_signature_manifests_serve_fresh_and_fall_back(spark, corpus_copy):
    """r11 signature-at-ingest routing: dedup_minhash_signatures /
    dedup_simhash serve the persisted signature manifests while fresh,
    match the recompute exactly, honor force_scan_path, and invalidate
    on a source rewrite."""
    import shutil as _shutil

    from etl_pdf_pipepline_spark.operators.dedup import (
        dedup_minhash_signatures,
        dedup_simhash,
        ensure_minhash_signatures,
        ensure_simhash_signatures,
        signature_manifest_path,
        signatures_servable,
    )
    from etl_pdf_pipepline_spark.plans.bucketed import force_scan_path

    paths = [
        signature_manifest_path(corpus_copy, "minhash"),
        signature_manifest_path(corpus_copy, "simhash"),
    ]
    try:
        for fam in ("minhash", "simhash"):
            assert not signatures_servable(spark, corpus_copy, fam)
        mh_scan = sorted(tuple(r) for r in dedup_minhash_signatures(spark, corpus_copy).collect())
        sh_scan = sorted(tuple(r) for r in dedup_simhash(spark, corpus_copy).collect())

        ensure_minhash_signatures(spark, corpus_copy)
        ensure_simhash_signatures(spark, corpus_copy)
        for fam in ("minhash", "simhash"):
            assert signatures_servable(spark, corpus_copy, fam)
        assert sorted(tuple(r) for r in dedup_minhash_signatures(spark, corpus_copy).collect()) == mh_scan
        assert sorted(tuple(r) for r in dedup_simhash(spark, corpus_copy).collect()) == sh_scan

        # served plan reads the manifest, not the corpus
        plan = dedup_minhash_signatures(spark, corpus_copy)._jdf.queryExecution().toString()
        assert "minhash_sigs_" in plan and "documents.parquet" not in plan

        with force_scan_path():
            assert not signatures_servable(spark, corpus_copy, "minhash")
            fplan = dedup_minhash_signatures(spark, corpus_copy)._jdf.queryExecution().toString()
            assert "documents.parquet" in fplan

        _touch(os.path.join(corpus_copy, "documents.parquet"))
        for fam in ("minhash", "simhash"):
            assert not signatures_servable(spark, corpus_copy, fam)
    finally:
        for p in paths:
            _shutil.rmtree(p, ignore_errors=True)


def test_read_parquet_cached_invalidates_on_rewrite(spark, tmp_path):
    """r12 read cache: same files → same DataFrame object (no footer
    re-read); any rewrite under the path → fresh scan with the new data.
    The staleness currency is the file-stat signature, identical to the
    serve-or-build layouts'."""
    from etl_pdf_pipepline_spark.sources.catalog import read_parquet_cached

    p = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(p)
    a = read_parquet_cached(spark, p)
    b = read_parquet_cached(spark, p)
    assert a is b, "unchanged files must serve the memoized scan"
    assert a.count() == 5

    spark.range(9).write.mode("overwrite").parquet(p)
    c = read_parquet_cached(spark, p)
    assert c is not a, "rewrite must invalidate the memoized scan"
    assert c.count() == 9

    # append-shaped change (new file in the directory) also invalidates
    spark.range(3).write.mode("append").parquet(p)
    d = read_parquet_cached(spark, p)
    assert d is not c
    assert d.count() == 12


def test_table_scalar_cached_invalidates_on_table_change(spark, corpus_copy):
    """r12 scalar cache: recompute fires once per table state, and a
    source change (mtime bump = ingest in stat-signature currency)
    forces a fresh compute."""
    from etl_pdf_pipepline_spark.sources.catalog import table_scalar_cached

    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return 42

    for _ in range(3):
        assert table_scalar_cached(spark, corpus_copy, "documents", "probe", compute) == 42
    assert calls["n"] == 1

    _touch(os.path.join(corpus_copy, "documents.parquet"))
    assert table_scalar_cached(spark, corpus_copy, "documents", "probe", compute) == 42
    assert calls["n"] == 2

    # read_parquet_cached, the same rule for a scan: served while the
    # path is unchanged, read afresh once it is rewritten.
    from etl_pdf_pipepline_spark.sources.catalog import read_parquet_cached

    path = os.path.join(corpus_copy, "probe_scan.parquet")
    shutil.copy(os.path.join(corpus_copy, "region.parquet"), path)
    try:
        first = read_parquet_cached(spark, path)
        assert read_parquet_cached(spark, path) is first and first.count() == 5
        shutil.copy(os.path.join(corpus_copy, "nation.parquet"), path)
        fresh = read_parquet_cached(spark, path)
        assert fresh is not first and fresh.count() == 25
    finally:
        os.remove(path)
