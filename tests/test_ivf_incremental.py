"""extend_ivf_index ≡ full rebuild given the same centroids
(operators/similarity.py): the O(delta) IVF extension must (a) produce
the identical (vec_id → centroid_id) assignment the full build would,
(b) leave every base data file physically untouched (append-only into
the cell directories), and (c) serve identical probe results. The
probe-result equivalence is also oracle-gated every round by
ivf_incremental_index; these tests pin the file-level mechanics the
gate can't see."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.operators.similarity import (
    _probe_persisted_index,
    extend_ivf_index,
    ivf_index_path,
    persist_ivf_index,
)
from etl_pdf_pipepline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _vector_files(path: str) -> dict[str, tuple]:
    out = {}
    root = f"{path}/vectors"
    for entry in sorted(os.listdir(root)):
        p = os.path.join(root, entry)
        if not (entry.startswith("centroid_id=") and os.path.isdir(p)):
            continue
        for f in sorted(os.listdir(p)):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(p, f))
                out[os.path.join(entry, f)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def test_extend_matches_full_build_and_touches_no_base_file(spark):
    emb = load_table(spark, SF, "embeddings")

    # full build over everything except the query vector
    full_path = persist_ivf_index(spark, SF, exclude_vec_id=4)
    full_assign = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.read.parquet(f"{full_path}/vectors").select(
            "vec_id", "centroid_id"
        ).collect()
    }
    full_probe = [tuple(r) for r in _probe_persisted_index(spark, SF, full_path).collect()]

    # base build + delta extension at the same path (rebuilt by the call)
    path = persist_ivf_index(
        spark, SF, exclude_vec_id=4, base_filter=F.col("vec_id") % 20 != 0
    )
    assert path == ivf_index_path(SF) == full_path
    base_files = _vector_files(path)
    delta = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") != 4))
    n_delta = delta.count()
    assert n_delta > 0
    extend_ivf_index(spark, delta, path)

    after_files = _vector_files(path)
    # append-only: every base file still present, inode-for-inode
    for rel, ident in base_files.items():
        assert after_files.get(rel) == ident, f"{rel} was rewritten by the extension"
    assert len(after_files) > len(base_files), "extension appended no files"

    ext_assign = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.read.parquet(f"{path}/vectors").select(
            "vec_id", "centroid_id"
        ).collect()
    }
    assert ext_assign == full_assign
    ext_probe = [tuple(r) for r in _probe_persisted_index(spark, SF, path).collect()]
    assert ext_probe == full_probe



def test_ensure_ivf_index_serve_or_build(spark):
    """ensure_ivf_index is the reader of persist_ivf_index's freshness
    record: a fresh full build is REUSED (no new meta commit), a stale
    or PARTIAL build (the gate queries' exclude_vec_id variants share
    the path) triggers a rebuild."""
    from etl_pdf_pipepline_spark.operators.similarity import ensure_ivf_index
    from etl_pdf_pipepline_spark.sources.manifest import latest_version, read_meta

    path = ensure_ivf_index(spark, SF)  # build (or rebuild over leftovers)
    assert read_meta(path)["exclude_vec_id"] is None
    v_built = latest_version(path)
    assert ensure_ivf_index(spark, SF) == path
    assert latest_version(path) == v_built  # reuse: nothing committed

    # a partial build at the same path must NOT be served as fresh
    persist_ivf_index(spark, SF, exclude_vec_id=4)
    assert read_meta(path)["exclude_vec_id"] == 4
    v_partial = latest_version(path)
    ensure_ivf_index(spark, SF)
    assert latest_version(path) > v_partial  # rebuilt
    assert read_meta(path)["exclude_vec_id"] is None
    assert not read_meta(path)["partial"]


def _code_files(path: str) -> dict[str, tuple]:
    out = {}
    root = f"{path}/codes"
    for entry in sorted(os.listdir(root)):
        p = os.path.join(root, entry)
        if not (entry.startswith("centroid_id=") and os.path.isdir(p)):
            continue
        for f in sorted(os.listdir(p)):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(p, f))
                out[os.path.join(entry, f)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def test_int8_extend_matches_full_code_and_touches_no_base_file(spark):
    """extend_ivf_int8 ≡ full re-code: identical (vec_id, centroid_id,
    scale, q8) rows, append-only into the cell directories. The probe
    equivalence is oracle-gated by ivf_int8_incremental; this pins the
    file mechanics and the code bytes themselves."""
    from etl_pdf_pipepline_spark.operators.similarity import (
        _write_int8_codes,
        extend_ivf_int8,
        ivf_int8_path,
    )

    emb = load_table(spark, SF, "embeddings")
    parent_full = persist_ivf_index(spark, SF, exclude_vec_id=4)
    path = ivf_int8_path(SF)

    _write_int8_codes(spark, parent_full, path, mode="overwrite")
    full_rows = {
        r["vec_id"]: (r["centroid_id"], r["scale"], tuple(r["q8"]))
        for r in spark.read.parquet(f"{path}/codes").collect()
    }

    parent = persist_ivf_index(
        spark, SF, exclude_vec_id=4, base_filter=F.col("vec_id") % 20 != 0
    )
    _write_int8_codes(spark, parent, path, mode="overwrite")
    base_files = _code_files(path)
    delta = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") != 4))
    extend_ivf_int8(spark, delta, parent, path)

    after_files = _code_files(path)
    for rel, ident in base_files.items():
        assert after_files.get(rel) == ident, f"{rel} was rewritten by the extension"
    assert len(after_files) > len(base_files), "extension appended no files"

    ext_rows = {
        r["vec_id"]: (r["centroid_id"], r["scale"], tuple(r["q8"]))
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    assert ext_rows == full_rows



def test_ensure_ivf_int8_serve_or_build_and_extend_economics(spark):
    """ensure_ivf_int8 reuses a fresh full layout, rebuilds over a
    partial one, and — the economics half — an extension that
    CAS-advances the signature keeps the serve path warm (no rebuild
    after extend, the r9 defect class)."""
    from etl_pdf_pipepline_spark.operators.similarity import (
        ensure_ivf_int8,
        extend_ivf_int8,
        ivf_int8_path,
    )
    from etl_pdf_pipepline_spark.sources.manifest import (
        commit_meta,
        latest_version,
        read_meta,
    )

    path = ensure_ivf_int8(spark, SF)
    assert read_meta(path)["partial"] is False
    v_built = latest_version(path)
    assert ensure_ivf_int8(spark, SF) == path
    assert latest_version(path) == v_built  # reuse: nothing committed

    # a partial layout at the same path must NOT be served as fresh
    commit_meta(path, {"source_signature": None, "partial": True})
    v_partial = latest_version(path)
    ensure_ivf_int8(spark, SF)
    assert latest_version(path) > v_partial  # rebuilt
    assert read_meta(path)["partial"] is False

    # extend + CAS-advance: ensure must serve WITHOUT rebuilding even
    # though extend appended files (the signature names the SOURCE state
    # the layout now covers, not the layout's own bytes)
    from etl_pdf_pipepline_spark.operators.similarity import ensure_ivf_index
    from etl_pdf_pipepline_spark.sources.catalog import table_stat_signature

    parent = ensure_ivf_index(spark, SF)
    emb = load_table(spark, SF, "embeddings")
    sig_now = table_stat_signature(SF, ("embeddings",))
    extend_ivf_int8(
        spark, emb.filter(F.col("vec_id") < 0), parent, path, source_signature=sig_now
    )  # empty delta: pure signature advance, layout content unchanged
    v_extended = latest_version(path)
    assert ensure_ivf_int8(spark, SF) == path
    assert latest_version(path) == v_extended  # served, not rebuilt
