"""ensure-after-extend must NOT rebuild — the index-lifecycle economics
contract (VERDICT r9 defect #1).

The extendable index families (IVF: operators/similarity.py, BM25:
retrieval/bm25.py) advertise the steady-state loop `ingest delta →
extend index by O(delta) → serve`.
That loop only pays O(delta) if the extender CAS-advances the
serve-or-build freshness record (`source_signature`) in the same logical
commit as the delta append; otherwise the very next ensure_* call sees a
signature mismatch and silently pays the FULL O(corpus) rebuild the
extend machinery exists to avoid. Correctness never depended on this
(extend ≡ rebuild is oracle-gated by ivf_incremental_index /
bm25_incremental_index); these tests pin the
ECONOMICS: after a source ingest + extend, ensure_* serves the extended
files with zero rebuild, and the served layout really contains the delta.

The rebuild detector monkeypatches the family's persist function in its
module namespace (ensure_* resolves it by global name at call time), so
a rebuild can't hide.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.sources.catalog import table_stat_signature

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def growing_corpus(spark, tmp_path):
    """A corpus whose documents/embeddings tables are DIRECTORIES, so a
    test can land an ingest delta with mode('append') — testdata's
    single-file tables can't grow. Base = keys % 5 != 3; the delta
    (% 5 == 3) arrives later via `ingest_delta`."""
    dst = tmp_path / "corpus"
    dst.mkdir()
    for t, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        full = spark.read.parquet(f"{SF}/{t}.parquet")
        full.filter(F.col(key) % 5 != 3).coalesce(1).write.parquet(
            str(dst / f"{t}.parquet")
        )
    return str(dst)


def _ingest_delta(spark, corpus: str, table: str, key: str):
    """Append the held-back slice into the corpus table dir (the 'daily
    ingest') and return (delta_df_from_corpus, new_signature)."""
    delta = spark.read.parquet(f"{SF}/{table}.parquet").filter(
        F.col(key) % 5 == 3
    )
    delta.coalesce(1).write.mode("append").parquet(f"{corpus}/{table}.parquet")
    sig = table_stat_signature(corpus, (table,))
    # re-read the delta rows from the corpus itself so the extend input
    # is exactly what landed
    delta_in = spark.read.parquet(f"{corpus}/{table}.parquet").filter(
        F.col(key) % 5 == 3
    )
    return delta_in, sig


def _fail_on_call(monkeypatch, module, fn_name: str):
    def boom(*a, **k):  # pragma: no cover - only fires on regression
        raise AssertionError(
            f"{fn_name} was called: ensure-after-extend performed a full "
            "rebuild — the O(delta) economics regressed"
        )

    monkeypatch.setattr(module, fn_name, boom)


def test_ensure_ivf_after_extend_serves_without_rebuild(
    spark, growing_corpus, monkeypatch
):
    from etl_pdf_pipepline_spark.operators import similarity as sim

    path = sim.ensure_ivf_index(spark, growing_corpus)  # initial full build
    try:
        delta, new_sig = _ingest_delta(spark, growing_corpus, "embeddings", "vec_id")
        delta_ids = {r.vec_id for r in delta.select("vec_id").collect()}
        assert delta_ids, "fixture must hold back a non-empty delta"
        sim.extend_ivf_index(spark, delta, path, source_signature=new_sig)

        _fail_on_call(monkeypatch, sim, "persist_ivf_index")
        assert sim.ensure_ivf_index(spark, growing_corpus) == path
        # the served layout really contains the delta vectors
        served = {
            r.vec_id
            for r in spark.read.parquet(f"{path}/vectors").select("vec_id").collect()
        }
        assert delta_ids <= served
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ensure_ivf_rebuilds_on_legacy_meta_without_variant_keys(
    spark, growing_corpus, monkeypatch
):
    """ADVICE r9: a LEGACY meta record (pre-variant persist wrote only
    source_signature — no exclude_vec_id/partial keys) must NOT be
    served as a fresh full index: key absence means unknown build
    variant, and a surviving partial index would otherwise serve as
    full. Absent keys → rebuild. Two inputs: the float IVF index (record
    without exclude_vec_id and partial) and the int8 IVF layout (record
    without partial)."""
    from etl_pdf_pipepline_spark.operators import similarity as sim
    from etl_pdf_pipepline_spark.sources.manifest import read_meta, update_meta

    sig = table_stat_signature(growing_corpus, ("embeddings",))
    cases = [
        (sim.ensure_ivf_index, "persist_ivf_index", {"exclude_vec_id": None, "partial": False}),
        (sim.ensure_ivf_int8, "_write_int8_codes", {"partial": False}),
    ]
    paths = []
    try:
        for ensure, builder, variant in cases:
            path = ensure(spark, growing_corpus)
            paths.append(path)
            update_meta(path, lambda current: {"source_signature": sig})  # the legacy shape
            calls = []
            real = getattr(sim, builder)
            with monkeypatch.context() as m:
                m.setattr(sim, builder, lambda *a, **k: (calls.append(1), real(*a, **k))[1])
                assert ensure(spark, growing_corpus) == path
            assert calls == [1], f"{ensure.__name__}: legacy variant-less meta must force a rebuild"
            meta = read_meta(path)
            assert {k: meta[k] for k in variant} == variant
    finally:
        for path in paths:
            shutil.rmtree(path, ignore_errors=True)


def test_ensure_bm25_after_extend_serves_without_rebuild(
    spark, growing_corpus, tmp_path, monkeypatch
):
    from etl_pdf_pipepline_spark.retrieval import bm25

    path = str(tmp_path / "bm25_idx")
    docs = spark.read.parquet(f"{growing_corpus}/documents.parquet")
    sig0 = table_stat_signature(growing_corpus, ("documents",))
    assert bm25.ensure_index(docs, "doc_id", "text", path, sig0) == path
    # fresh → serve, no rebuild
    _fail_on_call(monkeypatch, bm25, "persist_index")
    assert bm25.ensure_index(docs, "doc_id", "text", path, sig0) == path
    monkeypatch.undo()

    delta, new_sig = _ingest_delta(spark, growing_corpus, "documents", "doc_id")
    bm25.extend_index(delta, "doc_id", "text", path, source_signature=new_sig)

    docs_now = spark.read.parquet(f"{growing_corpus}/documents.parquet")
    _fail_on_call(monkeypatch, bm25, "persist_index")
    assert bm25.ensure_index(docs_now, "doc_id", "text", path, new_sig) == path
    # scalars accumulated AND the signature advanced in the same record
    from etl_pdf_pipepline_spark.sources.manifest import read_meta

    meta = read_meta(path)
    assert meta["source_signature"] == new_sig
    assert meta["n"] == docs_now.count()
    # the delta's postings are really in the served files
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    served = {
        r.doc_key
        for r in spark.read.parquet(f"{path}/postings").select("doc_key").collect()
    }
    assert delta_ids <= served


def test_bm25_extend_without_signature_preserves_existing_record(
    spark, growing_corpus, tmp_path
):
    """An extend that doesn't know the post-ingest signature must not
    STRIP the one already committed — accumulating scalars may not
    erase other keys (the pre-fix add_delta returned a fresh 2-key
    dict, silently dropping source_signature)."""
    from etl_pdf_pipepline_spark.retrieval import bm25
    from etl_pdf_pipepline_spark.sources.manifest import read_meta

    path = str(tmp_path / "bm25_keep")
    docs = spark.read.parquet(f"{growing_corpus}/documents.parquet")
    sig0 = table_stat_signature(growing_corpus, ("documents",))
    bm25.persist_index(docs, "doc_id", "text", path, source_signature=sig0)
    delta, _new_sig = _ingest_delta(spark, growing_corpus, "documents", "doc_id")
    bm25.extend_index(delta, "doc_id", "text", path)  # no signature passed
    meta = read_meta(path)
    assert meta["source_signature"] == sig0  # preserved, not stripped
    assert meta["n"] == docs.count() + delta.count()

