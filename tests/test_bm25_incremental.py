"""extend_index ≡ full rebuild (retrieval/bm25.py): the O(delta) FTS
index extension must score bit-identically to rebuilding over the whole
corpus — postings, denormalized dl, the term_df dictionary, and the
exactly-merged corpus scalars all have to agree."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.retrieval.bm25 import (
    bm25_scores_from_index,
    corpus_scalars,
    extend_index,
    persist_index,
)
from etl_pdf_pipepline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"
TERMS = ["spark", "join", "fast", "table"]


def test_extend_equals_full_rebuild(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    assert delta.count() > 0

    full_path = str(tmp_path / "full")
    incr_path = str(tmp_path / "incr")
    persist_index(docs, "doc_id", "text", full_path)
    persist_index(base, "doc_id", "text", incr_path)
    extend_index(delta, "doc_id", "text", incr_path)

    # scalars live in the CAS-committed meta record (r8); the exact
    # integer merge means the extended index's stats equal the rebuild's
    assert corpus_scalars(incr_path) == corpus_scalars(full_path)

    full = dict(bm25_scores_from_index(spark, full_path, TERMS).collect())
    incr = dict(bm25_scores_from_index(spark, incr_path, TERMS).collect())
    assert set(full) == set(incr)
    # Per-term components are bit-identical; the per-doc SUM is a double
    # fold whose order follows file layout, so the two indexes may part
    # in the final ulp. The serving tier rounds to 4 decimals (the same
    # total-order contract every search row uses) — assert that, plus a
    # 1e-12 relative band that would catch any real statistic drift.
    for k in full:
        assert abs(full[k] - incr[k]) <= 1e-12 * max(abs(full[k]), 1.0), k
        assert round(full[k], 4) == round(incr[k], 4), k


def test_extend_empty_delta_is_noop(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "idx")
    persist_index(docs, "doc_id", "text", path)
    before = corpus_scalars(path)
    extend_index(docs.filter(F.lit(False)), "doc_id", "text", path)
    assert corpus_scalars(path) == before


def test_term_df_dictionary_matches_live_scores(spark, tmp_path):
    """r13 layout: the persisted term dictionary's literal-df serving
    plan must score bit-identically to the live (tokenize + query-time
    df) path, and the plan must actually be the one-scan shape (no df
    broadcast join, no second postings scan)."""
    from etl_pdf_pipepline_spark.retrieval.bm25 import bm25_scores

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "idx")
    persist_index(docs, "doc_id", "text", path)
    assert (tmp_path / "idx" / "term_df").is_dir()

    served = bm25_scores_from_index(spark, path, TERMS)
    plan = served._jdf.queryExecution().executedPlan().toString()
    # one-scan shape: no join, exactly one postings scan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan

    live = dict(bm25_scores(docs, "doc_id", "text", TERMS).collect())
    got = dict(served.collect())
    assert set(live) == set(got)
    for k in live:
        assert round(live[k], 4) == round(got[k], 4), k


def test_extend_keeps_term_df_in_sync(spark, tmp_path):
    """After an extend, the dictionary's per-term totals must equal the
    postings' actual per-term row counts (the df a query-time count
    over the postings would give)."""
    docs = load_table(spark, SF, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx")
    persist_index(base, "doc_id", "text", path)
    extend_index(delta, "doc_id", "text", path)

    from_dict = {
        r["term"]: r["total"]
        for r in spark.read.parquet(f"{path}/term_df")
        .filter(F.col("term").isin(TERMS))
        .groupBy("term")
        .agg(F.sum("df").alias("total"))
        .collect()
    }
    from_postings = {
        r["term"]: r["n"]
        for r in spark.read.parquet(f"{path}/postings")
        .filter(F.col("term").isin(TERMS))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert from_dict == from_postings


def test_older_layout_is_never_read_or_extended(spark, tmp_path):
    """Only the layout persist_index writes is read: an index whose meta
    record lacks the layout key (the pre-r13 shape) raises in the scorer
    and in extend_index, and the extend raises before appending."""
    import os

    from etl_pdf_pipepline_spark.sources.manifest import commit_meta, read_meta

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "idx")
    persist_index(docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text", path)
    commit_meta(path, {k: v for k, v in read_meta(path).items() if k != "layout"})
    files = sorted(os.listdir(f"{path}/postings"))

    with pytest.raises(FileNotFoundError, match="rebuild"):
        bm25_scores_from_index(spark, path, TERMS)
    with pytest.raises(FileNotFoundError, match="rebuild"):
        extend_index(docs.filter(F.col("doc_id") % 5 == 0), "doc_id", "text", path)
    assert sorted(os.listdir(f"{path}/postings")) == files


def test_term_df_cache_holds_one_entry_per_index(spark, tmp_path):
    """The driver-side term-df cache keeps one entry per index: distinct
    queries add terms to that entry, not entries, and rewriting the index
    replaces the entry, so a stale signature's terms are dropped."""
    from etl_pdf_pipepline_spark.retrieval import bm25

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "idx")
    key = f"{path}/term_df"
    persist_index(docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text", path)

    def postings_df(terms):
        rows = (
            spark.read.parquet(f"{path}/postings")
            .filter(F.col("term").isin(terms))
            .groupBy("term")
            .count()
            .collect()
        )
        return {t: 0 for t in terms} | {r["term"]: r["count"] for r in rows}

    def lookup(terms):
        got = bm25._term_df_lookup(path, terms)
        return {t: got.get(t, 0) for t in terms}

    vocab = sorted(r.term for r in spark.read.parquet(key).select("term").distinct().collect())[:31]
    for i in range(30):
        terms = [vocab[i], vocab[i + 1], f"absent{i}"]
        assert lookup(terms) == postings_df(terms)
    assert [k for k in bm25._TERM_DF_CACHE if str(tmp_path) in str(k)] == [key]
    old_sig, known = bm25._TERM_DF_CACHE[key]
    assert len(known) == 31 + 30  # every term looked up, absent ones as 0

    extend_index(docs.filter(F.col("doc_id") % 5 == 0), "doc_id", "text", path)
    terms = vocab[:3]
    assert lookup(terms) == postings_df(terms)
    assert [k for k in bm25._TERM_DF_CACHE if str(tmp_path) in str(k)] == [key]
    new_sig, known = bm25._TERM_DF_CACHE[key]
    assert new_sig != old_sig and set(known) == set(terms)

    # Distinct absent terms past the cap: answers still equal the
    # postings recount, and the entry never holds more than the cap.
    batch = 1000
    for i in range(bm25._TERM_DF_MAX // batch + 2):
        terms = vocab[:2] + [f"gone{i}x{j}" for j in range(batch)]
        assert lookup(terms) == postings_df(terms)
        assert len(bm25._TERM_DF_CACHE[key][1]) <= bm25._TERM_DF_MAX
