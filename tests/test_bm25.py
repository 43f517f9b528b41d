"""BM25 against hand-computed scores (SURVEY.md §7.3 risk item 2)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_pdf_pipepline_spark.retrieval.bm25 import B, K1, bm25_scores, bm25_topk

CORPUS = [
    ("d1", "spark engine spark"),
    ("d2", "spark sql window"),
    ("d3", "window window window sql"),
    ("d4", "completely unrelated words here"),
]


def hand_bm25(term_tf: int, df: int, n: int, dl: int, avgdl: float) -> float:
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * (term_tf * (K1 + 1)) / (term_tf + K1 * (1 - B + B * dl / avgdl))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def test_single_term_scores_match_formula(spark, docs):
    got = {r.doc_key: r.score for r in bm25_scores(docs, "doc_id", "text", ["spark"]).collect()}
    n = 4
    avgdl = (3 + 3 + 4 + 4) / 4
    assert got["d1"] == pytest.approx(hand_bm25(2, 2, n, 3, avgdl))
    assert got["d2"] == pytest.approx(hand_bm25(1, 2, n, 3, avgdl))
    assert set(got) == {"d1", "d2"}  # only matching docs scored


def test_multi_term_sum(spark, docs):
    got = {r.doc_key: r.score for r in bm25_scores(docs, "doc_id", "text", ["spark", "sql"]).collect()}
    n, avgdl = 4, 3.5
    want_d2 = hand_bm25(1, 2, n, 3, avgdl) + hand_bm25(1, 2, n, 3, avgdl)
    assert got["d2"] == pytest.approx(want_d2)
    assert set(got) == {"d1", "d2", "d3"}


def test_topk_order_and_limit(spark, docs):
    rows = bm25_topk(docs, "doc_id", "text", ["window"], k=1).collect()
    assert len(rows) == 1
    assert rows[0].doc_key == "d3"  # tf=3 wins


def test_absent_term_empty(spark, docs):
    assert bm25_scores(docs, "doc_id", "text", ["zzz"]).count() == 0


def test_persisted_index_matches_in_memory(spark, docs, tmp_path):
    from etl_pdf_pipepline_spark.retrieval.bm25 import (
        bm25_scores_from_index,
        bm25_topk_from_index,
        persist_index,
    )

    path = str(tmp_path / "idx")
    persist_index(docs, "doc_id", "text", path)
    live = bm25_topk(docs, "doc_id", "text", ["spark", "sql"], k=10).collect()
    from_idx = bm25_topk_from_index(spark, path, ["spark", "sql"], k=10).collect()
    assert [(r.doc_key, r.score) for r in live] == [(r.doc_key, r.score) for r in from_idx]
    # an empty query scores nothing, keyed like the index (string ids here)
    empty = bm25_scores_from_index(spark, path, [])
    assert empty.count() == 0 and dict(empty.dtypes)["doc_key"] == "string"
    assert bm25_topk_from_index(spark, path, [], k=10).count() == 0


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(alphabet=st.sampled_from("abc "), min_size=1, max_size=40),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_property_bm25_invariants(texts, k):
    """For arbitrary corpora: limit honored; scores positive; only docs
    containing a query term are scored."""
    from etl_pdf_pipepline_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    rows = [(f"d{i}", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(docs, "doc_id", "text", ["a", "ab"], k=k).collect()
    assert len(out) <= k
    matching = {
        i for i, t in rows
        if {"a", "ab"} & set(t.lower().split())
    }
    for r in out:
        assert r.score > 0
        assert r.doc_key in matching


def test_release_indexes_unpersists_cached_postings(spark):
    from etl_pdf_pipepline_spark.retrieval import bm25

    df = spark.createDataFrame(
        [(1, "spark joins shuffle"), (2, "window functions rank")], ["doc_id", "text"]
    )
    bm25.bm25_scores(df, "doc_id", "text", ["spark"]).collect()
    assert len(bm25._CACHED_INDEXES) >= 1
    cached = [p for p, _ in bm25._CACHED_INDEXES.values()]
    n = bm25.release_indexes()
    assert n >= 1 and not bm25._CACHED_INDEXES
    for p in cached:
        assert not p.is_cached
    assert bm25.release_indexes() == 0  # idempotent


def test_live_index_list_holds_one_entry_per_lineage(spark):
    """Repeated queries over one corpus lineage register one live index,
    not one per call; the same plan from another session registers its
    own; release_indexes still drops them all."""
    from etl_pdf_pipepline_spark.retrieval import bm25

    bm25.release_indexes()
    rows = "SELECT * FROM VALUES (1, 'spark joins shuffle'), (2, 'window functions rank') AS t(doc_id, text)"
    df = spark.sql(rows)
    for i in range(20):
        bm25.bm25_scores(df, "doc_id", "text", ["spark", "rank"][: 1 + i % 2])
    assert len(bm25._CACHED_INDEXES) == 1
    other = spark.newSession().sql(rows)
    assert other.semanticHash() == df.semanticHash()
    bm25.bm25_scores(other, "doc_id", "text", ["spark"])
    assert len(bm25._CACHED_INDEXES) == 2
    cached = [p for p, _ in bm25._CACHED_INDEXES.values()]
    assert bm25.release_indexes() == 2
    assert not any(p.is_cached for p in cached)
