"""BM25 against hand-computed scores (SURVEY.md §7.3 risk item 2)."""

from __future__ import annotations

import math
import tempfile

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
    """The live and index-served top-k agree, and persist_index writes
    the pinned layout: a build change that alters these files must bump
    _LAYOUT_VERSION and this test."""
    import pyarrow.parquet as pq

    from etl_pdf_pipepline_spark.retrieval.bm25 import (
        _LAYOUT_VERSION,
        bm25_scores_from_index,
        bm25_topk_from_index,
        persist_index,
    )
    from etl_pdf_pipepline_spark.sources.manifest import read_meta

    path = str(tmp_path / "idx")
    # a document with no tokens has no postings and no doc_stats row
    persist_index(docs.union(spark.createDataFrame([("d5", " \t ")], docs.schema)), "doc_id", "text", path)

    def layout(table: str) -> list:
        schema = pq.read_schema(next((tmp_path / "idx" / table).glob("*.parquet")))
        return [(f.name, str(f.type), f.nullable) for f in schema]

    assert _LAYOUT_VERSION == 2
    assert layout("postings") == [
        ("doc_key", "string", True), ("term", "string", True), ("tf", "int64", False), ("dl", "int64", True)
    ]
    assert layout("doc_stats") == [("doc_key", "string", True), ("dl", "int64", True)]
    assert layout("term_df") == [("term", "string", True), ("df", "int64", False)]
    dls = {"d1": 3, "d2": 3, "d3": 4, "d4": 4}  # token counts of CORPUS
    stats = spark.read.parquet(f"{path}/doc_stats").collect()
    assert sorted((r.doc_key, r.dl) for r in stats) == sorted(dls.items())
    meta = read_meta(path)
    assert (meta["n"], meta["total_dl"], meta["layout"]) == (len(dls), sum(dls.values()), 2)

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
    containing a query term are scored; live scores equal those served
    from a persisted index."""
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
    from etl_pdf_pipepline_spark.retrieval.bm25 import bm25_scores_from_index, persist_index

    live = bm25_scores(docs, "doc_id", "text", ["a", "ab"]).collect()
    with tempfile.TemporaryDirectory() as d:
        persist_index(docs, "doc_id", "text", d)
        served = bm25_scores_from_index(spark, d, ["a", "ab"]).collect()
    assert {r.doc_key: round(r.score, 4) for r in live} == {r.doc_key: round(r.score, 4) for r in served}


def test_live_scores_warm_call_runs_two_jobs(spark, docs):
    """A warm live scoring call is two jobs: one aggregate collect of its
    terms' df over the cached postings (N, total_dl and the row count
    were taken on the cold call) and the scoring job, which reads the
    small cached postings in one task."""
    sc = spark.sparkContext

    def jobs(group: str) -> int:
        sc.setJobGroup(group, group)
        try:
            bm25_scores(docs, "doc_id", "text", ["spark", "sql"]).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs("test-live-cold")
    assert jobs("test-live-warm") == 2


def test_live_single_task_choice_counts_every_cached_posting(spark, monkeypatch):
    """The cached live postings are not sorted by term, so a scan of them
    reads every row: the one-task plan (a coalesce(1) over the postings)
    is chosen on that row count, not on the query terms' summed df,
    which is what the persisted index's pruned scan reads."""
    from etl_pdf_pipepline_spark.retrieval import bm25

    def one_task(live: bool, limit: int) -> bool:
        monkeypatch.setattr(bm25, "SINGLE_TASK_POSTINGS", limit)
        if live:
            _, post = bm25.scored_live_sql(df, "doc_id", "text", ["rare0"])
        else:
            _, post = bm25.scored_from_index_sql(spark, d, ["rare0"])
        return post._jdf.queryExecution().logical().nodeName() == "Repartition"

    rows = [(f"d{i}", f"rare{i % 2} common filler{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    post_rows, sum_df = 3 * len(rows), 3
    assert one_task(True, post_rows) and not one_task(True, post_rows - 1)
    with tempfile.TemporaryDirectory() as d:
        bm25.persist_index(df, "doc_id", "text", d)
        assert one_task(False, sum_df) and not one_task(False, sum_df - 1)


def test_live_postings_stay_cached_on_the_partitioned_plan(spark, monkeypatch):
    """Scoring over the live index leaves its postings cached on both of
    the keyword leg's plans. spark.sql drops the views it makes for its
    frame arguments, and dropping a view of the cached frame itself would
    uncache it, so each later call would tokenize the corpus again."""
    from etl_pdf_pipepline_spark.retrieval import bm25

    bm25.release_indexes()
    df = spark.sql("SELECT * FROM VALUES (1, 'spark joins shuffle'), (2, 'window spark') AS t(doc_id, text)")
    for limit in (bm25.SINGLE_TASK_POSTINGS, 0):
        monkeypatch.setattr(bm25, "SINGLE_TASK_POSTINGS", limit)
        for _ in range(2):
            assert len(bm25.bm25_scores(df, "doc_id", "text", ["spark"]).collect()) == 2
        ((post, *_),) = bm25._CACHED_INDEXES.values()
        assert post.storageLevel.useMemory, limit
    bm25.release_indexes()


def test_release_indexes_unpersists_cached_postings(spark):
    from etl_pdf_pipepline_spark.retrieval import bm25

    df = spark.createDataFrame(
        [(1, "spark joins shuffle"), (2, "window functions rank")], ["doc_id", "text"]
    )
    bm25.bm25_scores(df, "doc_id", "text", ["spark"]).collect()
    assert len(bm25._CACHED_INDEXES) >= 1
    cached = [p for p, *_ in bm25._CACHED_INDEXES.values()]
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
    cached = [p for p, *_ in bm25._CACHED_INDEXES.values()]
    assert bm25.release_indexes() == 2
    assert not any(p.is_cached for p in cached)
