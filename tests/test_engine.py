"""SparkEngine behaviours below the HTTP layer: the serving view's title
column is the one title every reader reports, a search's job count does
not grow with its limit, and uploads and deletes edit the served BM25
index exactly, pinning no executor memory."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.api.engine import BadRequest, NotFound, SparkEngine
from etl_pdf_pipepline_spark.functions.vectors import as_double, cosine, query_vector_lit
from etl_pdf_pipepline_spark.retrieval import bm25
from etl_pdf_pipepline_spark.retrieval.bm25 import bm25_scores, release_indexes
from etl_pdf_pipepline_spark.retrieval.embedder import HashEmbedder, embed_query
from etl_pdf_pipepline_spark.retrieval.hybrid import rank_top, rrf_fuse
from etl_pdf_pipepline_spark.retrieval.queries import _bm25_index_path
from etl_pdf_pipepline_spark.sources.catalog import load_table

SF_SMALL = "/root/testdata/sf0.001"


def _jobs(spark, group: str, call):
    """(call's result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_list_documents_title_matches_filename_rule(spark, tmp_path):
    # 4-8 digit ids lose their trailing "_<digits>" under the filename
    # rule: src1_report_1234.pdf is titled "src1 report", not "... 1234".
    spark.createDataFrame(
        [(7, "alpha text", "en", "src0", 10), (1234, "beta text", "en", "src1", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    try:  # the engine builds this corpus's index under spark-warehouse/
        eng = SparkEngine(spark, str(tmp_path))
        listed = {d["id"]: d["title"] for d in eng.list_documents()}
        assert listed == {"7": "src0 report 7", "1234": "src1 report"}
        assert listed["1234"] == eng.get_document_chunks("1234")[0]["document_title"]
        hits = eng.search("beta", mode="keyword", limit=1)
        assert hits[0]["document_title"] == "src1 report"
    finally:
        shutil.rmtree(_bm25_index_path(str(tmp_path)), ignore_errors=True)


def test_title_filter_matches_upload_filename_title(spark):
    eng = SparkEngine(spark, SF_SMALL)
    up = eng.upload("spark_guide.pdf", b"%PDF-1.4 watermark aggregation guide body")
    hits = eng.search("watermark aggregation", mode="keyword", limit=5, title_filter="guide")
    assert [(h["document_id"], h["document_title"]) for h in hits] == [
        (up["document_id"], "spark guide")
    ]


def test_search_is_one_plan(spark):
    """Job count of a warmed hybrid search does not grow with its limit:
    the ranking is one collect and the title/text lookup one more, never
    one lookup per hit. With no session deltas and a small posting
    union, the ranking is one job in every mode, so a search runs at
    most 2."""
    eng = SparkEngine(spark, SF_SMALL)
    query = "spark join window"

    def jobs(limit: int, mode: str = "hybrid") -> int:
        hits, n = _jobs(spark, f"test-one-plan-{mode}-{limit}", lambda: eng.search(query, mode=mode, limit=limit))
        assert len(hits) == limit
        return n

    eng.search(query, mode="hybrid", limit=10)  # reads the corpus dimension once
    assert jobs(3) == jobs(10)
    for mode in ("keyword", "vector", "hybrid"):
        eng.search(query, mode=mode, limit=5)  # warms this mode's lookup path
        assert jobs(5, mode) <= 2, mode


@pytest.mark.parametrize("mode", ["keyword", "vector", "hybrid"])
def test_negative_limit_is_a_bad_request(spark, mode):
    eng = SparkEngine(spark, SF_SMALL)
    with pytest.raises(BadRequest, match="limit"):
        eng.search("spark join", mode=mode, limit=-1)
    with pytest.raises(BadRequest, match="limit"):
        eng.list_documents(limit=-1)
    with pytest.raises(BadRequest, match="limit"):
        eng.get_document_chunks("0", limit=-1)
    # zero stays a valid, empty answer
    assert eng.search("spark join", mode=mode, limit=0) == []
    assert eng.list_documents(limit=0) == []
    assert eng.get_document_chunks("0", limit=0) == []


def test_unknown_non_numeric_id_runs_no_job(spark):
    eng = SparkEngine(spark, SF_SMALL)
    for bad in ("nope-999", "007"):

        def lookup():
            with pytest.raises(NotFound):
                eng.get_document(bad)

        assert _jobs(spark, f"test-not-found-{bad}", lookup)[1] == 0


def test_image_endpoints_serve_only_live_canonical_ids(spark):
    """Images follow the documents they belong to: a deleted document's
    image is gone from every image endpoint (the reference's M2 delete
    cascade), and a non-canonical id such as "img-00" is not an alias of
    "img-0". Its own engine: the delete is a session delta of this one."""
    eng = SparkEngine(spark, SF_SMALL)
    assert eng.get_image("img-0")["document_id"] == "0"
    assert eng.get_image_file("img-0")
    for bad in ("img-00", "img-+0"):
        with pytest.raises(NotFound):
            eng.get_image(bad)
        with pytest.raises(NotFound):
            eng.get_image_file(bad)
    eng.delete_document("0")
    with pytest.raises(NotFound):
        eng.get_document_images("0")
    with pytest.raises(NotFound):
        eng.get_image("img-0")
    with pytest.raises(NotFound):
        eng.get_image_file("img-0")
    assert eng.get_image("img-3")["document_id"] == "3"


def test_title_filter_keeps_corpus_wide_scores(spark):
    """BM25 statistics stay corpus-wide under a title filter, as in the
    reference, whose filter is a `where` on a search over the whole index."""
    eng = SparkEngine(spark, SF_SMALL)
    top = eng.search("spark join window", mode="keyword", limit=1)[0]
    kept = eng.search("spark join window", mode="keyword", limit=1, title_filter=top["document_title"])
    assert [(h["document_id"], h["score"]) for h in kept] == [(top["document_id"], top["score"])]


@pytest.mark.parametrize("space", ["\u3000", "\u00a0"])
def test_query_is_split_as_the_index_splits_text(spark, space):
    """The index splits text on ASCII whitespace only, so a term holding
    U+3000 or U+00A0 is one term, and a query for it must find it."""
    eng = SparkEngine(spark, SF_SMALL)
    up = eng.upload("cities.pdf", f"%PDF-1.4 tokyo{space}osaka zebraword".encode())
    hits = eng.search(f"tokyo{space}osaka", mode="keyword", limit=5)
    assert [h["document_id"] for h in hits] == [up["document_id"]]


def test_query_terms_are_sql_literals(spark):
    """Terms the corpus lacks add nothing to a BM25 score, so quotes,
    backslashes and template braces in them must not change the answer."""
    eng = SparkEngine(spark, SF_SMALL)
    eng.upload("odd.pdf", b"%PDF-1.4 spark {post} o'neil \\x")
    plain = eng.search("spark", mode="keyword", limit=5)
    odd = eng.search("spark {emb} it's \\ {{x}}", mode="keyword", limit=5)
    assert [(h["document_id"], h["score"]) for h in odd] == [(h["document_id"], h["score"]) for h in plain]
    up = eng.search("{post} o'neil \\x", mode="keyword", limit=5)
    assert [h["document_title"] for h in up] == ["odd"]


def test_shuffle_path_ranks_like_the_single_task_path(spark, monkeypatch):
    """The keyword leg's two plans, one task (small Σdf) and the
    partitioned scan with its shuffle (SINGLE_TASK_POSTINGS forced to 0),
    rank keyword and hybrid searches the same, before and after an
    upload and a delete."""
    eng = SparkEngine(spark, SF_SMALL)
    queries = ("spark join window", "watermark join")

    def rankings() -> list:
        return [
            [(h["document_id"], h["score"]) for h in eng.search(q, mode=mode, limit=8)]
            for q in queries
            for mode in ("keyword", "hybrid")
        ]

    def both_paths() -> list:
        single = rankings()
        with monkeypatch.context() as m:
            m.setattr(bm25, "SINGLE_TASK_POSTINGS", 0)
            assert rankings() == single
        return single

    before = both_paths()
    eng.upload("paths.pdf", b"%PDF-1.4 spark join join window watermark")
    eng.delete_document(before[0][0][0])
    after = both_paths()
    assert after != before


def _recompute(spark, eng, deleted: set[str], query: str, mode: str, limit: int):
    """The from-scratch ranking: the live bm25_scores over the serving view
    and cosine over the embeddings minus the deleted ids, ranked with
    rank_top/rrf_fuse."""
    docs = eng._docs()
    kw = bm25_scores(docs, "doc_id", "text", query.lower().split()).withColumn("score", F.round("score", 4))
    qv = query_vector_lit(embed_query(query, HashEmbedder(dim=eng._corpus_dim())))
    vec = (
        load_table(spark, SF_SMALL, "embeddings")
        .select(
            F.col("vec_id").cast("string").alias("doc_key"),
            F.round(cosine(as_double("embedding"), qv), 4).alias("score"),
        )
        .filter(~F.col("doc_key").isin(sorted(deleted)))
    )
    if mode == "hybrid":
        ranked = rrf_fuse(rank_top(kw, 2 * limit), rank_top(vec, 2 * limit), k=limit)
    else:
        ranked = (kw if mode == "keyword" else vec).orderBy(F.desc("score"), "doc_key").limit(limit)
    return [(r.doc_key, float(r.score)) for r in ranked.collect()]


def test_churn_matches_recompute_and_pins_nothing(spark):
    sc = spark.sparkContext
    release_indexes()
    pinned = sc._jsc.getPersistentRDDs().size()
    eng = SparkEngine(spark, SF_SMALL)
    queries = ("spark join window", "watermark join")
    bodies = [
        b"%PDF-1.4 spark join watermark join window",
        b"%PDF-1.4 watermark watermark spark",
        b"%PDF-1.4 join window window window batch spark spark",
    ]
    deleted: set[str] = set()

    def check() -> None:
        assert sc._jsc.getPersistentRDDs().size() == pinned
        for query in queries:
            for mode in ("keyword", "vector", "hybrid"):
                got = [(h["document_id"], h["score"]) for h in eng.search(query, mode=mode, limit=5)]
                assert got == _recompute(spark, eng, deleted, query, mode, 5), (query, mode)
        release_indexes()  # the recompute's live index, not the engine's

    check()
    ups = [eng.upload(f"churn_{i}.pdf", body)["document_id"] for i, body in enumerate(bodies)]
    check()
    again = eng.upload("churn_again.pdf", bodies[0], force=True)
    assert again["status"] == "completed"
    deleted.add(ups[0])
    check()
    lake: list[str] = []
    for mode in ("keyword", "vector"):  # the top lake hit of each leg
        hits = [h["document_id"] for h in eng.search(queries[0], mode=mode, limit=10)]
        lake.append(next(d for d in hits if not d.startswith("up-") and d not in lake))
    for doc_id in (*lake, ups[1]):
        eng.delete_document(doc_id)
        deleted.add(doc_id)
        check()
    assert sc._jsc.getPersistentRDDs().size() == pinned
