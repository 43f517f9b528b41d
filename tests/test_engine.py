"""SparkEngine behaviours below the HTTP layer: the serving view's title
column is the one title every reader reports, and a search is one Spark
plan whatever its limit."""

from __future__ import annotations

from etl_pdf_pipepline_spark.api.engine import SparkEngine

SF_SMALL = "/root/testdata/sf0.001"


def test_list_documents_title_matches_filename_rule(spark, tmp_path):
    # 4-8 digit ids lose their trailing "_<digits>" under the filename
    # rule: src1_report_1234.pdf is titled "src1 report", not "... 1234".
    spark.createDataFrame(
        [(7, "alpha text", "en", "src0", 10), (1234, "beta text", "en", "src1", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    eng = SparkEngine(spark, str(tmp_path))
    listed = {d["id"]: d["title"] for d in eng.list_documents()}
    assert listed == {"7": "src0 report 7", "1234": "src1 report"}
    assert listed["1234"] == eng.get_document_chunks("1234")[0]["document_title"]
    hits = eng.search("beta", mode="keyword", limit=1)
    assert hits[0]["document_title"] == "src1 report"


def test_title_filter_matches_upload_filename_title(spark):
    eng = SparkEngine(spark, SF_SMALL)
    up = eng.upload("spark_guide.pdf", b"%PDF-1.4 watermark aggregation guide body")
    hits = eng.search("watermark aggregation", mode="keyword", limit=5, title_filter="guide")
    assert [(h["document_id"], h["document_title"]) for h in hits] == [
        (up["document_id"], "spark guide")
    ]


def test_search_is_one_plan(spark):
    """Job count of a warmed hybrid search does not grow with its limit
    (no per-hit lookups after the ranked collect)."""
    sc = spark.sparkContext
    eng = SparkEngine(spark, SF_SMALL)
    query = "spark join window"

    def jobs(limit: int) -> int:
        group = f"test-one-plan-{limit}"
        sc.setJobGroup(group, "search")
        try:
            hits = eng.search(query, mode="hybrid", limit=limit)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(hits) == limit
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    eng.search(query, mode="hybrid", limit=10)  # builds the cached index
    assert jobs(3) == jobs(10)
