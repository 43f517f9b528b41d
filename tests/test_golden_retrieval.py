"""Golden end-to-end retrieval (SURVEY.md §5.3): synthetic corpus →
chunk → hash-embed → BM25/vector/hybrid search; planted relevant
documents must surface at exact expected ranks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.functions.vectors import as_double, cosine, query_vector_lit
from etl_pdf_pipepline_spark.operators.chunker import chunk_documents
from etl_pdf_pipepline_spark.retrieval.bm25 import bm25_topk
from etl_pdf_pipepline_spark.retrieval.embedder import HashEmbedder, embed_dataframe, embed_query
from etl_pdf_pipepline_spark.retrieval.hybrid import rank_top, rrf_fuse

# `relevant` shares 3 query tokens, `partial` exactly 1 — asymmetric by
# construction so BM25, cosine, and the RRF fusion all rank `relevant`
# first (symmetric overlap would RRF-tie and fall to the id tie-break).
CORPUS = [
    ("relevant", "# Spark joins\nbroadcast hash join strategies in spark sql engines"),
    ("partial", "# Databases\njoin algorithms overview for analytical database systems"),
    ("offtopic1", "# Cooking\npasta recipes with tomato and basil sauce"),
    ("offtopic2", "# Travel\nmountain hiking trails and camping equipment"),
    ("offtopic3", "# Music\npiano sonatas and orchestral arrangements"),
]
QUERY = "spark broadcast join"


@pytest.fixture(scope="module")
def store(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    chunks = chunk_documents(docs, "doc_id", "text").withColumn(
        "chunk_key", F.concat_ws("#", "document_id", F.col("chunk_index").cast("string"))
    )
    return embed_dataframe(chunks, "text", HashEmbedder()).cache()


def test_bm25_golden_top1(spark, store):
    top = bm25_topk(store, "chunk_key", "text", QUERY.split(), k=3).collect()
    assert top[0].doc_key.startswith("relevant#")
    # off-topic docs share no query terms → never scored
    assert all(not r.doc_key.startswith("offtopic") for r in top)


def test_vector_golden_top1(spark, store):
    qv = query_vector_lit(embed_query(QUERY, HashEmbedder()))
    scored = store.select(
        F.col("chunk_key").alias("doc_key"),
        F.round(cosine(as_double("embedding"), qv), 4).alias("score"),
    )
    ranked = scored.orderBy(F.desc("score"), "doc_key").collect()
    assert ranked[0].doc_key.startswith("relevant#")
    off_topic_max = max(r.score for r in ranked if r.doc_key.startswith("offtopic"))
    assert ranked[0].score > off_topic_max + 0.3


def test_hybrid_golden_top1(spark, store):
    kw = bm25_topk(store, "chunk_key", "text", QUERY.split(), k=5).select(
        "doc_key", "score"
    )
    qv = query_vector_lit(embed_query(QUERY, HashEmbedder()))
    vec = store.select(
        F.col("chunk_key").alias("doc_key"),
        F.round(cosine(as_double("embedding"), qv), 4).alias("score"),
    )
    # one chunk per document: a depth of len(CORPUS) ranks every chunk
    depth = len(CORPUS)
    fused = rrf_fuse(rank_top(kw, depth), rank_top(vec, depth), k=3).collect()
    assert fused[0].doc_key.startswith("relevant#")
