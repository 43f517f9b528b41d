"""RRF fusion math, ranking determinism, token-budget cut (Q3/Q6/A7)."""

from __future__ import annotations

import pytest

from etl_pdf_pipepline_spark.retrieval.hybrid import (
    RRF_K,
    context_budget_cut,
    rank_top,
    route_topic,
    rrf_fuse,
)


def test_rrf_hand_computed(spark):
    ra = spark.createDataFrame([("a", 1), ("b", 2)], ["doc_key", "rank"])
    rb = spark.createDataFrame([("b", 1), ("c", 2)], ["doc_key", "rank"])
    got = {r.doc_key: r.score for r in rrf_fuse(ra, rb, k=10).collect()}
    assert got["b"] == pytest.approx(round(1 / (RRF_K + 2) + 1 / (RRF_K + 1), 6))
    assert got["a"] == pytest.approx(round(1 / (RRF_K + 1), 6))
    assert got["c"] == pytest.approx(round(1 / (RRF_K + 2), 6))
    # b appears in both rankings → highest fused score
    assert max(got, key=got.get) == "b"


def test_rrf_limit(spark):
    ra = spark.createDataFrame([(f"d{i}", i) for i in range(1, 30)], ["doc_key", "rank"])
    rb = spark.createDataFrame([(f"e{i}", i) for i in range(1, 30)], ["doc_key", "rank"])
    assert rrf_fuse(ra, rb, k=5).count() == 5


def test_rank_top_tie_break(spark):
    scored = spark.createDataFrame(
        [("z", 1.0), ("a", 1.0), ("m", 2.0)], ["doc_key", "score"]
    )
    got = {r.doc_key: r.rank for r in rank_top(scored, 3).collect()}
    assert got == {"m": 1, "a": 2, "z": 3}  # ties broken by id asc


def test_route_topic_first_match():
    assert route_topic("how do spark joins work") == "spark"
    assert route_topic("JOIN strategies") == "join"
    assert route_topic("nothing relevant") is None


def test_context_budget_cut(spark):
    # 4 ranked rows of 10 words => int(10*1.3)=13 tokens each
    rows = [(i, "w " * 10) for i in range(1, 5)]
    ranked = spark.createDataFrame(rows, ["rank", "text"])
    kept = context_budget_cut(ranked, "text", max_tokens=27).collect()
    assert [r.rank for r in sorted(kept, key=lambda r: r.rank)] == [1, 2]
    assert all(r.cum_tokens <= 27 for r in kept)


def test_context_budget_zero_keeps_nothing(spark):
    ranked = spark.createDataFrame([(1, "some text")], ["rank", "text"])
    assert context_budget_cut(ranked, "text", max_tokens=0).count() == 0
