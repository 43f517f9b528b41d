"""CLI verbs over the engine (reference scripts/run_pipeline.py parity)."""

from __future__ import annotations

import json

import pytest

from etl_pdf_pipepline_spark.api.engine import SparkEngine
from etl_pdf_pipepline_spark.cli import main

SF = "/root/testdata/sf0.001"


def run(capsys, *argv):
    rc = main(["--sf-dir", SF, *argv])
    out = capsys.readouterr().out.strip().splitlines()
    return rc, [json.loads(line) for line in out if line.startswith("{")]


@pytest.mark.parametrize("mode", ["keyword", "vector", "hybrid"])
def test_search_matches_engine(spark, capsys, mode):
    """The verb prints the engine's REST hit objects, one per line."""
    rc, rows = run(capsys, "search", "spark joins", "--mode", mode, "-k", "5")
    assert rc == 0 and len(rows) == 5
    assert rows == SparkEngine(spark, SF).search("spark joins", mode=mode, limit=5)
    # regression: a query embedded at a different dim than the corpus
    # made every cosine NULL
    scores = [r["score"] for r in rows]
    assert all(s is not None for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_search_empty_query_exits_2(spark, capsys):
    assert main(["--sf-dir", SF, "search", "   "]) == 2
    assert "Empty query" in capsys.readouterr().err


def test_stats_and_list(spark, capsys):
    rc, rows = run(capsys, "stats")
    assert rc == 0 and {r["source"] for r in rows}
    rc, rows = run(capsys, "list", "--limit", "7")
    assert rc == 0 and len(rows) == 7


def test_query_verb_unknown(spark, capsys):
    assert main(["--sf-dir", SF, "query", "nope_not_real"]) == 2


def test_query_verb_runs_registered(spark, capsys):
    rc, rows = run(capsys, "query", "orders_status_counts")
    assert rc == 0 and len(rows) >= 1


def test_delete_and_reprocess_verbs(spark, capsys, tmp_path):
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        ["doc_id", "text"],
    ).write.parquet(src)

    out1 = str(tmp_path / "after_delete")
    rc = main(["delete", "--table", src, "--key", "doc_id", "--ids", "2", "--out", out1])
    assert rc == 0
    kept = spark.read.parquet(out1)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]

    out2 = str(tmp_path / "rechunked")
    rc = main(["reprocess", "--checkpoint", out1, "--out", out2])
    assert rc == 0
    chunks = spark.read.parquet(out2)
    assert chunks.count() == 2  # one chunk per small doc
    assert "embedding" in chunks.columns
