"""End-to-end functional API: scan → validate → extract → chunk → embed.

Golden E2E per SURVEY.md §5.3: synthetic 'PDF' corpus (passthrough parser
is the codec in this container), assert lineage shape and determinism.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import etl_pdf_pipepline_spark as eps
from etl_pdf_pipepline_spark.sources.extract import scan_pdf_dir, with_validation
from etl_pdf_pipepline_spark.sources.sinks import delete_where, upsert

MD = "%PDF-\n# Title\n\nIntro words here.\n\n## Section\n" + ("body words " * 200)


@pytest.fixture(scope="module")
def pdf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pdfs")
    (d / "AB12_Good_Doc.pdf").write_text(MD)
    (d / "other_doc.pdf").write_text("%PDF-\nplain body text " * 5)
    (d / "bad.pdf").write_text("not a pdf at all")
    (d / "empty.pdf").write_text("")
    (d / "ignored.txt").write_text("not scanned")
    return str(d)


def test_scan_and_validation_dispositions(spark, pdf_dir):
    # binaryFile drops 0-byte files at the source, so empty.pdf never
    # reaches validation (its arm is covered below); ignored.txt is
    # excluded by the *.pdf glob.
    files = with_validation(scan_pdf_dir(spark, pdf_dir))
    got = {r.path.split("/")[-1]: r.validation_result for r in files.collect()}
    assert got == {
        "AB12_Good_Doc.pdf": "valid",
        "other_doc.pdf": "valid",
        "bad.pdf": "corrupted",
    }


def test_validation_arms(spark):
    rows = [
        ("big", 51 * 1024 * 1024, b"%PDF-x"),
        ("zero", 0, b""),
        ("garbage", 10, b"garbage..."),
        ("ok", 10, b"%PDF-1.7"),
    ]
    df = spark.createDataFrame(rows, ["path", "length", "content"])
    got = {r.path: r.validation_result for r in with_validation(df).collect()}
    assert got == {
        "big": "file_too_large",
        "zero": "empty",
        "garbage": "corrupted",
        "ok": "valid",
    }


def test_extract_pdf_metadata(spark, pdf_dir):
    out = eps.extract_pdf(spark, pdf_dir)
    rows = {r.path.split("/")[-1]: r for r in out.collect()}
    assert set(rows) == {"AB12_Good_Doc.pdf", "other_doc.pdf"}
    good = rows["AB12_Good_Doc.pdf"]
    assert good.title == "Good Doc"
    assert good.file_hash.startswith("sha256:")
    assert good.markdown.startswith("%PDF-")
    assert good.error is None


def test_process_pdf_full_lineage(spark, pdf_dir):
    chunks = eps.process_pdf(spark, pdf_dir)
    rows = chunks.collect()
    assert len(rows) > 2  # big doc splits into multiple chunks
    for r in rows:
        assert r.text.strip()
        assert len(r.embedding) == 16
        assert r.file_hash.startswith("sha256:")
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.path, []).append(r.chunk_index)
    for idxs in by_doc.values():
        assert sorted(idxs) == list(range(len(idxs)))
    # determinism: same input → same embeddings
    again = {(r.path, r.chunk_index): r.embedding for r in eps.process_pdf(spark, pdf_dir).collect()}
    for r in rows:
        assert again[(r.path, r.chunk_index)] == r.embedding


def test_sink_mutations(spark):
    table = spark.createDataFrame([(i, f"v{i}") for i in range(10)], ["k", "val"])
    victims = spark.createDataFrame([(3,), (7,)], ["k"])
    left = delete_where(table, victims, "k")
    assert sorted(r.k for r in left.collect()) == [0, 1, 2, 4, 5, 6, 8, 9]

    updates = spark.createDataFrame([(3, "NEW")], ["k", "val"])
    merged = upsert(table, updates, "k")
    got = {r.k: r.val for r in merged.collect()}
    assert got[3] == "NEW" and got[5] == "v5" and len(got) == 10
