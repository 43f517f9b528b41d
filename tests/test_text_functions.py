"""Unit tests for the scalar text surface (SURVEY.md §2.8, F10–F12, F2)."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.functions import text as TX


def one(spark, col, **kwargs):
    return spark.createDataFrame([Row(**kwargs)]).select(col.alias("v")).first()["v"]


def test_tokens_lowercase_split_drop_empty(spark):
    got = one(spark, TX.tokens("s"), s="  Hello   WORLD\n\tfoo ")
    assert got == ["hello", "world", "foo"]


def test_tokens_empty_string(spark):
    assert one(spark, TX.tokens("s"), s="") == []


def test_token_count_estimate_words_times_1_3(spark):
    # reference _estimate_tokens: int(words * 1.3) — chunker.py:124-126
    assert one(spark, TX.token_count_estimate("s"), s="a b c d") == int(4 * 1.3)
    assert one(spark, TX.token_count_estimate("s"), s="one") == 1


def test_file_hash_matches_hashlib(spark):
    payload = b"pdf bytes \x00\x01"
    expect = "sha256:" + hashlib.sha256(payload).hexdigest()
    assert one(spark, TX.file_hash("b"), b=payload) == expect


def test_title_from_filename_strips_code_and_dates(spark):
    # reference extract_title_from_filename (pymupdf_extractor.py:33-51)
    cases = {
        "AB123_Annual_Report_2024.pdf": "Annual Report",
        "simple.pdf": "simple",
        "my-doc-name.pdf": "my doc name",
    }
    for fname, want in cases.items():
        assert one(spark, TX.title_from_filename("f"), f=fname) == want


def test_quality_ratios(spark):
    s = "ab cd"  # 5 chars, 1 space
    assert one(spark, TX.whitespace_ratio(F.col("s")), s=s) == 1 / 5
    assert one(spark, TX.non_ascii_ratio(F.col("s")), s="abé") == 1 / 3


def test_quality_ratios_empty_text_no_div_zero(spark):
    assert one(spark, TX.whitespace_ratio(F.col("s")), s="") == 0.0
