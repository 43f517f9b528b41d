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


def test_query_tokens_equal_tokens(spark):
    """The driver-side twin splits every string as the JVM's tokens does,
    Unicode spaces and line terminators included, and lowercases every
    code point as the JVM does, alone, word-medial and word-final."""
    import random

    rng = random.Random(7)
    alphabet = ["a", "B", " ", "\t", "\n", "\r", "\x0b", "\f", "\xa0", "\u3000", "\u2028", "\u0085", "\u2029"]
    texts = [""] + ["".join(rng.choices(alphabet, k=rng.randint(1, 12))) for _ in range(400)]
    code_points = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    blocks = [code_points[i : i + 4096] for i in range(0, len(code_points), 4096)]
    # every code point alone, between capital sigmas and before a final one
    texts += [sep.join(b) for sep in (" ", "\u03a3", "\u03a3 ") for b in blocks]
    rows = spark.createDataFrame([(t,) for t in texts], "s string").select("s", TX.tokens("s").alias("t")).collect()
    assert {r.s: r.t for r in rows} == {t: TX.query_tokens(t) for t in texts}


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


def test_filename_title_equals_title_from_filename(spark):
    """The driver-side twin titles every filename as Spark does: Java's
    \\d is ASCII only and its $ also matches before a final line
    terminator, \\r\\n included."""
    import random

    rng = random.Random(11)
    upper = [chr(c) for c in range(ord("A"), ord("Z") + 1)]
    lower = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    digits = [*"0123456789", "٣", "٠", "５", "²"]
    seps = ["_", "-", " ", "\t"]
    ends = ["", ".pdf", ".PDF"]
    terminators = ["", "\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029"]

    def pick(pool, lo, hi):
        return "".join(rng.choices(pool, k=rng.randint(lo, hi)))

    def filename() -> str:
        code = pick(upper, 1, 4) + pick(digits, 1, 5) + pick(seps, 0, 2) if rng.random() < 0.6 else ""
        body = pick(upper + lower + digits + seps + ["."], 0, 10)
        date = rng.choice(seps) + pick(digits, 3, 9) if rng.random() < 0.6 else ""
        tail = rng.choice(ends) + rng.choice(terminators)
        # a terminator before the date code or extension, or a second one
        if rng.random() < 0.2:
            tail = rng.choice(terminators) + tail
        return code + body + date + tail

    names = ["", "AB12٣_x.pdf", "x_1234\r", "x_1234\r\n", "x.pdf\n\n"]
    names += [filename() for _ in range(600)]
    rows = (
        spark.createDataFrame([(n,) for n in names], "f string")
        .select("f", TX.title_from_filename("f").alias("t"))
        .collect()
    )
    assert {r.f: r.t for r in rows} == {n: TX.filename_title(n) for n in names}
    assert TX.filename_title("AB12٣_x.pdf") == "٣ x"
    assert TX.filename_title("x_1234\r") == "x\r"


def test_quality_ratios(spark):
    s = "ab cd"  # 5 chars, 1 space
    assert one(spark, TX.whitespace_ratio(F.col("s")), s=s) == 1 / 5
    assert one(spark, TX.non_ascii_ratio(F.col("s")), s="abé") == 1 / 3


def test_quality_ratios_empty_text_no_div_zero(spark):
    assert one(spark, TX.whitespace_ratio(F.col("s")), s="") == 0.0
