"""Text column expressions — the reference's scalar string surface, JVM-side.

Every function here returns a pyspark Column built ONLY from built-in
functions, so the whole expression stays inside whole-stage codegen (no
Python in the hot path); the exceptions are query_tokens and filename_title,
the driver-side twins of `tokens` for a query string and of
`title_from_filename` for one filename. Each cites the reference behavior it
re-expresses.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization convention shared by BM25, dedup, and text-stats: lowercase,
# split on whitespace runs, drop empties. The DuckDB oracle mirrors it as
# regexp_split_to_array(lower(x), '\s+'). (The reference delegates
# tokenization to LanceDB/Tantivy — /root/reference/src/load/lancedb_store.py:104-112;
# we define OUR tokenizer precisely instead of chasing vendor internals,
# per SURVEY.md §7.3.)


def tokens(col: Column | str) -> Column:
    # HOF-free form: F.filter(...) is interpreted (no codegen) and measured
    # ~20% slower steady-state / ~3× slower cold than regexp-trim + split.
    # Empties can only appear at the edges of a \s+ split, so stripping
    # leading/trailing whitespace first yields the identical token list.
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), r"^\s+|\s+$", "")
    return F.when(cleaned == "", F.array().cast("array<string>")).otherwise(
        F.split(cleaned, r"\s+")
    )


# Java's \s without UNICODE_CHARACTER_CLASS, the class `tokens` splits
# on: ASCII whitespace only, so U+00A0 or U+3000 stays inside a token.
_JAVA_WS = r"[ \t\n\x0b\f\r]+"
# `tokens`' edge strip, ^\s+|\s+$, where Java's $ also matches before a
# final line terminator that is not whitespace (U+0085, U+2028, U+2029).
_JAVA_EDGE_WS = re.compile(f"^{_JAVA_WS}|{_JAVA_WS}" + r"(?=[\u0085\u2028\u2029]?\Z)")


def query_tokens(text: str) -> list[str]:
    """`tokens` on the driver, for a query string: the same lowercase,
    edge strip and split, so a query term is spelled as the index spells
    it (Python's str.split() would also split on Unicode whitespace)."""
    cleaned = _JAVA_EDGE_WS.sub("", text.lower())
    return re.split(_JAVA_WS, cleaned) if cleaned else []


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def token_count_estimate(col: Column | str) -> Column:
    """words * 1.3 cast int — reference `_estimate_tokens`
    (/root/reference/src/transform/chunker.py:124-126)."""
    return (F.size(tokens(col)) * F.lit(1.3)).cast("int")


def file_hash(content: Column | str) -> Column:
    """`"sha256:" + hex` over bytes — reference `compute_file_hash`
    (/root/reference/src/extract/pymupdf_extractor.py:25-31)."""
    c = F.col(content) if isinstance(content, str) else content
    return F.concat(F.lit("sha256:"), F.sha2(c, 256))


def title_from_filename(filename: Column | str) -> Column:
    """Strip `.pdf`, a leading `[A-Z]{2,3}\\d{2,4}` code, trailing `_`-digit
    date codes, collapse `_`/`-` to spaces — reference
    `extract_title_from_filename`
    (/root/reference/src/extract/pymupdf_extractor.py:33-51)."""
    c = F.col(filename) if isinstance(filename, str) else filename
    t = F.regexp_replace(c, r"\.pdf$", "")
    t = F.regexp_replace(t, r"^[A-Z]{2,3}\d{2,4}[ _-]*", "")
    t = F.regexp_replace(t, r"[_-]\d{4,8}$", "")
    t = F.regexp_replace(t, r"[_-]+", " ")
    return F.trim(t)


# Java's $ without MULTILINE: the end of input, or before a final line
# terminator (\r\n, or one of \n \r U+0085 U+2028 U+2029). Java also
# refuses the \n of a final \r\n; no pattern below ends in \r, so that
# case cannot arise here.
_JAVA_END = r"(?=(?:\r\n|[\n\r\u0085\u2028\u2029])?\Z)"
# title_from_filename's patterns, with Java's ASCII-only \d.
_TITLE_RULES = [
    (re.compile(r"\.pdf" + _JAVA_END), ""),
    (re.compile(r"^[A-Z]{2,3}[0-9]{2,4}[ _-]*"), ""),
    (re.compile(r"[_-][0-9]{4,8}" + _JAVA_END), ""),
    (re.compile(r"[_-]+"), " "),
]


def filename_title(filename: str) -> str:
    """`title_from_filename` on the driver, for one filename: the same
    Java regexes and a trim of spaces only, so a title read on the
    driver is the one Spark derives (Python's \\d and $ would read
    "AB12٣_x.pdf" and "x_1234\\r" differently)."""
    for pattern, repl in _TITLE_RULES:
        filename = pattern.sub(repl, filename)
    return filename.strip(" ")


# --- Extraction-quality metrics (reference `analyze_quality`,
# /root/reference/src/extract/pymupdf_extractor.py:173-205) ---------------


def whitespace_ratio(text: Column) -> Column:
    ws = F.length(F.regexp_replace(text, r"\S", ""))
    return ws / F.greatest(F.length(text), F.lit(1))


def non_ascii_ratio(text: Column) -> Column:
    non_ascii = F.length(F.regexp_replace(text, r"[\x00-\x7F]", ""))
    return non_ascii / F.greatest(F.length(text), F.lit(1))
