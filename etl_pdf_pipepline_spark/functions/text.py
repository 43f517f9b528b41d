"""Text column expressions — the reference's scalar string surface, JVM-side.

Every function here returns a pyspark Column built ONLY from built-in
functions, so the whole expression stays inside whole-stage codegen (no
Python in the hot path); the exceptions are query_tokens and filename_title,
the driver-side twins of `tokens` for one string and of
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


# Spark's `lower` reads ICU's Unicode 16 tables, Python 3.11's str.lower()
# Unicode 14's (found by lowering every code point alone and around capital
# sigmas in both). _JVM_LOWER maps the 27 capitals only the JVM lowercases;
# _JVM_CASE_TYPES are the code points whose case type under Final_Sigma
# differs: "C" cased, "I" case-ignorable, "N" neither.
_JVM_LOWER = str.maketrans(
    {0x1C89: 0x1C8A, 0xA7CB: 0x0264, 0xA7CC: 0xA7CD, 0xA7DA: 0xA7DB, 0xA7DC: 0x019B}
    | {c: c + 0x20 for c in range(0x10D50, 0x10D66)}
)
_JVM_CASE_TYPES = {
    chr(c): kind
    for kind, spans in {
        "C": "1C89-1C8A A7CB-A7CD A7DA-A7DC 10D50-10D65 10D70-10D85 1DF25-1DF2A",
        "N": "1171E",
        "I": "0897 0ECE 10D4E 10D69-10D6D 10D6F 10EFC-10EFF 11241 113BB-113C0 113CE 113D0 113D2 113E1-113E2"
        " 11F00-11F01 11F36-11F3A 11F40 11F42 11F5A 13439-13440 13447-13455 1611E-16129 1612D-1612F"
        " 16D40-16D42 16D6B-16D6C 1E030-1E06D 1E08F 1E4EB-1E4EF 1E5EE-1E5EF",
    }.items()
    for span in spans.split()
    for c in range(int(span.split("-")[0], 16), int(span.split("-")[-1], 16) + 1)
}


def _case_type(c: str) -> str:
    """A character's case type: _JVM_CASE_TYPES, else Python's, read back
    from how str.lower() treats a sigma after it."""
    if c in _JVM_CASE_TYPES:
        return _JVM_CASE_TYPES[c]
    if ("A" + c + "\u03a3").lower()[-1] == "\u03c3":
        return "N"
    return "C" if (c + "\u03a3").lower()[-1] == "\u03c2" else "I"


def _jvm_lower(text: str) -> str:
    """Spark's `lower`: a capital sigma is final when the first character
    before it that is not case-ignorable is cased and the first after it
    is not (Final_Sigma, with the JVM's case types)."""

    def first_type(positions: range) -> str:
        return next((t for t in map(_case_type, map(text.__getitem__, positions)) if t != "I"), "N")

    def sigma(m: re.Match) -> str:
        i = m.start()
        final = first_type(range(i - 1, -1, -1)) == "C" and first_type(range(i + 1, len(text))) != "C"
        return "\u03c2" if final else "\u03c3"

    return re.sub("\u03a3", sigma, text).lower().translate(_JVM_LOWER)


def query_tokens(text: str) -> list[str]:
    """`tokens` on the driver, for a query string or one document's text:
    the same lowercase, edge strip and split, so a term is spelled as the
    index spells it (Python's str.split() would also split on Unicode
    whitespace, and its str.lower() differs from the JVM's; _jvm_lower)."""
    cleaned = _JAVA_EDGE_WS.sub("", _jvm_lower(text))
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
