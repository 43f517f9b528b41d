"""Text column expressions — the reference's scalar string surface, JVM-side.

Every function here returns a pyspark Column built ONLY from built-in
functions, so the whole expression stays inside whole-stage codegen (no
Python in the hot path). Each cites the reference behavior it re-expresses.
"""

from __future__ import annotations

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


# --- Extraction-quality metrics (reference `analyze_quality`,
# /root/reference/src/extract/pymupdf_extractor.py:173-205) ---------------


def whitespace_ratio(text: Column) -> Column:
    ws = F.length(F.regexp_replace(text, r"\S", ""))
    return ws / F.greatest(F.length(text), F.lit(1))


def non_ascii_ratio(text: Column) -> Column:
    non_ascii = F.length(F.regexp_replace(text, r"[\x00-\x7F]", ""))
    return non_ascii / F.greatest(F.length(text), F.lit(1))
