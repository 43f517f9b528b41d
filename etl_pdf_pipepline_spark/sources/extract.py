"""PDF ingestion sources: directory scan, validation, text extraction.

Re-expresses the reference's extract stage Spark-first:

- S1 directory scan (/root/reference/src/pipeline.py:170-190): the
  `binaryFile` datasource replaces the glob loop — (path, modificationTime,
  length, content) rows, partitioned by file, with pathGlobFilter pushdown.
- F1 validation (/root/reference/src/extract/validator.py:17-84): a
  computed `validation_result` column. The size/empty/magic checks are
  JVM-side `when()` arms; the open/password/page-count checks need a PDF
  parser and live in the extraction UDF (a file that fails to parse gets
  `corrupted` there), so validation is split scan-side vs parse-side
  exactly along the cheap/expensive boundary — at 100 TB the scan-side
  arms prune garbage before any Python runs.
- S3 extraction (/root/reference/src/extract/pymupdf_extractor.py:53-148):
  an Arrow-batched UDF binary → struct(markdown, page_count, method).
  PyMuPDF is the real parser when importable; this container ships no PDF
  libs, so the default is the deterministic text-passthrough parser
  (utf-8 decode, form-feed pages) — same seam policy as
  operators/multimodal.py: real schema, plumbing, and partitioning; the
  codec is the swappable slot.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_FILE_SIZE_MB = 50  # reference src/config.py:60
MAX_PAGE_COUNT = 500  # reference src/config.py:61

try:  # the real parser slot
    import fitz  # type: ignore  # noqa: F401

    HAVE_PYMUPDF = True
except Exception:  # pragma: no cover - environment-dependent
    HAVE_PYMUPDF = False


def scan_pdf_dir(spark: SparkSession, directory: str) -> DataFrame:
    """S1: glob *.pdf under a directory as binary rows."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(directory)
    )


def with_validation(df: DataFrame) -> DataFrame:
    """F1 scan-side dispositions over binaryFile rows; `valid` here means
    "worth sending to the parser" (parse-side failures downgrade to
    `corrupted` later). Pure column expressions — prunes before Python."""
    return df.withColumn(
        "validation_result",
        F.when(F.col("length") > MAX_FILE_SIZE_MB * 1024 * 1024, "file_too_large")
        .when(F.col("length") == 0, "empty")
        .when(F.substring(F.col("content").cast("string"), 1, 5) != "%PDF-", "corrupted")
        .otherwise("valid"),
    )


EXTRACTED_FIELDS = [
    T.StructField("path", T.StringType()),
    T.StructField("markdown", T.StringType()),
    T.StructField("page_count", T.IntegerType()),
    T.StructField("method", T.StringType()),
    T.StructField("error", T.StringType()),
]


def _parse_pymupdf(content: bytes) -> tuple[str, int]:
    import fitz

    doc = fitz.open(stream=content, filetype="pdf")
    try:
        if doc.needs_pass:
            raise ValueError("password_protected")
        if doc.page_count > MAX_PAGE_COUNT:
            raise ValueError("too_many_pages")
        text = "\n\n".join(page.get_text() for page in doc)
        return text, doc.page_count
    finally:
        doc.close()


def _parse_passthrough(content: bytes) -> tuple[str, int]:
    """Deterministic fallback parser: utf-8 text, form-feed page breaks."""
    text = content.decode("utf-8", errors="replace")
    return text, max(1, text.count("\x0c") + 1)


_PAGE_OBJ_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")
_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.DOTALL)
_TJ_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)")


def _parse_minipdf(content: bytes) -> tuple[str, int]:
    """S4 alternate extractor: a minimal pure-Python PDF text parser —
    the second implementation behind the extractor seam (the reference's
    alternate is Google Vision OCR, google_vision_extractor.py:51-177;
    this container ships no OCR/PDF libs, so the alternate is a real
    parser for the uncompressed subset of PDF).

    Scope (documented, tested): classic-PDF layout, uncompressed content
    streams, text via Tj/TJ show operators with \\-escape handling. The
    same parse-side guards as _parse_pymupdf: /Encrypt -> password
    protected, page-object count cap. Raises on non-PDF or compressed-
    only documents — callers fall back per extract_markdown's error
    capture (M4)."""
    if not content.startswith(b"%PDF-"):
        raise ValueError("not_a_pdf")
    if b"/Encrypt" in content:
        raise ValueError("password_protected")
    pages = len(_PAGE_OBJ_RE.findall(content))
    if pages == 0:
        raise ValueError("no_pages")
    if pages > MAX_PAGE_COUNT:
        raise ValueError("too_many_pages")

    def _unescape(raw: bytes) -> str:
        out = []
        i = 0
        while i < len(raw):
            c = raw[i : i + 1]
            if c == b"\\" and i + 1 < len(raw):
                nxt = raw[i + 1 : i + 2]
                out.append({b"n": b"\n", b"r": b"\r", b"t": b"\t"}.get(nxt, nxt))
                i += 2
            else:
                out.append(c)
                i += 1
        return b"".join(out).decode("latin-1")

    texts = []
    for dict_part, stream in _STREAM_RE.findall(content):
        if b"/Filter" in dict_part:  # compressed stream — out of scope
            continue
        for m in _TJ_RE.findall(stream):
            texts.append(_unescape(m[1:-1]))
    return " ".join(t for t in texts if t), pages


PARSERS = {
    "pymupdf": _parse_pymupdf,
    "minipdf": _parse_minipdf,
    "passthrough": _parse_passthrough,
}


def extract_markdown(
    df: DataFrame, carry: list[str] | None = None, parser: str | None = None
) -> DataFrame:
    """S3/S4 slot: binary → (markdown, page_count) via mapInPandas. Errors
    are captured per-row (error column), not raised — the reference's
    stop-on-failure (M4) is a driver policy applied on top.

    `parser` selects the extractor implementation behind the seam
    (reference S3 primary / S4 alternate): "pymupdf" (real codec when
    installed), "minipdf" (pure-Python uncompressed-PDF parser),
    "passthrough" (utf-8 text). None = best available (pymupdf else
    passthrough — passthrough, not minipdf, because the test corpus is
    text bytes with a %PDF- magic, not classic-layout PDFs).

    `carry` columns (e.g. scan-side file_hash/title) pass straight through
    the UDF, so downstream metadata needs NO self-join back onto the scan
    lineage — without this the binaryFile read + parse would re-execute
    once per join branch (the parse being the dominant cost with a real
    PDF codec)."""
    carry = carry or []
    if parser is not None and parser not in PARSERS:
        raise ValueError(f"unknown parser {parser!r}; known: {sorted(PARSERS)}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        method = parser or ("pymupdf" if HAVE_PYMUPDF else "passthrough")
        parse = PARSERS[method]
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("path", "markdown", "page_count", "method", "error")}
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    md, pages = parse(bytes(content))
                    err = None
                except Exception as e:  # parse-side validation failures
                    md, pages, err = None, None, str(e)
                out["path"].append(path)
                out["markdown"].append(md)
                out["page_count"].append(pages)
                out["method"].append(method)
                out["error"].append(err)
            result = pd.DataFrame(out)
            for c in carry:
                result[c] = pdf[c].values
            yield result

    schema = T.StructType(
        EXTRACTED_FIELDS + [df.schema[c] for c in carry]
    )
    return df.select("path", "content", *carry).mapInPandas(run, schema)

