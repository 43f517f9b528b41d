"""Hybrid document chunker (reference §2.10's central UDTF).

Re-implements the two-level chunking of
/root/reference/src/transform/chunker.py:
- level 1: markdown header split on `^#{1,3} ` lines, carrying an
  (h1, h2, h3) header stack; header lines STAY in the content
  (`strip_headers=False`, chunker.py:29).
- level 2: sections longer than 1.5 × chunk_size (chunker.py:90) get a
  recursive character split — first separator in
  ["\\n\\n", "\\n", ". ", "? ", "! ", "; ", ", ", " ", ""] that occurs in
  the text (chunker.py:36-46), greedy merge to chunk_size=512 with
  overlap=50 (/root/reference/src/config.py:68-69).
- assembly: drop empty chunks (chunker.py:97-98), dense chunk_index per
  document and total_chunks backfill (chunker.py:107,113-115),
  is_section_start flag, token_count = words × 1.3 (chunker.py:124-126).

Spark form: a 1→N pandas UDF returning array<struct>, exploded by the
caller (`chunk_documents`). Each input row is independent, so chunking is
embarrassingly parallel; chunk_index/total_chunks are assigned inside the
UDF (the whole document is in hand — no window shuffle needed, unlike the
reference's append-time counters).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

CHUNK_SIZE = 512
CHUNK_OVERLAP = 50
SPLIT_THRESHOLD = 1.5  # sections > 1.5 × chunk_size get the recursive split
SEPARATORS = ["\n\n", "\n", ". ", "? ", "! ", "; ", ", ", " ", ""]

_HEADER_RE = re.compile(r"^(#{1,3})\s+(.*)$")


def split_markdown_sections(text: str) -> list[tuple[str | None, str | None, str | None, str]]:
    """Level 1: (h1, h2, h3, section_text) tuples; header lines included."""
    sections: list[tuple[str | None, str | None, str | None, str]] = []
    h: list[str | None] = [None, None, None]
    current: list[str] = []

    def flush() -> None:
        if current:
            body = "\n".join(current)
            if body.strip():
                sections.append((h[0], h[1], h[2], body))
            current.clear()

    for line in text.split("\n"):
        m = _HEADER_RE.match(line)
        if m:
            flush()
            level = len(m.group(1))
            h[level - 1] = m.group(2).strip()
            for i in range(level, 3):
                h[i] = None
            current.append(line)  # strip_headers=False
        else:
            current.append(line)
    flush()
    if not sections and text.strip():
        sections.append((None, None, None, text))
    return sections


def recursive_split(
    text: str,
    size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
    separators: list[str] | None = None,
) -> list[str]:
    """Level 2: greedy recursive character split with overlap."""
    seps = SEPARATORS if separators is None else separators
    if len(text) <= size:
        return [text] if text.strip() else []

    sep = None
    for s in seps:
        if s == "" or s in text:
            sep = s
            break
    if sep == "" or sep is None:
        step = max(size - overlap, 1)
        return [text[i : i + size] for i in range(0, len(text), step) if text[i : i + size].strip()]

    parts = text.split(sep)
    pieces = [p + sep for p in parts[:-1]] + [parts[-1]]
    # recurse on oversize pieces with the remaining separators
    atoms: list[str] = []
    rest = seps[seps.index(sep) + 1 :]
    for p in pieces:
        if len(p) > size:
            atoms.extend(recursive_split(p, size, overlap=0, separators=rest))
        else:
            atoms.append(p)

    chunks: list[str] = []
    buf: list[str] = []
    buf_len = 0
    for a in atoms:
        if buf and buf_len + len(a) > size:
            chunk = "".join(buf)
            if chunk.strip():
                chunks.append(chunk)
            # retain tail atoms for the overlap window
            keep: list[str] = []
            keep_len = 0
            for prev in reversed(buf):
                if keep_len + len(prev) > overlap:
                    break
                keep.insert(0, prev)
                keep_len += len(prev)
            buf = keep
            buf_len = keep_len
        buf.append(a)
        buf_len += len(a)
    if buf:
        chunk = "".join(buf)
        if chunk.strip():
            chunks.append(chunk)
    return chunks


def chunk_text(
    text: str, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP
) -> list[dict]:
    """Full hybrid chunking of one document → list of chunk dicts."""
    out: list[dict] = []
    try:
        sections = split_markdown_sections(text or "")
    except Exception:
        # fallback to recursive-only on md-split error (chunker.py:72-78)
        sections = [(None, None, None, text or "")]
    for h1, h2, h3, body in sections:
        if len(body) > SPLIT_THRESHOLD * size:
            pieces = recursive_split(body, size, overlap)
        else:
            pieces = [body] if body.strip() else []
        for i, piece in enumerate(pieces):
            stripped = piece.strip()
            if not stripped:
                continue
            out.append(
                {
                    "text": stripped,
                    "section_h1": h1,
                    "section_h2": h2,
                    "section_h3": h3,
                    "is_section_start": i == 0,
                    "token_count": int(len(stripped.split()) * 1.3),
                }
            )
    total = len(out)
    for idx, c in enumerate(out):
        c["chunk_index"] = idx
        c["total_chunks"] = total
    return out


CHUNK_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("section_h1", T.StringType()),
        T.StructField("section_h2", T.StringType()),
        T.StructField("section_h3", T.StringType()),
        T.StructField("is_section_start", T.BooleanType()),
        T.StructField("token_count", T.IntegerType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("total_chunks", T.IntegerType()),
    ]
)


@pandas_udf(T.ArrayType(CHUNK_STRUCT))
def _chunk_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: chunk_text(t if isinstance(t, str) else ""))


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str, carry: list[str] | None = None
) -> DataFrame:
    """documents → chunks: 1→N explode of the chunker UDF output. `carry`
    columns replicate onto every chunk of their document (the reference's
    title denormalization, J6) without a join back onto the source."""
    carry = carry or []
    return (
        df.select(
            F.col(id_col).alias("document_id"),
            *carry,
            _chunk_udf(F.col(text_col)).alias("chunks"),
        )
        .select("document_id", *carry, F.explode("chunks").alias("c"))
        .select("document_id", *carry, "c.*")
    )

