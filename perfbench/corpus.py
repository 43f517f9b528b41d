"""Seeded input generators for the benchmark.

Every generator takes a seed and writes plain files (parquet tables, a
directory of PDF-like files) or returns a plain op list; the program under
test only ever sees those inputs. The same seed always yields byte-identical
files, and each generator also returns what it knows about its output
(counts, expected chunk texts) so the correctness checks need no second
implementation of the program.

Three inputs:

- a serving corpus: ``documents(doc_id, text, lang, source, n_chars)`` and
  ``embeddings(vec_id, embedding ARRAY<FLOAT>[64], label)``, one vector per
  document, text drawn from a Zipf vocabulary of thousands of terms plus the
  engine's routing topic words;
- PDF batches: directories of ``%PDF-`` text files with ``#``/``##``
  sections, plus a known share of empty files, non-PDF files and byte
  duplicates;
- the request stream a closed-loop client replays against the serving
  engine;

plus a small TPC-H-like lake (with events, documents and embeddings) for the
registry analytics workload.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The engine's routing topics (retrieval/hybrid.py KNOWN_TOPICS), copied so
# the generated inputs do not change when the program's constant does.
TOPIC_WORDS = (
    "spark", "join", "window", "stream", "vector", "hash", "sort", "filter",
    "merge", "batch", "scan", "agg", "query", "table", "column", "row", "group",
)

EMBED_DIM = 64
LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20

# Independent random streams per input, so resizing one input never shifts
# another's bytes.
_STREAM_CORPUS, _STREAM_OPS, _STREAM_PDF, _STREAM_LAKE = 1, 2, 3, 4


def _rng(seed: int, stream: int, *sub: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream, *sub]))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------- vocabulary

_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "cl", "dr", "gr", "pl", "st", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "io", "ou")


def vocabulary(seed: int, size: int) -> list[str]:
    """`size` distinct lowercase terms in Zipf rank order. The topic words
    sit at spread-out ranks among the frequent terms, so routed queries
    match many documents but not all of them."""
    rng = _rng(seed, _STREAM_CORPUS, 0)
    words: list[str] = []
    seen = set(TOPIC_WORDS)
    while len(words) < size - len(TOPIC_WORDS):
        n_syl = int(rng.integers(2, 5))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    for i, t in enumerate(TOPIC_WORDS):
        words.insert(8 + 23 * i, t)
    return words


def zipf_weights(n: int, s: float = 1.05, offset: float = 2.7) -> np.ndarray:
    w = 1.0 / np.power(np.arange(n) + offset, s)
    return w / w.sum()


# ----------------------------------------------------------- serving corpus


@dataclass
class ServingCorpus:
    dir: str
    n_docs: int
    vocab: list[str]


def serving_corpus(seed: int, out_dir: str, n_docs: int, vocab_size: int = 4000) -> ServingCorpus:
    """Write documents.parquet and embeddings.parquet under `out_dir`.

    Most documents are 20-150 terms; one in ten is a long report of
    400-900 terms, so get_document_chunks returns several chunks."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = vocabulary(seed, vocab_size)
    rng = _rng(seed, _STREAM_CORPUS, 1)
    long = rng.random(n_docs) < 0.1
    lens = np.where(long, rng.integers(400, 900, n_docs), rng.integers(20, 150, n_docs))
    term_ids = rng.choice(len(vocab), size=int(lens.sum()), p=zipf_weights(len(vocab)))
    varr = np.array(vocab, dtype=object)
    texts: list[str] = []
    pos = 0
    for n in lens:
        words = varr[term_ids[pos : pos + n]]
        pos += n
        # a line break every ~12 words keeps chunker separators realistic
        lines = [" ".join(words[i : i + 12]) for i in range(0, len(words), 12)]
        texts.append("\n".join(lines))
    sources = [f"src{int(i)}" for i in rng.integers(0, N_SOURCES, n_docs)]
    langs = [LANGS[int(i)] for i in rng.choice(len(LANGS), n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    ids = np.arange(n_docs, dtype=np.int64)
    _write(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    vecs = rng.standard_normal((n_docs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n_docs * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    _write(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.ListArray.from_arrays(offsets, flat),
                "label": pa.array(rng.integers(0, 10, n_docs).astype(np.int32), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return ServingCorpus(out_dir, n_docs, vocab)


# ---------------------------------------------------------------- op stream

# One client cycles through this request mix, mostly hybrid search; the
# seed picks the query terms and document ids. A run measures whole
# cycles, so every run and every seed measures the same mix.
READ_PATTERN = (
    "search:hybrid",
    "get_document",
    "search:keyword",
    "get_document_chunks",
    "search:hybrid",
    "search:vector",
    "search:hybrid",
)


def query_pool(seed: int, vocab: list[str], size: int = 300) -> list[str]:
    """Distinct 1-3 term queries over the mid-frequency vocabulary."""
    rng = _rng(seed, _STREAM_OPS, 0)
    lo, hi = 5, min(3000, len(vocab))
    w = zipf_weights(hi - lo, s=0.9)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < size:
        k = int(rng.integers(1, 4))
        q = " ".join(vocab[lo + int(i)] for i in rng.choice(hi - lo, size=k, replace=False, p=w))
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def op_stream(seed: int, corp: ServingCorpus, n_ops: int) -> list[dict]:
    """The closed-loop client's requests, in order. Queries are Zipf-drawn
    from a fixed pool, so popular queries repeat."""
    rng = _rng(seed, _STREAM_OPS, 1)
    pool = query_pool(seed, corp.vocab)
    pool_w = zipf_weights(len(pool), s=1.1, offset=1.0)
    ops: list[dict] = []
    for i in range(n_ops):
        kind = READ_PATTERN[i % len(READ_PATTERN)]
        if kind.startswith("search:"):
            q = pool[int(rng.choice(len(pool), p=pool_w))]
            ops.append({"kind": "search", "mode": kind.split(":")[1], "query": q})
        else:
            ops.append({"kind": kind, "doc_id": str(int(rng.integers(corp.n_docs)))})
    return ops


# -------------------------------------------------------------- PDF batches

CHUNK_SIZE = 512  # the chunker's defaults, which the section sizes below respect
SPLIT_AT = int(1.5 * CHUNK_SIZE)


@dataclass
class PdfBatch:
    dir: str
    n_files: int = 0
    n_empty: int = 0
    n_not_pdf: int = 0
    n_duplicate: int = 0
    n_valid: int = 0
    n_chunks: int = 0
    n_postings: int = 0
    chunk_texts: dict[str, list[str]] = field(default_factory=dict)


def _paragraph(words: np.ndarray, rng: np.random.Generator, lo: int = 260, hi: int = 320) -> str:
    """A paragraph of lo..hi characters. Any two paragraphs together exceed
    the chunk size and each one fits, so a split section yields exactly one
    chunk per paragraph."""
    target = int(rng.integers(lo, hi + 1))
    out = []
    n = 0
    for w in words[rng.choice(len(words), size=120)]:
        if n + len(w) + (1 if out else 0) > target:
            break
        n += len(w) + (1 if out else 0)
        out.append(w)
    para = " ".join(out)
    # pad with a filler word to land inside [lo, hi]
    while len(para) < lo:
        para += " " + "x" * min(8, hi - len(para) - 1)
    return para


def _pdf_document(vocab_arr: np.ndarray, rng: np.random.Generator, title: str) -> tuple[str, list[str]]:
    """One valid document body and the exact chunk texts the chunker makes
    of it: the `%PDF-` preamble line, the `#` title section, and `##`
    sections of one or two paragraphs (one chunk) or three to five
    paragraphs (split, one chunk per paragraph)."""
    sections = ["%PDF-1.4"]
    chunks = ["%PDF-1.4"]
    h1 = f"# {title}\n{_paragraph(vocab_arr, rng)}"
    sections.append(h1)
    chunks.append(h1)
    for s in range(int(rng.integers(1, 5))):
        head = "## " + " ".join(vocab_arr[rng.choice(len(vocab_arr), size=3)])
        paras = [_paragraph(vocab_arr, rng) for _ in range(int(rng.choice([1, 2, 3, 4, 5])))]
        body = head + "\n" + "\n\n".join(paras)
        sections.append(body)
        if len(body) > SPLIT_AT:
            chunks.append(head + "\n" + paras[0])
            chunks.extend(paras[1:])
        else:
            chunks.append(body)
    return "\n".join(sections), chunks


def pdf_batch(seed: int, index: int, out_dir: str, n_files: int, vocab: list[str]) -> PdfBatch:
    """Write one directory of `n_files` *.pdf files: 4% empty, 4% not
    starting with `%PDF-`, 6% byte copies of an earlier valid file of the
    batch (each at least one), the rest distinct valid documents, in a
    seeded order that starts with a valid file."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, _STREAM_PDF, index)
    varr = np.array(vocab[:1500], dtype=object)
    n_bad = [max(1, round(share * n_files)) for share in (0.04, 0.04, 0.06)]
    kinds = ["empty"] * n_bad[0] + ["not_pdf"] * n_bad[1] + ["duplicate"] * n_bad[2]
    kinds += ["valid"] * (n_files - 1 - len(kinds))
    kinds = ["valid"] + [kinds[int(i)] for i in rng.permutation(len(kinds))]
    b = PdfBatch(out_dir)
    valid_bodies: list[tuple[bytes, list[str]]] = []
    for i, kind in enumerate(kinds):
        name = f"EP{index:03d}{i:04d} {TOPIC_WORDS[i % len(TOPIC_WORDS)]}_report_2024{1 + i % 12:02d}15.pdf"
        path = os.path.join(out_dir, name)
        if kind == "empty":
            data = b""
        elif kind == "not_pdf":
            data = ("GIF89a " + " ".join(varr[rng.choice(len(varr), 30)])).encode()
        elif kind == "duplicate":
            data, chunks = valid_bodies[int(rng.integers(len(valid_bodies)))]
        else:
            title = " ".join(varr[rng.choice(len(varr), size=4)])
            text, chunks = _pdf_document(varr, rng, title)
            data = text.encode()
            valid_bodies.append((data, chunks))
        with open(path, "wb") as fh:
            fh.write(data)
        b.n_files += 1
        if kind == "empty":
            b.n_empty += 1
        elif kind == "not_pdf":
            b.n_not_pdf += 1
        else:
            b.n_duplicate += kind == "duplicate"
            b.n_valid += 1
            b.chunk_texts[path] = chunks
            b.n_chunks += len(chunks)
            b.n_postings += sum(len(set(c.lower().split())) for c in chunks)
    return b


# ---------------------------------------------------------------- lake tables

LAKE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

# The small vocabulary of the lake's documents table: the registry's fixed
# search constants are drawn from it, so every registry query finds rows.
LAKE_DOC_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window",
)


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.int64(int(base.timestamp())) * 1_000_000 + seconds.astype(np.int64) * 1_000_000)
    return pa.array(us, pa.timestamp("us"))


def lake(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """Write the ten lake tables under `out_dir`, TPC-H-like value domains
    at `scale` (1.0 = 6M lineitem rows). Returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, _STREAM_LAKE, 0)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_li = max(6000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(50, int(50_000 * scale))
    n_emb = max(20, int(20_000 * scale))
    epoch = dt.datetime(1970, 1, 1)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], pa.string()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = np.array(["blue", "old", "small", "new", "red", "large", "hot", "cold"], dtype=object)
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"], dtype=object)
    ptype = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], dtype=object)
    pk = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(adj[rng.integers(0, 8, n_part)] + " " + noun[rng.integers(0, 8, n_part)], pa.string()),
        "p_brand": pa.array([f"Brand#{int(i)}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(ptype[rng.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    })
    day0 = int((dt.datetime(1995, 1, 1) - epoch).total_seconds()) // 86400
    o_days = rng.integers(0, 2404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(epoch, (day0 + o_days) * 86400),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)[rng.integers(0, 5, n_ord)],
            pa.string(),
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) * 0.01, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": _ts(epoch, (day0 + 1 + rng.integers(0, 2499, n_li)) * 86400),
    })
    ev_sec = np.sort(rng.integers(0, 30 * 86400, n_ev))
    ev_us = (np.int64(int((dt.datetime(2024, 1, 1) - epoch).total_seconds())) + ev_sec) * 1_000_000 + rng.integers(0, 1_000_000, n_ev)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * scale)), n_ev), pa.int64()),
        "event_type": pa.array(
            np.array(["click", "view", "purchase", "signup", "error"], dtype=object)[rng.integers(0, 5, n_ev)],
            pa.string(),
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    words = np.array(LAKE_DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(n))]) for n in rng.integers(8, 100, n_doc)]
    for i in rng.choice(n_doc, size=max(2, n_doc // 500), replace=False):
        texts[int(i)] = texts[int(i) - 1]  # a few exact duplicates for the dedup rows
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.integers(0, 5, n_doc)], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, n_emb * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1), pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32), pa.int32()),
    })
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
