"""Independent correctness references, computed in DuckDB and plain Python.

- `ServingReference`: BM25 + cosine + RRF over the generated serving
  corpus, and the expected answer of every engine request the benchmark
  sends.
- `check_ingest`: the chunk lake and BM25 index a PDF batch produced,
  counted from their parquet files, against what the generator knows.
- `check_registry_result`: a registry query's Spark result against its
  DuckDB oracle SQL, compared order-insensitively.

Nothing here imports the program under test.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import re

import duckdb

from corpus import PdfBatch

RRF_K = 60


def round_half_up(x: float, digits: int) -> float:
    """Round like Spark's `round` on a double: HALF_UP on the exact value."""
    q = decimal.Decimal(1).scaleb(-digits)
    return float(decimal.Decimal(x).quantize(q, rounding=decimal.ROUND_HALF_UP))


def hash_embed(text: str, dim: int, seed: int = 42) -> list[float]:
    """The engine's documented default query embedding: per dimension i,
    the sum over distinct lowercase tokens of md5(f"{seed}:{i}:{tok}")'s top
    32 bits mapped to [-1, 1), then unit-normalized."""
    toks = sorted({t for t in (text or "").lower().split() if t})
    vec = []
    for i in range(dim):
        acc = 0
        for t in toks:
            v = int(hashlib.md5(f"{seed}:{i}:{t}".encode()).hexdigest()[:8], 16)
            acc = acc + ((v / 0x7FFFFFFF) - 1.0)
        vec.append(acc if toks else 0.0)
    n = math.sqrt(sum(x * x for x in vec))
    return [float(x / n) if n > 0 else 0.0 for x in vec]


def title_from_filename(name: str) -> str:
    t = re.sub(r"\.pdf$", "", name)
    t = re.sub(r"^[A-Z]{2,3}\d{2,4}[ _-]*", "", t)
    t = re.sub(r"[_-]\d{4,8}$", "", t)
    t = re.sub(r"[_-]+", " ", t)
    return t.strip(" ")


_BM25_SQL = """
WITH corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM doc_len),
m AS (SELECT p.* FROM postings p JOIN qterms USING (term)),
dfc AS (SELECT term, count(*) AS df FROM m GROUP BY term)
SELECT m.doc_id,
       sum(ln(CAST(1.0 AS DOUBLE) + (n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
           * (tf * CAST(2.2 AS DOUBLE))
           / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))) AS score
FROM m JOIN dfc USING (term) JOIN doc_len USING (doc_id), corpus
GROUP BY m.doc_id
"""

# The engine's tokenizer: lowercase, trim, split on whitespace runs.
_TOKENS_SQL = "regexp_split_to_array(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')"


class ServingReference:
    """BM25 (k1=1.2, b=0.75, Lucene idf), cosine and RRF over the serving
    corpus, ranked like the engine: score rounded, ties broken by the
    string id."""

    def __init__(self, corpus_dir: str, dim: int = 64) -> None:
        self.dim = dim
        c = self.con = duckdb.connect()
        c.execute(
            "CREATE TABLE docs AS SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, source "
            f"FROM read_parquet('{corpus_dir}/documents.parquet')"
        )
        c.execute(
            "CREATE TABLE emb AS SELECT CAST(vec_id AS VARCHAR) AS doc_id, CAST(embedding AS DOUBLE[]) AS e "
            f"FROM read_parquet('{corpus_dir}/embeddings.parquet')"
        )
        c.execute(
            "CREATE TABLE postings AS SELECT doc_id, term, count(*) AS tf FROM "
            f"(SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM docs) "
            "WHERE term <> '' GROUP BY doc_id, term"
        )
        c.execute("CREATE TABLE doc_len AS SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY doc_id")
        c.execute("CREATE TABLE qterms (term VARCHAR)")
        self._docs = {d: (t, s) for d, t, s in c.execute("SELECT doc_id, text, source FROM docs").fetchall()}

    def doc(self, doc_id: str) -> dict | None:
        row = self._docs.get(doc_id)
        if row is None:
            return None
        text, source = row
        return {"text": text, "source": source, "title": title_from_filename(f"{source}_report_{doc_id}.pdf")}

    # -- rankings ----------------------------------------------------------

    def _keyword(self, query: str) -> list[tuple[str, float]]:
        c = self.con
        c.execute("DELETE FROM qterms")
        c.executemany("INSERT INTO qterms VALUES (?)", [[t] for t in sorted(set(query.lower().split()))])
        return _ordered([(d, round_half_up(s, 4)) for d, s in c.execute(_BM25_SQL).fetchall()])

    def _vector(self, query: str) -> list[tuple[str, float]]:
        rows = self.con.execute(
            "SELECT doc_id, list_inner_product(e, $q) / "
            "(sqrt(list_inner_product(e, e)) * sqrt(list_inner_product($q, $q))) FROM emb",
            {"q": hash_embed(query, self.dim)},
        ).fetchall()
        return _ordered([(d, round_half_up(s, 4)) for d, s in rows if s is not None])

    def ranking(self, query: str, mode: str, limit: int) -> list[tuple[str, float]]:
        if mode == "keyword":
            return self._keyword(query)[:limit]
        if mode == "vector":
            return self._vector(query)[:limit]
        fused: dict[str, float] = {}
        for ranked in (self._keyword(query)[: 2 * limit], self._vector(query)[: 2 * limit]):
            for rank, (d, _) in enumerate(ranked, start=1):
                fused[d] = fused.get(d, 0.0) + 1.0 / (RRF_K + rank)
        return _ordered([(d, round_half_up(s, 6)) for d, s in fused.items()])[:limit]

    # -- expected responses ------------------------------------------------

    def search(self, query: str, mode: str, limit: int = 10) -> list[dict]:
        out = []
        for d, score in self.ranking(query, mode, limit):
            doc = self.doc(d) or {"title": "", "text": ""}
            out.append({
                "chunk_id": f"{d}:0",
                "document_id": d,
                "document_title": doc["title"],
                "text": doc["text"][:300],
                "score": score,
                "search_mode": mode,
            })
        return out

    def check(self, op: dict, result) -> str | None:
        """None when `result` is the right answer to `op`, else a one-line
        description of the first difference."""
        kind = op["kind"]
        if kind == "search":
            return _diff_list(result, self.search(op["query"], op["mode"]))
        if kind in ("get_document", "get_document_chunks"):
            doc = self.doc(op["doc_id"])
            if doc is None:
                return f"{op['doc_id']} is not in the corpus"
            return _check_doc(kind, op["doc_id"], doc, result)
        return f"unknown op kind {kind}"


def _ordered(pairs: list[tuple[str, float]]) -> list[tuple[str, float]]:
    return sorted(pairs, key=lambda p: (-p[1], p[0]))


def _diff_list(got: list[dict], want: list[dict]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} results, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            keys = [k for k in w if g.get(k) != w[k]]
            return f"result {i} differs in {keys}: {g.get('document_id')} vs {w['document_id']}"
    return None


def _check_doc(kind: str, doc_id: str, doc: dict, result) -> str | None:
    text = doc["text"] or ""
    if kind == "get_document":
        want = {
            "id": doc_id,
            "filename": f"{doc['source']}_report_{doc_id}.pdf",
            "title": doc["title"],
            "status": "completed",
            "file_hash": "sha256:" + hashlib.sha256(text.encode()).hexdigest(),
            "image_count": 1,
        }
        bad = [k for k, v in want.items() if result.get(k) != v]
        if bad or result.get("chunk_count", 0) < 1 or "text" in result:
            return f"get_document({doc_id}) differs in {bad or ['chunk_count/text']}"
        return None
    if not result:
        return f"get_document_chunks({doc_id}) is empty"
    for i, ch in enumerate(result):
        if ch["id"] != f"{doc_id}:{i}" or ch["chunk_index"] != i or ch["text"] not in text:
            return f"chunk {i} of {doc_id} is wrong"
    return None


# ------------------------------------------------------------------ ingest


def check_ingest(batch: PdfBatch, lake_path: str, index_path: str) -> list[str]:
    """Count the written chunk lake and BM25 postings against the batch."""
    con = duckdb.connect()
    q = lambda s: con.execute(s).fetchone()  # noqa: E731
    n_chunks, n_docs, n_hashes = q(
        f"SELECT count(*), count(DISTINCT path), count(DISTINCT file_hash) FROM read_parquet('{lake_path}/*.parquet')"
    )
    (n_postings,) = q(f"SELECT count(*) FROM read_parquet('{index_path}/postings/*.parquet')")
    (n_doc_stats,) = q(f"SELECT count(*) FROM read_parquet('{index_path}/doc_stats/*.parquet')")
    n_distinct_bodies = batch.n_valid - batch.n_duplicate
    errors = []
    for name, got, want in (
        ("valid documents", n_docs, batch.n_valid),
        ("invalid files", batch.n_files - n_docs, batch.n_empty + batch.n_not_pdf),
        ("duplicate files", n_docs - n_hashes, batch.n_valid - n_distinct_bodies),
        ("chunk rows", n_chunks, batch.n_chunks),
        ("index postings", n_postings, batch.n_postings),
        ("index documents", n_doc_stats, batch.n_chunks),
    ):
        if got != want:
            errors.append(f"{name}: {got} != {want}")
    con.close()
    return errors


# ---------------------------------------------------------------- analytics


def lake_connection(lake_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake_dir}/{t}.parquet')")
    return con


def _norm_value(v):
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):  # numpy scalar
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer():
            return int(v)
        return v
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, type(v).__name__, repr(v)) for v in row)


def normalize_rows(rows, cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    return sorted(out, key=_sort_key)


def check_registry_result(con: duckdb.DuckDBPyConnection, oracle_sql: str | None, pdf) -> str | None:
    """Compare a registry query's result (a pandas DataFrame from
    toPandas) with its oracle: same column names, row count and values,
    in any row order. Queries without an oracle must return rows."""
    cols = list(pdf.columns)
    if oracle_sql is None:
        return None if len(pdf) else "no rows"
    rel = con.sql(oracle_sql)
    o_cols = list(rel.columns)
    o_rows = rel.fetchall()
    if sorted(cols) != sorted(o_cols):
        return f"columns {sorted(cols)} != {sorted(o_cols)}"
    if len(pdf) != len(o_rows):
        return f"{len(pdf)} rows, oracle has {len(o_rows)}"
    got = normalize_rows(pdf.itertuples(index=False, name=None), cols)
    want = normalize_rows(o_rows, o_cols)
    if got != want:
        n = sum(1 for a, b in zip(got, want) if a != b)
        return f"values differ in {n}/{len(got)} rows"
    return None
