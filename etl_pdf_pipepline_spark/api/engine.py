"""Long-lived engine service behind the REST surface (the reference's
src/api/main.py:23-41 keeps Pipeline/SQLiteStore/LanceDBStore/
HybridRetriever alive for the app's lifespan; here the long-lived state
is ONE SparkSession, the corpus's persisted BM25 index and session
deltas).

Storage model: the corpus is the immutable parquet lake (documents /
embeddings tables). HTTP uploads and deletes are session DELTAS — a
driver-side map of uploaded documents (each a single parsed file;
deleting one drops it) and a map of the deleted lake documents' term
counts — applied as a union / anti-filter over the lake at read time.
That is deliberately the lakehouse shape of the reference's SQLite row
mutations (src/load/sqlite_store.py): at scale the same deltas are
flushed through the sink rewrites (sources/sinks.py upsert/delete_where)
into new table versions; the API semantics don't change.

Where a request runs: Spark runs the plans that span the corpus: a
search's ranking, and the serving view `_docs()` — (lake minus deleted)
∪ uploads, each document with its `filename` and the `title` the
reference's filename rule derives from it — behind the title filter,
`stats` and `list_documents`. A request about one document works from
its row, read once per request on the driver (`_doc_row`: the upload's
dict, or one keyed pyarrow read of the documents table, `_lake_rows`),
and runs no Spark job, whose fixed cost would be most of it: metadata,
chunks, markdown, image, and the {term: tf} index delta of an upload or
a delete, `query_tokens` of its text. The reference answers these with
one keyed SQLite read each (src/load/sqlite_store.py:50-66, 85-100).

Search: the keyword leg is served from the persisted BM25 index, built
or found fresh once per engine (retrieval/queries.py::ensure_bm25_index;
the reference builds its full-text index once per ingest batch,
src/pipeline.py:164-165), edited exactly at read time by the deltas
(bm25.scored_sql's `added` and `removed`). Uploads are not written into
the shared index: they are not in the documents table, so its freshness
record would serve them to every other reader of the corpus. The vector
leg is a cosine scan of the embeddings with the query vector as a
literal (functions/vectors.py::cosine_lit_sql), and hybrid mode fuses
the two with RRF: one spark.sql text, collected once. While the query
terms' postings are few (Σdf at most bm25.SINGLE_TASK_POSTINGS) the
keyword leg's rows, the uploads' VALUES rows included, are read in one
task and need no exchange, so a warmed search runs 1 Spark job in every
mode, with or without deltas. The at most `limit` lake hits' title and
text then come from `_lake_rows`; folding that lookup into the ranked
plan either broadcasts every document's text (left join) or evaluates
the ranking twice (semi-join), both measured slower.

Everything here returns plain dicts/lists so the same engine backs any
HTTP frontend (FastAPI when installed, Flask otherwise — api/app.py).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..functions.text import filename_title, query_tokens, title_from_filename
from ..functions.vectors import cosine_lit_sql
from ..operators.chunker import chunk_text
from ..operators.multimodal import decode_image_fake
# perfbench/run.py::_wrap_layers re-binds bm25_scores, embed_query and
# load_table on this module to span them, so all three must stay bound
# here — bm25_scores too, although the engine no longer calls it.
from ..retrieval.bm25 import bm25_scores, scored_from_index_sql  # noqa: F401
from ..retrieval.embedder import HashEmbedder, embed_query
from ..retrieval.hybrid import SearchMode, route_topic, rrf_sql
from ..retrieval.queries import ensure_bm25_index
from ..sources.catalog import DEFAULT_SF_DIR, arrow_dataset, load_table
from ..sources.extract import _parse_passthrough

TOKEN_FACTOR = 1.3  # reference src/transform/chunker.py:124-126


class NotFound(KeyError):
    """Raised for unknown document/chunk/image ids (HTTP 404)."""


class BadRequest(ValueError):
    """Raised for invalid request input (HTTP 400)."""


def _check_limit(limit: int) -> None:
    """A negative limit is the caller's error: Spark rejects LIMIT -1
    and a list slice [:-1] would silently drop the last item."""
    if limit < 0:
        raise BadRequest(f"Invalid limit: {limit}. Use 0 or more")


def _lake_id(document_id: str) -> int:
    """The documents table's bigint key for a lake id; NotFound for any
    id that is not one (no lake row's id reads "007", "up-1" or 2**63)."""
    try:
        key = int(document_id)
    except ValueError:
        raise NotFound(document_id)
    if str(key) != document_id or not -(2**63) <= key < 2**63:
        raise NotFound(document_id)
    return key


class SparkEngine:
    """The reference's app.state, Spark-shaped: one session, one corpus
    and its BM25 index, session deltas for upload/delete.

    Construction serves the corpus's persisted BM25 index, or builds it
    under the repo's spark-warehouse/ (retrieval/queries.py::
    ensure_bm25_index) when none is fresh for `sf_dir`."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str = DEFAULT_SF_DIR,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self._index = ensure_bm25_index(spark, sf_dir)
        self._uploads: dict[str, dict[str, Any]] = {}  # doc_id -> row dict
        # deleted lake documents' {term: tf}, withdrawn from the index
        self._removed: dict[int, dict[str, int]] = {}
        self._next_upload_ord = 1
        self._dim: int | None = None  # corpus embedding width, read once

    def close(self) -> dict[str, int]:
        """Release session-pinned caches (bm25 live indexes, streaming
        memory-sink tables) — the analogue of the reference's lifespan
        shutdown hook (src/api/main.py:38-41)."""
        from ..retrieval.bm25 import release_indexes
        from ..streaming.events import release_stream_tables

        return {
            "indexes": release_indexes(),
            "stream_tables": release_stream_tables(self.spark),
        }

    # ------------------------------------------------------------------ docs

    def _docs(self, uploads: bool = True) -> DataFrame:
        """The serving view: the lake minus its deleted documents ∪ uploads
        (unless `uploads` is False), with each document's filename and
        the title the reference's filename rule gives it (F10)."""
        doc_id = F.col("doc_id").cast("string")
        docs = load_table(self.spark, self.sf_dir, "documents")
        if self._removed:
            docs = docs.filter(~F.col("doc_id").isin(list(self._removed)))
        docs = docs.select(
            doc_id.alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
            # the filename `_lake_rows` spells on the driver
            F.concat("source", F.lit("_report_"), doc_id, F.lit(".pdf")).alias("filename"),
        )
        rows = [
            (u["id"], u["text"] or "", "en", "upload", len(u["text"] or ""), u["filename"])
            for u in self._uploads.values()
            if uploads and u["status"] == "completed"
        ]
        if rows:
            docs = docs.unionByName(self.spark.createDataFrame(rows, docs.schema))
        return docs.withColumn("title", title_from_filename(F.col("filename")))

    def _lake_rows(self, keys: list[int]) -> dict[str, dict[str, Any]]:
        """{doc_id: {filename, title, text}} for the lake documents with
        these raw ids: one keyed read of the documents table on the
        driver, no Spark job. On local[4] over 4 vCPUs a Spark lookup of 10
        rows of a 6 000-document table took ≈ 160 CPU-ms, nearly all of it
        a job's fixed cost, and this read 30–40 ms. Filename and title are
        the ones `_docs()` derives in Spark (null with `source`), for the
        matching rows only."""
        import pyarrow.dataset as pads

        tbl = arrow_dataset(self.sf_dir, "documents").to_table(
            filter=pads.field("doc_id").isin(keys), columns=["doc_id", "source", "text"]
        )
        out = {}
        for r in tbl.to_pylist():
            name = None if r["source"] is None else f"{r['source']}_report_{r['doc_id']}.pdf"
            title = None if name is None else filename_title(name)
            out[str(r["doc_id"])] = {"filename": name, "title": title, "text": r["text"]}
        return out

    def _doc_row(self, document_id: str) -> dict[str, Any]:
        """The document's row with its text: a copy of the upload's, or
        one `_lake_rows` read; NotFound for an id the engine lacks."""
        if document_id in self._uploads:
            return dict(self._uploads[document_id])
        key = _lake_id(document_id)
        r = None if key in self._removed else self._lake_rows([key]).get(document_id)
        if r is None:
            raise NotFound(document_id)
        return {
            "id": document_id,
            "filename": r["filename"],
            "title": r["title"],
            "status": "completed",
            "page_count": 1,
            "source_path": f"{self.sf_dir}/documents.parquet",
            "file_hash": "sha256:" + hashlib.sha256((r["text"] or "").encode()).hexdigest(),
            "extraction_method": "parquet",
            "error_message": None,
            "text": r["text"],
        }

    def _corpus_dim(self) -> int:
        if self._dim is None:
            first = arrow_dataset(self.sf_dir, "embeddings").head(1, columns=["embedding"])
            self._dim = len(first["embedding"][0])
        return self._dim

    # ---------------------------------------------------------------- search

    def search(
        self,
        query: str,
        mode: str = "hybrid",
        limit: int = 10,
        title_filter: str | None = None,
    ) -> list[dict[str, Any]]:
        """Reference POST /search (src/api/routes/search.py:17-59): one
        query, three modes. Keyword = BM25 over the corpus index with the
        session's uploads and deletes applied; vector = cosine over the
        embeddings table; hybrid = RRF fusion of both.

        `title_filter` keeps only candidates whose title contains it, on
        both legs. BM25's N, df and avgdl stay those of the whole serving
        corpus, so a hit that passes the filter scores the same with or
        without it — as in the reference, whose filter is a `where` on a
        search over the whole index."""
        return [
            {
                "chunk_id": f"{h.doc_id}:0",
                "document_id": h.doc_id,
                "document_title": h.title,
                "text": h.text[:300],
                "score": float(h.score),
                "search_mode": mode,
            }
            for h in self._hits(query, mode, limit, title_filter)
        ]

    def _hits(self, query: str, mode: str, limit: int, title_filter: str | None) -> list[Row]:
        """Top-`limit` rows (doc_id, score, title, text) in rank order:
        the ranking is one spark.sql text collected once, then one keyed
        driver read of the lake hits' title and text. A hit without a
        doc row (a vector id the documents table lacks) gets "" for title
        and text."""
        try:
            mode_e = SearchMode(mode)
        except ValueError:
            raise BadRequest(f"Invalid search mode: {mode}. Use: vector, hybrid, keyword")
        _check_limit(limit)
        terms = query_tokens(query)
        if not terms:
            raise BadRequest("Empty query")
        frames: dict[str, DataFrame] = {}
        keep = ""
        if title_filter:  # F8 title LIKE filter, applied in every mode
            view = self._docs().filter(F.col("title").contains(title_filter))
            frames["keep"] = view.select("doc_id")
            keep = " WHERE doc_key IN (SELECT doc_id FROM {keep})"

        if mode_e is not SearchMode.VECTOR:
            added = {u["id"]: u["terms"] for u in self._uploads.values() if u["status"] == "completed"}
            kw, frames["post"] = scored_from_index_sql(
                self.spark, self._index, terms, added=added, removed=self._removed
            )
            kw = f"SELECT doc_key, round(score, 4) AS score FROM ({kw}) s{keep}"
        if mode_e is not SearchMode.KEYWORD:
            frames["emb"] = load_table(self.spark, self.sf_dir, "embeddings")
            qv = embed_query(query, HashEmbedder(dim=self._corpus_dim()))
            cos = cosine_lit_sql("embedding", qv)
            vec = f"SELECT CAST(vec_id AS STRING) AS doc_key, round({cos}, 4) AS score FROM {{emb}}"
            if self._removed:
                vec += " WHERE vec_id NOT IN (" + ", ".join(map(str, self._removed)) + ")"
            if keep:
                vec = f"SELECT doc_key, score FROM ({vec}) v{keep}"
        if mode_e is SearchMode.HYBRID:
            sql = rrf_sql(kw, vec, depth=2 * limit, k=limit)
        else:
            leg = kw if mode_e is SearchMode.KEYWORD else vec
            sql = f"SELECT doc_key, score FROM ({leg}) r ORDER BY score DESC, doc_key LIMIT {int(limit)}"
        ranked = self.spark.sql(sql, **frames).collect()

        lake = [int(r.doc_key) for r in ranked if r.doc_key not in self._uploads]
        docs = {**self._lake_rows(lake), **self._uploads}
        hits = []
        for r in ranked:
            doc = docs.get(r.doc_key)
            title, text = (doc["title"], doc["text"] or "") if doc else ("", "")
            hits.append(Row(doc_id=r.doc_key, score=r.score, title=title, text=text))
        return hits

    def get_context(
        self, query: str, max_tokens: int = 4000, mode: str = "hybrid"
    ) -> dict[str, Any]:
        """Reference POST /search/context (search.py:62-105): overfetched
        ranked results cut to the token budget, formatted with source
        attribution. The budget counts each hit's full text, which the
        search plan already collected."""
        kept: list[Row] = []
        budget = 0
        for h in self._hits(query, mode, 20, None):
            n_tokens = int(len(h.text.split()) * TOKEN_FACTOR)
            if budget + n_tokens > max_tokens:
                break
            budget += n_tokens
            kept.append(h)
        titles = list(dict.fromkeys(h.title for h in kept if h.title))
        header = "Documents referenced:\n" + "\n".join(f"- {t}" for t in titles)
        body = "\n\n---\n\n".join(h.text for h in kept)
        return {
            "context": f"{header}\n\n---\n\n{body}" if kept else "",
            "documents_referenced": titles,
            "topic": route_topic(query),
        }

    # ----------------------------------------------------------------- stats

    def stats(self) -> dict[str, Any]:
        """Reference GET /stats (src/api/routes/stats.py:12-23)."""
        agg = self._docs().agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.length("text") <= 512, 1)
                .otherwise((1 + F.floor((F.length("text") - 512 + 461) / 462.0)).cast("int"))
            ).alias("n_chunks"),
        ).first()
        failed = sum(1 for u in self._uploads.values() if u["status"] == "failed")
        return {
            "total_documents": int(agg.n_docs),
            "total_chunks": int(agg.n_chunks or 0),
            "by_status": {"completed": int(agg.n_docs), "failed": failed},
        }

    # ------------------------------------------------------------- documents

    def list_documents(self, status: str | None = None, limit: int = 100) -> list[dict[str, Any]]:
        if status is not None and status not in {"completed", "failed", "pending", "processing"}:
            raise BadRequest(f"Invalid status: {status}")
        _check_limit(limit)
        out: list[dict[str, Any]] = []
        if status in (None, "completed"):
            rows = (
                self._docs(uploads=False)
                .select(F.col("doc_id").alias("id"), "filename", "title")
                .orderBy(F.col("id").cast("long"))
                .limit(limit)
                .collect()
            )
            out = [{**r.asDict(), "status": "completed", "page_count": 1} for r in rows]
        for u in self._uploads.values():
            if len(out) >= limit:
                break
            if status is None or u["status"] == status:
                out.append({k: u[k] for k in ("id", "filename", "title", "status", "page_count")})
        return out

    def get_document(self, document_id: str) -> dict[str, Any]:
        doc = self._doc_row(document_id)
        doc["chunk_count"] = len(chunk_text(doc["text"] or ""))
        doc["image_count"] = len(self._images_for(doc))
        doc.pop("text", None)
        doc.pop("terms", None)
        return doc

    def get_document_markdown(self, document_id: str) -> dict[str, Any]:
        doc = self._doc_row(document_id)
        if doc.get("text") is None:
            raise NotFound("markdown not available")
        return {
            "document_id": document_id,
            "filename": doc["filename"],
            "content": doc["text"],
        }

    def upload(self, filename: str, content: bytes, force: bool = False) -> dict[str, Any]:
        """Reference POST /documents/upload (documents.py:112-168):
        hash-dedup, optional force-replace, synchronous parse. The parse
        is the same seam the distributed path uses
        (sources/extract.py::extract_markdown) applied to one file. Title
        and index delta come from `filename_title` and `query_tokens`."""
        if not filename or not filename.lower().endswith(".pdf"):
            raise BadRequest("Only PDF files are accepted")
        file_hash = "sha256:" + hashlib.sha256(content).hexdigest()
        existing = next((u for u in self._uploads.values() if u["file_hash"] == file_hash), None)
        if existing and not force:
            return {
                "document_id": existing["id"],
                "status": "skipped",
                "message": f"Document already exists: {existing['filename']}"
                " (use force=true to reprocess)",
            }
        if existing and force:
            self.delete_document(existing["id"])

        doc_id = f"up-{self._next_upload_ord}"
        self._next_upload_ord += 1
        try:
            text, pages = _parse_passthrough(content)
            status, err = "completed", None
        except Exception as e:  # parse-side capture, M4 policy
            text, pages, status, err = None, None, "failed", str(e)
        self._uploads[doc_id] = {
            "id": doc_id,
            "filename": filename,
            "title": filename_title(filename),
            "status": status,
            "page_count": pages,
            "source_path": f"upload://{filename}",
            "file_hash": file_hash,
            "extraction_method": "passthrough",
            "error_message": err,
            "text": text,
            "terms": Counter(query_tokens(text or "")),  # its {term: tf} index delta
        }
        return {
            "document_id": doc_id,
            "status": status,
            "message": f"Document processed successfully: {filename}"
            if status == "completed"
            else f"Processing failed: {err}",
        }

    def delete_document(self, document_id: str) -> dict[str, Any]:
        """Reference DELETE /documents/{id} (documents.py:170-186) — the
        M2 cascade as a session delta: an upload is dropped, a lake
        document's posting rows are withdrawn from the index (its one
        record, `_removed`); the lake rewrite (sinks.delete_where)
        applies it durably. Those rows are `query_tokens` of the text the
        404 check reads: the index tokenizes that text with `tokens`."""
        doc = self._doc_row(document_id)  # 404 if unknown
        if self._uploads.pop(document_id, None) is None:
            self._removed[int(document_id)] = Counter(query_tokens(doc["text"] or ""))
        return {"message": f"Document deleted: {document_id}"}

    # ---------------------------------------------------------------- chunks

    def get_document_chunks(self, document_id: str, limit: int = 100) -> list[dict[str, Any]]:
        _check_limit(limit)
        doc = self._doc_row(document_id)
        chunks = chunk_text(doc.get("text") or "")[:limit]
        return [
            {
                "id": f"{document_id}:{c['chunk_index']}",
                "document_id": document_id,
                "document_title": doc["title"],
                "text": c["text"],
                "section_h1": c["section_h1"],
                "section_h2": c["section_h2"],
                "chunk_index": c["chunk_index"],
                "token_count": c["token_count"],
            }
            for c in chunks
        ]

    def get_chunk(self, chunk_id: str) -> dict[str, Any]:
        """A chunk by its id "{document_id}:{index}"; NotFound unless the
        index is canonical ASCII decimal ("0:03", "0:٣" and "0:²" are no
        chunk's id)."""
        doc_id, _, idx_s = chunk_id.rpartition(":")
        if not (doc_id and idx_s.isascii() and idx_s.isdigit() and str(int(idx_s)) == idx_s):
            raise NotFound(chunk_id)
        idx = int(idx_s)
        chunks = self.get_document_chunks(doc_id, limit=idx + 1)
        if idx >= len(chunks):
            raise NotFound(chunk_id)
        return chunks[idx]

    # ---------------------------------------------------------------- images

    def _images_for(self, doc: dict[str, Any]) -> list[dict[str, Any]]:
        """A document's images, from its `_doc_row` as media_table builds
        them: a lake document's one media row has media_id = doc_id and
        content = its text's UTF-8 bytes. An upload has none, and so has a
        lake document with null text (null content): image_count 0, and
        404 from the image reads."""
        if doc["id"] in self._uploads or doc["text"] is None:
            return []
        width, height, fmt = decode_image_fake(doc["text"].encode())
        return [
            {
                "id": f"img-{doc['id']}",
                "document_id": doc["id"],
                "page_number": 1,
                "image_index": 0,
                "file_path": f"media://{doc['id']}",
                "width": width,
                "height": height,
                "format": fmt,
                "caption": None,
            }
        ]

    def _image_doc(self, image_id: str) -> dict[str, Any]:
        """The `_doc_row` of the document with image `image_id`."""
        try:
            doc = self._doc_row(image_id[4:]) if image_id.startswith("img-") else None
        except NotFound:
            doc = None
        if doc is None or not self._images_for(doc):
            raise NotFound(image_id)
        return doc

    def get_document_images(self, document_id: str) -> list[dict[str, Any]]:
        return self._images_for(self._doc_row(document_id))

    def get_image(self, image_id: str) -> dict[str, Any]:
        return self._images_for(self._image_doc(image_id))[0]

    def get_image_file(self, image_id: str) -> bytes:
        """Reference GET /images/{id}/file (images.py:76-…): the raw bytes
        of the opaque binary column, the content _images_for decodes."""
        return self._image_doc(image_id)["text"].encode()
