"""Long-lived engine service behind the REST surface (the reference's
src/api/main.py:23-41 keeps Pipeline/SQLiteStore/LanceDBStore/
HybridRetriever alive for the app's lifespan; here the long-lived state
is ONE SparkSession plus session deltas).

Storage model: the corpus is the immutable parquet lake (documents /
embeddings tables). HTTP uploads and deletes are session DELTAS — a
driver-side list of uploaded documents (each a single parsed file) and a
tombstone set — applied as a union / anti-filter over the lake at read
time. That is deliberately the lakehouse shape of the reference's SQLite
row mutations (src/load/sqlite_store.py): at scale the same deltas are
flushed through the sink rewrites (sources/sinks.py upsert/delete_where)
into new table versions; the API semantics don't change.

Serving view: `_docs()` is the one view every reader goes through — lake
∪ uploads minus tombstones, one row per document carrying its `filename`
and the `title` derived from it by the reference's filename rule. A
search is one plan: the ranked top-k ids left-joined back to that view
for title and text, collected once — the reference's retriever likewise
returns each hit's title and text with its score
(src/retrieve/hybrid_retriever.py:57-90).

Everything here returns plain dicts/lists so the same engine backs any
HTTP frontend (FastAPI when installed, Flask otherwise — api/app.py).
"""

from __future__ import annotations

import hashlib
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..functions.text import title_from_filename
from ..functions.vectors import as_double, cosine, query_vector_lit
from ..operators.chunker import chunk_text
from ..operators.multimodal import decode_image_fake, media_table
from ..retrieval.bm25 import bm25_scores
from ..retrieval.embedder import HashEmbedder, embed_query
from ..retrieval.hybrid import SearchMode, rank_top, route_topic, rrf_fuse
from ..sources.catalog import DEFAULT_SF_DIR, load_table
from ..sources.extract import _parse_passthrough

TOKEN_FACTOR = 1.3  # reference src/transform/chunker.py:124-126


class NotFound(KeyError):
    """Raised for unknown document/chunk/image ids (HTTP 404)."""


class BadRequest(ValueError):
    """Raised for invalid request input (HTTP 400)."""


def _titled(docs: DataFrame) -> DataFrame:
    """The one title rule: `title` from `filename` (reference F10)."""
    return docs.withColumn("title", title_from_filename(F.col("filename")))


class SparkEngine:
    """The reference's app.state, Spark-shaped: one session, one corpus,
    session deltas for upload/delete."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str = DEFAULT_SF_DIR,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self._uploads: dict[str, dict[str, Any]] = {}  # doc_id -> row dict
        self._tombstones: set[str] = set()
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
        """The serving view: lake ∪ uploads (unless `uploads` is False),
        minus tombstones, with each document's filename and title."""
        doc_id = F.col("doc_id").cast("string")
        docs = load_table(self.spark, self.sf_dir, "documents").select(
            doc_id.alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
            F.concat("source", F.lit("_report_"), doc_id, F.lit(".pdf")).alias("filename"),
        )
        rows = [
            (u["id"], u["text"] or "", "en", "upload", len(u["text"] or ""), u["filename"])
            for u in self._uploads.values()
            if uploads and u["status"] == "completed"
        ]
        if rows:
            docs = docs.unionByName(self.spark.createDataFrame(rows, docs.schema))
        if self._tombstones:
            docs = docs.filter(~F.col("doc_id").isin(sorted(self._tombstones)))
        return _titled(docs)

    def _doc_row(self, document_id: str) -> dict[str, Any]:
        if document_id in self._tombstones:
            raise NotFound(document_id)
        if document_id in self._uploads:
            return dict(self._uploads[document_id])
        row = (
            self._docs(uploads=False)
            .filter(F.col("doc_id") == document_id)
            .select("filename", "title", "text")
            .limit(1)
            .collect()
        )
        if not row:
            raise NotFound(document_id)
        r = row[0]
        return {
            "id": document_id,
            "filename": r.filename,
            "title": r.title,
            "status": "completed",
            "page_count": 1,
            "source_path": f"{self.sf_dir}/documents.parquet",
            "file_hash": "sha256:" + hashlib.sha256((r.text or "").encode()).hexdigest(),
            "extraction_method": "parquet",
            "error_message": None,
            "text": r.text,
        }

    def _corpus_dim(self) -> int:
        if self._dim is None:
            emb = load_table(self.spark, self.sf_dir, "embeddings")
            self._dim = len(emb.select("embedding").first()[0])
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
        query, three modes. Keyword = BM25 over the serving view; vector =
        cosine over the embeddings table; hybrid = RRF fusion of both."""
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
        """Top-`limit` rows (doc_id, score, title, text) in rank order, as
        one plan collected once. A hit without a doc row (a vector id the
        documents table lacks) gets "" for title and text."""
        try:
            mode_e = SearchMode(mode)
        except ValueError:
            raise BadRequest(f"Invalid search mode: {mode}. Use: vector, hybrid, keyword")
        terms = [t for t in query.lower().split() if t]
        if not terms:
            raise BadRequest("Empty query")
        docs = self._docs()
        if title_filter:  # F8 title LIKE filter, applied in every mode
            docs = docs.filter(F.col("title").contains(title_filter))

        if mode_e is not SearchMode.VECTOR:
            kw = bm25_scores(docs, "doc_id", "text", terms).withColumn("score", F.round("score", 4))
        if mode_e is not SearchMode.KEYWORD:
            qv = query_vector_lit(embed_query(query, HashEmbedder(dim=self._corpus_dim())))
            vec = load_table(self.spark, self.sf_dir, "embeddings").select(
                F.col("vec_id").cast("string").alias("doc_key"),
                F.round(cosine(as_double("embedding"), qv), 4).alias("score"),
            )
            if title_filter:
                keep = docs.select(F.col("doc_id").alias("doc_key"))
                vec = vec.join(keep, "doc_key", "left_semi")
        if mode_e is SearchMode.HYBRID:
            ranked = rrf_fuse(rank_top(kw, 2 * limit), rank_top(vec, 2 * limit), k=limit)
        else:
            scored = kw if mode_e is SearchMode.KEYWORD else vec
            ranked = scored.orderBy(F.desc("score"), "doc_key").limit(limit)

        return (
            ranked.withColumnRenamed("doc_key", "doc_id")
            .join(docs.select("doc_id", "title", "text"), "doc_id", "left")
            .select(
                "doc_id",
                "score",
                F.coalesce("title", F.lit("")).alias("title"),
                F.coalesce("text", F.lit("")).alias("text"),
            )
            .orderBy(F.desc("score"), "doc_id")
            .collect()
        )

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
            tokens = int(len(h.text.split()) * TOKEN_FACTOR)
            if budget + tokens > max_tokens:
                break
            budget += tokens
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
        out: list[dict[str, Any]] = []
        if status in (None, "completed"):
            rows = (
                self._docs(uploads=False)
                .select("doc_id", "filename", "title")
                .orderBy(F.col("doc_id").cast("long"))
                .limit(limit)
                .collect()
            )
            out = [
                {
                    "id": r.doc_id,
                    "filename": r.filename,
                    "title": r.title,
                    "status": "completed",
                    "page_count": 1,
                }
                for r in rows
            ]
        for u in self._uploads.values():
            if len(out) >= limit:
                break
            if u["id"] in self._tombstones:
                continue
            if status is None or u["status"] == status:
                out.append({k: u[k] for k in ("id", "filename", "title", "status", "page_count")})
        return out

    def get_document(self, document_id: str) -> dict[str, Any]:
        doc = self._doc_row(document_id)
        chunks = chunk_text(doc.get("text") or "")
        doc["chunk_count"] = len(chunks)
        doc["image_count"] = len(self._images_for(document_id))
        doc.pop("text", None)
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
        (sources/extract.py::extract_markdown) applied to one file."""
        if not filename or not filename.lower().endswith(".pdf"):
            raise BadRequest("Only PDF files are accepted")
        file_hash = "sha256:" + hashlib.sha256(content).hexdigest()
        existing = next(
            (
                u
                for u in self._uploads.values()
                if u["file_hash"] == file_hash and u["id"] not in self._tombstones
            ),
            None,
        )
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
        title = _titled(self.spark.createDataFrame([(filename,)], "filename string")).first().title
        self._uploads[doc_id] = {
            "id": doc_id,
            "filename": filename,
            "title": title,
            "status": status,
            "page_count": pages,
            "source_path": f"upload://{filename}",
            "file_hash": file_hash,
            "extraction_method": "passthrough",
            "error_message": err,
            "text": text,
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
        M2 cascade as a tombstone; the lake rewrite (sinks.delete_where)
        applies it durably."""
        self._doc_row(document_id)  # 404 if unknown
        self._tombstones.add(document_id)
        return {"message": f"Document deleted: {document_id}"}

    # ---------------------------------------------------------------- chunks

    def get_document_chunks(self, document_id: str, limit: int = 100) -> list[dict[str, Any]]:
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
        doc_id, _, idx_s = chunk_id.rpartition(":")
        if not doc_id or not idx_s.isdigit():
            raise NotFound(chunk_id)
        idx = int(idx_s)
        chunks = self.get_document_chunks(doc_id, limit=idx + 1)
        if idx >= len(chunks):
            raise NotFound(chunk_id)
        return chunks[idx]

    # ---------------------------------------------------------------- images

    def _images_for(self, document_id: str) -> list[dict[str, Any]]:
        if document_id in self._uploads:
            return []
        try:
            base_id = int(document_id)
        except ValueError:
            raise NotFound(document_id)
        rows = (
            media_table(self.spark, self.sf_dir)
            .filter(F.col("media_id") == base_id)
            .select("media_id", "media_type", "content")
            .collect()
        )
        out = []
        for r in rows:
            width, height, fmt = decode_image_fake(bytes(r.content))
            out.append(
                {
                    "id": f"img-{r.media_id}",
                    "document_id": document_id,
                    "page_number": 1,
                    "image_index": 0,
                    "file_path": f"media://{r.media_id}",
                    "width": width,
                    "height": height,
                    "format": fmt,
                    "caption": None,
                }
            )
        return out

    def get_document_images(self, document_id: str) -> list[dict[str, Any]]:
        self._doc_row(document_id)  # 404 if unknown
        return self._images_for(document_id)

    def get_image(self, image_id: str) -> dict[str, Any]:
        if not image_id.startswith("img-"):
            raise NotFound(image_id)
        imgs = self._images_for(image_id[4:])
        if not imgs:
            raise NotFound(image_id)
        return imgs[0]

    def get_image_file(self, image_id: str) -> bytes:
        """Reference GET /images/{id}/file (images.py:76-…): the raw bytes
        of the opaque binary column."""
        if not image_id.startswith("img-"):
            raise NotFound(image_id)
        try:
            base_id = int(image_id[4:])
        except ValueError:
            raise NotFound(image_id)
        row = (
            media_table(self.spark, self.sf_dir)
            .filter(F.col("media_id") == base_id)
            .select("content")
            .limit(1)
            .collect()
        )
        if not row:
            raise NotFound(image_id)
        return bytes(row[0].content)
