"""HTTP frontends over SparkEngine — route-for-route parity with the
reference FastAPI app (/root/reference/src/api/main.py,
src/api/routes/{search,documents,chunks,images,stats}.py,
documents/api-reference.md):

    POST   /search                       3 modes + title_filter
    POST   /search/context               token-budgeted context
    GET    /stats
    GET    /documents?status=&limit=
    GET    /documents/{id}
    GET    /documents/{id}/markdown
    POST   /documents/upload?force=      multipart PDF, sync processing
    DELETE /documents/{id}
    GET    /documents/{id}/chunks?limit=
    GET    /chunks/{id}
    GET    /documents/{id}/images
    GET    /images/{id}
    GET    /images/{id}/file             raw bytes
    GET    /health

Two factories over ONE engine: `create_app()` builds the FastAPI app when
fastapi is installed (the reference's exact framework); `create_flask_app()`
is the same surface on Flask (what this container ships). Handlers are
thin — every behavior lives in api/engine.py, so the framework choice is
cosmetic and both stay in lockstep.
"""

from __future__ import annotations

from typing import Any

from .engine import BadRequest, NotFound, SparkEngine

try:  # the reference's framework — optional in this container
    import fastapi  # type: ignore  # noqa: F401

    HAVE_FASTAPI = True
except Exception:  # pragma: no cover - environment-dependent
    HAVE_FASTAPI = False


def _int_arg(value: Any, name: str) -> int:
    """An integer request field; BadRequest (HTTP 400) when it is not one."""
    try:
        return int(value)
    except (TypeError, ValueError, OverflowError):
        raise BadRequest(f"{name} must be an integer")


def _search_body(body: Any, count: str, default: int) -> tuple[str, str, int]:
    """(query, mode, `count`) from a /search or /search/context JSON body,
    the one parser both frontends use: BadRequest (HTTP 400) for a body
    that is not an object and for a field of the wrong type."""
    if not isinstance(body, dict):
        raise BadRequest("The request body must be a JSON object")
    query, mode = body.get("query", ""), body.get("mode", "hybrid")
    for name, value in (("query", query), ("mode", mode)):
        if not isinstance(value, str):
            raise BadRequest(f"{name} must be a string")
    return query, mode, _int_arg(body.get(count, default), count)


def _title_filter(body: dict) -> str | None:
    """/search's optional title_filter; BadRequest (HTTP 400) if not a string."""
    title = body.get("title_filter")
    if title is not None and not isinstance(title, str):
        raise BadRequest("title_filter must be a string")
    return title


def _engine(spark=None, sf_dir: str | None = None) -> SparkEngine:
    if spark is None:
        from ..session import get_spark

        spark = get_spark("api")
    from ..sources.catalog import DEFAULT_SF_DIR

    return SparkEngine(spark, sf_dir or DEFAULT_SF_DIR)


# ------------------------------------------------------------------ FastAPI


def create_app(spark=None, sf_dir: str | None = None):  # pragma: no cover
    """FastAPI app (reference framework). Raises ImportError when fastapi
    is not installed — use create_flask_app() then."""
    if not HAVE_FASTAPI:
        raise ImportError("fastapi is not installed; use create_flask_app()")
    from fastapi import FastAPI, File, HTTPException, Response, UploadFile

    eng = _engine(spark, sf_dir)
    app = FastAPI(title="etl_pdf_pipepline_spark API", version="1.0.0")

    def guard(fn, *a, **kw):
        try:
            return fn(*a, **kw)
        except NotFound as e:
            raise HTTPException(status_code=404, detail=str(e))
        except BadRequest as e:
            raise HTTPException(status_code=400, detail=str(e))

    @app.get("/health")
    def health() -> dict[str, str]:
        return {"status": "ok"}

    @app.post("/search")
    def search(body: dict[str, Any]) -> list[dict[str, Any]]:
        query, mode, limit = guard(_search_body, body, "limit", 10)
        return guard(eng.search, query, mode, limit, guard(_title_filter, body))

    @app.post("/search/context")
    def context(body: dict[str, Any]) -> dict[str, Any]:
        query, mode, max_tokens = guard(_search_body, body, "max_tokens", 4000)
        return guard(eng.get_context, query, max_tokens, mode)

    @app.get("/stats")
    def stats() -> dict[str, Any]:
        return eng.stats()

    @app.get("/documents")
    def list_documents(status: str | None = None, limit: int = 100):
        return guard(eng.list_documents, status, limit)

    @app.get("/documents/{document_id}")
    def get_document(document_id: str):
        return guard(eng.get_document, document_id)

    @app.get("/documents/{document_id}/markdown")
    def get_markdown(document_id: str):
        return guard(eng.get_document_markdown, document_id)

    @app.post("/documents/upload")
    async def upload(file: UploadFile = File(...), force: bool = False):
        content = await file.read()
        return guard(eng.upload, file.filename or "", content, force)

    @app.delete("/documents/{document_id}")
    def delete_document(document_id: str):
        return guard(eng.delete_document, document_id)

    @app.get("/documents/{document_id}/chunks")
    def document_chunks(document_id: str, limit: int = 100):
        return guard(eng.get_document_chunks, document_id, limit)

    @app.get("/chunks/{chunk_id}")
    def get_chunk(chunk_id: str):
        return guard(eng.get_chunk, chunk_id)

    @app.get("/documents/{document_id}/images")
    def document_images(document_id: str):
        return guard(eng.get_document_images, document_id)

    @app.get("/images/{image_id}")
    def get_image(image_id: str):
        return guard(eng.get_image, image_id)

    @app.get("/images/{image_id}/file")
    def get_image_file(image_id: str):
        data = guard(eng.get_image_file, image_id)
        return Response(content=data, media_type="application/octet-stream")

    return app


# -------------------------------------------------------------------- Flask


def create_flask_app(spark=None, sf_dir: str | None = None):
    """The same surface on Flask (installed in this container)."""
    from flask import Flask, Response, jsonify, request

    eng = _engine(spark, sf_dir)
    app = Flask("etl_pdf_pipepline_spark_api")

    @app.errorhandler(NotFound)
    def _nf(e):
        return jsonify({"detail": str(e)}), 404

    @app.errorhandler(BadRequest)
    def _br(e):
        return jsonify({"detail": str(e)}), 400

    @app.get("/health")
    def health():
        return jsonify({"status": "ok"})

    @app.post("/search")
    def search():
        body = request.get_json(force=True, silent=True) or {}
        return jsonify(eng.search(*_search_body(body, "limit", 10), _title_filter(body)))

    @app.post("/search/context")
    def context():
        body = request.get_json(force=True, silent=True) or {}
        query, mode, max_tokens = _search_body(body, "max_tokens", 4000)
        return jsonify(eng.get_context(query, max_tokens, mode))

    @app.get("/stats")
    def stats():
        return jsonify(eng.stats())

    @app.get("/documents")
    def list_documents():
        return jsonify(
            eng.list_documents(
                request.args.get("status"), _int_arg(request.args.get("limit", 100), "limit")
            )
        )

    @app.get("/documents/<document_id>")
    def get_document(document_id):
        return jsonify(eng.get_document(document_id))

    @app.get("/documents/<document_id>/markdown")
    def get_markdown(document_id):
        return jsonify(eng.get_document_markdown(document_id))

    @app.post("/documents/upload")
    def upload():
        f = request.files.get("file")
        if f is None:
            raise BadRequest("file is required")
        force = request.args.get("force", "false").lower() == "true"
        return jsonify(eng.upload(f.filename or "", f.read(), force))

    @app.delete("/documents/<document_id>")
    def delete_document(document_id):
        return jsonify(eng.delete_document(document_id))

    @app.get("/documents/<document_id>/chunks")
    def document_chunks(document_id):
        return jsonify(
            eng.get_document_chunks(document_id, _int_arg(request.args.get("limit", 100), "limit"))
        )

    @app.get("/chunks/<chunk_id>")
    def get_chunk(chunk_id):
        return jsonify(eng.get_chunk(chunk_id))

    @app.get("/documents/<document_id>/images")
    def document_images(document_id):
        return jsonify(eng.get_document_images(document_id))

    @app.get("/images/<image_id>")
    def get_image(image_id):
        return jsonify(eng.get_image(image_id))

    @app.get("/images/<image_id>/file")
    def get_image_file(image_id):
        return Response(eng.get_image_file(image_id), mimetype="application/octet-stream")

    return app


def main() -> int:  # pragma: no cover - manual serving entrypoint
    """`python -m etl_pdf_pipepline_spark.api.app` — serve on :8000 with
    whichever framework is installed."""
    if HAVE_FASTAPI:
        import uvicorn

        uvicorn.run(create_app(), host="127.0.0.1", port=8000)
    else:
        create_flask_app().run(host="127.0.0.1", port=8000)
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
