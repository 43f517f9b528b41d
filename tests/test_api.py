"""REST surface parity tests (reference src/api/routes/*), parametrized
over every installed web framework: Flask (what this container ships) and
FastAPI (the reference's framework, exercised when importable). Every
behavior lives in api/engine.py, so both frontends must pass the same
suite — the adapter below normalizes the two test-client APIs."""

from __future__ import annotations

import io

import pytest

from etl_pdf_pipepline_spark.api.app import HAVE_FASTAPI, create_app, create_flask_app

SF_SMALL = "/root/testdata/sf0.001"


class _Resp:
    def __init__(self, status_code: int, json_data, content: bytes):
        self.status_code = status_code
        self._json = json_data
        self.data = content

    def get_json(self):
        return self._json


class _FlaskClient:
    def __init__(self, spark):
        app = create_flask_app(spark, SF_SMALL)
        app.config["TESTING"] = True
        self._c = app.test_client()

    def _wrap(self, r) -> _Resp:
        try:
            j = r.get_json(silent=True)
        except Exception:
            j = None
        return _Resp(r.status_code, j, r.data)

    def get(self, path):
        return self._wrap(self._c.get(path))

    def post(self, path, json=None):
        return self._wrap(self._c.post(path, json=json))

    def delete(self, path):
        return self._wrap(self._c.delete(path))

    def upload(self, path, filename, content: bytes):
        return self._wrap(
            self._c.post(
                path,
                data={"file": (io.BytesIO(content), filename)},
                content_type="multipart/form-data",
            )
        )


class _FastApiClient:  # pragma: no cover - runs only with fastapi installed
    def __init__(self, spark):
        from fastapi.testclient import TestClient

        self._c = TestClient(create_app(spark, SF_SMALL))

    def _wrap(self, r) -> _Resp:
        try:
            j = r.json()
        except Exception:
            j = None
        return _Resp(r.status_code, j, r.content)

    def get(self, path):
        return self._wrap(self._c.get(path))

    def post(self, path, json=None):
        return self._wrap(self._c.post(path, json=json))

    def delete(self, path):
        return self._wrap(self._c.delete(path))

    def upload(self, path, filename, content: bytes):
        return self._wrap(
            self._c.post(path, files={"file": (filename, content, "application/pdf")})
        )


def _frameworks():
    out = ["flask"]
    if HAVE_FASTAPI:
        try:
            import fastapi.testclient  # noqa: F401 (needs httpx)

            out.append("fastapi")
        except Exception:
            pass
    return out


@pytest.fixture(scope="module", params=_frameworks())
def client(request, spark):
    if request.param == "flask":
        yield _FlaskClient(spark)
    else:
        yield _FastApiClient(spark)


def test_health(client):
    r = client.get("/health")
    assert r.status_code == 200 and r.get_json()["status"] == "ok"


@pytest.mark.parametrize("mode", ["keyword", "vector", "hybrid"])
def test_search_three_modes(client, mode):
    r = client.post("/search", json={"query": "spark join window", "mode": mode, "limit": 5})
    assert r.status_code == 200
    rows = r.get_json()
    assert 0 < len(rows) <= 5
    for row in rows:
        assert set(row) >= {"chunk_id", "document_id", "document_title", "text", "score",
                            "search_mode"}
        assert row["search_mode"] == mode
    scores = [row["score"] for row in rows]
    assert scores == sorted(scores, reverse=True)


def test_search_invalid_mode_400(client):
    r = client.post("/search", json={"query": "x", "mode": "psychic"})
    assert r.status_code == 400
    assert "Invalid search mode" in r.get_json()["detail"]


_MALFORMED = {
    "null-query": {"query": None},
    "int-query": {"query": 5},
    "text-count": {"count": "abc"},
    "null-count": {"count": None},
    "float-count": {"count": 2.5},
}


# /search/context reads no title_filter, so only /search rejects a bad one.
@pytest.mark.parametrize(
    "path, count, fields",
    [
        *((p, c, f) for p, c in [("/search", "limit"), ("/search/context", "max_tokens")] for f in _MALFORMED.values()),
        ("/search", "limit", {"title_filter": {"a": 1}}),
    ],
    ids=[*(f"{p}-{i}" for p in ["search", "context"] for i in _MALFORMED), "search-object-title-filter"],
)
def test_malformed_search_body_is_a_bad_request(client, path, count, fields):
    body = {"query": "spark"} | {count if k == "count" else k: v for k, v in fields.items()}
    r = client.post(path, json=body)
    assert r.status_code == 400, (r.status_code, r.data)
    assert r.get_json()["detail"]


@pytest.mark.parametrize("mode", ["keyword", "vector", "hybrid"])
def test_search_title_filter(client, mode):
    r = client.post(
        "/search",
        json={"query": "spark", "mode": mode, "limit": 5, "title_filter": "src1"},
    )
    assert r.status_code == 200
    rows = r.get_json()
    assert rows
    for row in rows:
        assert "src1" in row["document_title"]


def test_context_respects_budget(client):
    r = client.post("/search/context", json={"query": "spark join", "max_tokens": 200})
    assert r.status_code == 200
    body = r.get_json()
    assert set(body) >= {"context", "documents_referenced"}
    if body["context"]:
        assert body["context"].startswith("Documents referenced:")


def test_stats_shape(client):
    r = client.get("/stats")
    assert r.status_code == 200
    s = r.get_json()
    assert s["total_documents"] > 0
    assert s["total_chunks"] >= s["total_documents"]
    assert "completed" in s["by_status"]


def test_list_get_document_and_404(client):
    rows = client.get("/documents?limit=5").get_json()
    assert len(rows) == 5
    doc_id = rows[0]["id"]
    d = client.get(f"/documents/{doc_id}")
    assert d.status_code == 200
    detail = d.get_json()
    assert detail["id"] == doc_id and detail["chunk_count"] >= 1
    assert "file_hash" in detail and detail["file_hash"].startswith("sha256:")
    assert client.get("/documents/nope-999").status_code == 404
    # a non-integer limit is the client's error (FastAPI's own check says 422)
    assert client.get("/documents?limit=abc").status_code in (400, 422)
    assert client.get(f"/documents/{doc_id}/chunks?limit=abc").status_code in (400, 422)


def test_document_markdown(client):
    doc_id = client.get("/documents?limit=1").get_json()[0]["id"]
    r = client.get(f"/documents/{doc_id}/markdown")
    assert r.status_code == 200
    assert len(r.get_json()["content"]) > 0


def test_upload_dedup_force_delete_cycle(client):
    body = b"%PDF-1.4 spark streaming watermark aggregation test body"
    r = client.upload("/documents/upload", "spark_guide.pdf", body)
    assert r.status_code == 200
    up = r.get_json()
    assert up["status"] == "completed"
    doc_id = up["document_id"]

    # same bytes again -> skipped
    r2 = client.upload("/documents/upload", "spark_guide.pdf", body)
    assert r2.get_json()["status"] == "skipped"

    # force=true -> reprocess under a fresh id, old id gone
    r3 = client.upload("/documents/upload?force=true", "spark_guide.pdf", body)
    assert r3.get_json()["status"] == "completed"
    new_id = r3.get_json()["document_id"]
    assert new_id != doc_id
    assert client.get(f"/documents/{doc_id}").status_code == 404

    # uploaded doc is searchable via keyword mode
    hits = client.post(
        "/search", json={"query": "watermark aggregation", "mode": "keyword", "limit": 5}
    ).get_json()
    assert any(h["document_id"] == new_id for h in hits)

    # delete -> 404 afterwards
    assert client.delete(f"/documents/{new_id}").status_code == 200
    assert client.get(f"/documents/{new_id}").status_code == 404
    assert client.delete(f"/documents/{new_id}").status_code == 404

    # the same bytes again after the delete -> a fresh upload, not a skip
    r4 = client.upload("/documents/upload", "spark_guide.pdf", body)
    assert r4.get_json()["status"] == "completed"
    assert r4.get_json()["document_id"] not in (doc_id, new_id)
    assert client.get(f"/documents/{new_id}").status_code == 404


def test_upload_rejects_non_pdf(client):
    r = client.upload("/documents/upload", "notes.txt", b"hello")
    assert r.status_code == 400


def test_chunks_endpoints(client):
    doc_id = client.get("/documents?limit=1").get_json()[0]["id"]
    chunks = client.get(f"/documents/{doc_id}/chunks?limit=3").get_json()
    assert 1 <= len(chunks) <= 3
    c0 = chunks[0]
    assert c0["id"] == f"{doc_id}:0" and c0["chunk_index"] == 0
    assert c0["token_count"] >= 1

    one = client.get(f"/chunks/{c0['id']}")
    assert one.status_code == 200 and one.get_json()["text"] == c0["text"]
    assert client.get(f"/chunks/{doc_id}:9999").status_code == 404
    assert client.get("/chunks/garbage").status_code == 404
    # only the canonical ASCII index names a chunk; "²" is no server error
    for idx in ("²", "03", "٣", "00", "٠"):
        assert client.get(f"/chunks/{doc_id}:{idx}").status_code == 404, idx


def test_images_endpoints(client):
    docs = client.get("/documents?limit=10").get_json()
    with_img = next(d for d in docs if int(d["id"]) % 3 == 0)
    imgs = client.get(f"/documents/{with_img['id']}/images").get_json()
    assert len(imgs) == 1
    img = imgs[0]
    assert img["width"] >= 100 and img["height"] >= 100

    one = client.get(f"/images/{img['id']}")
    assert one.status_code == 200 and one.get_json() == img

    raw = client.get(f"/images/{img['id']}/file")
    assert raw.status_code == 200 and len(raw.data) > 0
    assert client.get("/images/img-999999/file").status_code == 404
