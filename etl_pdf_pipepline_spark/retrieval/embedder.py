"""Pluggable embedding providers (reference Q8).

The reference batches texts 100-at-a-time to the OpenAI embeddings API
(/root/reference/src/transform/embedder.py:38-121, batch size
src/config.py:86). The external API is a side effect, not a semantic, so
the engine ships:

- `HashEmbedder` (default): deterministic, network-free, test-oracle-able.
  embedding[i] = signed hash of (seed=i, token) summed over tokens, unit-
  normalized (FIXTURES.md §6 convention).
- `embed_dataframe`: the Spark-shaped batching — `mapInPandas` so each
  Arrow batch becomes one provider call, the direct analogue of the
  reference's batch loop but partition-parallel instead of sequential.

- `OpenAICompatibleEmbedder` (r6): the real provider slot, stdlib-only
  urllib against any OpenAI-compatible `/embeddings` endpoint — the
  direct analogue of the reference's OpenAI client call
  (embedder.py:60-95), including the `dimensions` param for
  text-embedding-3-* models and 429/5xx retry with backoff. Tested
  end-to-end in tests/test_embedder_provider.py against an in-process
  HTTP server, including through the `embed_dataframe` Spark path
  (executors call the endpoint concurrently — the production shape).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType


class Embedder(Protocol):
    dim: int

    def embed_batch(self, texts: list[str]) -> list[list[float]]: ...


class HashEmbedder:
    """Deterministic hash-projection embedder, dim 16 by default."""

    def __init__(self, dim: int = 16, seed: int = 42):
        self.dim = dim
        self.seed = seed

    def _token_value(self, token: str, i: int) -> float:
        h = hashlib.md5(f"{self.seed}:{i}:{token}".encode()).hexdigest()
        # top 8 hex chars → int, centered to a signed unit-ish value
        v = int(h[:8], 16)
        return (v / 0x7FFFFFFF) - 1.0

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        out = []
        for t in texts:
            toks = sorted({tok for tok in (t or "").lower().split() if tok})
            vec = [
                sum(self._token_value(tok, i) for tok in toks) if toks else 0.0
                for i in range(self.dim)
            ]
            n = math.sqrt(sum(x * x for x in vec))
            out.append([float(x / n) if n > 0 else 0.0 for x in vec])
        return out


class OpenAICompatibleEmbedder:
    """HTTP provider for any OpenAI-compatible embeddings endpoint
    (reference src/transform/embedder.py:60-95 re-expressed without the
    vendor SDK): POST {base_url}/embeddings with {model, input[,
    dimensions]}, parse data[*].embedding ordered by index. Stdlib
    urllib only — picklable, so each Spark task calls the endpoint
    directly from its partition (embed_dataframe), which is exactly how
    a cluster hits a real embedding service: per-executor concurrency,
    batch_size texts per request.

    `api_key_env` names the env var read lazily AT CALL TIME on the
    worker (the reference reads OPENAI_API_KEY the same way); a missing
    key raises only if the server demands auth. Retries: 429 and 5xx
    with exponential backoff (the reference lets the SDK do this);
    other 4xx fail fast with the server's message."""

    def __init__(
        self,
        base_url: str,
        model: str = "text-embedding-3-small",
        dim: int = 16,
        api_key_env: str = "OPENAI_API_KEY",
        timeout_s: float = 30.0,
        max_retries: int = 3,
    ):
        self.base_url = base_url.rstrip("/")
        self.model = model
        self.dim = dim
        self.api_key_env = api_key_env
        self.timeout_s = timeout_s
        self.max_retries = max_retries

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        import json
        import os
        import time
        import urllib.error
        import urllib.request

        if not texts:
            return []
        payload: dict = {"model": self.model, "input": texts}
        if "text-embedding-3" in self.model and self.dim:
            payload["dimensions"] = self.dim
        body = json.dumps(payload).encode()
        headers = {"Content-Type": "application/json"}
        key = os.getenv(self.api_key_env)
        if key:
            headers["Authorization"] = f"Bearer {key}"
        last_err: Exception | None = None
        for attempt in range(self.max_retries + 1):
            req = urllib.request.Request(
                f"{self.base_url}/embeddings", data=body, headers=headers
            )
            try:
                with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                    out = json.loads(resp.read())
                data = sorted(out["data"], key=lambda d: d["index"])
                if len(data) != len(texts):
                    raise ValueError(
                        f"endpoint returned {len(data)} embeddings for {len(texts)} inputs"
                    )
                return [[float(x) for x in d["embedding"]] for d in data]
            except urllib.error.HTTPError as e:
                if e.code == 429 or e.code >= 500:
                    last_err = e
                    time.sleep(min(2.0**attempt * 0.1, 5.0))
                    continue
                detail = e.read().decode(errors="replace")[:500]
                raise RuntimeError(f"embedding endpoint HTTP {e.code}: {detail}") from e
            except (urllib.error.URLError, TimeoutError) as e:
                last_err = e
                time.sleep(min(2.0**attempt * 0.1, 5.0))
        raise RuntimeError(
            f"embedding endpoint unreachable after {self.max_retries + 1} attempts"
        ) from last_err


def embed_dataframe(
    df: DataFrame,
    text_col: str,
    embedder: Embedder | None = None,
    out_col: str = "embedding",
    batch_size: int = 100,
) -> DataFrame:
    """Append an embedding column via Arrow-batched mapInPandas.

    Each partition streams pandas batches; each provider call sees at most
    `batch_size` texts (the reference's API batching, src/config.py:86),
    but partitions embed in parallel across the cluster.
    """
    emb = embedder or HashEmbedder()
    schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(FloatType()), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs: list[list[float]] = []
            texts = pdf[text_col].fillna("").tolist()
            for start in range(0, len(texts), batch_size):
                vecs.extend(emb.embed_batch(texts[start : start + batch_size]))
            pdf = pdf.copy()
            pdf[out_col] = vecs
            yield pdf

    return df.mapInPandas(run, schema=schema)


def embed_query(text: str, embedder: Embedder | None = None) -> list[float]:
    """Driver-side single-query embedding (reference Q7,
    /root/reference/src/retrieve/hybrid_retriever.py:132)."""
    emb = embedder or HashEmbedder()
    return emb.embed_batch([text])[0]
