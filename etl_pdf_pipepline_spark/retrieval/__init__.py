from . import bm25, embedder, hybrid  # noqa: F401
