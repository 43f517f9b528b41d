"""Tests of the benchmark itself: seeded inputs are reproducible, the
correctness references agree with the program and catch wrong answers, and
every workload runs end to end at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import reference  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _inputs(seed: int, out: str) -> str:
    c = corpus.serving_corpus(seed, os.path.join(out, "serving"), 300)
    corpus.pdf_batch(seed, 0, os.path.join(out, "pdf"), 40, c.vocab)
    corpus.lake(seed, os.path.join(out, "lake"), 0.001)
    ops = corpus.op_stream(seed, c, 50)
    with open(os.path.join(out, "ops.json"), "w") as fh:
        json.dump(ops, fh)
    return _digest(out)


def test_same_seed_same_bytes_and_other_seed_other_bytes(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(7, str(tmp_path / "b"))
    c = _inputs(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_pdf_batch_knows_the_chunker_output(tmp_path):
    from etl_pdf_pipepline_spark.operators.chunker import chunk_text
    from etl_pdf_pipepline_spark.sources.extract import _parse_passthrough

    vocab = corpus.vocabulary(3, 4000)
    b = corpus.pdf_batch(3, 0, str(tmp_path), 80, vocab)
    assert b.n_empty and b.n_not_pdf and b.n_duplicate
    assert b.n_valid + b.n_empty + b.n_not_pdf == b.n_files == 80
    assert any(len(ch) > 4 for ch in b.chunk_texts.values())  # split sections occur
    for path, want in b.chunk_texts.items():
        with open(path, "rb") as fh:
            text, _pages = _parse_passthrough(fh.read())
        assert [c["text"] for c in chunk_text(text)] == want


@pytest.fixture(scope="module")
def serving_ref(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serving"))
    c = corpus.serving_corpus(5, d, 300)
    return c, reference.ServingReference(d)


def test_checker_accepts_the_reference_answer(serving_ref):
    c, ref = serving_ref
    for op in corpus.op_stream(5, c, 20):
        if op["kind"] == "search":
            assert ref.check(op, ref.search(op["query"], op["mode"])) is None


def test_checker_flags_a_perturbed_ranking(serving_ref):
    c, ref = serving_ref
    op = next(o for o in corpus.op_stream(5, c, 20) if o["kind"] == "search" and o["mode"] == "hybrid")
    good = ref.search(op["query"], op["mode"])
    assert len(good) == 10
    swapped = list(good)
    swapped[0], swapped[-1] = swapped[-1], swapped[0]
    assert ref.check(op, swapped) is not None
    rescored = [dict(r) for r in good]
    rescored[3]["score"] += 1e-4
    assert ref.check(op, rescored) is not None
    assert ref.check(op, good[:-1]) is not None


def test_reference_matches_the_engine_formulas(serving_ref):
    """The reference's BM25 and query embedding agree with the program's
    scoring functions on the same inputs."""
    from etl_pdf_pipepline_spark.retrieval.embedder import HashEmbedder

    c, ref = serving_ref
    q = "spark join " + c.vocab[40]
    assert reference.hash_embed(q, 64) == HashEmbedder(dim=64).embed_batch([q])[0]
    ranked = ref.ranking(q, "keyword", 10)
    assert ranked and all(s > 0 for _, s in ranked)
    assert ranked == sorted(ranked, key=lambda p: (-p[1], p[0]))


def test_registry_compare_is_order_insensitive_and_strict():
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.5)) t(k, v, x)"
    pdf = pd.DataFrame({"x": [1.5, 0.5], "k": [2, 1], "v": ["b", "a"]})
    assert reference.check_registry_result(con, sql, pdf) is None
    pdf.loc[0, "x"] = 1.25
    assert reference.check_registry_result(con, sql, pdf) is not None


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", ["rag_serve", "pdf_ingest", "lake_analytics"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", trace, "--tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = spec["per_layer" if trace == "1" else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "rag_serve", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
