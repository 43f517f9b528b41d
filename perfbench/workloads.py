"""The benchmark workloads. Each drives the package through its public
functions from one client thread and returns a `Result`.

rag_serve
    A closed loop, one client, against a long-lived `SparkEngine` over a
    seeded corpus: hybrid, keyword and vector search, get_document and
    get_document_chunks, Zipf-drawn repeated queries.
pdf_ingest
    Batches of seeded PDF-like files through `process_pdf` -> `write_table`
    (the chunk lake) -> `persist_index` (the BM25 index).
lake_analytics
    Registry headline queries over a seeded lake, after the ensure_*
    layout builds (as in `bench.py`) that those queries serve from.

Timing. `setup_s` is the session start plus the median of SETUP_REPS
repetitions of the workload's set-up; the first repetition also pays the
JVM's warm-up, the last one leaves the state the timed loop uses. The
timed loop runs whole cycles of ops (a cycle has a fixed mix of op kinds)
until `seconds` have passed, so every run measures the same mix.
Latencies are per op; rates are ops over the time spent in them.
Correctness is checked after the loop against references that do not use
the program.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import corpus
import reference
from probes import OpCounters, SparkProbe, Tracer, process_tree, tree_cpu_s

SETUP_REPS = 2
LAYERS = ("api", "retrieval", "sources", "operators", "plans", "streaming", "spark")

_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    session_start_s: float
    tracer: Tracer
    probe: SparkProbe


@dataclass
class OpRecord:
    kind: str
    index: int
    latency_s: float
    cpu_s: float
    counters: OpCounters
    error: str | None = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    end_to_end: dict[str, tuple[float, str]] = field(default_factory=dict)
    per_layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    wall: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def setup_reps(rep) -> float:
    """Run `rep(i)` SETUP_REPS times; return the median wall."""
    walls = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        rep(i)
        walls.append(time.perf_counter() - t0)
        log(f"set-up repetition {i}: {walls[-1]:.2f}s")
    return median(walls)


def timed_loop(ctx: Ctx, ops: list, start: int, cycle: int, run_op, traced: bool,
               prepare=None) -> list[OpRecord]:
    """Closed loop over ops[start:], whole cycles of `cycle` ops, until
    `ctx.seconds` have passed. `run_op(op)` does one op; `prepare(op)`,
    when given, makes the op's input outside its timing."""
    ctx.tracer.enabled = traced
    tree = process_tree(os.getpid())
    recs: list[OpRecord] = []
    t_end = time.perf_counter() + ctx.seconds
    i = start
    while (i - start) % cycle or not recs or time.perf_counter() < t_end:
        if i >= len(ops):
            raise RuntimeError(f"the op stream of {len(ops)} ops ran out")
        op = ops[i]
        if prepare is not None:
            prepare(op)
        ctx.tracer.op = i
        with ctx.probe.op(op["kind"]) as counters:
            with ctx.tracer.span(f"op.{op['kind']}", "bench"):
                c0 = tree_cpu_s(tree)
                t0 = time.perf_counter()
                run_op(op)
                lat = time.perf_counter() - t0
                cpu = tree_cpu_s(tree) - c0
        recs.append(OpRecord(op["kind"], i, lat, cpu, counters))
        i += 1
    ctx.tracer.enabled = False
    ctx.tracer.op = None
    return recs


def run_phases(ctx: Ctx, ops: list, cycle: int, run_op, prepare=None):
    """The untraced loop, then, in trace runs, a traced loop over the ops
    that follow. Returns (untraced, traced) records."""
    log("timed loop")
    plain = timed_loop(ctx, ops, 0, cycle, run_op, False, prepare)
    traced: list[OpRecord] = []
    if ctx.trace:
        log("traced loop")
        traced = timed_loop(ctx, ops, len(plain), cycle, run_op, True, prepare)
    log(f"{len(plain) + len(traced)} ops done; checking answers")
    return plain, traced


def tally(res: Result, recs: list[OpRecord]) -> None:
    for r in recs:
        res.attempted += 1
        if r.error:
            res.failed += 1
            if len(res.errors) < 20:
                res.errors.append(f"op {r.index} {r.kind}: {r.error}")


def end_to_end(res: Result, setup_s: float, plain: list[OpRecord], primary: list[OpRecord], items: float) -> None:
    """End-to-end metrics of the untraced loop. Per-op cost is CPU time of
    the whole process tree (driver, JVM, Python workers): unlike wall time
    it does not move when another tenant of the host steals CPU. Wall
    latencies are reported with the per-layer metrics."""
    cpu = [r.cpu_s * 1e3 for r in primary]
    wall = [r.latency_s * 1e3 for r in primary]
    res.end_to_end.update({
        "setup_s": (setup_s, "s"),
        "op_cpu_p50_ms": (median(cpu), "ms"),
        "op_cpu_p90_ms": (p90(cpu), "ms"),
        "items_per_cpu_s": (items / sum(r.cpu_s for r in plain), "1/s"),
    })
    res.wall.update({
        "op.wall_p50_ms": (median(wall), "ms"),
        "op.wall_p90_ms": (p90(wall), "ms"),
        "items_per_s": (items / sum(r.latency_s for r in plain), "1/s"),
    })
    res.detail["primary_samples"] = len(primary)


def per_layer(ctx: Ctx, res: Result, plain: list[OpRecord], traced: list[OpRecord], is_primary) -> None:
    """Per-layer metrics every workload reports from its traced loop."""
    tr = ctx.tracer
    prim = [r for r in traced if is_primary(r)]
    res.per_layer.update(res.wall)
    res.per_layer["session.start_s"] = (ctx.session_start_s, "s")
    res.per_layer["op.spark_jobs"] = (median(r.counters.jobs for r in prim), "count")
    res.per_layer["op.exec_ms"] = (median(tr.exec_s(r.index) * 1e3 for r in prim), "ms")
    res.per_layer["op.driver_ms"] = (median((r.latency_s - tr.exec_s(r.index)) * 1e3 for r in prim), "ms")
    for name in ("jobs", "tasks"):
        res.per_layer[f"spark.{name}_per_op"] = (sum(getattr(r.counters, name) for r in traced) / len(traced), "count")
    for name in ("failed_tasks", "cache_builds"):
        res.per_layer[f"spark.{name}"] = (sum(getattr(r.counters, name) for r in traced), "count")
    res.per_layer["spark.cache_hit_ratio"] = (
        sum(1 for r in prim if r.counters.cache_builds == 0) / max(1, len(prim)), "ratio")
    by_layer = tr.self_by_layer({r.index for r in traced})
    wall = sum(r.latency_s for r in traced) or 1.0
    for layer in LAYERS:
        res.per_layer[f"layer.{layer}.self_share"] = (by_layer.get(layer, 0.0) / wall, "ratio")
    p_plain = median(r.latency_s for r in plain if is_primary(r))
    res.per_layer["trace_overhead_ratio"] = (median(r.latency_s for r in prim) / p_plain, "ratio")
    # the per-call breakdown, under the layer names of the functions
    by_kind: dict[str, list[OpRecord]] = {}
    for r in traced:
        by_kind.setdefault(r.kind, []).append(r)
    for kind, recs in by_kind.items():
        res.detail[f"{kind}.spark_jobs"] = median(r.counters.jobs for r in recs)
        res.detail[f"{kind}.exec_ms"] = median(tr.exec_s(r.index) * 1e3 for r in recs)
        res.detail[f"{kind}_ms"] = median(r.latency_s * 1e3 for r in recs)
    res.detail["spans"] = tr.self_by_name()


# ------------------------------------------------------------------ serving


def prepare_serving(work: str, seed: int, tiny: bool) -> corpus.ServingCorpus:
    return corpus.serving_corpus(seed, os.path.join(work, "serving"), 400 if tiny else 6_000)


def run_serving(ctx: Ctx, corp: corpus.ServingCorpus) -> Result:
    from etl_pdf_pipepline_spark.api.engine import SparkEngine

    ops = corpus.op_stream(ctx.seed, corp, 1_000)
    # warm-up requests, one per request kind, come from another seed's
    # stream, so the timed requests are not answered first in set-up
    warm = list({(op["kind"], op.get("mode")): op
                 for op in corpus.op_stream(ctx.seed + 1_000_003, corp, len(corpus.READ_PATTERN))}.values())
    holder: dict = {}

    def rep(i: int) -> None:
        # a fresh engine with its caches released, up to its first answer
        # (the first search builds the cached BM25 index); the first
        # repetition also warms every request path once
        if "engine" in holder:
            holder["engine"].close()
        holder["engine"] = SparkEngine(ctx.spark, corp.dir)
        for op in warm if i == 0 else warm[:1]:
            call_engine(holder["engine"], op)

    setup_s = ctx.session_start_s + setup_reps(rep)
    engine = holder["engine"]
    answers: list = []

    def run_op(op: dict) -> None:
        answers.append(call_engine(engine, op))

    plain, traced = run_phases(ctx, ops, len(corpus.READ_PATTERN), run_op)
    engine.close()
    ref = reference.ServingReference(corp.dir)
    for rec, out in zip(plain + traced, answers):
        rec.error = ref.check(ops[rec.index], out)

    res = Result()
    tally(res, plain + traced)
    end_to_end(res, setup_s, plain, [r for r in plain if r.kind == "search"], len(plain))
    if ctx.trace:
        per_layer(ctx, res, plain, traced, lambda r: r.kind == "search")
    return res


def call_engine(engine, op: dict):
    k = op["kind"]
    if k == "search":
        return engine.search(op["query"], mode=op["mode"])
    if k == "get_document":
        return engine.get_document(op["doc_id"])
    if k == "get_document_chunks":
        return engine.get_document_chunks(op["doc_id"])
    raise ValueError(f"unknown op kind {k!r}")


# ------------------------------------------------------------------- ingest

WARM_BATCH = 10_000  # batch ids from here on are set-up batches


def run_ingest(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from etl_pdf_pipepline_spark import pipeline
    from etl_pdf_pipepline_spark.operators.chunker import chunk_documents
    from etl_pdf_pipepline_spark.retrieval.bm25 import persist_index
    from etl_pdf_pipepline_spark.sources.sinks import write_table

    spark, tr = ctx.spark, ctx.tracer
    files = 12 if ctx.tiny else 120
    vocab = corpus.vocabulary(ctx.seed, 4000)
    base = os.path.join(ctx.work, "ingest")
    batches: dict[int, corpus.PdfBatch] = {}

    def batch(i: int) -> corpus.PdfBatch:
        if i not in batches:
            batches[i] = corpus.pdf_batch(ctx.seed, i, os.path.join(base, f"in{i:05d}"), files, vocab)
        return batches[i]

    def out_paths(i: int) -> tuple[str, str]:
        return os.path.join(base, f"lake{i:05d}"), os.path.join(base, f"index{i:05d}")

    def stage(name: str, layer: str, df, path: str):
        """Traced runs materialize each stage, so each has its own wall."""
        with tr.span(name, layer):
            df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def ingest(i: int) -> None:
        b = batch(i)
        lake, index = out_paths(i)
        if tr.enabled:
            ext = stage("sources.extract_pdf", "sources", pipeline.extract_pdf(spark, b.dir), f"{lake}_s1")
            chunks = stage(
                "operators.chunk_documents", "operators",
                chunk_documents(ext.filter(F.col("error").isNull()), "path", "markdown",
                                carry=["title", "file_hash"]).withColumnRenamed("document_id", "path"),
                f"{lake}_s2")
            embedded = stage("retrieval.embed_chunks", "retrieval", pipeline.embed_chunks(chunks, "text"),
                             f"{lake}_s3")
        else:
            embedded = pipeline.process_pdf(spark, b.dir)
        rows = embedded.withColumn("chunk_id", F.concat_ws(":", "path", F.col("chunk_index").cast("string")))
        write_table(rows, lake, mode="overwrite")
        persist_index(spark.read.parquet(lake), "chunk_id", "text", index)

    for i in range(SETUP_REPS):
        batch(WARM_BATCH + i)  # input generation is not set-up
    setup_s = ctx.session_start_s + setup_reps(lambda i: ingest(WARM_BATCH + i))

    ops = [{"kind": "ingest_batch", "batch": i} for i in range(WARM_BATCH)]
    plain, traced = run_phases(ctx, ops, 1, lambda op: ingest(op["batch"]),
                               prepare=lambda op: batch(op["batch"]))
    for rec in plain + traced:
        rec.error = "; ".join(reference.check_ingest(batches[rec.index], *out_paths(rec.index))) or None

    res = Result()
    tally(res, plain + traced)
    end_to_end(res, setup_s, plain, plain, sum(batches[r.index].n_valid for r in plain))
    if ctx.trace:
        per_layer(ctx, res, plain, traced, lambda r: True)
        done = [batches[r.index] for r in traced]
        res.detail["sources.extract.valid_ratio"] = sum(b.n_valid for b in done) / sum(b.n_files for b in done)
        res.detail["operators.chunks_per_doc"] = sum(b.n_chunks for b in done) / sum(b.n_valid for b in done)
    return res


# ---------------------------------------------------------------- analytics

# bench.py headline queries, at least one per package layer the registry
# reaches, chosen so the layout and index builds they need stay cheap.
ANALYTICS_QUERIES = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "events_zorder_served",
    "ann_cosine_topk",
    "dedup_minhash_signatures",
    "events_sessionization",
    "media_frame_sample",
    "streaming_hourly_rollup",
)


def layer_of(fn) -> str:
    """The package sub-package that owns a registry query function."""
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 2 else "registry"


def prepare_analytics(work: str, seed: int, tiny: bool) -> str:
    lake_dir = os.path.join(work, "lake")
    corpus.lake(seed, lake_dir, 0.001 if tiny else 0.01)
    return lake_dir


def run_analytics(ctx: Ctx, lake_dir: str) -> Result:
    import numpy as np

    from etl_pdf_pipepline_spark.operators.dedup import ensure_minhash_signatures
    from etl_pdf_pipepline_spark.plans.zorder import ensure_zorder_events
    from etl_pdf_pipepline_spark.registry import _REGISTRY, all_queries
    from etl_pdf_pipepline_spark.streaming.events import release_stream_tables

    spark, tr = ctx.spark, ctx.tracer
    registry = all_queries()
    names = ANALYTICS_QUERIES[:3] if ctx.tiny else ANALYTICS_QUERIES

    def run_query(name: str):
        layer = layer_of(registry[name])
        with tr.span(f"analytics.{layer}.{name}", layer):
            return registry[name](spark, lake_dir).toPandas()

    # the bench.py ingest-slot builds the chosen queries read from
    builds = (ensure_zorder_events, ensure_minhash_signatures)

    def rep(i: int) -> None:
        # the ensure_* builds serve-or-build: the first repetition builds,
        # the later ones find the layouts fresh
        for b in builds:
            b(spark, lake_dir)
        for n in names:
            run_query(n)
        release_stream_tables(spark)

    setup_s = ctx.session_start_s + setup_reps(rep)
    rng = np.random.default_rng(np.random.SeedSequence([ctx.seed, 7]))
    ops = [{"kind": str(n)} for _ in range(500) for n in rng.permutation(list(names))]
    first: dict = {}

    def run_op(op: dict) -> None:
        first.setdefault(op["kind"], run_query(op["kind"]))

    plain, traced = run_phases(ctx, ops, len(names), run_op)
    con = reference.lake_connection(lake_dir, corpus.LAKE_TABLES)
    verdict = {n: reference.check_registry_result(con, _REGISTRY[n].oracle, pdf) for n, pdf in first.items()}
    con.close()
    for r in plain + traced:
        r.error = verdict[r.kind]

    res = Result()
    tally(res, plain + traced)
    # one op of the end-to-end metrics is a pass over every query
    passes = [
        OpRecord("pass", k, sum(r.latency_s for r in plain[k : k + len(names)]),
                 sum(r.cpu_s for r in plain[k : k + len(names)]), OpCounters())
        for k in range(0, len(plain), len(names))
    ]
    end_to_end(res, setup_s, plain, passes, len(plain))
    res.detail["analytics_total_s"] = sum(
        median(r.latency_s for r in plain if r.kind == n) for n in names)
    if ctx.trace:
        per_layer(ctx, res, plain, traced, lambda r: True)
        for n in names:
            pre = f"analytics.{layer_of(registry[n])}.{n}"
            recs = [r for r in traced if r.kind == n]
            res.detail[f"{pre}_ms"] = median(r.latency_s * 1e3 for r in recs)
            res.detail[f"{pre}.spark_jobs"] = median(r.counters.jobs for r in recs)
    return res
