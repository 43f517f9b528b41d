"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of this repository. It generates the
workload's inputs from the seed under `.perfbench_work/`, starts one local
Spark session with `local[<cpus>]`, runs the workload from one client
thread, checks every answer against an independent reference, and prints
one JSON object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones from a traced run. Every run also writes its spans, a
per-call breakdown, nproc and the load average to `.perfbench_out/`. The
exit code is 0 only when every op was correct. BENCHMARK.json lists the
workloads and metrics; workloads.py says how each is measured.

`--workload pdf_ingest` runs as well but is not in BENCHMARK.json: on a
4-core host its runs would not fit the benchmark's time budget beside the
other two.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import workloads
from probes import RssSampler, SparkProbe, Tracer, process_tree, wrap_spark_actions

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_pdf_pipepline_spark"
WORKLOADS = ("rag_serve", "pdf_ingest", "lake_analytics")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="small inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def _isolate_temp_files(tmp: str) -> None:
    """Keep every temporary file and directory inside the checkout: the
    JVM, Spark's scratch space, Python workers, and driver-side mkdtemp
    calls that name another parent directory."""
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    mkdtemp = tempfile.mkdtemp

    def mkdtemp_here(suffix=None, prefix=None, dir=None):
        return mkdtemp(suffix, prefix, tmp)

    tempfile.mkdtemp = mkdtemp_here


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started (the JVM and its Python workers) has exited."""
    own = os.getpid()
    spawned = [p for p in process_tree(own) if p != own]
    gateway = None
    try:
        gateway = spark.sparkContext._gateway
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 20
        alive = spawned
        while alive and time.time() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    _isolate_temp_files(tmp)
    warehouse = os.path.join(ROOT, "spark-warehouse")
    wh_before = set(os.listdir(warehouse)) if os.path.isdir(warehouse) else None
    load_start = os.getloadavg()
    started: dict = {}
    try:
        res, peak_rss, spans = _run(args, work, tmp, started)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if "spark" in started:
            _stop_spark(started["spark"])
        shutil.rmtree(work, ignore_errors=True)
        if wh_before is not None or os.path.isdir(warehouse):
            for entry in set(os.listdir(warehouse)) - (wh_before or set()):
                shutil.rmtree(os.path.join(warehouse, entry), ignore_errors=True)
            if wh_before is None and not os.listdir(warehouse):
                os.rmdir(warehouse)

    workloads.log("stopped")
    attempted = max(1, res.attempted)
    if args.trace:
        metrics = res.per_layer
    else:
        metrics = dict(res.end_to_end)
        metrics["peak_rss_mb"] = (peak_rss / 2**20, "MB")
        metrics["ok_ratio"] = ((res.attempted - res.failed) / attempted, "ratio")
    correct = res.failed == 0 and res.attempted > 0
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "load_start": load_start, "load_end": os.getloadavg(),
        "errors": res.errors, "detail": res.detail, "metrics": {k: v[0] for k, v in metrics.items()},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({**summary, "spans": spans}, fh)
    for e in res.errors:
        print(f"perfbench: incorrect: {e}", file=sys.stderr)
    workloads.log(json.dumps({k: v for k, v in summary.items() if k not in ("detail", "metrics")}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def _run(args, work: str, tmp: str, started: dict):
    cpus = len(os.sched_getaffinity(0))
    if args.workload == "rag_serve":
        prepared = workloads.prepare_serving(work, args.seed, args.tiny)
        data_dir = None
    elif args.workload == "lake_analytics":
        prepared = workloads.prepare_analytics(work, args.seed, args.tiny)
        data_dir = prepared
    else:
        prepared = data_dir = None

    from etl_pdf_pipepline_spark.session import get_spark

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = started["spark"] = get_spark(
            f"perfbench-{args.workload}",
            master=f"local[{cpus}]",
            data_dir=data_dir,
            extra_conf={
                # a fixed, pre-touched heap: the JVM's resident size does
                # not depend on when its collector grows the heap
                "spark.driver.memory": "2g",
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_start_s = time.perf_counter() - t0
        workloads.log(f"session started in {session_start_s:.2f}s")
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer()
        _wrap_layers(tracer)
        wrap_spark_actions(tracer)
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, bool(args.trace), args.tiny,
                            session_start_s, tracer, SparkProbe(spark, count=bool(args.trace)))
        try:
            if args.workload == "rag_serve":
                res = workloads.run_serving(ctx, prepared)
            elif args.workload == "pdf_ingest":
                res = workloads.run_ingest(ctx)
            else:
                res = workloads.run_analytics(ctx, prepared)
        finally:
            tracer.restore()
    return res, rss.peak, tracer.dump()


def _wrap_layers(tracer) -> None:
    """Span the public functions of each layer, wherever callers look them
    up (modules that import a function by name hold their own reference)."""
    from etl_pdf_pipepline_spark import pipeline
    from etl_pdf_pipepline_spark.api import engine
    from etl_pdf_pipepline_spark.operators import chunker
    from etl_pdf_pipepline_spark.retrieval import bm25, embedder
    from etl_pdf_pipepline_spark.sources import catalog, sinks

    for m in ("search", "get_document", "get_document_chunks"):
        tracer.wrap(engine.SparkEngine, m, f"api.{m}", "api")
    for owner in (bm25, engine):
        tracer.wrap(owner, "bm25_scores", "retrieval.bm25_scores", "retrieval")
    for owner in (embedder, engine):
        tracer.wrap(owner, "embed_query", "retrieval.embed_query", "retrieval")
    for owner in (catalog, engine):
        tracer.wrap(owner, "load_table", "sources.load_table", "sources")
    tracer.wrap(pipeline, "extract_pdf", "sources.extract_pdf.plan", "sources")
    tracer.wrap(pipeline, "embed_chunks", "retrieval.embed_chunks.plan", "retrieval")
    for owner in (chunker, pipeline):
        tracer.wrap(owner, "chunk_documents", "operators.chunk_documents.plan", "operators")
    tracer.wrap(sinks, "write_table", "sources.write_table", "sources")
    tracer.wrap(bm25, "persist_index", "retrieval.persist_index", "retrieval")


if __name__ == "__main__":
    sys.exit(main())
