"""CLI — mirrors the reference's verbs (process/search/stats/list/query;
/root/reference/scripts/run_pipeline.py:46-114) over the Spark engine.

    python -m etl_pdf_pipepline_spark.cli process <pdf_dir>
    python -m etl_pdf_pipepline_spark.cli search "spark joins" --mode hybrid -k 10
    python -m etl_pdf_pipepline_spark.cli stats
    python -m etl_pdf_pipepline_spark.cli list --limit 20
    python -m etl_pdf_pipepline_spark.cli query <registered_query_name>

`delete`/`reprocess` act on immutable tables via the sink rewrites
(sources/sinks.py), so they take an --out directory rather than mutating
the (read-only) test data in place.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from .registry import all_queries
from .retrieval.hybrid import SearchMode, route_topic
from .session import get_spark
from .sources.catalog import DEFAULT_SF_DIR, load_table


def _print_df(df, limit: int = 50) -> None:
    for row in df.limit(limit).collect():
        print(json.dumps(row.asDict(), default=str))


def cmd_process(args) -> int:
    from .pipeline import process_pdf

    spark = get_spark("cli-process")
    chunks = process_pdf(spark, args.directory)
    if args.out:
        chunks.write.mode("overwrite").parquet(args.out)
        print(f"wrote chunks to {args.out}")
    else:
        n = chunks.count()
        print(f"processed {n} chunks (pass --out to persist)")
    return 0


def cmd_search(args) -> int:
    """Search through the same SparkEngine the REST API serves: one JSON
    line per hit, each the REST /search hit object (chunk_id,
    document_id, document_title, text, score, search_mode), ranked by
    score with ties ordered by string id. An invalid query (empty)
    prints the error to stderr and exits 2."""
    from .api.engine import BadRequest, SparkEngine

    spark = get_spark("cli-search")
    try:
        hits = SparkEngine(spark, args.sf_dir).search(args.query, args.mode, limit=args.k)
    except BadRequest as e:
        print(e, file=sys.stderr)
        return 2
    topic = route_topic(args.query)
    if topic:
        print(f"# routed topic: {topic}", file=sys.stderr)
    for h in hits:
        print(json.dumps(h))
    return 0


def cmd_stats(args) -> int:
    spark = get_spark("cli-stats")
    docs = load_table(spark, args.sf_dir, "documents")
    _print_df(
        docs.groupBy("source").agg(
            F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
        ).orderBy("source")
    )
    return 0


def cmd_list(args) -> int:
    spark = get_spark("cli-list")
    docs = load_table(spark, args.sf_dir, "documents")
    _print_df(docs.select("doc_id", "source", "lang", "n_chars").orderBy("doc_id"), args.limit)
    return 0


def cmd_delete(args) -> int:
    """M2/J5: anti-join rewrite of a parquet table minus the victim keys.
    Writes survivors to --out (immutable-lake semantics; the reference
    mutates SQLite in place)."""
    from .sources.sinks import delete_where

    spark = get_spark("cli-delete")
    table = spark.read.parquet(args.table)
    victims = spark.createDataFrame(
        [(v,) for v in args.ids.split(",")], [args.key]
    ).withColumn(args.key, F.col(args.key).cast(dict(table.dtypes)[args.key]))
    survivors = delete_where(table, victims, args.key)
    survivors.write.mode("overwrite").parquet(args.out)
    print(f"kept {survivors.count()} of {table.count()} rows -> {args.out}")
    return 0


def cmd_reprocess(args) -> int:
    """M3: re-chunk + re-embed from a markdown checkpoint table (parquet
    with id/text columns), writing fresh chunks to --out."""
    from .operators.chunker import chunk_documents
    from .retrieval.embedder import embed_dataframe

    spark = get_spark("cli-reprocess")
    docs = spark.read.parquet(args.checkpoint)
    chunks = chunk_documents(docs, args.id_col, args.text_col)
    embedded = embed_dataframe(chunks, "text")
    embedded.write.mode("overwrite").parquet(args.out)
    print(f"wrote {embedded.count()} chunks -> {args.out}")
    return 0


def cmd_query(args) -> int:
    spark = get_spark("cli-query")
    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; known: {sorted(qs)}", file=sys.stderr)
        return 2
    _print_df(qs[args.name](spark, args.sf_dir), args.limit)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_pdf_pipepline_spark")
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("process", help="extract→chunk→embed a PDF directory")
    sp.add_argument("directory")
    sp.add_argument("--out")

    ss = sub.add_parser("search", help="search documents")
    ss.add_argument("query")
    ss.add_argument("--mode", choices=[m.value for m in SearchMode], default="hybrid")
    ss.add_argument("-k", type=int, default=10)

    sub.add_parser("stats", help="corpus statistics")

    sl = sub.add_parser("list", help="list documents")
    sl.add_argument("--limit", type=int, default=20)

    sq = sub.add_parser("query", help="run a registered engine query")
    sq.add_argument("name")
    sq.add_argument("--limit", type=int, default=50)

    sd = sub.add_parser("delete", help="anti-join delete by key into --out")
    sd.add_argument("--table", required=True)
    sd.add_argument("--key", required=True)
    sd.add_argument("--ids", required=True, help="comma-separated victim keys")
    sd.add_argument("--out", required=True)

    sr = sub.add_parser("reprocess", help="re-chunk/re-embed a checkpoint table")
    sr.add_argument("--checkpoint", required=True)
    sr.add_argument("--id-col", default="doc_id")
    sr.add_argument("--text-col", default="text")
    sr.add_argument("--out", required=True)

    args = p.parse_args(argv)
    return {
        "process": cmd_process,
        "search": cmd_search,
        "stats": cmd_stats,
        "list": cmd_list,
        "query": cmd_query,
        "delete": cmd_delete,
        "reprocess": cmd_reprocess,
    }[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
