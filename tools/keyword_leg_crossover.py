"""Time the index-served keyword leg's two plans at several posting-row
counts: one task (the scanned rows coalesced to one partition) and the
partitioned scan with its GROUP BY shuffle. bm25.SINGLE_TASK_POSTINGS is
placed where they cross.

For each N it builds (once, under work_dir) an N-doc index in which the
4 query terms appear in every document, so the leg reads Σdf = 4N posting
rows. Each round, for each N, it runs 7 top-10 searches per plan and
prints the median wall and process-tree CPU seconds. Usage:

    python tools/keyword_leg_crossover.py work_dir [n_docs,...] [rounds]

Defaults: 125000,250000,375000,500000,1000000,2000000 docs (Σdf 0.5-8 M)
and 2 rounds. The 2 M-doc index takes ~30 s to build on local[4].
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from etl_pdf_pipepline_spark.retrieval import bm25  # noqa: E402
from etl_pdf_pipepline_spark.session import get_spark  # noqa: E402

TERMS = ["alpha", "beta", "gamma", "delta"]


def main() -> None:
    work = sys.argv[1]
    sizes = [int(n) for n in (sys.argv[2] if len(sys.argv) > 2 else "125000,250000,375000,500000,1000000,2000000").split(",")]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = get_spark("keyword_leg_crossover", master="local[4]")
    jvm_stat = f"/proc/{spark._jvm.ProcessHandle.current().pid()}/stat"
    tick = os.sysconf("SC_CLK_TCK")

    def cpu_s() -> float:
        fields = open(jvm_stat).read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / tick + time.process_time()

    paths = {}
    for n in sizes:
        paths[n] = os.path.join(work, f"idx_{n}")
        if not os.path.exists(paths[n] + "/postings"):
            docs = spark.range(n).select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.lit(" ".join(TERMS)),
                    F.concat(F.lit("w"), (F.col("id") % 997).cast("string")),
                    F.concat(F.lit("v"), (F.col("id") % 113).cast("string")),
                ).alias("text"),
            )
            bm25.persist_index(docs, "doc_id", "text", paths[n])
        bm25.bm25_topk_from_index(spark, paths[n], TERMS, 10).collect()  # warm

    def median_run(path: str, limit: int) -> tuple[float, float]:
        bm25.SINGLE_TASK_POSTINGS = limit
        walls, cpus = [], []
        for _ in range(7):
            c, t = cpu_s(), time.perf_counter()
            bm25.bm25_topk_from_index(spark, path, TERMS, 10).collect()
            walls.append(time.perf_counter() - t)
            cpus.append(cpu_s() - c)
        return sorted(walls)[3], sorted(cpus)[3]

    for r in range(rounds):
        for n in sizes:
            rows = sum(bm25._term_df_lookup(paths[n], TERMS).values())
            for plan, limit in (("one_task", rows), ("shuffle", 0)):
                wall, cpu = median_run(paths[n], limit)
                print(f"round {r} sum_df {rows} {plan}: wall_s {wall:.3f} cpu_s {cpu:.2f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
