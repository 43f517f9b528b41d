"""Structured Streaming over the documents table: streaming near-dup
admission against the persisted LSH band index.

The reference ingests documents one upload at a time and dedups by file
hash (/root/reference/src/pipeline.py:192-220, exact-hash anti-join).
This is the NEAR-dup generalization of that admission gate as a stream:
new documents arrive continuously, and each must be checked against the
whole historical corpus without rescanning it — the corpus is present
only as its persisted (band_id, band_key, doc_id) LSH index
(operators/dedup.py:persist_lsh_band_index).

Why foreachBatch and not a plain stream-static join: banding a document
requires the per-doc MIN aggregate over its shingles, and Spark does not
allow joins downstream of a streaming aggregation. `foreachBatch` is the
standard escape hatch (the same pattern Structured Streaming documents
for stream→table merge): each micro-batch is a BATCH DataFrame, so the
full band-and-join plan — including AQE join-strategy choice — runs
per batch, and decisions land in a checkpointed parquet sink. A document
is one source row, so its shingles never split across batches and the
per-batch aggregate is exact.

Scale posture: per micro-batch the work is O(batch) shingling plus an
equi-join against the index on (band_id, band_key); nothing rescans the
corpus, no text leaves the scan stage, and the admit log is an
append-only lake table partition-compactable like any other."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _INCR_ORACLE, lsh_band_keys, persist_lsh_band_index
from ..registry import query
from ..sources.catalog import stream_table, warehouse_path


@query("streaming_near_dup_ingest", oracle=_INCR_ORACLE)
def streaming_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the delta (doc_id % 20 == 0 plays 'today's arrivals'), band
    each micro-batch, left-join the persisted corpus band index, and
    append per-document admit decisions (n_dup_candidates, min_dup_id)
    to a parquet decision log. Returns the log re-read as a DataFrame.

    Gated against the SAME oracle as the batch near_dup_incremental —
    both sides recomputed live in DuckDB — so a green row proves
    stream-banded ≡ batch-banded ≡ live, the same three-way equivalence
    contract as streaming_partitioned_ingest."""
    idx_path = persist_lsh_band_index(spark, sf_dir, exclude_mod=20)
    idx = spark.read.parquet(idx_path).select(
        "band_id", "band_key", F.col("doc_id").alias("dup_id")
    )

    base = warehouse_path(sf_dir, "stream_neardup")
    shutil.rmtree(base, ignore_errors=True)  # fresh deterministic run per gate
    out = os.path.join(base, "decisions")

    delta = stream_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            lsh_band_keys(batch_df)
            .join(idx, ["band_id", "band_key"], "left")
            .groupBy("doc_id")
            .agg(
                F.countDistinct("dup_id").alias("n_dup_candidates"),
                F.min("dup_id").alias("min_dup_id"),
            )
            .write.mode("append")
            .parquet(out)
        )

    q = (
        delta.writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(out):
        # Empty delta → foreachBatch never fired → no decision log. An
        # empty typed frame keeps the contract (schema-stable, 0 rows)
        # instead of a missing-path read error.
        schema = (
            "doc_id bigint, n_dup_candidates bigint, min_dup_id bigint"
        )
        return spark.createDataFrame([], schema)
    return spark.read.parquet(out).orderBy("doc_id")
