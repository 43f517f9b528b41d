"""Table sinks + mutation patterns over immutable parquet (reference S8–S11,
M1–M3, J5).

The reference mutates SQLite rows in place under a write lock
(/root/reference/src/load/sqlite_store.py:27,120-172) and deletes with FK
cascades (:229-240). On an immutable columnar lake the same lifecycle is:

- append: plain partitioned write (S8–S11 collapse into one code path —
  the SQLite/LanceDB dual-store split disappears, SURVEY.md §1.3).
- update/delete (M1/M2/J5): anti-join rewrite — keep everything that does
  NOT match the victim keys, overwrite. At scale victims are tiny →
  broadcast anti-join, and with partitioning on the victim key the rewrite
  touches only affected partitions (partition-overwrite, not full table).
- reprocess (M3): delete-then-append = the same rewrite with replacement
  rows unioned in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "append") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def delete_where(table: DataFrame, victims: DataFrame, key: str) -> DataFrame:
    """J5/M2: the surviving rows after deleting every key in `victims`.
    Broadcast left-anti join — victims are small by construction."""
    return table.join(F.broadcast(victims.select(key).distinct()), key, "left_anti")


def upsert(table: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """M1: replace rows by key (anti-join out the old, union the new).
    Columns must match; at scale this is Delta MERGE — the plan shape
    (broadcast anti-join + union) is identical."""
    survivors = table.join(F.broadcast(updates.select(key).distinct()), key, "left_anti")
    return survivors.unionByName(updates)


def merge_partitions(
    merged_slice: DataFrame,
    lake_path: str,
    partition_col: str,
    changed_partitions: list | None = None,
) -> list[str]:
    """Copy-on-write MERGE commit: given the full NEW contents of every
    touched partition, stage them to a sibling dir (one file per
    partition via repartition on the partition column), then swap each
    touched partition directory into the lake. Untouched partitions are
    never listed, read, or rewritten — the property that makes MERGE
    affordable on a 100 TB date-partitioned lake where a CDC batch
    touches a handful of recent days.

    `changed_partitions` is the explicit set of partition VALUES the
    batch touches (the merge planner already knows it). It closes the
    delete-only hole: a batch that deletes EVERY surviving row of a
    partition writes no staging dir for it, so staging-derived discovery
    alone would leave the old directory in place and silently resurrect
    the deleted rows. Changed partitions absent from staging get their
    live directory REMOVED.

    The staging write completes BEFORE any live directory moves, so a
    crash never loses data; each partition's swap is two renames (live →
    __old, staged → live), atomic per partition but not across
    partitions — a reader racing the loop can see day A new and day B
    old. That cross-partition atomicity is exactly what table-format
    manifests (Delta/Iceberg MERGE, sources/manifest.py here) add; on a
    manifest-less parquet lake this is the honest contract."""
    import os
    import shutil
    import uuid

    staging = f"{lake_path.rstrip('/')}__merge_staging-{uuid.uuid4().hex}"
    (
        merged_slice.repartition(F.col(partition_col))
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(staging)
    )
    swapped = []
    staged_entries = set()
    for entry in sorted(os.listdir(staging)):
        if not entry.startswith(partition_col + "="):
            continue
        staged_entries.add(entry)
        live = os.path.join(lake_path, entry)
        old = live + "__old"
        if os.path.exists(live):
            os.rename(live, old)
        try:
            os.rename(os.path.join(staging, entry), live)
        except Exception:
            if os.path.exists(old):
                os.rename(old, live)  # roll this partition back
            raise
        if os.path.exists(old):
            shutil.rmtree(old)
        swapped.append(entry)
    shutil.rmtree(staging)
    # Fully-deleted partitions: remove the live directory. Matching goes
    # through the VALUE (unescaping Spark's %XX path escaping) rather
    # than a raw f'{col}={value}' string, so values with escapable chars
    # ('us east' → 'us%20east') still match instead of resurrecting.
    from urllib.parse import unquote

    staged_values = {unquote(e.split("=", 1)[1]) for e in staged_entries}
    changed_values = {str(v) for v in changed_partitions or []}
    for entry in sorted(os.listdir(lake_path)):
        if not entry.startswith(partition_col + "="):
            continue
        if unquote(entry.split("=", 1)[1]) in changed_values - staged_values:
            shutil.rmtree(os.path.join(lake_path, entry))
            swapped.append(entry)
    return swapped
