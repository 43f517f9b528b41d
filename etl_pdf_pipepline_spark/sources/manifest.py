"""Manifest-committed snapshots over a partitioned parquet lake — the
minimal slice of a table format (Delta/Iceberg) that upgrades
sinks.merge_partitions' per-partition swaps to ATOMIC cross-partition
commits and buys time travel and vacuum for free.

Why this exists: merge_partitions (sources/sinks.py) documents its honest
limit — directory swaps are atomic per partition, so a reader racing a
multi-partition MERGE can see day A new and day B old. The fix every
table format uses is indirection: data files are immutable and
write-once, and the set of live files is named by a single manifest
whose publication is one atomic filesystem operation. Readers resolve
the manifest first, so they see either the whole commit or none of it.

Mechanics here (stdlib-only, single-writer-per-lake documented):

- `_manifests/v{N:08d}.json` maps partition value → relative data-file
  paths. Publication is write-temp + `os.link(tmp, final)` — link(2)
  FAILS if the target exists, which is the compare-and-swap that keeps
  two racing writers from BOTH publishing the same version (os.rename
  would silently clobber). Commits additionally PIN their base version:
  a writer that read version B publishes at exactly B+1, so a commit
  interleaved between its read and its publish makes the link fail
  (ConcurrentCommitError) instead of silently dropping the interleaved
  writer's changes — the optimistic-concurrency retry loop real formats
  run against an object store's conditional-put.
- MERGE writes NEW files beside the old ones (version-prefixed names,
  never overwriting), then publishes a manifest that points touched
  partitions at the new files and carries the untouched partitions'
  entries forward. Old snapshots stay fully readable — time travel —
  until `vacuum` deletes files no kept manifest references.
  `optimize_commit` (small-file compaction) is the same machinery with
  the partitions' own contents as the slice — rows identical, one file
  per partition, atomic, safe beside concurrent disjoint ingest.
- Reads go through `read_snapshot`: resolve manifest → explicit file
  list → `spark.read.option("basePath", root).parquet(*files)` (basePath
  keeps partition-column recovery from the directory names). Listing
  cost is O(manifest), not O(directory walk) — at 100 TB this is also
  why manifests beat file-system listing for planning, the same
  motivation as Iceberg's.
- Manifests optionally carry per-FILE column min/max (`stats_cols` at
  commit time, read from the parquet footers of exactly the files this
  commit wrote — O(new files), never a table scan). `read_snapshot`
  accepts `bounds` and prunes at PLAN time: partition entries by their
  directory value, data files by their committed stats, before Spark
  ever lists or opens anything — Iceberg-style data skipping, one level
  above the row-group skipping parquet footers already give the scan.
  Pruning is a safe superset (files lacking a stat are kept; callers
  still apply the real filter); at lake scale this is the difference
  between planning over a manifest and opening 10^6 footers.
- Manifests carry the table SCHEMA as of each version. Reads pass it
  explicitly (no inference over footers — itself a planning cost at
  10^6 files), so an add-column MERGE evolves the table in place: old
  files project the added columns as null, old versions time-travel at
  their old width, and drops/retypes raise SchemaEvolutionError before
  any staging I/O (add-only evolution, the Delta/Iceberg default).

Concurrency contract: concurrent commits race on the version slot. The
loser of the CAS rebases automatically when the interleaved commits
touched only DISJOINT partitions (both merges land — data files need no
re-staging, only the manifest pointer moves), and raises
MergeConflictError when a commit touched one of its own partitions
(the merged slice is stale; the caller must re-read and re-merge).
Readers never lock.

The same CAS is the repo's ONE artifact-publication protocol: persisted
layouts and indexes (bucketed facts, LSH band index, BM25 corpus
scalars) publish their freshness tags / scalar state through
`commit_meta`/`read_meta` below instead of each hand-rolling a JSON
side-file, so every serve-or-build decision reads an atomically
committed, never-torn record (tests/test_manifest.py proves the
link(2) CAS). Honest scope: the CAS serializes record publication;
full artifact REBUILDS (Spark overwrite of the data path, which
clobbers data and meta together) keep the standard one-builder-per-
artifact contract, and accumulator payloads use `update_meta`'s
pinned-version read-modify-write rather than last-writer-wins.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "_manifests")


def _parse_version(fname: str) -> int:
    """Version encoded in a 'v{N}.json' manifest filename. Parsed
    width-independently (strip 'v' and '.json', not a fixed [1:9]
    slice): f"v{N:08d}" widens past 8 digits at N >= 10^8, and meta
    roots grow one version per streaming micro-batch / update_meta
    call, so fixed-width parsing would silently truncate exactly
    where versions grow unboundedly."""
    return int(fname[1:-5])


def latest_version(root: str) -> int:
    """Highest committed manifest version, 0 if none."""
    d = _manifest_dir(root)
    if not os.path.isdir(d):
        return 0
    vs = [
        _parse_version(f)
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(vs, default=0)


def _read_manifest(root: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(root), f"v{version:08d}.json")) as fh:
        return json.load(fh)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the version this writer was publishing.
    The caller's view of the table is stale; re-read and retry."""


def _commit_manifest(root: str, manifest: dict, base_version: int | None = None) -> int:
    """Atomically publish `manifest` as version base_version+1. Write-temp
    + link(2): link fails if another writer claimed the version first —
    compare-and-swap, not clobber. `base_version` defaults to the latest
    version on disk, but writers that READ table state before composing
    their manifest must pass the version they read (merge_commit exposes
    this as its own base_version param; the CDC path pins it before its
    read_snapshot): linking at exactly base+1 turns an interleaved
    commit into a loud ConcurrentCommitError instead of a silent lost
    update."""
    d = _manifest_dir(root)
    os.makedirs(d, exist_ok=True)
    if base_version is None:
        base_version = latest_version(root)
    version = base_version + 1
    manifest = {**manifest, "version": version}
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    final = os.path.join(d, f"v{version:08d}.json")
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"version {version} at {root} was committed by another writer "
            f"after this one read version {base_version}; re-read and retry"
        ) from None
    finally:
        os.unlink(tmp)
    return version


def _list_partition_files(root: str, partition_col: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(root)):
        if not entry.startswith(partition_col + "="):
            continue
        files = sorted(
            os.path.join(entry, f)
            for f in os.listdir(os.path.join(root, entry))
            if f.endswith(".parquet")
        )
        out[entry] = files
    return out


def _json_stat(v):
    """A footer statistic as a JSON-safe, order-preserving value: ints,
    floats and strs pass through; datetimes/dates become ISO strings
    (lexicographic == chronological at fixed width); anything else
    (bytes, decimals with unknown scale) returns None = no stat — the
    file is simply never pruned on that column. Conservative by design:
    a dropped stat costs a read, a wrong one loses rows."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None


def _collect_file_stats(
    root: str, rels: list[str], stats_cols: tuple
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for `stats_cols`, read from parquet footers.
    Only ever called on the files THIS commit wrote (O(new files), local
    to the writer — the Iceberg write-side stats model; a distributed
    writer would emit these from the write tasks instead). Footers are
    KB-sized; reads fan out on a thread pool. A column missing from a
    file, or any row group without min/max, yields no stat for that
    (file, column) — pruning then keeps the file."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    want = set(stats_cols)

    def one(rel: str) -> tuple[str, dict[str, list]]:
        md = pq.ParquetFile(os.path.join(root, rel)).metadata
        agg: dict[str, list] = {}
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name not in want or name in bad:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    bad.add(name)
                    continue
                lo, hi = _json_stat(st.min), _json_stat(st.max)
                if lo is None or hi is None:
                    bad.add(name)
                    continue
                if name in agg:
                    agg[name] = [min(agg[name][0], lo), max(agg[name][1], hi)]
                else:
                    agg[name] = [lo, hi]
        for name in bad:
            agg.pop(name, None)
        return rel, agg

    with ThreadPoolExecutor(max_workers=min(16, max(1, len(rels)))) as ex:
        return {rel: agg for rel, agg in ex.map(one, rels) if agg}


def _collect_file_rows(root: str, rels: list[str]) -> dict[str, int]:
    """Per-file row counts from parquet footers — same write-side,
    O(new files) collection model as _collect_file_stats. Recorded in
    the manifest under "rows" so COUNT-class queries can be answered
    from metadata alone (Iceberg's record_count; see
    partition_row_counts)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def one(rel: str) -> tuple[str, int]:
        return rel, pq.ParquetFile(os.path.join(root, rel)).metadata.num_rows

    if not rels:
        return {}
    with ThreadPoolExecutor(max_workers=min(16, len(rels))) as ex:
        return dict(ex.map(one, rels))


def init_versioned_lake(
    df: DataFrame,
    root: str,
    partition_col: str,
    stats_cols: tuple = (),
    cluster_col: str | None = None,
    cluster_files: int | None = None,
) -> int:
    """v1 bootstrap: write the partitioned lake, commit a manifest
    naming every file. Overwrites any prior lake at `root`.

    `cluster_col` range-clusters rows WITHIN each partition's files
    (repartitionByRange on (partition, cluster)), which is what makes
    per-file min/max on that column selective — the same reason z-order
    exists for the 2-D case (plans/zorder.py). `cluster_files` sets the
    range-task count and must EXCEED the partition count for within-
    partition splits to exist (k files per partition needs ~k×partitions
    tasks; the default shuffle parallelism rarely does at high partition
    cardinality). `stats_cols` records per-file min/max for those
    columns in the manifest so `read_snapshot(bounds=...)` can skip
    files at plan time."""
    if os.path.isdir(root):
        shutil.rmtree(root)
    if cluster_col and cluster_files:
        part = df.repartitionByRange(
            cluster_files, F.col(partition_col), F.col(cluster_col)
        )
    elif cluster_col:
        part = df.repartitionByRange(F.col(partition_col), F.col(cluster_col))
    else:
        part = df.repartition(F.col(partition_col))
    (
        part.write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(root)
    )
    files = _list_partition_files(root, partition_col)
    all_rels = [rel for rels_ in files.values() for rel in rels_]
    manifest: dict = {
        "partition_col": partition_col,
        "files": files,
        "schema": df.schema.jsonValue(),
        "rows": _collect_file_rows(root, all_rels),
    }
    if stats_cols:
        manifest["stats"] = _collect_file_stats(root, all_rels, stats_cols)
    return _commit_manifest(root, manifest)


def _overlaps(lo, hi, b_lo, b_hi) -> bool:
    """Inclusive interval [lo, hi] intersects inclusive [b_lo, b_hi]
    (None bound = unbounded). Mixed numeric widths compare natively.
    A cross-type comparison (e.g. a str stat against an int bound the
    caller forgot to normalize) keeps the file: pruning must only ever
    shrink the scan, never lose rows to a TypeError-shaped mistake."""
    try:
        if b_lo is not None and hi < b_lo:
            return False
        if b_hi is not None and lo > b_hi:
            return False
    except TypeError:
        return True
    return True


def _norm_bounds(bounds: dict | None) -> dict:
    """Caller bounds normalized into the committed-stats domain:
    datetime/date bounds become ISO strings via _json_stat (stats are
    committed that way), numerics and strings pass through, and a bound
    of a type stats can't carry degrades to unbounded (= no pruning on
    that side) rather than a plan-time TypeError."""
    out = {}
    for col, (lo, hi) in (bounds or {}).items():
        out[col] = (_json_stat(lo), _json_stat(hi))
    return out


def _part_entry_overlaps(value: str, b_lo, b_hi) -> bool:
    """Does a partition directory VALUE (always a string — it comes from
    the 'col=value' dir name) fall inside the caller's bound?

    The compare domain is chosen per-entry: when the entry value and
    every present bound all parse as ints, compare NUMERICALLY — bare
    int partition values ('9' vs '10') are lexicographically misordered
    and a string compare would silently drop live partitions. Otherwise
    compare as strings only when the widths match (fixed-width domains:
    ISO dates, zero-padded ints — lexicographic == logical); on any
    width mismatch the entry is KEPT, so misuse degrades to a full read
    instead of silent row loss (the advertised safe-superset contract)."""
    str_lo = str(b_lo) if b_lo is not None else None
    str_hi = str(b_hi) if b_hi is not None else None
    try:
        iv = int(value)
        n_lo = int(str_lo) if str_lo is not None else None
        n_hi = int(str_hi) if str_hi is not None else None
        return _overlaps(iv, iv, n_lo, n_hi)
    except ValueError:
        pass
    widths = {len(b) for b in (str_lo, str_hi) if b is not None}
    if widths - {len(value)}:
        return True  # mixed-width string domain: keep, don't guess order
    return _overlaps(value, value, str_lo, str_hi)


def snapshot_files(manifest: dict, bounds: dict | None = None) -> list[str]:
    """The snapshot's relative file list, pruned by `bounds`
    ({col: (lo, hi)} inclusive, None = unbounded): partition entries
    whose directory VALUE falls outside a bound on the partition column
    are skipped wholesale; data files whose committed [min, max] for a
    bounded column misses the interval are skipped. Files or columns
    without stats are always kept — pruning is a safe superset and the
    caller still applies the real filter. Pure function of the manifest
    so tests can assert exactly which files a predicate touches.

    Partition-bound comparison picks its domain per entry
    (_part_entry_overlaps): numeric when value and bounds all parse as
    ints (bare-int partition values are lexicographically misordered),
    string when widths match (ISO dates — the lake convention — and
    zero-padded ints), and KEEP-the-entry otherwise, so an
    order-unsafe domain degrades to a full read, never silent row
    loss. File-stat comparison is in the stats' committed domain;
    caller bounds are normalized into it (datetimes → ISO strings)."""
    bounds = _norm_bounds(bounds)
    part_col = manifest["partition_col"]
    stats = manifest.get("stats", {})
    part_bound = bounds.get(part_col)
    out: list[str] = []
    for entry in sorted(manifest["files"]):
        if part_bound is not None:
            if not _part_entry_overlaps(_entry_value(entry), *part_bound):
                continue
        for rel in manifest["files"][entry]:
            keep = True
            file_stats = stats.get(rel, {})
            for col, (b_lo, b_hi) in bounds.items():
                if col == part_col:
                    continue
                st = file_stats.get(col)
                if st is not None and not _overlaps(st[0], st[1], b_lo, b_hi):
                    keep = False
                    break
            if keep:
                out.append(rel)
    return out


# (session id, root, version-or-None, bounds key) -> (root stat signature,
# snapshot DataFrame). Same memoization contract as catalog.
# read_parquet_cached: building the scan costs a ~100-190 ms driver
# round-trip per call (file-list resolution + reader construction +
# analysis), pure repetition while the lake is unchanged; the
# path_stat_signature over the WHOLE root (manifests + data files + DV
# files) is the freshness currency — any commit, compaction, vacuum or
# rewrite changes it and the next call re-resolves. r13 (guide §1: the
# sf0.1 profile put 0.1-0.2 s of every snapshot-served query's wall in
# this construction).
_SNAPSHOT_CACHE: dict[tuple[int, str, int | None, str], tuple[str, DataFrame]] = {}


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    bounds: dict | None = None,
) -> DataFrame:
    from .catalog import path_stat_signature

    bkey = repr(sorted(bounds.items())) if bounds else ""
    key = (id(spark), os.path.abspath(root), version, bkey)
    sig = path_stat_signature(root)
    hit = _SNAPSHOT_CACHE.get(key)
    if hit is not None:
        if hit[1].sparkSession is not spark:
            del _SNAPSHOT_CACHE[key]
        elif hit[0] == sig:
            return hit[1]
    df = _read_snapshot_uncached(spark, root, version, bounds)
    _SNAPSHOT_CACHE[key] = (sig, df)
    return df


def _read_snapshot_uncached(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    bounds: dict | None = None,
) -> DataFrame:
    """The lake as of `version` (default: latest). Resolves the manifest
    to an explicit file list — planning is O(manifest); no directory
    walk; files unreferenced by this version (newer data, vacuum
    stragglers) are invisible by construction. `bounds` prunes the list
    via the manifest's partition values and per-file stats
    (snapshot_files) before Spark opens anything — the caller still
    applies the exact predicate; pruning only shrinks the scan.

    When the manifest carries a committed schema (every commit since
    schema tracking), the read passes it explicitly: no footer sampling
    for inference (at 10^6 files that is itself a planning cost), and
    files written BEFORE an add-column evolution project the added
    columns as null — reads are always in the schema as of `version`,
    so time travel returns the old width for old versions."""
    from pyspark.sql.types import StructType

    manifest = _read_manifest(root, version or latest_version(root))
    rels = snapshot_files(manifest, bounds)
    reader = spark.read.option("basePath", root)
    if "schema" in manifest:
        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    if not rels:
        # Every file pruned: an empty frame with the snapshot's schema
        # (resolved from one file + the partition column).
        all_rels = [r for rs in manifest["files"].values() for r in rs]
        if not all_rels:
            # Snapshot has NO data files at all (a lake bootstrapped
            # empty so a streaming sink can route every batch through
            # the append_commit txn ledger). Only representable with a
            # committed schema — there is no file to resolve one from.
            if "schema" in manifest:
                return spark.createDataFrame([], StructType.fromJson(manifest["schema"]))
            raise ValueError(
                f"snapshot at {root} has no data files and no committed schema"
            )
        return reader.parquet(os.path.join(root, all_rels[0])).limit(0)
    df = reader.parquet(*[os.path.join(root, rel) for rel in rels])
    return _apply_delete_vectors(spark, root, manifest, df)


def _rel_file_expr() -> F.Column:
    """The scanned row's file as a partition-relative path
    ('col=value/part-….parquet'), from the hidden `_metadata` columns.
    This — not the bare file NAME — is the DV identity: partitionBy
    writes the same part-NNNNN-<job-uuid> basename into EVERY partition
    directory a task emits, so basenames collide across partitions and
    only the (partition dir, name) pair is unique within a snapshot."""
    parts = F.split(F.col("_metadata.file_path"), "/")
    return F.concat_ws("/", F.element_at(parts, -2), F.element_at(parts, -1))


def _apply_delete_vectors(
    spark: SparkSession, root: str, manifest: dict, df: DataFrame
) -> DataFrame:
    """Merge-on-read: subtract the snapshot's deletion vectors (committed
    by delete_commit) from a file-scan DataFrame. DVs are FILE-scoped —
    each records (file_rel, key) pairs — so the mask binds to the
    physical file that contained the row when the delete committed:
    a later MERGE/OPTIMIZE that rewrites the file (with the deletion
    materialized, since its slice came through this read path) drops the
    mask with it, and a re-INSERT of the same key lands in a new file
    the DV never names — no tombstone leakage, the exact semantics of
    Delta deletion vectors / Iceberg position deletes. The anti-join's
    right side is the DV row count (delta-sized); AQE broadcasts it, so
    masked reads cost the scan plus a broadcast probe, never a shuffle
    of the table."""
    dels = manifest.get("delete_files")
    if not dels:
        return df
    key = manifest["delete_key"]
    dv = (
        spark.read.parquet(*[os.path.join(root, e["path"]) for e in dels])
        .select(
            F.col("file_rel").alias("__dv_file"), F.col(key).alias("__dv_key")
        )
        .distinct()
    )
    return (
        df.withColumn("__file", _rel_file_expr())
        .join(
            dv,
            (F.col("__file") == F.col("__dv_file"))
            & (F.col(key) == F.col("__dv_key")),
            "left_anti",
        )
        .drop("__file")
    )


class SchemaEvolutionError(RuntimeError):
    """The merged slice's schema is not a valid evolution of the
    table's committed schema: it drops or retypes an existing column.
    Only nullable column ADDITIONS evolve a lake in place — anything
    else needs a rewrite, same contract as Delta/Iceberg's
    add-column-only default."""


def _check_schema_evolution(old: dict, new: dict) -> None:
    """Every committed field must survive into the new schema with the
    same type (new fields may appear anywhere — they read as null from
    pre-evolution files)."""
    new_fields = {f["name"]: f["type"] for f in new.get("fields", [])}
    for f in old.get("fields", []):
        if f["name"] not in new_fields:
            raise SchemaEvolutionError(
                f"column '{f['name']}' present in the committed schema is "
                "missing from the merged slice; drops don't evolve in place"
            )
        if new_fields[f["name"]] != f["type"]:
            raise SchemaEvolutionError(
                f"column '{f['name']}' retyped {f['type']!r} -> "
                f"{new_fields[f['name']]!r}; retypes don't evolve in place"
            )


class MergeConflictError(RuntimeError):
    """A concurrent commit modified one of THIS merge's partitions
    between read and publish. The merged slice was computed from a stale
    snapshot of those partitions — re-read and re-merge; blind retry
    would silently drop the other writer's rows."""


def merge_commit(
    merged_slice: DataFrame,
    root: str,
    partition_col: str,
    changed_partitions: list | None = None,
    max_retries: int = 3,
    base_version: int | None = None,
    stats_cols: tuple = (),
    rows_preserved: bool = False,
) -> int:
    """Versioned MERGE: stage the new contents of every touched
    partition, HARD-LINK the staged files into the live partition dirs
    under collision-free version-prefixed names (old files untouched —
    immutability is what keeps prior snapshots readable), then publish
    one manifest carrying untouched partitions forward. The publication
    is the commit point: a reader sees all touched partitions flip
    together or not at all — the cross-partition atomicity
    sinks.merge_partitions documents as its limit.

    `changed_partitions` (the explicit partition VALUES this CDC batch
    touches, as computed by the merge planner) closes the delete-only
    hole: a batch that deletes EVERY row of a partition produces no
    staging dir for it, so staging-derived discovery would carry the old
    files forward and silently resurrect the deleted rows. Changed
    partitions absent from staging have their manifest entry DROPPED —
    the new snapshot sees them empty while older snapshots still read
    the pre-delete files (time travel preserved; vacuum reclaims them).

    `base_version` is the version the caller's read_snapshot resolved —
    pass it whenever the merged slice was computed from a snapshot (the
    CDC path does), so a commit interleaved between that READ and this
    publish is detected. Omitted, the pin falls back to the latest
    version at entry, which only detects commits interleaved after this
    function starts — a narrower window that silently absorbs anything
    earlier (the r8 review's lost-update finding).

    The manifest is linked at exactly base+1. A commit interleaved after
    the pin loses the version-slot CAS and is handled by the same
    optimistic-concurrency rule every table format runs: if the
    interleaved commit touched a DISJOINT set of partitions, rebase this
    writer's partition entries onto the new head and retry (both merges
    succeed — the common case for e.g. per-day backfill jobs landing on
    different days); if it touched one of THIS merge's partitions, the
    merged slice is stale and the retry would drop the other writer's
    rows, so raise MergeConflictError for the caller to re-read and
    re-merge. Data files need no re-staging on rebase: they are already
    linked under collision-free names, and only the manifest pointer
    moves. Staging itself is per-writer (uuid dir), so concurrent
    disjoint merges never touch each other's staging output.

    `stats_cols` records per-file min/max for the NEWLY written files
    (footer reads, O(new files)); untouched partitions carry their
    existing stats forward and dropped files lose theirs — so a lake
    initialized with stats keeps its data-skipping property across
    every subsequent MERGE.

    `rows_preserved` tags the committed manifest as containing exactly
    the same ROWS as its base (layout-only rewrite — OPTIMIZE sets it).
    Derived artifacts (the materialized rollup view) use the tag via
    `rows_changed_since` to stay fresh across maintenance commits:
    compacting a lake must not force every downstream aggregate back to
    fact scans. The tag is a caller CONTRACT, not something this
    function verifies — only commit paths that are row-identical by
    construction may set it."""
    base_v = latest_version(root) if base_version is None else base_version
    base = _read_manifest(root, base_v)
    # Schema evolution: the merged slice's schema becomes the table's —
    # validated add-only against the committed one, BEFORE any staging
    # I/O. Old files read through the new schema project added columns
    # as null (read_snapshot passes the committed schema explicitly).
    new_schema = merged_slice.schema.jsonValue()
    if "schema" in base:
        _check_schema_evolution(base["schema"], new_schema)
    next_v = base_v + 1
    staging = f"{root.rstrip('/')}__version_staging-{uuid.uuid4().hex}"
    (
        merged_slice.repartition(F.col(partition_col))
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(staging)
    )
    new_entries: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(staging)):
        if not entry.startswith(partition_col + "="):
            continue
        live_dir = os.path.join(root, entry)
        os.makedirs(live_dir, exist_ok=True)
        new_rels = []
        for f in sorted(os.listdir(os.path.join(staging, entry))):
            if not f.endswith(".parquet"):
                continue
            # The version prefix is cosmetic provenance; uniqueness comes
            # from the staged part-file's UUID. A rebase keeps the name.
            name = f"v{next_v:08d}-{f}"
            os.link(os.path.join(staging, entry, f), os.path.join(live_dir, name))
            new_rels.append(os.path.join(entry, name))
        new_entries[entry] = new_rels
    shutil.rmtree(staging)
    # Fully-deleted partitions: drop the entry, don't carry it forward.
    # Matching unescapes the directory names (Spark %XX-escapes special
    # chars in partition values), so a value like 'us east' still matches
    # its 'us%20east' entry instead of silently surviving deletion.
    staged_values = {_entry_value(e) for e in new_entries}
    dropped = {
        e
        for e in base["files"]
        if _entry_value(e) in {str(v) for v in changed_partitions or []}
        and _entry_value(e) not in staged_values
    }
    new_stats = (
        _collect_file_stats(
            root, [rel for rels in new_entries.values() for rel in rels], stats_cols
        )
        if stats_cols
        else {}
    )

    return _publish_merge(
        root,
        partition_col,
        base_v,
        base,
        new_entries,
        dropped,
        max_retries,
        new_stats,
        new_schema,
        rows_preserved,
        _collect_file_rows(
            root, [rel for rels in new_entries.values() for rel in rels]
        ),
    )


def _entry_value(entry: str) -> str:
    """The raw partition VALUE encoded in a 'col=value' directory name,
    reversing Spark's %XX path escaping."""
    from urllib.parse import unquote

    return unquote(entry.split("=", 1)[1])


def _publish_merge(
    root: str,
    partition_col: str,
    base_v: int,
    base: dict,
    new_entries: dict[str, list[str]],
    dropped: set[str],
    max_retries: int,
    new_stats: dict[str, dict[str, list]] | None = None,
    new_schema: dict | None = None,
    rows_preserved: bool = False,
    new_rows: dict[str, int] | None = None,
) -> int:
    """The optimistic-concurrency publish loop (separated from the
    staging/linking so the interleaving can be tested directly): commit
    this merge's partition changes on top of `base_v`; on a lost CAS,
    rebase onto the new head when the interleaved commits touched only
    DISJOINT partitions, raise MergeConflictError when one touched ours.
    File stats follow the file list: carried entries keep the base's
    stats, new files contribute `new_stats`, and stats for files no
    longer referenced are dropped with them (recomputed on rebase from
    the new head, same as the file list). The merged slice's schema is
    re-validated against each rebase head — two writers concurrently
    adding DIFFERENT columns is a conflicting evolution and raises
    (this writer's slice lacks the other's column)."""
    touched = set(new_entries) | dropped
    # Pin the deletion vectors visible when this merge READ its slice.
    # A delete_commit interleaving after the pin leaves `files` untouched
    # (it only adds a vector), so the file-level disjointness check below
    # would happily rebase — but this merge's slice came through the
    # PRE-delete read, and rewriting/dropping a partition the new vector
    # masks would re-materialize the deleted rows and silently drop the
    # committed delete (the carry rule scopes vectors to still-live files,
    # and the rewritten files are new). Detect that on rebase and raise.
    pinned_dv_pairs = {
        (e["path"], rel)
        for e in base.get("delete_files", [])
        for rel in e["files"]
    }
    for _ in range(max_retries + 1):
        files = dict(base["files"])
        files.update(new_entries)
        for entry in dropped:
            files.pop(entry, None)
        manifest = {"partition_col": partition_col, "files": files}
        if rows_preserved:
            manifest["rows_preserved"] = True
        # Carry the streaming txn ledger forward: a MERGE landing between
        # a streaming batch and its crash-replay must not erase the
        # (app_id, batch_id) watermark append_commit dedups against —
        # dropping it here would let the replay double-append.
        if base.get("txn"):
            manifest["txn"] = base["txn"]
        if new_schema is not None:
            manifest["schema"] = new_schema
        stats = {**base.get("stats", {}), **(new_stats or {})}
        live = {rel for rels in files.values() for rel in rels}
        if stats:
            manifest["stats"] = {r: s for r, s in stats.items() if r in live}
        rows = {**base.get("rows", {}), **(new_rows or {})}
        if rows:
            manifest["rows"] = {r: n for r, n in rows.items() if r in live}
        # Deletion-vector carry: scope each vector to its still-live
        # files. A rewritten file got its masked rows materialized (the
        # merge slice came through the masked read), so its mask rides
        # out with it; vectors left naming no live file vanish — this is
        # what makes purge_deletes a plain rows_preserved merge.
        carried = []
        for e in base.get("delete_files", []):
            kept = [rel for rel in e["files"] if rel in live]
            if kept:
                carried.append({"path": e["path"], "files": kept})
        if carried:
            manifest["delete_files"] = carried
            manifest["delete_key"] = base["delete_key"]
        try:
            return _commit_manifest(root, manifest, base_version=base_v)
        except ConcurrentCommitError:
            new_head = latest_version(root)
            head = _read_manifest(root, new_head)
            if new_schema is not None and "schema" in head:
                _check_schema_evolution(head["schema"], new_schema)
            conflicting = [
                e
                for e in touched
                if head["files"].get(e) != base["files"].get(e)
            ]
            if conflicting:
                raise MergeConflictError(
                    f"concurrent commit at {root} modified partition(s) "
                    f"{sorted(conflicting)} this merge also changes; "
                    "re-read the table and re-merge"
                ) from None
            # Vectors committed since this merge's read that mask a file
            # in a partition we rewrite/drop: the delete would be lost
            # (see pinned_dv_pairs above). The reverse race already
            # raises in delete_commit; this direction must too.
            dv_conflicts = sorted(
                {
                    rel.split("/", 1)[0]
                    for e in head.get("delete_files", [])
                    for rel in e["files"]
                    if (e["path"], rel) not in pinned_dv_pairs
                    and rel.split("/", 1)[0] in touched
                }
            )
            if dv_conflicts:
                raise MergeConflictError(
                    f"concurrent delete_commit at {root} masked rows in "
                    f"partition(s) {dv_conflicts} this merge rewrites from "
                    "a pre-delete read; re-read the table and re-merge"
                ) from None
            base_v, base = new_head, head  # disjoint: rebase and retry
    raise ConcurrentCommitError(
        f"gave up after {max_retries} rebases at {root}: the version slot "
        "kept being claimed by other writers"
    )


def append_commit(
    batch_df: DataFrame,
    root: str,
    partition_col: str,
    txn: tuple[str, int] | None = None,
    stats_cols: tuple = (),
    max_retries: int = 10,
) -> int:
    """Append-only commit — the streaming-sink verb: link the batch's
    files into their partition dirs and publish a manifest whose touched
    entries are EXTENDED (old files carried + new added), never
    replaced. Appends commute, so a lost CAS always rebases and retries
    — there is no MergeConflictError here by construction, which is why
    a continuous ingest can run beside CDC merges and OPTIMIZE.

    `txn` = (app_id, batch_id) is the idempotence ledger (Delta's
    txnAppId/txnVersion): the manifest records the highest batch_id
    committed per app, and a replayed batch (foreachBatch re-delivery
    after a restart — Structured Streaming is at-least-once into
    foreachBatch) is detected and skipped, upgrading the sink to
    exactly-once across restarts. A replay detected AFTER this writer
    staged its files leaves orphans no manifest references; vacuum
    reclaims them, same as any aborted commit.

    Bootstraps an empty lake (no manifest yet) from the first batch.
    Schema follows the same add-only evolution contract as MERGE."""
    base_v = latest_version(root)
    base = (
        _read_manifest(root, base_v)
        if base_v > 0
        else {"partition_col": partition_col, "files": {}}
    )
    new_schema = batch_df.schema.jsonValue()
    if txn is not None and int(base.get("txn", {}).get(txn[0], -1)) >= int(txn[1]):
        return base_v  # duplicate delivery: this batch already committed
    if "schema" in base:
        _check_schema_evolution(base["schema"], new_schema)

    staging = f"{root.rstrip('/')}__append_staging-{uuid.uuid4().hex}"
    (
        batch_df.repartition(F.col(partition_col))
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(staging)
    )
    new_entries: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(staging)):
        if not entry.startswith(partition_col + "="):
            continue
        live_dir = os.path.join(root, entry)
        os.makedirs(live_dir, exist_ok=True)
        new_rels = []
        for f in sorted(os.listdir(os.path.join(staging, entry))):
            if not f.endswith(".parquet"):
                continue
            name = f"a{base_v + 1:08d}-{f}"  # unique via the part-file UUID
            os.link(os.path.join(staging, entry, f), os.path.join(live_dir, name))
            new_rels.append(os.path.join(entry, name))
        if new_rels:
            new_entries[entry] = new_rels
    shutil.rmtree(staging)
    new_stats = (
        _collect_file_stats(
            root, [rel for rels in new_entries.values() for rel in rels], stats_cols
        )
        if stats_cols
        else {}
    )
    new_rows = _collect_file_rows(
        root, [rel for rels in new_entries.values() for rel in rels]
    )

    for _ in range(max_retries + 1):
        if txn is not None and int(base.get("txn", {}).get(txn[0], -1)) >= int(txn[1]):
            return latest_version(root)  # lost a race to our own replay
        if "schema" in base:
            _check_schema_evolution(base["schema"], new_schema)
        files = {e: list(rels) for e, rels in base["files"].items()}
        for entry, rels in new_entries.items():
            files[entry] = sorted(files.get(entry, []) + rels)
        manifest: dict = {
            "partition_col": partition_col,
            "files": files,
            "schema": new_schema,
        }
        if txn is not None:
            manifest["txn"] = {**base.get("txn", {}), txn[0]: int(txn[1])}
        elif "txn" in base:
            manifest["txn"] = base["txn"]
        # Appends rewrite nothing, so outstanding deletion vectors carry
        # forward verbatim — dropping them here would resurrect deleted
        # rows in the very next snapshot.
        if base.get("delete_files"):
            manifest["delete_files"] = base["delete_files"]
            manifest["delete_key"] = base["delete_key"]
        live = {rel for rels in files.values() for rel in rels}
        stats = {**base.get("stats", {}), **new_stats}
        if stats:
            manifest["stats"] = {r: s for r, s in stats.items() if r in live}
        rows = {**base.get("rows", {}), **new_rows}
        if rows:
            manifest["rows"] = {r: n for r, n in rows.items() if r in live}
        try:
            return _commit_manifest(root, manifest, base_version=base_v)
        except ConcurrentCommitError:
            base_v = latest_version(root)
            base = _read_manifest(root, base_v)  # appends commute: rebase
    raise ConcurrentCommitError(
        f"gave up after {max_retries} rebases at {root}: the version slot "
        "kept being claimed by other writers"
    )


def optimize_commit(
    spark: SparkSession,
    root: str,
    partition_values: list | None = None,
    stats_cols: tuple = (),
) -> int:
    """OPTIMIZE: compact the current snapshot's files to one per
    partition, published as a new manifest version — rows identical,
    layout better. Built ON merge_commit: the 'merged slice' is the
    partitions' own current contents (repartitioned onto the partition
    column → one write task → one file each), the base is pinned at the
    snapshot that was read, so data landing concurrently in an optimized
    partition raises MergeConflictError instead of being compacted away
    (and concurrent writes to OTHER partitions rebase cleanly — a real
    lake runs compaction and ingest side by side). Readers of older
    versions still see the small files (time travel); vacuum reclaims
    them once the retention window passes.

    `partition_values` scopes the rewrite (default: every partition);
    `stats_cols` recomputes per-file stats for the compacted files so a
    stats-carrying lake keeps its data-skipping property. Cost is
    O(rewritten partitions) — a 100 TB lake compacts yesterday's ingest
    without touching years of history, and each partition's rewrite is
    an independent task (cluster-parallel, no cross-partition shuffle
    beyond the one partition-column exchange)."""
    base_v = latest_version(root)
    manifest = _read_manifest(root, base_v)
    part_col = manifest["partition_col"]
    snap = read_snapshot(spark, root, base_v)
    if partition_values is not None:
        values = [str(v) for v in partition_values]
        snap = snap.filter(F.col(part_col).cast("string").isin(values))
    else:
        values = sorted({_entry_value(e) for e in manifest["files"]})
    return merge_commit(
        snap,
        root,
        part_col,
        changed_partitions=values,
        base_version=base_v,
        stats_cols=stats_cols,
        rows_preserved=True,
    )


def fragmented_partitions(root: str, max_files: int) -> list[str]:
    """Partition VALUES whose latest-snapshot file count exceeds
    `max_files` — read from the manifest alone, O(manifest), no
    directory listing. This is the compaction policy's input: a
    continuously-appended lake accumulates one file per touched
    partition per micro-batch, and the manifest already knows exactly
    where the small-files debt is."""
    m = _read_manifest(root, latest_version(root))
    return sorted(
        _entry_value(e) for e, rels in m["files"].items() if len(rels) > max_files
    )


def maintain_lake(
    spark: SparkSession,
    root: str,
    *,
    max_files_per_partition: int = 4,
    vacuum_keep: int = 2,
    stats_cols: tuple | None = None,
) -> dict:
    """One lake-maintenance pass — the autopilot a 100 TB lake runs on a
    schedule instead of a human picking partitions (Delta's OPTIMIZE +
    auto-compact policy, expressed on this manifest layer):

    1. read the manifest, find partitions above the small-files
       threshold (`fragmented_partitions`, O(manifest));
    2. compact ONLY those via a scoped `optimize_commit` — an atomic,
       `rows_preserved`-tagged manifest version, so concurrent disjoint
       ingest rebases cleanly and derived aggregates (the rollup views)
       stay fresh across the pass; skipped entirely when nothing is
       fragmented (no empty commits);
    3. vacuum files unreferenced by the retention window.

    `stats_cols` defaults to the columns the manifest ALREADY carries
    stats for, so a data-skipping lake keeps its skipping property
    through maintenance without the caller re-declaring the columns.
    Cost: O(fragmented partitions) rewrite + O(manifest) planning —
    yesterday's ingest debt, never years of history. Returns a report
    dict: optimized partition values, the new version (None if no
    compaction was needed), and the vacuumed file count."""
    m = _read_manifest(root, latest_version(root))
    if stats_cols is None:
        stats_cols = tuple(
            sorted({c for st in m.get("stats", {}).values() for c in st})
        )
    frag = fragmented_partitions(root, max_files_per_partition)
    report: dict = {
        "optimized_partitions": frag,
        "optimize_version": None,
        "vacuumed_files": 0,
    }
    if frag:
        report["optimize_version"] = optimize_commit(
            spark, root, partition_values=frag, stats_cols=stats_cols
        )
    report["vacuumed_files"] = len(vacuum(root, keep_versions=vacuum_keep))
    return report


def changed_files(root: str, from_version: int, to_version: int) -> tuple[list[str], list[str]]:
    """(added, removed) relative data-file lists between two committed
    versions — the O(manifest) planning core of the change-data-feed
    reader (Delta's `table_changes` / Iceberg's incremental scan, on
    this layer). Copy-on-write commits rewrite whole partition
    directories, so the physical delta between two versions is exactly
    the file sets referenced by one manifest and not the other; a CDF
    reader then opens ONLY those files (O(changed partitions) I/O,
    never O(lake)) and classifies rows by joining the removed-side and
    added-side reads. Pure manifest arithmetic: two KB-sized JSON reads,
    no directory walk, no data I/O."""
    old = set(snapshot_files(_read_manifest(root, from_version)))
    new = set(snapshot_files(_read_manifest(root, to_version)))
    return sorted(new - old), sorted(old - new)


def read_file_list(
    spark: SparkSession, root: str, rels: list[str], version: int
) -> DataFrame:
    """Open an explicit subset of `version`'s files in that version's
    committed schema — the data plane under changed_files. basePath-aware
    so partition-directory values survive the explicit-file read, and
    schema-pinned so a CDF read across an add-column evolution projects
    each side in its own width (old side: added columns null), exactly
    like read_snapshot's time-travel contract. An empty list returns an
    empty frame in the version's schema, so a partition that existed on
    only one side diffs cleanly."""
    from pyspark.sql.types import StructType

    manifest = _read_manifest(root, version)
    schema = StructType.fromJson(manifest["schema"]) if "schema" in manifest else None
    if not rels:
        if schema is None:
            raise ValueError(f"empty file list for {root} v{version} without a schema")
        return spark.createDataFrame([], schema)
    reader = spark.read.option("basePath", root)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*[os.path.join(root, rel) for rel in rels])


def partition_row_counts(
    spark: SparkSession, root: str, version: int | None = None
) -> dict[str, int] | None:
    """COUNT(*) per partition served from METADATA: sum the manifest's
    per-file row counts (recorded from parquet footers at commit time,
    Iceberg's record_count model) and subtract outstanding deletion-
    vector rows — no data file is opened. Planning cost is one manifest
    JSON read plus the (delta-sized) DV parquets when masks are
    outstanding; at 100 TB this turns per-partition row accounting — the
    backbone of ingest monitoring, retention audits, and CBO cardinality
    — from a full scan into a metadata lookup. Returns None when any
    live file predates row recording (the caller falls back to a scan:
    a wrong count is never worth a saved read — same conservatism as
    the stats pruning)."""
    manifest = _read_manifest(root, version or latest_version(root))
    rows = manifest.get("rows", {})
    counts: dict[str, int] = {}
    for entry, rels in manifest["files"].items():
        n = 0
        for rel in rels:
            if rel not in rows:
                return None
            n += rows[rel]
        counts[_entry_value(entry)] = n
    dels = manifest.get("delete_files")
    if dels:
        # DV rows are (file_rel, key); the rel path's partition directory
        # maps each mask straight back to its partition. Read driver-side
        # with pyarrow — vectors are delta-sized by construction (bounded
        # by purge cadence) and a Spark job per metadata lookup would
        # cost more than the read (measured 0.64 s job overhead vs ~ms).
        import pyarrow.parquet as pq

        key = manifest["delete_key"]
        live_part = {
            rel: _entry_value(entry)
            for entry, rels in manifest["files"].items()
            for rel in rels
        }
        # Each DV pair carries the number of data rows it matched
        # (n_rows, written by delete_commit); the masked read removes ALL
        # rows matching the pair, so subtracting n_rows — not 1 — keeps
        # metadata counts exact even for non-unique keys. Pre-n_rows DVs
        # (unique-key era) fall back to 1 per pair.
        per_pair: dict[tuple[str, object], int] = {}
        for e in dels:
            t = pq.read_table(os.path.join(root, e["path"]))
            frels = t.column("file_rel").to_pylist()
            keys_ = t.column(key).to_pylist()
            ns = (
                t.column("n_rows").to_pylist()
                if "n_rows" in t.column_names
                else [1] * len(frels)
            )
            for fr, k, n in zip(frels, keys_, ns):
                # distinct-pair semantics: a replayed vector naming the
                # same pair masks the same rows once, not twice
                per_pair[(fr, k)] = max(per_pair.get((fr, k), 0), n)
        per_file: dict[str, int] = {}
        for (file_rel, _k), n in per_pair.items():
            per_file[file_rel] = per_file.get(file_rel, 0) + n
        for file_rel, n in per_file.items():
            part = live_part.get(file_rel)
            if part is not None:
                counts[part] -= n
    return {p: n for p, n in counts.items() if n > 0}


def changed_partitions_between(root: str, from_version: int, to_version: int) -> list[str]:
    """Partition VALUES whose rows may differ between two committed
    versions — changed_files rolled up to partition granularity, PLUS
    partitions whose deletion-vector coverage changed (r11): a
    delete_commit carries the file lists forward UNCHANGED, so a
    file-only diff would report [] across it while the masked read
    differs — a decoupled daemon refreshing from this hand-off would
    then advance its freshness record past a delete it never absorbed
    and serve the deleted rows from the aggregate. DV coverage is
    compared as the set of (vector, masked-file) pairs per partition:
    a vector added (delete) or dropped (purge rewrote the file — the
    file diff catches that partition anyway) both mark the partition.

    This is the hand-off a DECOUPLED maintenance daemon needs: a
    refresher that only observes "the table moved from v_a to v_b"
    recovers exactly the partitions every intervening commit touched
    from the manifests alone (O(manifest), no data I/O, no side-channel
    from the writer). Covers rewrites, appends, deletes, dropped-entry
    partition deletions, and merge-on-read DV deletes; rows_preserved
    layout rewrites DO show up (their partitions changed files), so
    callers that refresh aggregates should route through
    rows_changed_since first — identical rows aggregate identically."""
    old_m = _read_manifest(root, from_version)
    new_m = _read_manifest(root, to_version)
    old_f = {e: sorted(rels) for e, rels in old_m["files"].items()}
    new_f = {e: sorted(rels) for e, rels in new_m["files"].items()}
    touched = {
        e for e in set(old_f) | set(new_f) if old_f.get(e) != new_f.get(e)
    }

    def dv_cover(m: dict) -> dict[str, set]:
        cover: dict[str, set] = {}
        for e in m.get("delete_files", []):
            for rel in e["files"]:
                cover.setdefault(rel.split("/", 1)[0], set()).add((e["path"], rel))
        return cover

    old_dv, new_dv = dv_cover(old_m), dv_cover(new_m)
    touched |= {
        e
        for e in set(old_dv) | set(new_dv)
        if old_dv.get(e, set()) != new_dv.get(e, set())
    }
    return sorted(_entry_value(e) for e in touched)


def delete_commit(
    spark: SparkSession, root: str, keys: DataFrame, key_col: str
) -> int:
    """Merge-on-read DELETE: commit a deletion-vector version instead of
    rewriting data files. Where merge_commit materializes a delete by
    rewriting every touched partition (copy-on-write — write cost
    O(touched partitions) even for one row), this writes only a small
    (file_rel, key) parquet under `_deletes/` plus a manifest that
    carries the data-file list FORWARD UNCHANGED — commit cost O(delete
    batch), the Delta deletion-vector / Iceberg position-delete
    trade: cheap deletes now, a read-side anti-join until
    purge_deletes materializes them.

    The DV is file-scoped: the keys are located by scanning ONLY the
    partitions the key batch names (`keys` should carry the partition
    column — CDC delete feeds do) with the hidden `_metadata` columns,
    so each mask row binds to the physical file holding the victim row.
    Keys matching no live row commit nothing and return the base
    version (idempotent replays are free). Reads of PRIOR versions are
    untouched (time travel shows the rows); reads of this version and
    later subtract the vectors until a rewrite drops them."""
    base_v = latest_version(root)
    base = _read_manifest(root, base_v)
    part_col = base["partition_col"]
    snap = read_snapshot(spark, root, base_v)
    if part_col in keys.columns:
        vals = [str(r[0]) for r in keys.select(part_col).distinct().collect()]
        snap = snap.filter(F.col(part_col).cast("string").isin(vals))
    hits = snap.select(F.col(key_col), _rel_file_expr().alias("file_rel")).join(
        keys.select(key_col).distinct(), key_col
    )
    # One locate pass: `hits` is delta-sized (the delete batch), so pin
    # it with a localCheckpoint — the affected-file listing and the DV
    # write below would otherwise each re-scan the touched partitions.
    # Driver sees only the DISTINCT affected-file list (O(files), bounded
    # by the touched partitions' file counts); the DV rows themselves are
    # written distributed. No data-file rewrite anywhere — the point of
    # merge-on-read.
    hits = hits.localCheckpoint(eager=True)
    affected_rels = sorted(r[0] for r in hits.select("file_rel").distinct().collect())
    if not affected_rels:
        return base_v
    rel_dv = os.path.join("_deletes", f"dv-{base_v + 1:08d}-{uuid.uuid4().hex[:8]}")
    # One DV row per (file, key) pair, carrying how many data rows the
    # pair matched: the masked read anti-joins the PAIR (removing every
    # matching row), so metadata-served counts must subtract n_rows, not
    # 1 — with a non-unique key the two would otherwise disagree.
    (
        hits.groupBy("file_rel", key_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(root, rel_dv))
    )
    # Optimistic-concurrency publish: a DV commutes with any commit that
    # keeps its masked files live (appends always; merges/OPTIMIZE of
    # OTHER partitions), so a lost CAS rebases onto the new head and
    # retries — the same rule the other commit verbs run. If an
    # interleaved commit REWROTE a masked file, this vector's row
    # locations are stale (the rewrite may even have been a purge that
    # materialized other masks); raise MergeConflictError for the caller
    # to re-read and re-delete — re-running is cheap (O(delta) locate)
    # and naturally idempotent (already-masked rows yield no hits).
    affected = set(affected_rels)
    for _ in range(4):
        manifest = {k: v for k, v in base.items() if k != "rows_preserved"}
        manifest["delete_files"] = base.get("delete_files", []) + [
            {"path": rel_dv, "files": affected_rels}
        ]
        manifest["delete_key"] = key_col
        try:
            return _commit_manifest(root, manifest, base_version=base_v)
        except ConcurrentCommitError:
            head_v = latest_version(root)
            head = _read_manifest(root, head_v)
            head_live = {rel for rels in head["files"].values() for rel in rels}
            if not affected <= head_live:
                raise MergeConflictError(
                    f"concurrent commit at {root} rewrote file(s) this delete "
                    f"masks ({sorted(affected - head_live)}); re-read and re-delete"
                ) from None
            base_v, base = head_v, head  # masked files survive: rebase
    raise ConcurrentCommitError(
        f"gave up after 4 rebases at {root}: the version slot kept being claimed"
    )


def purge_deletes(
    spark: SparkSession, root: str, stats_cols: tuple | None = None
) -> list[str]:
    """Materialize every outstanding deletion vector: rewrite ONLY the
    partitions holding DV-masked files (the masked read path supplies
    the already-subtracted rows) through the standard merge_commit swap,
    tagged `rows_preserved` — the committed ROWS are identical to the
    base snapshot's masked read, so downstream freshness
    (rows_changed_since, matview maintenance) survives the purge just
    like an OPTIMIZE. The rewrite drops the masked files from the
    manifest, and the DV carry rule (_publish_merge) scopes each vector
    to its still-live files — after a full purge no vector names a live
    file, so `delete_files` disappears and reads are mask-free again.
    `stats_cols` defaults to the columns the manifest already carries
    stats for (maintain_lake's auto-carry rule). Returns the rewritten
    partition values."""
    base_v = latest_version(root)
    base = _read_manifest(root, base_v)
    dels = base.get("delete_files") or []
    if not dels:
        return []
    if stats_cols is None:
        stats_cols = tuple(
            sorted({c for st in base.get("stats", {}).values() for c in st})
        )
    part_col = base["partition_col"]
    affected_vals = sorted(
        {_entry_value(rel.split(os.sep)[0]) for e in dels for rel in e["files"]}
    )
    snap = read_snapshot(spark, root, base_v).filter(
        F.col(part_col).cast("string").isin(affected_vals)
    )
    merge_commit(
        snap,
        root,
        part_col,
        changed_partitions=affected_vals,
        base_version=base_v,
        stats_cols=stats_cols,
        rows_preserved=True,
    )
    return affected_vals


def rows_changed_since(root: str, since_version: int) -> bool:
    """Did any commit AFTER `since_version` change the table's rows?
    Walks the manifest chain (since, latest] — O(commits since), each a
    KB-sized JSON read — returning False only when EVERY intervening
    commit is tagged `rows_preserved` (OPTIMIZE-class layout rewrites).
    A manifest missing from the chain (vacuumed past) is conservatively
    counted as a row change: freshness claims need evidence.

    This is what lets derived artifacts (the materialized rollup view)
    survive lake maintenance: compaction advances the version counter
    without touching rows, and invalidating every downstream aggregate
    on each nightly OPTIMIZE would put the fact-scan cost right back."""
    latest = latest_version(root)
    for v in range(since_version + 1, latest + 1):
        try:
            m = _read_manifest(root, v)
        except (OSError, ValueError):
            return True
        if not m.get("rows_preserved"):
            return True
    return False


META_KEEP_VERSIONS = 16


def commit_meta(root: str, payload: dict) -> int:
    """Publish an artifact's metadata record (freshness tag, corpus
    scalars, build parameters) as the next CAS-committed version under
    `root/_manifests` — the ONE publication protocol every persisted
    artifact in the repo uses (bucketed fact layout, LSH band index,
    BM25 corpus scalars). Compared to the JSON side-files these
    artifacts used to hand-roll, the link(2) CAS serializes record
    publication and readers always see one complete record — there is
    no moment where the meta is deleted but not yet rewritten, which is
    exactly the crash window a mode('overwrite') rewrite of a side-file
    has. (It does NOT make concurrent full REBUILDS of the same
    artifact safe: a Spark overwrite of the data path clobbers data and
    meta together — one builder per artifact, serialized externally.)

    This variant is last-writer-wins: on a lost race it retries at the
    new head. That is correct ONLY for payloads fully recomputable from
    the sources (freshness tags — racing builders of the same source
    produce identical payloads). Payloads carrying running totals must
    use `update_meta` instead, whose pinned-version read-modify-write
    re-applies the delta to the race winner's record.

    `root` may be (inside) a parquet data directory: Spark's file
    listing skips underscore-prefixed entries, so `_manifests` is
    invisible to scans.

    Retention: meta records reference no data files, so old versions
    are pure history; everything older than the last META_KEEP_VERSIONS
    is deleted inline (unlinking a version other writers never link at
    again is safe — the CAS only ever claims latest+1)."""
    while True:
        try:
            v = _commit_manifest(root, {"payload": payload})
            break
        except ConcurrentCommitError:
            continue
    _prune_meta(root, v)
    return v


def update_meta(root: str, fn) -> dict:
    """Read-modify-write a meta record under true CAS: `fn(current)` is
    called with the latest committed payload (None if none) and returns
    the new payload; the commit is PINNED at the version that was read,
    so a concurrent update makes the link fail and `fn` is re-run
    against the winner's payload. This is the accumulator-safe variant
    of commit_meta — last-writer-wins is wrong for payloads that carry
    running totals (BM25's n/total_dl), where losing a race must re-add
    this writer's delta to the other writer's result, not overwrite it.
    Returns the committed payload."""
    while True:
        v = latest_version(root)
        current = None
        if v > 0:
            try:
                current = _read_manifest(root, v).get("payload")
            except (OSError, ValueError):
                current = None
        payload = fn(current)
        try:
            _commit_manifest(root, {"payload": payload}, base_version=v)
            break
        except ConcurrentCommitError:
            continue
    _prune_meta(root, v + 1)
    return payload


def _prune_meta(root: str, latest: int) -> None:
    d = _manifest_dir(root)
    for f in os.listdir(d):
        if (
            f.startswith("v")
            and f.endswith(".json")
            and _parse_version(f) <= latest - META_KEEP_VERSIONS
        ):
            try:
                os.unlink(os.path.join(d, f))
            except OSError:
                pass  # a concurrent committer already pruned it


def read_meta(root: str) -> dict | None:
    """Latest committed metadata payload for the artifact at `root`, or
    None if nothing was ever committed. Reads are lock-free: the CAS
    publication means any version file that exists is complete."""
    v = latest_version(root)
    if v == 0:
        return None
    try:
        return _read_manifest(root, v).get("payload")
    except (OSError, ValueError):
        return None


def meta_matches(root: str, **expected) -> bool:
    """The one freshness test for a build-once artifact: True when the
    latest meta record at `root` exists and carries every `expected` key,
    PRESENT and equal. Presence matters for keys expected as None or
    False: a record written before the key existed must not pass by
    absence (ADVICE r9), so it reads as stale and the caller rebuilds."""
    meta = read_meta(root)
    return meta is not None and all(k in meta and meta[k] == v for k, v in expected.items())


def vacuum(root: str, keep_versions: int = 2) -> list[str]:
    """Delete data files referenced by NO kept manifest (and the expired
    manifests themselves). keep_versions=2 keeps the current and one
    prior snapshot — the retention window during which concurrent
    readers of the old version must finish, same contract as
    `VACUUM ... RETAIN`. Returns the deleted relative paths."""
    latest = latest_version(root)
    keep = {v for v in range(max(1, latest - keep_versions + 1), latest + 1)}
    live: set[str] = set()
    live_dvs: set[str] = set()
    part_col = None
    for v in keep:
        m = _read_manifest(root, v)
        part_col = m["partition_col"]
        for rels in m["files"].values():
            live.update(rels)
        for e in m.get("delete_files", []):
            live_dvs.add(e["path"])
    deleted = []
    for entry in sorted(os.listdir(root)):
        if not entry.startswith(f"{part_col}="):
            continue
        for f in sorted(os.listdir(os.path.join(root, entry))):
            rel = os.path.join(entry, f)
            if f.endswith(".parquet") and rel not in live:
                os.unlink(os.path.join(root, rel))
                deleted.append(rel)
    # Deletion-vector files referenced by no kept manifest (purged or
    # expired) go the same way as unreferenced data files.
    dv_dir = os.path.join(root, "_deletes")
    if os.path.isdir(dv_dir):
        for f in sorted(os.listdir(dv_dir)):
            rel = os.path.join("_deletes", f)
            if rel not in live_dvs:
                shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
                deleted.append(rel)
    d = _manifest_dir(root)
    for f in sorted(os.listdir(d)):
        if f.startswith("v") and f.endswith(".json") and _parse_version(f) not in keep:
            os.unlink(os.path.join(d, f))
    return deleted
