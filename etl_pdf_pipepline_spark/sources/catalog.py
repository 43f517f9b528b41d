"""Table catalog over the driver-provided parquet directories.

The reference keeps three hand-synchronized schemas (dataclasses, SQLite DDL,
LanceDB PyArrow — `/root/reference/src/models.py`,
`src/load/sqlite_store.py:44-117`, `src/load/lancedb_store.py:33-47`).
Here the parquet footer IS the schema; this module is just a thin, cached
loader so every operator reads through one code path (and therefore one
place to attach bucketing/partitioning decisions at cluster scale).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_WAREHOUSE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)


def warehouse_path(sf_dir: str, stem: str) -> str:
    """Location of the build-once artifact `stem` derived from the corpus
    at `sf_dir`: `spark-warehouse/{stem}_{tag}` under the repo root, the
    tag being md5 of the corpus's absolute path so distinct corpora never
    share an artifact. The one location rule every persisted index,
    layout, manifest and lake uses."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return os.path.join(_WAREHOUSE_DIR, f"{stem}_{tag}")


_DF_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Column pruning + predicate pushdown are Catalyst's
    job — callers express plain DataFrame ops and the parquet scan shrinks
    to what is actually referenced.

    The scan DataFrame is memoized per (session, dir, table): DataFrames
    are immutable, and rebuilding one re-reads parquet footers over py4j
    (~0.2s per table per query — pure fixed overhead). The memo key
    deliberately carries NO file-stat signature (unlike
    read_parquet_cached below): the source tables are read-only by the
    driver contract (TESTDATA.md), so a per-call stat walk over e.g.
    documents' 1001 files at sf100 would be pure overhead on every query
    construction. Artifact paths that legitimately get rewritten
    (indexes, manifests, layouts) must go through read_parquet_cached,
    whose signature key invalidates on any rewrite."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Pin the session timezone even when the caller supplied its own
    # SparkSession (the driver's correctness gate does): the test tables
    # hold naive timestamps, and every date_format/date_trunc rendering
    # must agree with the (timezone-naive) DuckDB oracle.
    # NB: no default arg to conf.get — an unset conf makes Spark 4 parse
    # and VALIDATE the supplied default ("" -> INVALID_CONF_VALUE).
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), sf_dir, name)
    cached = _DF_CACHE.get(key)
    # Guard against id() reuse after a session is stopped and collected:
    # only serve a cached scan built by THIS live session object; evict
    # on mismatch so dead-session handles don't accumulate (ADVICE r12).
    if cached is not None:
        if cached.sparkSession is spark:
            return cached
        del _DF_CACHE[key]
    df = _read_table(spark, sf_dir, name)
    _DF_CACHE[key] = df
    return df


def pin_events_read_confs(spark: SparkSession) -> None:
    """Pin the two session confs every events-parquet read depends on —
    the ONE place that mutates them (VERDICT r13 ask #6: no conf.set
    inside query functions; routing branches call this load-boundary
    helper instead):

    - `nanosAsLong`: the events clock is parquet TIMESTAMP(NANOS), which
      Spark's vectorized reader rejects — read nanos as raw int64 and
      let _normalize_events_ts rebuild a microsecond timestamp (floor),
      matching how DuckDB/Arrow truncate nanos. Only NANOS-precision
      columns are affected; µs/ntz sources read unchanged.
    - UTC session timezone: _normalize_events_ts's ntz→timestamp cast
      and every downstream window rendering are session-TZ-dependent; a
      caller-supplied non-UTC session must not diverge from the
      timezone-naive oracle (ADVICE r13 #1 — the raw-prune branch used
      to skip this pin).

    Both writes are guarded so the steady-state call is two conf READS
    (no py4j set round-trip, no planner cache invalidation)."""
    # NB: no default arg to conf.get — an unset conf makes Spark 4 parse
    # and VALIDATE the supplied default ("" -> INVALID_CONF_VALUE).
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def table_path(sf_dir: str, name: str) -> str:
    """Where table `name` of the corpus at `sf_dir` lives: the one path
    rule of load_table's Spark scan and of arrow_dataset's driver reads."""
    return os.path.join(sf_dir, f"{name}.parquet")


_ARROW_CACHE: dict[str, Any] = {}


def arrow_dataset(sf_dir: str, name: str) -> Any:
    """A pyarrow dataset over the same files as load_table(…, name), for
    keyed reads of a few rows on the driver with no Spark job. Memoized
    per path, with no file-stat signature, for load_table's reason: the
    source tables are read-only (TESTDATA.md)."""
    import pyarrow.dataset as pads

    path = table_path(sf_dir, name)
    ds = _ARROW_CACHE.get(path)
    if ds is None:
        ds = _ARROW_CACHE[path] = pads.dataset(path, format="parquet")
    return ds


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    if name == "events":
        # Scaled copies (tools/gen_scale.py) store ts as plain int64
        # nanos; an already-timestamp ts (µs) passes through untouched.
        pin_events_read_confs(spark)
        df = spark.read.parquet(path)
        return _normalize_events_ts(df)
    return spark.read.parquet(path)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events clock to a session-TZ TIMESTAMP once, at the
    load boundary, so every downstream unix_millis/date_trunc works on one
    type. Three shapes occur in the wild:
      - bigint: raw int64 nanos (legacy nanosAsLong reads, scaled copies) —
        rebuild a microsecond timestamp (floor), matching DuckDB/Arrow
        nano truncation;
      - timestamp_ntz: parquet timestamp[us] isAdjustedToUTC=false (the
        driver's generator) — cast to TIMESTAMP under the pinned UTC
        session zone, which is bit-for-bit the same instant;
      - timestamp: already normalized, pass through."""
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_stat_signature(sf_dir: str, tables: tuple[str, ...]) -> str:
    """md5 over (path, mtime_ns, size) of every file backing the named
    tables — the cheap freshness tag persisted layouts (bucketed facts,
    LSH band index) store at build time and compare before serving, so a
    corpus regenerated in place invalidates the layout instead of being
    served stale. One stat per file, no data read."""
    import hashlib

    parts: list[str] = []
    for t in tables:
        p = table_path(sf_dir, t)
        if os.path.isdir(p):
            for root, _dirs, files in sorted(os.walk(p)):
                for fn in sorted(files):
                    st = os.stat(os.path.join(root, fn))
                    parts.append(f"{root}/{fn}:{st.st_mtime_ns}:{st.st_size}")
        elif os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def path_stat_signature(path: str) -> str:
    """table_stat_signature for an arbitrary artifact directory (or file):
    md5 over (relpath, mtime_ns, size) of every file under it. One stat
    per file, no data read — ~1 ms per thousand files, vs ~190 ms for the
    spark.read.parquet footer/schema round-trip it lets callers skip."""
    import hashlib

    parts: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for fn in sorted(files):
                try:
                    st = os.stat(os.path.join(root, fn))
                except OSError:
                    continue
                parts.append(f"{root}/{fn}:{st.st_mtime_ns}:{st.st_size}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{path}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


# (session id, abspath) -> (stat signature at read time, scan DataFrame)
_PARQUET_CACHE: dict[tuple[int, str], tuple[str, DataFrame]] = {}


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet memoized per (session, path, file-stat signature).

    Building a parquet scan DataFrame costs a ~190 ms driver round-trip
    (file listing + footer schema inference over py4j) EVERY call — at
    sf0.1 that floor dominated every index-served query's wall (the r11
    profile: serving paths re-reading an unchanged postings/signature/
    manifest layout per query). DataFrames are immutable and the scan's
    InMemoryFileIndex snapshots the listing at creation, so reusing one is
    correct exactly as long as the files it listed are unchanged — which
    is what the stat signature (mtime_ns+size of every file under `path`)
    checks, the same freshness currency the serve-or-build layouts already
    use. Any rewrite/extend/compaction changes the signature and the next
    call re-reads. Lifecycle verbs that read-then-overwrite a path simply
    miss the cache (one extra stat walk, no staleness)."""
    key = (id(spark), os.path.abspath(path))
    sig = path_stat_signature(path)
    hit = _PARQUET_CACHE.get(key)
    # `is spark` guards id() reuse after a stopped session is collected,
    # same as load_table's _DF_CACHE. A mismatch means the entry belongs
    # to a dead session whose id() was recycled — evict it so stale
    # DataFrame handles don't accumulate in long-lived multi-session
    # processes (ADVICE r12).
    if hit is not None:
        if hit[1].sparkSession is not spark:
            del _PARQUET_CACHE[key]
        elif hit[0] == sig:
            return hit[1]
    df = spark.read.parquet(path)
    _PARQUET_CACHE[key] = (sig, df)
    return df


def read_parquet_paths_cached(spark: SparkSession, paths: tuple[str, ...]) -> DataFrame:
    """read_parquet_cached for an EXPLICIT file list (metadata-pruned
    reads, e.g. the z-layout's per-file-box pruning): memoized per
    (session, path tuple, stat signature over exactly those files)."""
    import hashlib

    parts = []
    for p in paths:
        try:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{p}:gone")
    sig = hashlib.md5("|".join(parts).encode()).hexdigest()
    key = (id(spark), "||".join(paths))
    hit = _PARQUET_CACHE.get(key)
    if hit is not None:
        if hit[1].sparkSession is not spark:
            del _PARQUET_CACHE[key]
        elif hit[0] == sig:
            return hit[1]
    df = spark.read.parquet(*paths)
    _PARQUET_CACHE[key] = (sig, df)
    return df


# (abs table dir, col) -> (table stat signature, {abs path: (min, max)} | None)
# In-memory memo over the persisted stats manifest below. The manifest
# holds METADATA derived from the source files (per-file min/max), keyed
# on their stat signature — the same currency as the z-layout's CAS
# boxes; every bench/oracle run still computes results from the parquet
# inputs.
_RAW_FILE_STATS_CACHE: dict[tuple[str, str], tuple[str, dict | None]] = {}

# Physical parquet types whose min/max stats are exact and totally
# ordered (ADVICE r13 #2): float stats lie under NaN, and binary/string
# stats may be TRUNCATED (inexact bounds) — pruning on those could
# silently drop matching files. Dates/timestamps are stored as INT32/
# INT64 physically but surface as date/datetime objects from pyarrow
# (not JSON-manifest-safe); the two routed probes (o_custkey, user_id)
# are plain integers, so the contract is int-only until a caller needs
# more.
_PRUNABLE_PHYSICAL = ("INT32", "INT64")

# Above this many files, the computed stats are PERSISTED as a CAS
# manifest so no later process repeats the walk (VERDICT r13 #2: a
# 10^5-file corpus must not pay an O(n_files) footer walk on the query
# path — with the manifest, cold-process resolution is one ~1 ms meta
# read). A thread-pool walk was probed and REJECTED: pyarrow footer
# parsing is GIL-bound, and serial beat every pool size at 1001 files
# (serial 0.15-0.21 s vs pool2 0.35 / pool4 0.78 / pool8 1.06 / pool32
# 0.59-0.67 s, warm cache, interleaved) — the scale posture is
# write-once metadata, not parallel recompute.
_RAW_STATS_MAX_SERIAL = 64


def _raw_stats_manifest_root(table_dir: str, col: str) -> str:
    """Warehouse location of the persisted per-file stats manifest for
    (table directory, column) — the at-ingest stats record VERDICT r13
    ask #3 names, reusing the z-layout's CAS-meta pattern. Keyed on the
    absolute source path so distinct corpora never share a record."""
    import hashlib

    tag = hashlib.md5(f"{table_dir}::{col}".encode()).hexdigest()[:10]
    return os.path.join(_WAREHOUSE_DIR, f"raw_stats_{tag}")


def _footer_minmax(fp: str, col: str) -> tuple[int, int] | None:
    """(min, max) of `col` over one parquet file's row groups from the
    footer alone (no data pages), or None when stats are missing or the
    column's physical type is outside the exact-int pruning contract."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    idx = names.get(col)
    if idx is None or md.schema.column(idx).physical_type not in _PRUNABLE_PHYSICAL:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if lo is None:
        return None
    return (int(lo), int(hi))


def _raw_file_stats(sf_dir: str, table: str, col: str) -> dict | None:
    """Per-file min/max of `col` across a raw multi-file table directory.
    Resolution order (each level memoizes into the one above):

    1. in-process cache, keyed on the files' stat signature;
    2. the persisted stats manifest (CAS meta in the warehouse) — a cold
       PROCESS pays one ~1 ms meta read instead of an O(n_files) footer
       walk, the scale-safe posture for 10^5-file corpora (measured at
       sf100/1001 files: 0.053 s vs 0.18-2.9 s for the walk);
    3. the footers themselves (serial — measured faster than any thread
       pool size, see _RAW_STATS_MAX_SERIAL note), after which the
       manifest is (re)committed for directories above the threshold so
       the next cold process takes level 2.

    Returns None when the table is a single file (nothing to prune), the
    column is not exact-int-prunable, or any file lacks min/max stats —
    callers fall back to the plain scan."""
    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    if not os.path.isdir(path):
        return None
    sig = table_stat_signature(sf_dir, (table,))
    key = (path, col)
    hit = _RAW_FILE_STATS_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]

    from .manifest import commit_meta, read_meta

    mroot = _raw_stats_manifest_root(path, col)
    meta = read_meta(mroot) or {}
    if meta.get("source_signature") == sig and meta.get("col") == col:
        raw = meta.get("stats")
        stats = (
            {os.path.join(path, fn): (int(lo), int(hi)) for fn, (lo, hi) in raw.items()}
            if raw is not None
            else None
        )
        _RAW_FILE_STATS_CACHE[key] = (sig, stats)
        return stats

    files = [
        os.path.join(path, fn)
        for fn in sorted(os.listdir(path))
        if fn.endswith(".parquet")
    ]
    stats: dict | None = {}
    pairs = [(fp, _footer_minmax(fp, col)) for fp in files]
    for fp, mm in pairs:
        if mm is None:
            stats = None
            break
        stats[fp] = mm
    _RAW_FILE_STATS_CACHE[key] = (sig, stats)
    # Persist the manifest only when the directory is large enough that a
    # cold footer walk is worth skipping (≤_RAW_STATS_MAX_SERIAL files
    # recompute in single-digit ms — writing a warehouse record for every
    # tiny test corpus would be litter, not a cache).
    if len(files) > _RAW_STATS_MAX_SERIAL:
        try:
            commit_meta(
                mroot,
                {
                    "source_signature": sig,
                    "col": col,
                    "stats": (
                        {os.path.basename(fp): [lo, hi] for fp, (lo, hi) in stats.items()}
                        if stats is not None
                        else None
                    ),
                },
            )
        except OSError:
            pass  # read-only warehouse: level-3 recompute still serves
    return stats


def raw_pruned_files(
    sf_dir: str,
    table: str,
    col: str,
    hi_exclusive=None,
    lo_inclusive=None,
) -> list[str] | None:
    """Manifest-style FILE-level pruning over a RAW table directory (guide
    §6): the file list overlapping `lo_inclusive <= col < hi_exclusive`,
    decided from footer min/max stats BEFORE Spark lists anything — the
    same trick the z-layout's CAS boxes and a lake format's manifests do,
    but sourced from the files themselves, so it needs no maintained
    artifact. Spark's own scan prunes ROW GROUPS only after scheduling one
    task per split; on a selective probe over a many-file table the
    ~4 ms/task dispatch of never-matching files IS the wall (SCALING.md
    sf100 decomposition). Pruning only SHRINKS the read set — callers
    still apply the exact predicate, so results are unchanged by
    construction (rows outside [lo, hi) cannot live in a file whose
    min/max excludes them; parquet stats ignore nulls, and a NULL never
    passes a range predicate). Returns None when the layout can't prune
    (single file, missing stats, or nothing dropped) — callers fall back
    to the plain load_table scan."""
    stats = _raw_file_stats(sf_dir, table, col)
    if not stats:
        return None
    keep = [
        fp
        for fp, (lo, hi) in stats.items()
        if (hi_exclusive is None or lo < hi_exclusive)
        and (lo_inclusive is None or hi >= lo_inclusive)
    ]
    if len(keep) == len(stats) or not keep:
        # Nothing pruned (or predicate matches no file — let the normal
        # scan produce the empty result so plan shape stays ordinary).
        return None
    return keep


# (session id, sf_dir, table, tag) -> (table stat signature, value)
_SCALAR_CACHE: dict[tuple[int, str, str, str], tuple[str, object]] = {}


def table_scalar_cached(spark: SparkSession, sf_dir: str, table: str, tag: str, compute):
    """Memoize a BOUNDED driver-side scalar derived from one source table
    (e.g. max(user_id) for a decile cut) per (session, table, file-stat
    signature). These scalars are properties of the table contents, not of
    the query — recomputing one per query is a whole extra Spark job of
    pure repetition (the r12 floor profile: events_zorder_served paid a
    max(user_id) job on every call). Same staleness currency as every
    serve-or-build layout: any change to the table's files changes the
    signature and forces recompute."""
    key = (id(spark), sf_dir, table, tag)
    sig = table_stat_signature(sf_dir, (table,))
    hit = _SCALAR_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    val = compute()
    _SCALAR_CACHE[key] = (sig, val)
    return val


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so `spark.sql` queries work."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
