"""Incremental materialized-view maintenance on the versioned lake
(round 8) — the serve-marginal lifecycle, applied to AGGREGATES.

Every persisted artifact in this repo now follows build-once /
serve-marginal / invalidate-on-change (LSH band index, BM25 postings,
IVF centroids, the bucketed fact layout). This module closes the last
family: a materialized AGGREGATE over the lake. The reference keeps its
stats endpoint cheap by querying a row store
(/root/reference/src/api/routes/documents.py stats route); at 100 TB the
equivalent rollup is a full fact scan per refresh unless maintenance is
incremental.

The design is partition-scoped incremental view maintenance (the
Hive/BigQuery MV model, which is the one that stays EXACT under
update/delete CDC without retraction bookkeeping):

- the view is `events` rolled up to (event_date, event_type) with exact
  integer-cent totals, stored as its OWN versioned lake partitioned on
  event_date (same manifest CAS commit protocol as the base);
- a CDC MERGE into the base lake reports the partition values it
  touched (the merge planner already computes them); the refresh
  recomputes ONLY those days' group contributions — a manifest-pruned
  snapshot read of the touched partitions, O(delta days), never
  O(lake) — and merge-commits them into the view, dropping a view
  partition whose base day lost every row;
- freshness is a CAS meta record carrying the base-lake version the
  view reflects: serving checks `view base_version == base
  latest_version` and falls back to the fact scan otherwise — the same
  enforced invalidation contract as the bucketed layout
  (plans/bucketed.py bucketed_layout_exists).

Why partition-scoped (not delta-algebra) maintenance: summing a CDC
delta into group totals is only exact for insert-only feeds; updates and
deletes need old-value retraction, which means either change-data with
pre-images or a join against the pre-merge snapshot. Recomputing the
touched partitions needs neither — the base lake's copy-on-write MERGE
already bounds the work to the same partitions it rewrote, and the
result is exact by construction. The refresh cost is the cost the MERGE
itself already paid, once more, on an aggregate a fraction of the size.

Gate: `events_rollup_incremental` answers the post-merge three-day
rollup FROM THE INCREMENTALLY-REFRESHED VIEW against the same
MERGE_ORACLE as events_partitioned_merge / events_versioned_merge — a
green row proves incremental maintenance ≡ full recompute ≡ the
flat-table CDC semantics in SQL. Inode-level incrementality (untouched
view partitions carried forward file-for-file) and the delete-drop /
freshness contracts are asserted in tests/test_matview.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents as _cents
from ..functions.ordering import ordered_small
from ..registry import query
from ..sources.catalog import load_table, warehouse_path
from .partitioned import MERGE_ORACLE, TARGET_DAY, _merge_cdc_batch


def mv_lake_path(sf_dir: str) -> str:
    """Base lake for the matview gate (own path — the gate rebuilds it,
    which would clobber events_versioned_merge's lake mid-session)."""
    return warehouse_path(sf_dir, "events_mv_base")


def rollup_view_path(sf_dir: str) -> str:
    return warehouse_path(sf_dir, "events_rollup_mv")


def _mv_meta_root(sf_dir: str) -> str:
    return rollup_view_path(sf_dir) + "_meta"


def _rollup(facts: DataFrame) -> DataFrame:
    """The view definition: per-(day, type) count + EXACT cent total +
    exact DISTINCT user count. Cents stay integer in storage so
    view-served results are bit-equal to a fact recompute — rounding to
    display dollars happens only at serve time, like every money path
    in the engine.

    `n_users` is deliberately NON-DISTRIBUTIVE: a distinct count cannot
    be folded from a delta (old + new distincts double-count returning
    users), which is exactly why delta-algebra IVM systems either
    forbid it or keep per-group auxiliary state. Partition-scoped
    maintenance stores the FINAL integer and stays exact for free,
    because every refresh recomputes whole days — the design's key
    claim, kept honest by a gated column."""
    return facts.groupBy("event_date", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(_cents("value")).alias("total_cents"),
        F.countDistinct("user_id").alias("n_users"),
    )


def build_rollup_view(
    spark: SparkSession,
    base_root: str,
    sf_dir: str,
    *,
    view_root: str | None = None,
    meta_root: str | None = None,
    agg_fn=None,
) -> int:
    """Full build (the once-per-corpus ingest cost): aggregate the whole
    base snapshot, publish as view v1, record the base version the view
    reflects. One wide shuffle over the facts — the cost incremental
    refresh exists to never pay again. `agg_fn` swaps the view
    definition (default: the daily _rollup; the streaming-served hourly
    face passes _hourly_rollup) — any event_date-carrying aggregate
    maintains identically, because refresh recomputes whole days."""
    from ..sources.manifest import commit_meta, init_versioned_lake, latest_version

    base_v = latest_version(base_root)
    from ..sources.manifest import read_snapshot

    init_versioned_lake(
        (agg_fn or _rollup)(read_snapshot(spark, base_root)),
        view_root or rollup_view_path(sf_dir),
        "event_date",
    )
    commit_meta(meta_root or _mv_meta_root(sf_dir), {"base_version": base_v})
    return base_v


def refresh_rollup_view(
    spark: SparkSession,
    base_root: str,
    sf_dir: str,
    changed_days: list,
    *,
    view_root: str | None = None,
    meta_root: str | None = None,
    agg_fn=None,
) -> list:
    """Incremental refresh after a base MERGE that touched
    `changed_days`: recompute ONLY those days' groups from a
    manifest-pruned snapshot read and merge-commit them into the view.
    A day whose base partition lost every row produces no groups, so
    the view's partition entry is dropped by the same delete contract
    the base merge uses (changed-but-absent-from-staging ⇒ removed).
    Cost is O(touched days' facts) + one manifest commit — independent
    of lake size, which is the entire point at 100 TB. `agg_fn` must
    match the build's (same view definition, same columns)."""
    from ..sources.manifest import commit_meta, latest_version, merge_commit, read_snapshot

    base_v = latest_version(base_root)
    # A decoupled daemon legitimately hands us an empty list (e.g. every
    # commit since the absorbed version was rows_preserved): nothing to
    # recompute, but still advance the freshness record so serving
    # doesn't keep routing to the fact scan.
    if not changed_days:
        commit_meta(meta_root or _mv_meta_root(sf_dir), {"base_version": base_v})
        return []
    day_strs = sorted(str(d) for d in changed_days)
    touched = read_snapshot(
        spark, base_root, bounds={"event_date": (day_strs[0], day_strs[-1])}
    ).filter(F.col("event_date").isin(list(changed_days)))
    merge_commit(
        (agg_fn or _rollup)(touched),
        view_root or rollup_view_path(sf_dir),
        "event_date",
        changed_partitions=list(changed_days),
    )
    commit_meta(meta_root or _mv_meta_root(sf_dir), {"base_version": base_v})
    return list(changed_days)


def rollup_view_fresh(base_root: str, sf_dir: str, *, meta_root: str | None = None) -> bool:
    """Serving predicate: the view answers queries only while the base
    lake's ROWS are the ones it aggregated — any unabsorbed row-changing
    commit flips routing back to the fact scan (enforced invalidation,
    same contract as bucketed_layout_exists). Row-PRESERVING commits
    (OPTIMIZE compaction, tagged rows_preserved at commit time) do NOT
    invalidate: the aggregate of identical rows is identical, and a lake
    whose nightly maintenance stampeded every dashboard back to fact
    scans would have a useless view."""
    from ..sources.manifest import read_meta, rows_changed_since

    meta = read_meta(meta_root or _mv_meta_root(sf_dir)) or {}
    base_v = meta.get("base_version")
    if base_v is None:
        return False
    return not rows_changed_since(base_root, int(base_v))


def serve_rollup(
    spark: SparkSession, sf_dir: str, *, view_root: str | None = None
) -> DataFrame:
    """Display-form read of the view: exact cents → rounded dollars."""
    from ..sources.manifest import read_snapshot

    return read_snapshot(spark, view_root or rollup_view_path(sf_dir)).select(
        "event_date",
        "event_type",
        "n",
        F.round(F.col("total_cents").cast("double") / 100, 2).alias("total_value"),
    )


def apply_versioned_cdc(spark: SparkSession, base_root: str, ev: DataFrame) -> list:
    """The gate's deterministic CDC batch (plans/partitioned.py
    _merge_cdc_batch) applied to the versioned lake at `base_root` via
    the pinned-base merge_commit. Shared by events_versioned_merge and
    the matview gate; returns the touched partition values — the
    hand-off the incremental refresh consumes."""
    from ..sources.manifest import latest_version, merge_commit, read_snapshot

    base_v = latest_version(base_root)
    upserts, inserts, deletes = _merge_cdc_batch(ev)
    changed = [
        r[0]
        for r in upserts.select("event_date")
        .unionByName(inserts.select("event_date"))
        .unionByName(deletes.select("event_date"))
        .distinct()
        .collect()
    ]
    lake = read_snapshot(spark, base_root)
    slice_ = lake.filter(F.col("event_date").isin(changed))
    dead_keys = (
        upserts.select("event_id").unionByName(deletes.select("event_id")).distinct()
    )
    merged = (
        slice_.join(dead_keys, "event_id", "left_anti")
        .unionByName(upserts.join(deletes.select("event_id"), "event_id", "left_anti"))
        .unionByName(inserts)
    )
    merge_commit(
        merged, base_root, "event_date", changed_partitions=changed, base_version=base_v
    )
    return changed


# Full-history view oracle: every (day, type) group over the whole
# events table, money semantics identical to the Spark side (exact
# integer cents in storage, rounded dollars at serve time). n_users is
# the non-distributive column — exact count(DISTINCT) per group, which
# the view can only match because maintenance recomputes whole days.
FULL_ROLLUP_ORACLE = """
    SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2)
               AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY event_date, event_type
"""


@query("streaming_rollup_maintenance", oracle=FULL_ROLLUP_ORACLE)
def streaming_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the materialized view: a foreachBatch
    sink that lands each micro-batch in the versioned lake via
    append_commit's (app_id, batch_id) transaction ledger (exactly-once
    across restarts) and then refreshes the rollup view for ONLY the
    days that batch touched — the first batch pays the full build, every
    later one the O(batch day-span) refresh. The refresh is idempotent
    under foreachBatch's at-least-once replay by construction: it
    recomputes touched days from the base snapshot, so re-running it
    reproduces the same view rows (and the base append it follows is
    already deduped by the ledger).

    The source is split into four contiguous time-range files and
    drained with maxFilesPerTrigger=1, so the gate genuinely exercises
    build → refresh → refresh → refresh across micro-batches, including
    boundary days recomputed across adjacent batches. Serving returns
    the WHOLE view (every day × type group) against a full-history
    DuckDB rollup of the flat table — any day wrong anywhere goes red —
    and asserts the freshness record first, exactly like the batch gate.
    The served columns include `n_users` (exact per-group DISTINCT
    count), the non-distributive aggregate delta-folding IVM cannot
    keep exact without auxiliary state — partition-scoped recompute
    gets it for free, and this gate proves it against count(DISTINCT).

    Scale posture (100 TB): this is the always-fresh-aggregate shape a
    continuous ingest wants — per-batch maintenance cost is O(batch
    day-span) facts + one manifest commit, independent of lake history;
    the view stays O(days × types) rows; serving never scans the facts."""
    import shutil

    from ..sources.manifest import append_commit, latest_version

    base = warehouse_path(sf_dir, "events_stream_mv")
    shutil.rmtree(base, ignore_errors=True)  # fresh deterministic run per gate
    base_root = os.path.join(base, "table")
    view_root = os.path.join(base, "view")
    meta_root = os.path.join(base, "view_meta")
    src = os.path.join(base, "src")

    # Untimed prepare: four contiguous time-range files so availableNow +
    # maxFilesPerTrigger=1 yields four micro-batches with a boundary day
    # shared between adjacent batches.
    ev = load_table(spark, sf_dir, "events")
    ev.repartitionByRange(4, "ts").write.parquet(src)

    schema = spark.read.parquet(src).schema

    def _maintain(batch: DataFrame, bid: int) -> None:
        batch = batch.withColumn("event_date", F.to_date("ts"))
        append_commit(batch, base_root, "event_date", txn=("rollup_mv", bid))
        if latest_version(view_root) == 0:
            build_rollup_view(
                spark, base_root, sf_dir, view_root=view_root, meta_root=meta_root
            )
        else:
            changed = [r[0] for r in batch.select("event_date").distinct().collect()]
            refresh_rollup_view(
                spark,
                base_root,
                sf_dir,
                changed,
                view_root=view_root,
                meta_root=meta_root,
            )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_maintain)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    if not rollup_view_fresh(base_root, sf_dir, meta_root=meta_root):
        raise RuntimeError("rollup view stale after stream drain — maintenance broken")
    from ..sources.manifest import read_snapshot

    return (
        read_snapshot(spark, view_root)
        .select(
            "event_date",
            "event_type",
            "n",
            F.round(F.col("total_cents").cast("double") / 100, 2).alias("total_value"),
            "n_users",
        )
        .orderBy("event_date", "event_type")
    )


@query("events_rollup_incremental", oracle=MERGE_ORACLE)
def events_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental view maintenance: build the versioned
    lake AND its full rollup view, apply the CDC batch to the base,
    refresh the view for ONLY the touched days, then answer the
    three-day post-merge rollup FROM THE VIEW — routing asserts the
    freshness record first, so a refresh that failed to absorb the
    merge would raise rather than serve stale totals. Fourth face of
    MERGE_ORACLE: swap-committed merge, manifest-committed merge, and
    now incremental aggregate maintenance must all agree with the
    flat-table CDC semantics."""
    root = mv_lake_path(sf_dir)
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    from ..sources.manifest import init_versioned_lake

    init_versioned_lake(ev, root, "event_date")
    build_rollup_view(spark, root, sf_dir)
    changed = apply_versioned_cdc(spark, root, ev)
    refresh_rollup_view(spark, root, sf_dir, changed)
    if not rollup_view_fresh(root, sf_dir):
        raise RuntimeError("rollup view stale after refresh — freshness contract broken")
    lo = F.lit(TARGET_DAY).cast("date")
    return (
        serve_rollup(spark, sf_dir)
        .filter((F.col("event_date") >= F.date_sub(lo, 1)) & (F.col("event_date") < F.date_add(lo, 2)))
        .orderBy("event_date", "event_type")
    )


@query("events_rollup_from_cdf", oracle=MERGE_ORACLE)
def events_rollup_from_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance DRIVEN BY THE TABLE'S OWN VERSION
    HISTORY: where events_rollup_incremental's refresher is handed the
    touched days by the writer (same process, side-channel list), this
    refresher is a decoupled maintenance daemon — it knows only the
    version the view last absorbed (the freshness record) and the lake's
    current version, and recovers the days to recompute from the
    manifests alone via changed_partitions_between (O(manifest), no data
    I/O, no writer cooperation). That is the production shape: ingest
    and view maintenance are separate jobs, and the change feed — not an
    RPC from the writer — is the contract between them. Fifth face of
    MERGE_ORACLE: the daemon-refreshed view must agree with the
    flat-table CDC semantics, the two merge paths, and the handed-off
    refresh.

    Scale posture: identical to events_rollup_incremental once the days
    are known (O(touched days' facts) recompute + one manifest commit);
    the discovery adds two KB-sized JSON reads. The asserted routing
    check makes a silent discovery miss impossible — an unabsorbed
    row-changing commit flips rollup_view_fresh to False and this query
    raises instead of serving stale totals."""
    from ..sources.manifest import (
        changed_partitions_between,
        init_versioned_lake,
        latest_version,
        read_meta,
    )

    root = warehouse_path(sf_dir, "events_cdf_mv_base")
    view_root = warehouse_path(sf_dir, "events_rollup_cdf_mv")
    meta_root = view_root + "_meta"
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    init_versioned_lake(ev, root, "event_date")
    build_rollup_view(spark, root, sf_dir, view_root=view_root, meta_root=meta_root)
    apply_versioned_cdc(spark, root, ev)  # writer: return value deliberately unused
    # --- maintenance daemon: no state from the writer beyond the lake ---
    absorbed = int(read_meta(meta_root)["base_version"])
    now = latest_version(root)
    days = changed_partitions_between(root, absorbed, now)
    refresh_rollup_view(
        spark, root, sf_dir, days, view_root=view_root, meta_root=meta_root
    )
    if not rollup_view_fresh(root, sf_dir, meta_root=meta_root):
        raise RuntimeError("CDF-driven refresh failed to absorb the merge")
    lo = F.lit(TARGET_DAY).cast("date")
    return (
        serve_rollup(spark, sf_dir, view_root=view_root)
        .filter(
            (F.col("event_date") >= F.date_sub(lo, 1))
            & (F.col("event_date") < F.date_add(lo, 2))
        )
        .orderBy("event_date", "event_type")
    )


_DV_ROLLUP_ORACLE = f"""
    WITH del AS (
        SELECT event_id FROM events
        WHERE ts >= TIMESTAMP '{TARGET_DAY} 00:00:00'
          AND ts <  TIMESTAMP '{TARGET_DAY} 00:00:00' + INTERVAL 1 DAY
          AND user_id % 13 = 0
    ),
    kept AS (
        SELECT * FROM events WHERE event_id NOT IN (SELECT event_id FROM del)
    )
    SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2)
               AS total_value
    FROM kept
    WHERE ts >= TIMESTAMP '{TARGET_DAY} 00:00:00' - INTERVAL 1 DAY
      AND ts <  TIMESTAMP '{TARGET_DAY} 00:00:00' + INTERVAL 2 DAY
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@query("events_rollup_after_dv", oracle=_DV_ROLLUP_ORACLE)
def events_rollup_after_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r11 hand-off gap, gated end-to-end: a MERGE-ON-READ delete
    (deletion-vector commit — file lists unchanged) followed by the
    DECOUPLED maintenance daemon (changed_partitions_between → scoped
    refresh → freshness assert → serve FROM THE VIEW). Before the
    DV-aware diff, discovery returned [] across the delete, the daemon
    advanced its freshness record having absorbed nothing, and the view
    served the deleted rows as live — this row makes that regression
    impossible to reintroduce silently. Oracle is the flat-table rollup
    over events minus the deleted keys; the three-day window includes an
    untouched day on each side, proving the refresh stayed scoped.

    Scale posture: identical to events_rollup_from_cdf — two manifest
    JSON reads for discovery, O(touched day's facts) recompute through
    the DV-masked snapshot read, one view commit."""
    from ..sources.manifest import (
        changed_partitions_between,
        delete_commit,
        init_versioned_lake,
        latest_version,
        read_meta,
    )

    root = warehouse_path(sf_dir, "events_dv_mv_base")
    view_root = warehouse_path(sf_dir, "events_rollup_dv_mv")
    meta_root = view_root + "_meta"
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    init_versioned_lake(ev, root, "event_date")
    build_rollup_view(spark, root, sf_dir, view_root=view_root, meta_root=meta_root)
    # writer: merge-on-read delete of TARGET_DAY's user_id%13 rows
    day = F.col("event_date") == F.lit(TARGET_DAY).cast("date")
    keys = ev.filter(day & (F.col("user_id") % 13 == 0)).select(
        "event_id", "event_date"
    )
    delete_commit(spark, root, keys, "event_id")
    # --- decoupled daemon: discovery from the manifests alone ---
    absorbed = int(read_meta(meta_root)["base_version"])
    days = changed_partitions_between(root, absorbed, latest_version(root))
    refresh_rollup_view(
        spark, root, sf_dir, days, view_root=view_root, meta_root=meta_root
    )
    if not rollup_view_fresh(root, sf_dir, meta_root=meta_root):
        raise RuntimeError("daemon refresh failed to absorb the DV delete")
    lo = F.lit(TARGET_DAY).cast("date")
    return (
        serve_rollup(spark, sf_dir, view_root=view_root)
        .filter(
            (F.col("event_date") >= F.date_sub(lo, 1))
            & (F.col("event_date") < F.date_add(lo, 2))
        )
        .orderBy("event_date", "event_type")
    )


def _hourly_rollup(facts: DataFrame) -> DataFrame:
    """The hourly view definition the streaming-served rollup maintains:
    per-(hour, type) count + exact integer-cent total, with event_date
    riding along as the view lake's partition column (hours never span
    days, so whole-day recompute keeps every hour of a touched day
    exact). Storage stays integer cents; display rounding happens at
    serve time, like every money path in the engine."""
    return facts.groupBy(
        "event_date",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(_cents("value")).alias("total_cents"),
    )


def ensure_streaming_hourly_view(spark: SparkSession, sf_dir: str) -> str:
    """Serve-or-build for the STREAMING-maintained hourly rollup view —
    the serving face VERDICT r8 asked for: streaming_hourly_rollup
    re-drains the whole stream per query (micro-batch + state
    checkpointing, the adjudicated 16× class cost), while a lake whose
    ingest ALREADY maintains the view per micro-batch answers the hourly
    rollup by reading O(hours × types) rows. Freshness is two-factor,
    like every ensure_* face: the CAS meta must carry the current events
    source signature (corpus regenerated in place ⇒ rebuild) AND no
    row-changing commit may postdate the view's base_version (enforced
    invalidation; OPTIMIZE-class rows_preserved commits don't stampede
    the view back to re-draining).

    The build drains the source as four availableNow micro-batches
    through the same append_commit txn ledger + refresh_rollup_view
    machinery the maintenance gate proves (build → refresh × 3,
    boundary days recomputed across adjacent batches), so the served
    artifact is maintained BY the streaming path, not a batch shortcut
    dressed up as one."""
    import shutil

    from ..sources.catalog import table_stat_signature
    from ..sources.manifest import (
        append_commit,
        commit_meta,
        latest_version,
        read_meta,
        rows_changed_since,
    )

    base = warehouse_path(sf_dir, "events_stream_hourly")
    base_root = os.path.join(base, "table")
    view_root = os.path.join(base, "view")
    meta_root = os.path.join(base, "view_meta")
    src = os.path.join(base, "src")

    sig = table_stat_signature(sf_dir, ("events",))
    meta = read_meta(meta_root) or {}
    if (
        meta.get("source_signature") == sig
        and meta.get("base_version") is not None
        and not rows_changed_since(base_root, int(meta["base_version"]))
    ):
        return view_root

    shutil.rmtree(base, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    ev.repartitionByRange(4, "ts").write.parquet(src)
    schema = spark.read.parquet(src).schema

    def _maintain(batch: DataFrame, bid: int) -> None:
        batch = batch.withColumn("event_date", F.to_date("ts"))
        append_commit(batch, base_root, "event_date", txn=("hourly_mv", bid))
        if latest_version(view_root) == 0:
            build_rollup_view(
                spark,
                base_root,
                sf_dir,
                view_root=view_root,
                meta_root=meta_root,
                agg_fn=_hourly_rollup,
            )
        else:
            changed = [r[0] for r in batch.select("event_date").distinct().collect()]
            refresh_rollup_view(
                spark,
                base_root,
                sf_dir,
                changed,
                view_root=view_root,
                meta_root=meta_root,
                agg_fn=_hourly_rollup,
            )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_maintain)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = read_meta(meta_root) or {}
    commit_meta(meta_root, {**final, "source_signature": sig})
    return view_root


@query(
    "streaming_hourly_served",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
)
def streaming_hourly_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The steady-state face of streaming_hourly_rollup (same oracle):
    serve the hourly answer FROM the streaming-maintained view —
    freshness-checked snapshot read of O(hours × types) rows — instead
    of re-draining the stream per query. The pair prices the trade the
    way revenue_by_nation's routed/scan twins do: the rollup row keeps
    the per-drain maintenance cost visible; this row is what a lake
    whose ingest maintains the view actually pays per query. A green
    row proves streaming maintenance (append-ledger + whole-day
    incremental refresh across four micro-batches) reproduces the
    full-history hourly rollup bit-for-bit."""
    view_root = ensure_streaming_hourly_view(spark, sf_dir)
    from ..sources.manifest import read_snapshot

    return (
        read_snapshot(spark, view_root)
        .select(
            "window_start",
            "event_type",
            "n_events",
            F.round(F.col("total_cents").cast("double") / 100, 2).alias("total_value"),
        )
        # r12: O(hours×types) rows — ordered_small, no range-sample job.
        .transform(lambda df: ordered_small(df, "window_start", "event_type"))
    )
