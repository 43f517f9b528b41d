"""Event-table analytics: tumbling windows, JSON extraction, lag gaps,
top-k activity. (SURVEY.md §2.11 — extensions beyond the reference, which
has no streaming/event operators; the streaming/ package runs the same
aggregations as Structured Streaming jobs.)

Timestamps are emitted as formatted strings (never raw TIMESTAMP columns):
the parquet events clock is nanosecond-precision, which Spark truncates to
microseconds — string formatting at second granularity keeps both engines'
outputs identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ordering import ordered_small
from ..registry import query
from ..sources.catalog import load_table


from ..functions.money import cents as _cents  # shared exact-cents convention


@query(
    "events_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / count(*), 4) AS avg_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type — the batch twin of the
    streaming job in streaming/events.py (same groupBy, plus watermark).
    One shuffle on (hour, type); partial aggregation makes the map side
    emit one row per (hour, type) per partition.

    The group key is the INTEGER hour index `unix_micros(ts) div 3.6e9`,
    not the truncated timestamp: profiling at sf30 put the whole gap to
    the 3-column decode floor (0.54 s) in the hash-agg keying — 1.71 s
    keys-only with a (timestamp, string) key — and the int64 key cuts the
    full query 2.23→1.63 s (27%). `div` is exact int64 arithmetic (no
    double quotient), and the hour index is converted back to a rendered
    timestamp AFTER the agg, on ~3k rows. Timestamps here are post-1970
    so truncating `div` equals flooring; the same identity DuckDB's
    date_trunc computes."""
    ev = load_table(spark, sf_dir, "events")
    hour_us = F.lit(3_600_000_000).cast("bigint")
    return (
        ev.groupBy(
            F.expr("unix_micros(ts) div 3600000000").alias("hb"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_cents("value")).cast("double") / 100, 2).alias("total_value"),
            F.round(F.sum(_cents("value")).cast("double") / 100 / F.count("*"), 4).alias("avg_value"),
        )
        .select(
            F.date_format(
                F.timestamp_micros(F.col("hb") * hour_us), "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
        # r13: NO terminal sort. r12 kept a real range sort here because
        # ordered_small's coalesce(1) single-threads the final aggregate
        # (+43% at sf100); but the third option — no terminal order at
        # all — is the right one for a ~3.4k-row aggregate listing: the
        # oracle compare is order-insensitive (driver-proven on the
        # sort-free doc_token_stats/media_resize rows since r12), and the
        # orderBy cost two extra jobs per call (the range-partitioner
        # sampling pass + the sorted collect) plus an Exchange. Pinned
        # sort-free in tests/test_plan_shapes._LISTING_QUERIES.
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE) / count(*), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) > 10
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (reference's page_numbers/position JSON
    codec, /root/reference/src/load/sqlite_store.py:286,358 — here with
    get_json_object pushed into the scan projection)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") > 10)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("k").cast("double") / F.count("*"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "events_top_users",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 20
    """,
)
def events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k users by activity — agg then TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_cents("value")).cast("double") / 100, 2).alias("total_value"),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(20)
    )


_USER_GAPS_ORACLE = """
    WITH g AS (
        SELECT user_id,
               epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        FROM events WHERE user_id < 20
    )
    SELECT user_id, count(*) AS n_gaps,
           round(CAST(sum(gap_ms) AS DOUBLE) / count(*) / 1000, 2) AS avg_gap_s,
           round(CAST(max(gap_ms) AS DOUBLE) / 1000, 2) AS max_gap_s
    FROM g WHERE gap_ms IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """


@query("events_user_gaps", oracle=_USER_GAPS_ORACLE)
def events_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap analysis via lag() — the sessionization primitive
    (gap > threshold ⇒ session boundary). Partitioned by user, so the sort
    is per-user within shuffle partitions, never global.

    r14 (VERDICT r13 ask #7): the user_id < 20 probe routes through
    _events_user_sliced like its sessionization sibling — pruned raw
    files / z-layout when fresh, raw scan otherwise; per-user windows
    are order-insensitive to which files fed them and the exact
    predicate still applies downstream. The cold branch stays
    gate-covered via the forced-scan twin events_user_gaps_scan."""
    ev = _events_user_sliced(spark, sf_dir, user_hi_exclusive=20).filter(
        F.col("user_id") < 20
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    gaps = ev.select(
        "user_id", (ms - F.lag(ms).over(w)).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(F.sum("gap_ms").cast("double") / F.count("*") / 1000, 2).alias("avg_gap_s"),
            F.round(F.max("gap_ms").cast("double") / 1000, 2).alias("max_gap_s"),
        )
        .transform(lambda df: ordered_small(df, "user_id"))
    )


@query("events_user_gaps_scan", oracle=_USER_GAPS_ORACLE)
def events_user_gaps_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_user_gaps forced onto the raw-corpus scan path — gates the
    cold branch every run regardless of layout freshness (the same
    both-branches-gated pattern as events_sessionization_scan)."""
    from ..plans.bucketed import force_scan_path

    with force_scan_path():
        return events_user_gaps(spark, sf_dir)


def _events_user_sliced(
    spark: SparkSession, sf_dir: str, user_hi_exclusive: int = 10
) -> DataFrame:
    """events source for user-selective probes (guide §6: layout determines
    how well readers skip): route to the z-ordered layout
    (plans/zorder.py — clustered on (ts, user_id), so per-file user_id
    min/max stats prune most files for a `user_id < k` predicate; the
    raw corpus is time-ordered and its user stats span everything) when a
    FRESH layout exists, raw scan otherwise. Same freshness contract as
    every maintained artifact here: the layout's CAS meta record must
    match the current events file stats (manifest.meta_matches);
    `scan_forced()` honors the force_scan_path override so the scan
    branch stays measurable and gate-covered (events_sessionization_scan)."""
    from ..plans.bucketed import scan_forced
    from ..plans.zorder import zorder_events_path, zorder_pruned_files
    from ..sources.catalog import (
        _normalize_events_ts,
        pin_events_read_confs,
        raw_pruned_files,
        read_parquet_cached,
        read_parquet_paths_cached,
        table_stat_signature,
    )
    from ..sources.manifest import meta_matches

    if not scan_forced():
        # r13 final session: try the RAW directory's own footer stats
        # first (catalog.raw_pruned_files) — a clustered-on-write corpus
        # carries tight per-file user_id min/max, and a user-only
        # predicate prunes tighter there than the z-layout's 2-D boxes
        # (1 file of 300 vs ~24 of 256 at ×300: the z-curve interleaves
        # ts, so a user slice crosses many z-ranges). The raw paths need
        # the same ts normalization as load_table; pruning only shrinks
        # the read set and the exact predicate still applies downstream
        # (verified vs DuckDB at .scale/sf30, tools/check_oracle.py).
        raw_files = raw_pruned_files(
            sf_dir, "events", "user_id", hi_exclusive=user_hi_exclusive
        )
        if raw_files:
            # Same load-boundary conf pinning as load_table (r14: the
            # bare nanosAsLong conf.set that lived here — a session
            # mutation inside a query path, VERDICT r13 #3 — moved into
            # the shared catalog helper, which also pins the UTC session
            # zone the ntz→timestamp cast depends on, ADVICE r13 #1).
            pin_events_read_confs(spark)
            return _normalize_events_ts(
                read_parquet_paths_cached(spark, tuple(raw_files))
            )
        # r13 file-level pruning (guide §6 / SCALING.md sf100 floor
        # decomposition): the per-file (user_id, ts) boxes in the
        # layout's CAS meta drop non-overlapping FILES before Spark
        # lists anything — at sf100 the 256-file layout schedules ~3
        # tasks instead of 256 for a user_id<10 probe, and the ~4 ms/
        # task scheduling floor goes with it. Pruning only shrinks the
        # read set; the exact predicate still applies downstream.
        files = zorder_pruned_files(sf_dir, user_hi_exclusive=user_hi_exclusive)
        if files:
            return read_parquet_paths_cached(spark, tuple(files))
        path = zorder_events_path(sf_dir)
        if meta_matches(path, source_signature=table_stat_signature(sf_dir, ("events",))):
            return read_parquet_cached(spark, path)
    return load_table(spark, sf_dir, "events")


_SESSIONIZATION_ORACLE = """
    WITH marked AS (
        SELECT user_id, event_id, ts,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE user_id < 10
    ),
    sess AS (
        SELECT user_id, event_id,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """


@query("events_sessionization", oracle=_SESSIONIZATION_ORACLE)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min timeout): boundary flag via lag,
    session id via running sum — the batch equivalent of Structured
    Streaming's session_window (streaming/events.py).

    r13: the source routes through _events_user_sliced — the user_id < 10
    probe reads the z-ordered layout when fresh (file-skipping scan),
    the raw corpus otherwise; the window logic is identical either way
    and per-user windows are order-insensitive to which files fed them."""
    # r13: the window chain is ONE spark.sql round-trip (guide §1 —
    # op-by-op construction profiled ~0.2 s/call at sf100); identical
    # tree: lag-boundary flag + running sum share one (user_id) window
    # exchange, grouped counts, ordered_small tail.
    df = spark.sql(
        """
        WITH marked AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN (unix_millis(ts) - lag(unix_millis(ts)) OVER w) > 1800000
                           OR lag(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM {ev} WHERE user_id < 10
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT user_id, event_id,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
          FROM marked
        )
        SELECT user_id, session_id, count(*) AS n_events
        FROM sess GROUP BY user_id, session_id
        """,
        ev=_events_user_sliced(spark, sf_dir, user_hi_exclusive=10),
    )
    return ordered_small(df, "user_id", "session_id")


@query("events_sessionization_scan", oracle=_SESSIONIZATION_ORACLE)
def events_sessionization_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_sessionization forced onto the raw-corpus scan path — gates
    the cold branch every run regardless of whether a z-layout was built
    earlier in the session (the both-branches-gated pattern of
    revenue_by_nation_scan / shipping_priority_scan)."""
    from ..plans.bucketed import force_scan_path

    with force_scan_path():
        return events_sessionization(spark, sf_dir)


@query(
    "events_sliding_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - i * INTERVAL '30 minutes',
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) t
    GROUP BY 1 ORDER BY 1
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h length, 30 min slide): every event
    lands in exactly 2 windows. Spark's window() generates the assignment
    scan-side (no join); the oracle reconstructs it as an explicit
    ×2 unnest since both engines align buckets to the epoch. Scale: the
    fan-out factor (len/slide) is explicit, so shuffle volume is
    2× events — plannable, and partial aggregation halves it map-side."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_cents("value")).cast("double") / 100, 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


@query(
    "events_daily_rollup_totals",
    oracle="""
    SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           coalesce(event_type, 'ALL') AS event_type,
           count(*) AS n_events
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), event_type)
    ORDER BY day, event_type
    """,
)
def events_daily_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (day, event_type) → per-type, per-day, and grand
    totals in ONE pass — Spark expands grouping sets inside the same
    partial+final hash aggregate, so the three levels cost one shuffle,
    not three scans. Subtotal keys surface as NULL and are coalesced to
    'ALL' identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    # Integer day index as the rollup key (same rationale as
    # events_hourly_rollup: the per-row date_format string key was the
    # hash-agg cost); rendered back to 'yyyy-MM-dd' on the ~4k result
    # rows. Post-1970 clocks make truncating `div` equal flooring.
    day_us = F.lit(86_400_000_000).cast("bigint")
    return (
        ev.rollup(F.expr("unix_micros(ts) div 86400000000").alias("db"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.coalesce(
                F.date_format(F.timestamp_micros(F.col("db") * day_us), "yyyy-MM-dd"),
                F.lit("ALL"),
            ).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
        )
        .orderBy("day", "event_type")
    )


@query(
    "events_asof_purchase_click",
    oracle="""
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id < 50) p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click' AND user_id < 50) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
)
def events_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator the reference lacks and Spark has no
    primitive for): each purchase matched to the user's most recent
    click at-or-before it. Implemented as the union-and-running-last
    pattern — tag both streams, one shuffle on user_id, ordered window
    carrying the last click timestamp forward; at any scale this is one
    shuffle + sort, never a range cross-join. Tie rule (click at the
    exact purchase ts matches) is encoded in the (ts, kind) sort order."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ets"), F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("pid"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ets"), F.lit(1).alias("kind"),
        F.col("event_id").alias("pid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ets", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = clicks.unionByName(purchases).withColumn(
        "click_ets",
        F.last(F.when(F.col("kind") == 0, F.col("ets")), ignorenulls=True).over(w),
    )
    return (
        tagged.filter(F.col("kind") == 1)
        .select(
            F.col("pid").alias("event_id"),
            "user_id",
            F.date_format("ets", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("click_ets", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            (F.unix_micros("ets") - F.unix_micros("click_ets")).alias("gap_us"),
        )
        .orderBy("event_id")
    )


@query(
    "events_type_pivot",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per event type, one row per day. The explicit
    values list keeps the pivot a single-pass aggregation (no extra
    distinct-values job) and pins the output schema — exactly what you
    want at scale, where an open-ended pivot is a schema landmine. The
    oracle expresses the same thing as FILTERed counts."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pivoted = (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .count()
    )
    # pivot emits NULL for absent (day, type) combos; the oracle's FILTERed
    # count emits 0 — coalesce so a day missing one type still hash-matches.
    return pivoted.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    ).orderBy("day")


@query(
    "events_cube_day_type",
    oracle="""
    SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           coalesce(event_type, 'ALL') AS event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value
    FROM events
    GROUP BY CUBE (date_trunc('day', ts), event_type)
    ORDER BY day, event_type
    """,
)
def events_cube_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (day, event_type): all four grouping sets — per-cell,
    per-day, per-type, and grand total — in ONE partial+final hash
    aggregate (completes the grouping-sets family next to ROLLUP and
    pivot). Spark tags each input row with its grouping-set expansions
    map-side, so the shuffle carries one row per (set, key) per partition
    — not four scans of the fact table. Per-type subtotals (the set
    ROLLUP omits) come out of the same pass."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.cube(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).cast("double") / 100, 2
            ).alias("total_value"),
        )
        .select(
            F.coalesce("d", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
            "total_value",
        )
        .orderBy("day", "event_type")
    )


@query(
    "events_range_join_attribution",
    oracle="""
    SELECT p.event_id, p.user_id,
           count(c.ts) AS n_clicks_1h,
           coalesce(min(epoch_us(p.ts) - epoch_us(c.ts)), -1) AS min_gap_us
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 1 HOUR
    GROUP BY p.event_id, p.user_id
    ORDER BY p.event_id
    """,
)
def events_range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time range join (attribution window): every click of the same
    user in the hour before a purchase — the interval-join operator the
    reference lacks, complementing the as-of join (which keeps only the
    latest match). Implemented as the BUCKETED range join: both sides get
    an hour-bucket key, purchases probe their own and the previous bucket
    (explode ×2), and the range predicate evaluates only within
    (user, bucket) groups. A naive user-only equi-join leaves the range
    filter to a per-user cross product — fatal for a power user with 10^6
    events; bucketing bounds every join group to two hours of one user's
    history, so skew is bounded by per-hour activity, not lifetime."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.floor(F.unix_seconds("ts") / 3600).alias("c_bucket"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("p_ts"),
            F.floor(F.unix_seconds("ts") / 3600).alias("p_bucket"),
        )
        .withColumn("probe_bucket", F.explode(F.array(F.col("p_bucket"), F.col("p_bucket") - 1)))
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("probe_bucket") == F.col("c_bucket"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return (
        joined.groupBy("event_id", "user_id")
        .agg(
            F.count("c_ts").alias("n_clicks_1h"),
            F.coalesce(
                F.min(F.unix_micros("p_ts") - F.unix_micros("c_ts")), F.lit(-1)
            ).alias("min_gap_us"),
        )
        .orderBy("event_id")
    )


@query(
    "events_user_rank_dist",
    oracle="""
    WITH ua AS (
        SELECT event_type, user_id, count(*) AS n
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, user_id, n,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM ua
    WINDOW w AS (PARTITION BY event_type ORDER BY n, user_id)
    ORDER BY event_type, n, user_id
    """,
)
def events_user_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist per event type (the distribution-rank
    window family, completing row_number/ntile/lag coverage). The window
    partitions by event_type, so each type's ordering sorts only its own
    partition; the total order (n, user_id) pins tie behavior so both
    engines emit identical ranks."""
    ev = load_table(spark, sf_dir, "events")
    ua = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("n", "user_id")
    return (
        ua.select(
            "event_type",
            "user_id",
            "n",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("event_type", "n", "user_id")
    )


@query(
    "events_funnel_counts",
    oracle="""
    WITH f AS (
        SELECT user_id, ts, event_id, event_type,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_view_prev
        FROM events
    ),
    g AS (
        SELECT user_id, ts, event_id, event_type,
               (event_type = 'click' AND seen_view_prev = 1) AS click_ok
        FROM f
    ),
    h AS (
        SELECT user_id, event_type, click_ok,
               max(CASE WHEN click_ok THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_click_prev
        FROM g
    )
    SELECT count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS n_viewers,
           count(DISTINCT CASE WHEN click_ok THEN user_id END) AS n_clickers,
           count(DISTINCT CASE WHEN event_type = 'purchase' AND seen_click_prev = 1
                 THEN user_id END) AS n_purchasers
    FROM h
    """,
)
def events_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user advances
    a stage only by an event strictly AFTER an event that completed the
    previous stage (ordering total via (ts, event_id)). Sequential-pattern
    semantics via two stacked user-partitioned running-max windows — both
    windows share ONE shuffle on user_id (same partitioning, Spark plans a
    single Exchange), and the distinct-user funnel counts aggregate the
    flagged stream. The window-state shape survives scale: per-user state
    is two bits, not an event buffer."""
    ev = load_table(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seen_view_prev = F.max(
        F.when(F.col("event_type") == "view", 1).otherwise(0)
    ).over(w_prev)
    staged = ev.select(
        "user_id", "ts", "event_id", "event_type", seen_view_prev.alias("svp")
    ).withColumn(
        "click_ok", (F.col("event_type") == "click") & (F.col("svp") == 1)
    )
    seen_click_prev = F.max(
        F.when(F.col("click_ok"), 1).otherwise(0)
    ).over(w_prev)
    flagged = staged.select(
        "user_id", "event_type", "click_ok", seen_click_prev.alias("scp")
    )
    return flagged.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("n_viewers"),
        F.countDistinct(F.when(F.col("click_ok"), F.col("user_id"))).alias(
            "n_clickers"
        ),
        F.countDistinct(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("scp") == 1),
                F.col("user_id"),
            )
        ).alias("n_purchasers"),
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH first_signup AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS activity_week
        FROM events e
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.activity_week) / 7 AS INT) AS week_offset,
           count(DISTINCT f.user_id) AS n_users
    FROM first_signup f JOIN activity a ON a.user_id = f.user_id
    WHERE a.activity_week >= f.cohort_week
      AND date_diff('day', f.cohort_week, a.activity_week) / 7 <= 8
    GROUP BY f.cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-signup week,
    counted in each later week they were active (0..8 week offsets) —
    the classic retention triangle. Plan shape: first-signup is a
    per-user min aggregate; activity is a per-(user, week) distinct —
    both partial-aggregate map-side before their user_id shuffles, and
    the cohort join is user-keyed (AQE broadcasts the signup side when
    small). The final matrix is |cohorts| x 9 rows."""
    ev = load_table(spark, sf_dir, "events")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    offset = (F.datediff("activity_week", "cohort_week") / 7).cast("int")
    return (
        first_signup.join(activity, "user_id")
        .filter(
            (F.col("activity_week") >= F.col("cohort_week"))
            & (F.datediff("activity_week", "cohort_week") / 7 <= 8)
        )
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    stats AS (
        SELECT event_type, day, n,
               avg(n) OVER w AS mu,
               stddev_samp(n) OVER w AS sigma,
               count(*) OVER w AS n_window
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
           round((n - mu) / sigma, 4) AS zscore
    FROM stats
    WHERE n_window = 7 AND sigma > 0 AND abs((n - mu) / sigma) >= 2.0
    ORDER BY event_type, day
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: each (event_type, day) count scored
    against the trailing 7 FULL days' mean/stddev (frame excludes the
    current row — scoring a point against a window containing itself
    dilutes the signal), flagging |z| >= 2. The rolling frame runs over
    the DAILY aggregate (|types| x |days| rows), never raw events — same
    discipline as the top-terms window. Incomplete leading windows are
    excluded (n_window = 7), not scored against a short baseline."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    stats = daily.select(
        "event_type",
        "day",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_window"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        stats.filter(
            (F.col("n_window") == 7) & (F.col("sigma") > 0) & (F.abs(z) >= 2.0)
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            F.round(z, 4).alias("zscore"),
        )
        .orderBy("event_type", "day")
    )
