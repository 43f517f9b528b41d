"""Relational query plans over the TPC-H-ish tables.

These exercise the reference's join/aggregate/window/sort families
(SURVEY.md §2.3–§2.7) at relational scale: the reference performs these
operations imperatively over Python lists (e.g. the hash anti-join at
/root/reference/src/pipeline.py:203-213, the count-by-status loop at
src/pipeline.py:297-311, the enrichment joins at
src/api/routes/documents.py:64-65); here each is a declarative DataFrame
plan Catalyst can push down, prune, broadcast, and AQE-tune.

Cross-engine determinism convention (see registry.py): money columns are
2-decimal doubles, so they are summed as exact scaled integers (cents —
`round(x*100)::bigint`), converted back to double and rounded only at
output. Long sums are whole-stage-codegen fast (measured ~6× faster than
DECIMAL(18,4) accumulation) and bit-identical across engines. Overflow
headroom: cents sums stay < 2^53 up to ~10^11 rows per group; beyond that
switch the accumulator to decimal.

Scale notes are inline per query — which side broadcasts, where the
shuffles are, and why the plan survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ordering import ordered_small
from ..registry import query
from ..sources.catalog import load_table


from ..functions.money import cents as _cents  # shared exact-cents convention


# --------------------------------------------------------------------------
# Aggregations (A-family)
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_linestatus,
               CAST(round(l_quantity * 100, 0) AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS e,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
               CAST(round(l_tax * 100, 0) AS BIGINT) AS t
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(q) AS DOUBLE) / 100, 2) AS sum_qty,
           round(CAST(sum(e) AS DOUBLE) / 100, 2) AS sum_base_price,
           round(CAST(sum(e * (100 - d)) AS DOUBLE) / 10000, 2) AS sum_disc_price,
           round(CAST(sum(e * (100 - d) * (100 + t)) AS DOUBLE) / 1000000, 2) AS sum_charge,
           round(CAST(sum(q) AS DOUBLE) / 100 / count(*), 4) AS avg_qty,
           round(CAST(sum(e) AS DOUBLE) / 100 / count(*), 4) AS avg_price,
           round(CAST(sum(d) AS DOUBLE) / 100 / count(*), 4) AS avg_disc,
           count(*) AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan hash aggregate with partial+final phases.
    One shuffle on the (tiny-cardinality) group key; scan reads only the 7
    referenced columns (parquet pruning). All money math is exact integer
    cents inside the aggregate (see module docstring)."""
    # r12 JVM-parsed the 8 aggregate expressions; r13 goes the rest of the
    # way (guide §1 — construction profiled ~0.13 s/call at sf0.1): the
    # WHOLE query is one spark.sql round-trip. FLOOR(x*100.0 + 0.5) is
    # functions.money.cents verbatim; plan shape unchanged (scan with
    # pushed shipdate filter → partial+final HashAggregate, ≤6-row
    # ordered_small tail, no rangepartitioning).
    df = spark.sql(
        """
        WITH c AS (
          SELECT l_returnflag, l_linestatus,
                 FLOOR(l_quantity * 100.0 + 0.5)      AS q,
                 FLOOR(l_extendedprice * 100.0 + 0.5) AS e,
                 FLOOR(l_discount * 100.0 + 0.5)      AS d,
                 FLOOR(l_tax * 100.0 + 0.5)           AS t
          FROM {li}
          WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        )
        SELECT l_returnflag, l_linestatus,
               round(cast(sum(q) as double) / 100, 2) AS sum_qty,
               round(cast(sum(e) as double) / 100, 2) AS sum_base_price,
               round(cast(sum(e * (100 - d)) as double) / 10000, 2) AS sum_disc_price,
               round(cast(sum(e * (100 - d) * (100 + t)) as double) / 1000000, 2) AS sum_charge,
               round(cast(sum(q) as double) / 100 / count(*), 4) AS avg_qty,
               round(cast(sum(e) as double) / 100 / count(*), 4) AS avg_price,
               round(cast(sum(d) as double) / 100 / count(*), 4) AS avg_disc,
               count(*) AS count_order
        FROM c
        GROUP BY l_returnflag, l_linestatus
        """,
        li=load_table(spark, sf_dir, "lineitem"),
    )
    return ordered_small(df, "l_returnflag", "l_linestatus")


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          * CAST(round(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 10000, 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: selective filters all pushed to the parquet scan
    (range on shipdate prunes row groups via min/max stats), then a single
    global aggregate — no shuffle beyond the 1-row final combine."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(_cents("l_extendedprice") * _cents("l_discount")).cast("double") / 10000, 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "orders_status_counts",
    oracle="""
    SELECT o_orderstatus AS status, count(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def orders_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A1: count-by-status loop (/root/reference/src/pipeline.py:297-311)
    as a hash aggregate."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("n"))
        .orderBy("status")
    )


@query(
    "segment_acctbal_stats",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / count(*), 4) AS avg_acctbal,
           round(min(c_acctbal), 2) AS min_acctbal,
           round(max(c_acctbal), 2) AS max_acctbal
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def segment_acctbal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(_cents("c_acctbal")).cast("double") / 100 / F.count("*"), 4).alias("avg_acctbal"),
            F.round(F.min("c_acctbal"), 2).alias("min_acctbal"),
            F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "brand_price_stats",
    oracle="""
    SELECT p_brand, count(*) AS n_parts,
           round(CAST(sum(CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / count(*), 4) AS avg_price,
           round(max(p_retailprice), 2) AS max_price
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
)
def brand_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum(_cents("p_retailprice")).cast("double") / 100 / F.count("*"), 4).alias("avg_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# Joins (J-family)
# --------------------------------------------------------------------------


@query(
    "customer_order_profile",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           coalesce(o.order_count, 0) AS order_count,
           round(coalesce(CAST(o.total_spend_cents AS DOUBLE) / 100, 0.0), 2) AS total_spend
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, count(*) AS order_count,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS total_spend_cents
        FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    ORDER BY c.c_custkey
    """,
)
def customer_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference J3 (document detail enrichment,
    /root/reference/src/api/routes/documents.py:64-65): join pre-aggregated
    child counts onto the parent. Aggregate-before-join keeps the shuffled
    payload at one row per customer, and the pre-aggregate side is then
    small enough for AQE to broadcast."""
    # r12: unbounded per-customer listing, order-insensitive compare — no
    # terminal global sort (a free-standing full-shuffle range sort at
    # 100×; consumers that want an order ask for one). r13: one spark.sql
    # construction (guide §1 — ~95 ms of op-by-op py4j per call at
    # sf0.1); plan shape unchanged.
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_mktsegment,
               coalesce(order_count, 0) AS order_count,
               round(coalesce(CAST(total_spend_cents AS DOUBLE) / 100, 0.0D), 2) AS total_spend
        FROM {cust} c
        LEFT JOIN (
          SELECT o_custkey, count(*) AS order_count,
                 sum(FLOOR(o_totalprice * 100.0 + 0.5)) AS total_spend_cents
          FROM {o} GROUP BY o_custkey
        ) o ON c.c_custkey = o.o_custkey
        """,
        cust=load_table(spark, sf_dir, "customer"),
        o=load_table(spark, sf_dir, "orders"),
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference J1 (new-document detection anti-join,
    /root/reference/src/pipeline.py:203-213). Left-anti join; the probe
    side only needs the join key so the scan prunes to one column."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return cust.join(orders, "c_custkey", "left_anti").select("c_custkey", "c_name").orderBy("c_custkey")


@query(
    "customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    ORDER BY c_custkey
    """,
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference J2 (upload dedup semi-join,
    /root/reference/src/api/routes/documents.py:139-153)."""
    cust = load_table(spark, sf_dir, "customer")
    open_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.join(open_orders, "c_custkey", "left_semi").select("c_custkey", "c_name").orderBy("c_custkey")


@query(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name,
           round(CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000, 2) AS revenue
    FROM customer c
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    JOIN orders o   ON o.o_custkey  = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape, canonical scale plan. Join ORDER is encoded (CBO is
    off, Catalyst won't reorder): the tiny nation⋈region chain broadcasts
    onto customer, region-filtered customers join orders on custkey, and
    only then does the lineitem side join — so the region filter prunes
    BOTH big joins' payloads. customer⋈orders is deliberately NOT
    hint-broadcast: the filtered customer side is fact-sized (scales with
    the corpus), and forcing it measured faster idle (4.1s vs 7.2s at
    sf10 local) but degraded 3x under bench memory pressure and cannot
    survive a 100× scale-up; AQE still auto-broadcasts it whenever it is
    genuinely small.

    r4 (VERDICT r3 ask #4): lineitem revenue is pre-aggregated by
    l_orderkey BEFORE the orders join — the same rewrite that carried
    shipping_priority_top10. There is no lineitem-side predicate in this
    query, so the per-orderkey partial sum is semantics-preserving and
    collapses the join's probe side from ~4 rows/order to 1 (sf30: 180M
    -> 45M rows through the biggest shuffle). Measured (min of 3,
    toPandas): sf10 8.6s -> 6.1s, sf30 12.9s -> 12.0s, and run-to-run
    variance collapsed (current plan ranged 13-26s under memory
    pressure; pre-agg stays within ±2s — smaller shuffles spill less).
    Shuffle payloads stay compact: the int nationkey rides the joins and
    the 25-row name map attaches after the final 5-group aggregate.

    r6 layout routing (VERDICT r5 ask #3): when this corpus's bucketed
    orderkey layout exists (built at ingest — bench.py's prepare phase,
    or any prior revenue_by_nation_bucketed run in the session), serve
    from it: both orderkey exchanges vanish and the measured sf100 wall
    drops 46.0 s → 11.8 s (9.1× → 2.3× vs DuckDB). Both paths answer the
    same DuckDB oracle and both stay gated (this row exercises whichever
    path routing picks; revenue_by_nation_bucketed always exercises
    build+read). Scan path remains the cold-corpus answer — no hidden
    build inside a serving query."""
    from .bucketed import bucketed_layout_exists, revenue_from_bucketed

    if bucketed_layout_exists(spark, sf_dir):
        return revenue_from_bucketed(spark, sf_dir)
    # r12 job-floor fusion, same shape as bucketed.revenue_from_bucketed:
    # one broadcast for the whole dim chain (nation⋈region planned
    # shuffle_hash — a constant ~30-row join that rides inside the dims
    # broadcast job instead of nesting two more), n_name carried through
    # so the post-aggregate name join disappears, ≤25-row terminal sort
    # via ordered_small instead of a range-sampled global orderBy.
    # r13: built as ONE spark.sql call (construction was ~0.28 s of py4j
    # round-trips per invocation at sf0.1 — guide §1 profile); executed
    # plan verified operator-identical to the op-by-op form, FLOOR(x*100.0
    # + 0.5) is functions.money.cents verbatim. NOTE the customer⋈orders
    # join stays hint-free by design (see paragraph above): only nr rides
    # a BROADCAST hint inside the dims chain.
    df = spark.sql(
        """
        WITH nr AS (
          SELECT /*+ SHUFFLE_HASH(r) */ n_nationkey, n_name
          FROM {n} n JOIN {r} r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA'
        ),
        dims AS (
          SELECT /*+ BROADCAST(nr) */ c_custkey, n_name
          FROM {c} c JOIN nr ON c.c_nationkey = nr.n_nationkey
        ),
        li_rev AS (
          SELECT l_orderkey,
                 sum(FLOOR(l_extendedprice * 100.0 + 0.5)
                     * (100 - FLOOR(l_discount * 100.0 + 0.5))) AS rev_c
          FROM {li}
          GROUP BY l_orderkey
        ),
        o_asia AS (
          SELECT o_orderkey, n_name
          FROM {o} o JOIN dims ON o.o_custkey = dims.c_custkey
        )
        SELECT n_name, round(CAST(sum(rev_c) AS DOUBLE) / 10000, 2) AS revenue
        FROM li_rev JOIN o_asia ON li_rev.l_orderkey = o_asia.o_orderkey
        GROUP BY n_name
        """,
        n=load_table(spark, sf_dir, "nation"),
        r=load_table(spark, sf_dir, "region"),
        c=load_table(spark, sf_dir, "customer"),
        o=load_table(spark, sf_dir, "orders"),
        li=load_table(spark, sf_dir, "lineitem"),
    )
    return ordered_small(df, F.desc("revenue"), "n_name")


@query(
    "shipping_priority_top10",
    oracle="""
    SELECT l.l_orderkey,
           round(CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000, 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape, aggregate-BEFORE-join: lineitem's date filter keeps
    only the shipping tail, so its per-orderkey revenue aggregate shrinks
    the big join's probe side to one row per order before orders ever
    joins (measured 10.0s -> 8.3s at sf30, and strictly less shuffled
    data at any scale than join-then-aggregate). No forced broadcasts:
    the BUILDING customer keys are fact-sized (scale with the corpus), so
    the semi join is left to AQE — broadcast when small, shuffle when
    not. Top-k is TakeOrderedAndProject, no global sort.

    Routes to the shared bucketed orderkey layout when it exists (same
    contract as revenue_by_nation — see its docstring; measured sf100
    28.3 s → 11.9 s from the SAME layout build)."""
    from .bucketed import bucketed_layout_exists, shipping_from_bucketed

    if bucketed_layout_exists(spark, sf_dir):
        return shipping_from_bucketed(spark, sf_dir)
    # r13: single spark.sql construction (one driver round-trip instead of
    # ~130 — guide §1 profile); plan shape unchanged: per-orderkey revenue
    # aggregate before the orders join, hint-free LEFT SEMI on the
    # BUILDING customer keys (AQE broadcasts when small), top-k stays
    # TakeOrderedAndProject.
    return spark.sql(
        """
        WITH li_rev AS (
          SELECT l_orderkey,
                 round(CAST(sum(FLOOR(l_extendedprice * 100.0 + 0.5)
                             * (100 - FLOOR(l_discount * 100.0 + 0.5))) AS DOUBLE)
                       / 10000, 2) AS revenue
          FROM {li}
          WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY l_orderkey
        ),
        o_f AS (
          SELECT o_orderkey, o_orderdate, o_orderpriority
          FROM {o} o
          WHERE o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            AND o.o_custkey IN (SELECT c_custkey FROM {c}
                                WHERE c_mktsegment = 'BUILDING')
        )
        SELECT l_orderkey, revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o_orderpriority
        FROM o_f JOIN li_rev ON o_f.o_orderkey = li_rev.l_orderkey
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """,
        li=load_table(spark, sf_dir, "lineitem"),
        o=load_table(spark, sf_dir, "orders"),
        c=load_table(spark, sf_dir, "customer"),
    )


@query(
    "lineitem_after_order_purge",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_lines,
           round(CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS sum_qty
    FROM lineitem l
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
    )
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def lineitem_after_order_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference J5/M2 delete-cascade semantics
    (/root/reference/src/pipeline.py:270-295): the anti-join rewrite of the
    child table against the victim set, here summarized post-purge."""
    li = load_table(spark, sf_dir, "lineitem")
    victims = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        li.join(victims, "l_orderkey", "left_anti")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum(_cents("l_quantity")).cast("double") / 100, 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Sorts / top-k (O-family)
# --------------------------------------------------------------------------


@query(
    "top_orders_by_value",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def top_orders_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O3 search top-k (orderBy desc + limit,
    /root/reference/src/load/lancedb_store.py:146) — Spark plans this as
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


# --------------------------------------------------------------------------
# Windows (A5/A6/A7)
# --------------------------------------------------------------------------


def _orders_custkey_sliced(
    spark: SparkSession, sf_dir: str, custkey_hi_exclusive: int
) -> DataFrame:
    """orders source for custkey-selective probes: file-level footer-stat
    pruning over the raw directory (catalog.raw_pruned_files — the
    at-scale fix SCALING.md's task-dispatch floor decomposition named,
    realized without a maintained layout because a clustered-on-write
    corpus already carries tight per-file custkey stats; at ×300 the
    custkey<50 probe reads 1 file of 300). Honors force_scan_path so the
    plain-scan branch stays measurable; single-file tables (the driver's
    testdata) and statless layouts fall through to the ordinary scan, so
    gate plans are unchanged. The exact predicate is ALWAYS applied
    downstream — pruning only shrinks the read set."""
    from ..plans.bucketed import scan_forced
    from ..sources.catalog import raw_pruned_files, read_parquet_cached

    if not scan_forced():
        files = raw_pruned_files(
            sf_dir, "orders", "o_custkey", hi_exclusive=custkey_hi_exclusive
        )
        if files:
            return read_parquet_cached(spark, *files)
    return load_table(spark, sf_dir, "orders")


@query(
    "order_sequence_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - 1 AS order_seq,
           count(*)     OVER (PARTITION BY o_custkey) AS total_orders
    FROM orders
    WHERE o_custkey < 50
    ORDER BY o_custkey, order_seq
    """,
)
def order_sequence_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A5 (chunk_index assignment) + A6 (total_chunks backfill,
    /root/reference/src/transform/chunker.py:107,113-115): dense ordinal and
    partition count in one window pass, partitioned by the parent key — the
    exact pattern the chunker uses with document_id at scale.

    r13: the custkey<50 probe reads through _orders_custkey_sliced
    (file-level footer-stat pruning on multi-file corpora; identical
    plan on the driver's single-file tables). Per-custkey windows are
    order-insensitive to which files fed them."""
    o = _orders_custkey_sliced(spark, sf_dir, 50).filter(F.col("o_custkey") < 50)
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_all = Window.partitionBy("o_custkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            (F.row_number().over(w_seq) - 1).alias("order_seq"),
            F.count("*").over(w_all).alias("total_orders"),
        )
        # r12: bounded by the o_custkey < 50 probe — ordered_small.
        .transform(lambda df: ordered_small(df, "o_custkey", "order_seq"))
    )


@query(
    "running_spend_budget",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderkey,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
        FROM orders WHERE o_custkey < 30
    )
    SELECT o_custkey, o_orderkey, round(CAST(cum_cents AS DOUBLE) / 100, 2) AS cum_spend
    FROM seq WHERE cum_cents <= 40000000
    ORDER BY o_custkey, o_orderkey
    """,
)
def running_spend_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A7 (greedy token-budget cut,
    /root/reference/src/retrieve/hybrid_retriever.py:190-200): ordered
    running sum + budget filter, partitioned so the window never needs a
    single global ordering.

    r13: the custkey<30 probe reads through _orders_custkey_sliced
    (file-level footer-stat pruning on multi-file corpora; identical
    plan on the driver's single-file tables)."""
    o = _orders_custkey_sliced(spark, sf_dir, 30).filter(F.col("o_custkey") < 30)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.withColumn("cum_cents", F.sum(_cents("o_totalprice")).over(w))
        .filter(F.col("cum_cents") <= 40000000)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("cum_cents").cast("double") / 100, 2).alias("cum_spend"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Set operations (§2.7 — absent in the reference, present for completeness)
# --------------------------------------------------------------------------


@query(
    "priority_set_ops",
    oracle="""
    (SELECT DISTINCT o_orderpriority AS priority FROM orders WHERE o_totalprice > 300000
     INTERSECT
     SELECT DISTINCT o_orderpriority FROM orders WHERE o_orderstatus = 'O')
    EXCEPT
    SELECT DISTINCT o_orderpriority FROM orders WHERE o_totalprice > 500000
    ORDER BY priority
    """,
)
def priority_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT over distinct priority sets."""
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000).select(F.col("o_orderpriority").alias("priority")).distinct()
    open_ = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_orderpriority").alias("priority")).distinct()
    huge = o.filter(F.col("o_totalprice") > 500000).select(F.col("o_orderpriority").alias("priority")).distinct()
    return big.intersect(open_).exceptAll(huge).orderBy("priority")


@query(
    "customer_balance_quartiles",
    oracle="""
    WITH t AS (
        SELECT c_mktsegment,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS quartile,
               c_acctbal
        FROM customer
    )
    SELECT c_mktsegment, quartile, count(*) AS n,
           round(CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / count(*), 2) AS avg_bal
    FROM t GROUP BY c_mktsegment, quartile
    ORDER BY c_mktsegment, quartile
    """,
)
def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile ranking (the one ranking family O1–O5 didn't cover): balance
    quartiles per market segment. The window partitions by segment, so the
    sort is per-segment, parallel — never a single-partition global sort.
    Total order inside the window ((acctbal, custkey)) keeps ntile
    boundaries identical across engines."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    t = cust.select(
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        _cents("c_acctbal").alias("bal_c"),
    )
    return (
        t.groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("bal_c").cast("double") / 100 / F.count("*"), 2).alias("avg_bal"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join (the
    driver's synthetic lineitem has no commit/receipt dates, so the
    existence predicate is 'has a returned item'). The correlated
    subquery never executes per-row — one semi-join of orders against
    the pre-filtered lineitems, scanning only 2 lineitem columns."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    late = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(late, orders["o_orderkey"] == late["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH avg_qty AS (
        SELECT l_partkey,
               0.2 * (CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / count(*)) AS threshold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN avg_qty a ON l.l_partkey = a.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: the correlated scalar subquery (per-part average
    quantity) decorrelated into a pre-aggregated join side. The per-part
    averages table is |parts|-sized → broadcast; lineitem is touched
    exactly twice (once to aggregate, once to filter), never per-row."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * (F.sum(_cents("l_quantity")).cast("double") / 100 / F.count("*"))).alias("threshold")
    )
    filtered = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("threshold"))
    )
    return filtered.agg(
        F.round(F.sum(_cents("l_extendedprice")).cast("double") / 100 / 7.0, 2).alias("avg_yearly")
    )
