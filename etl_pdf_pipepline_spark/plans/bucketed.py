"""Bucketed co-located join over the real fact tables (round 5).

tests/test_bucketing.py proves the mechanism on synthetic ranges; this
module carries it into the gate over the actual workload: the Q5-shaped
revenue rollup (`revenue_by_nation`, plans/relational.py:298) re-run from
lineitem and orders PRE-BUCKETED on the join key, checked against the
SAME DuckDB oracle. This is the second half of the 100 TB join story:

- `revenue_by_nation` is the query-time plan — two exchanges on
  orderkey (lineitem's per-order pre-aggregation, then the join).
- Here both facts are written `bucketBy(orderkey)`+`sortBy` once
  (the lake layout a recurring workload pays for at ingest), after which
  BOTH orderkey exchanges disappear from every future run: the bucketed
  scan already satisfies the hash-partitioning requirement of the
  groupBy AND the join. At 600M lineitem rows that is the entire 3.1 GB
  shuffle (TELEMETRY_sf100) converted to zero bytes, per query, forever.

The remaining custkey hop (orders⋈region-filtered customer) is
explicitly broadcast: one bucket layout can co-locate one key, and the
orderkey join is the one that scales with lineitem; the region-filtered
customer side is the smallest input in the query. A deployment that also
re-runs custkey joins buckets customer/orders by custkey in a second
layout — same mechanism, different key choice.

tests/test_bucketing.py::test_revenue_bucketed_plan_has_no_orderkey_exchange
asserts the plan property (no Exchange on either orderkey), not just the
values.
"""

from __future__ import annotations

import hashlib
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ordering import ordered_small
from ..registry import query
from ..sources.catalog import load_table

# Bucket count scales with the data like shuffle partitions do (and for
# the same reason: a bucketed join runs one task per bucket, so bucket
# count IS the join's parallelism). 8 buckets at sf100 would put 75M
# rows in each of 8 tasks on 32 cores; deriving from input size gives
# 32 at the sf0.01 gate and 256 at sf100.
def _n_buckets(sf_dir: str) -> int:
    from ..session import derive_shuffle_partitions

    return derive_shuffle_partitions(sf_dir)

_REVENUE_ORACLE = """
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
    """


def bucketed_table_names(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Deterministic per-corpus table names (metastore is shared across
    gate runs at different sf dirs)."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return f"bkt_{tag}_lineitem", f"bkt_{tag}_orders"


def _source_signature(sf_dir: str) -> str:
    """Freshness tag for the layout: stat-digest of the two fact tables it
    projects. A corpus regenerated in place changes mtimes/sizes, so a
    layout built before the regeneration stops matching and routing falls
    back to the scan path instead of serving stale buckets (ADVICE r6)."""
    from ..sources.catalog import table_stat_signature

    return table_stat_signature(sf_dir, ("lineitem", "orders"))


def _meta_root(spark: SparkSession, sf_dir: str) -> str:
    """Root for the layout's CAS-committed freshness record
    (sources/manifest.py commit_meta — the repo's one artifact
    publication protocol; replaces the hand-rolled JSON side-file)."""
    from urllib.parse import unquote, urlparse

    warehouse = unquote(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    li_name, _ = bucketed_table_names(spark, sf_dir)
    return os.path.join(warehouse, f"{li_name}_meta")


def _drop_stale(spark: SparkSession, *names: str) -> None:
    """DROP TABLE IF EXISTS plus orphan-location cleanup. Local sessions
    use the in-memory catalog, so a table written by a PREVIOUS session
    leaves its warehouse directory behind with no catalog entry —
    saveAsTable(overwrite) then fails with LOCATION_ALREADY_EXISTS. A
    cluster deployment with a persistent metastore only needs the DROP."""
    import shutil
    from urllib.parse import unquote, urlparse

    # unquote: the warehouse URI percent-encodes spaces etc.; without it a
    # warehouse path containing them resolves wrong, the orphan cleanup
    # misses, and the next cross-session overwrite dies LOCATION_ALREADY_EXISTS.
    warehouse = unquote(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = os.path.join(warehouse, name)
        if os.path.exists(loc):
            shutil.rmtree(loc)


def write_bucketed_facts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ingest-time layout: both facts bucketed+sorted on the join key.
    Only the columns the orderkey-join WORKLOAD reads (Q5-shaped revenue
    AND Q3-shaped shipping priority — a layout serves a workload, not one
    query) are materialized — the lake copy a recurring workload
    maintains is a projection, not a clone. Column pruning at read time
    means each query still scans only its own columns."""
    li_name, o_name = bucketed_table_names(spark, sf_dir)
    n_buckets = _n_buckets(sf_dir)
    _drop_stale(spark, li_name, o_name)
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate")
        .repartition(n_buckets, "l_orderkey")
        .write.bucketBy(n_buckets, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable(li_name)
    )
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .repartition(n_buckets, "o_orderkey")
        .write.bucketBy(n_buckets, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable(o_name)
    )
    # Freshness tag: routing refuses the layout if the source facts have
    # been rewritten since this build (see _source_signature). Published
    # through the manifest CAS so concurrent builders are race-safe and
    # readers always see one complete record.
    from ..sources.manifest import commit_meta

    commit_meta(_meta_root(spark, sf_dir), {"source_signature": _source_signature(sf_dir)})
    return li_name, o_name


_force_scan = False


@contextmanager
def force_scan_path():
    """Routing override: inside this context bucketed_layout_exists reports
    False, so the orderkey-join family constructs its scan-path plan even
    when the layout is built. Two consumers: the *_scan gate variants
    (both routing branches oracle-gated every run, independent of session
    ordering — ADVICE r6) and bench.py's scan-path measurement (so the
    layout's advantage is published as a visible delta, not silently
    folded into the engine ratio). Plan construction is eager w.r.t.
    routing (the branch is taken while building the DataFrame), so
    wrapping construction alone is sufficient."""
    global _force_scan
    _force_scan = True
    try:
        yield
    finally:
        _force_scan = False


def scan_forced() -> bool:
    """Public face of the force_scan_path override — the routing
    predicates of every layout/index family (bucketed facts here, the
    BM25 postings in retrieval/queries.py) consult this instead of the
    private module global, so the override has one name and one
    semantics across families."""
    return _force_scan


def bucketed_layout_exists(spark: SparkSession, sf_dir: str) -> bool:
    """True when this corpus's bucketed fact layout is registered in the
    session catalog AND its freshness tag matches the current source
    files — the routing predicate for the orderkey-join family
    (revenue_by_nation / shipping_priority_top10 serve from the layout
    when a prior ingest built it, scan path otherwise). Catalog-only by
    design: bucketing metadata lives in the metastore, so a warehouse
    directory without a catalog entry (local in-memory catalog after a
    session restart) is NOT servable — a cluster deployment's persistent
    metastore keeps the entry and routes across sessions. The layout is
    tied to the corpus by a path-hash name and to the corpus CONTENTS by
    a stat-signature tag written at build time (_source_signature): facts
    regenerated in place stop matching and the route falls back to scan
    instead of serving stale buckets — same invalidation contract as any
    materialized index (bm25 postings, IVF centroids), now enforced
    rather than documented. Freshness is manifest.meta_matches."""
    if _force_scan:
        return False
    li_name, o_name = bucketed_table_names(spark, sf_dir)
    if not (spark.catalog.tableExists(li_name) and spark.catalog.tableExists(o_name)):
        return False
    from ..sources.manifest import meta_matches

    return meta_matches(_meta_root(spark, sf_dir), source_signature=_source_signature(sf_dir))


def revenue_from_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue_by_nation plan reading the bucketed layout. Identical
    logical shape to plans/relational.py:298 (broadcast dim chain,
    lineitem pre-aggregated by orderkey before the join) — but the
    groupBy(l_orderkey) and the orderkey join both inherit the bucketed
    scan's partitioning, so neither exchanges.

    r12 job-floor fusion (every BroadcastExchange is a separate driver
    job, and at sf0.1 job launches ARE the wall — profiled 7 jobs /
    0.57 s for a 17 MB corpus): the dim chain collapses to ONE broadcast.
    nation⋈region is a constant ~30-row join, planned shuffle_hash so it
    rides INSIDE the dims broadcast job instead of nesting two more
    broadcast jobs; n_name is carried through dims so the old post-
    aggregate 25-row name join (a fourth broadcast) disappears. Customer
    is never shuffled — it still probes a tiny broadcast. Cost at scale:
    the orders→lineitem shuffle payload carries the short n_name string
    instead of an int key (~12 B × ASIA-order rows, ≪1% of the join
    bytes at sf100). Terminal sort: ≤25 aggregate rows, ordered_small
    (no range-sample job, no exchange). Measured sf0.1: 0.57 s/7 jobs →
    0.44 s/3 jobs, bit-identical result."""
    li_name, o_name = bucketed_table_names(spark, sf_dir)
    # r13 (guide §1 — the sf0.1 profile put ~0.28 s of every call in
    # DataFrame CONSTRUCTION: ~195 py4j round-trips to build this tree
    # op by op). The same tree expressed as ONE spark.sql call is one
    # round-trip for the whole text; executed plan verified operator-
    # identical (3 BroadcastHashJoin + 1 ShuffledHashJoin + 3 hash
    # Exchanges + 4 HashAggregates, zero orderkey exchanges) and the
    # result bit-identical. FLOOR(x*100.0 + 0.5) is functions.money.cents
    # verbatim (Spark SQL floor(double) already returns BIGINT).
    df = spark.sql(
        f"""
        WITH nr AS (
          SELECT /*+ SHUFFLE_HASH(r) */ n_nationkey, n_name
          FROM {{n}} n JOIN {{r}} r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA'
        ),
        dims AS (
          SELECT /*+ BROADCAST(nr) */ c_custkey, n_name
          FROM {{c}} c JOIN nr ON c.c_nationkey = nr.n_nationkey
        ),
        li_rev AS (
          SELECT l_orderkey,
                 sum(FLOOR(l_extendedprice * 100.0 + 0.5)
                     * (100 - FLOOR(l_discount * 100.0 + 0.5))) AS rev_c
          FROM {li_name}
          GROUP BY l_orderkey
        ),
        o_asia AS (
          SELECT /*+ BROADCAST(dims) */ o_orderkey, n_name
          FROM {o_name} o JOIN dims ON o.o_custkey = dims.c_custkey
        )
        SELECT n_name, round(CAST(sum(rev_c) AS DOUBLE) / 10000, 2) AS revenue
        FROM li_rev JOIN o_asia ON li_rev.l_orderkey = o_asia.o_orderkey
        GROUP BY n_name
        """,
        n=load_table(spark, sf_dir, "nation"),
        r=load_table(spark, sf_dir, "region"),
        c=load_table(spark, sf_dir, "customer"),
    )
    return ordered_small(df, F.desc("revenue"), "n_name")


@query("revenue_by_nation_bucketed", oracle=_REVENUE_ORACLE)
def revenue_by_nation_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the bucketed layout, then answer from it — gated against the
    same oracle as revenue_by_nation, so a green row proves the layout
    path computes the identical result (the gate intentionally re-proves
    build + read-back + join each run, like bm25_topk_from_index)."""
    write_bucketed_facts(spark, sf_dir)
    return revenue_from_bucketed(spark, sf_dir)


_SHIPPING_ORACLE = """
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
    """


@query("shipping_priority_bucketed", oracle=_SHIPPING_ORACLE)
def shipping_priority_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 from the SAME bucketed layout revenue_by_nation_bucketed
    uses — one layout amortizing across the whole orderkey-join workload,
    which is the actual economics of bucketing a lake (same oracle as
    shipping_priority_top10, plans/relational.py:368). Every wide
    operation inherits the bucketed distribution: the filtered lineitem
    pre-aggregation by orderkey, the orderkey join, and the final
    (orderkey, date, priority) group (hash(l_orderkey) clusters a subset
    of its keys, which satisfies the aggregation's required
    distribution) — zero exchanges besides the broadcast of the
    BUILDING-segment customer keys onto the orders scan."""
    write_bucketed_facts(spark, sf_dir)
    return shipping_from_bucketed(spark, sf_dir)


def shipping_from_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q3-shaped plan reading the existing bucketed layout (no build)
    — the serving path shipping_priority_top10 routes to when
    bucketed_layout_exists."""
    li_name, o_name = bucketed_table_names(spark, sf_dir)
    # r13: single spark.sql construction (same rationale and verification
    # discipline as revenue_from_bucketed above — one driver round-trip
    # instead of ~160; executed plan operator-identical, top-k still
    # TakeOrderedAndProject).
    return spark.sql(
        f"""
        WITH li_rev AS (
          SELECT l_orderkey,
                 sum(FLOOR(l_extendedprice * 100.0 + 0.5)
                     * (100 - FLOOR(l_discount * 100.0 + 0.5))) AS rev_c
          FROM {li_name}
          WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY l_orderkey
        ),
        o_bldg AS (
          SELECT /*+ BROADCAST(c) */ o_orderkey, o_orderdate, o_orderpriority
          FROM {o_name} o
          JOIN (SELECT c_custkey FROM {{cust}} WHERE c_mktsegment = 'BUILDING') c
            ON o.o_custkey = c.c_custkey
          WHERE o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        ),
        agg AS (
          SELECT l_orderkey, o_orderdate, o_orderpriority,
                 round(CAST(sum(rev_c) AS DOUBLE) / 10000, 2) AS revenue
          FROM li_rev JOIN o_bldg ON li_rev.l_orderkey = o_bldg.o_orderkey
          GROUP BY l_orderkey, o_orderdate, o_orderpriority
        )
        SELECT l_orderkey, revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o_orderpriority
        FROM agg
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """,
        cust=load_table(spark, sf_dir, "customer"),
    )


@query("revenue_by_nation_scan", oracle=_REVENUE_ORACLE)
def revenue_by_nation_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """revenue_by_nation with routing overridden to the SCAN path — gates
    the cold-corpus plan every run regardless of whether a layout was
    built earlier in the session (previously an alphabetical gate order
    could leave the scan branch un-gated whenever *_bucketed ran first;
    ADVICE r6). Same oracle as all three siblings."""
    from .relational import revenue_by_nation

    with force_scan_path():
        return revenue_by_nation(spark, sf_dir)


@query("shipping_priority_scan", oracle=_SHIPPING_ORACLE)
def shipping_priority_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shipping_priority_top10 forced onto the scan path — see
    revenue_by_nation_scan for the routing-coverage rationale."""
    from .relational import shipping_priority_top10

    with force_scan_path():
        return shipping_priority_top10(spark, sf_dir)
