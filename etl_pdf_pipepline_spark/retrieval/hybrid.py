"""Hybrid retrieval: RRF fusion, mode dispatch, topic routing, context
assembly (reference Q3–Q6).

The reference's hybrid mode is LanceDB-internal RRF
(/root/reference/src/load/lancedb_store.py:154-190; named in
plans/etl-pipeline-plan.md:1126). Here it is an explicit full-outer join of
the two top-k rankings with score = Σ 1/(60 + rank_i) — two small (k-row)
inputs, so the join is trivially broadcast.

`get_context` (reference /root/reference/src/retrieve/hybrid_retriever.py:167-206)
is the ordered-window running-sum cut (SURVEY.md A7): overfetch, rank,
cumulative token count, keep rows while the budget holds. The window is a
single-partition ordered frame over k≈20 rows — fine at any scale because
it runs on an already-top-k'd set, never the corpus.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_count_estimate

RRF_K = 60


class SearchMode(str, Enum):
    # /root/reference/src/retrieve/hybrid_retriever.py:13-18
    VECTOR = "vector"
    KEYWORD = "keyword"
    HYBRID = "hybrid"


# /root/reference/src/retrieve/hybrid_retriever.py:32-50 — 17 hard-coded
# routing topics; ours are corpus-appropriate terms for the test tables.
KNOWN_TOPICS = (
    "spark",
    "join",
    "window",
    "stream",
    "vector",
    "hash",
    "sort",
    "filter",
    "merge",
    "batch",
    "scan",
    "agg",
    "query",
    "table",
    "column",
    "row",
    "group",
)


def rank_by_score(scored: DataFrame, id_col: str = "doc_key") -> DataFrame:
    """Dense total-order ranking: rounded score desc, id asc. Rounding
    first turns near-ties (1-ulp cross-engine drift) into exact ties broken
    deterministically by id.

    The single-partition window here ranks the WHOLE scored set — use
    only when that set is already small; for top-k consumers use
    `rank_top`, which bounds the window to k rows."""
    w = Window.orderBy(F.desc(F.round("score", 4)), F.asc(id_col))
    return scored.select(id_col, F.row_number().over(w).alias("rank"))


def rank_top(scored: DataFrame, k: int, id_col: str = "doc_key") -> DataFrame:
    """Top-k ranking that scales: TakeOrderedAndProject reduces the set to
    k rows FIRST (parallel per-partition top-k + merge, never a global
    sort), then the row_number window runs over just those k. Identical
    output to `rank_by_score(...).filter(rank <= k)` because the ordering
    (rounded score desc, id asc) is total."""
    order = [F.desc(F.round("score", 4)), F.asc(id_col)]
    topk = scored.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return topk.select(id_col, "score", F.row_number().over(w).alias("rank")).drop("score")


def rrf_fuse(
    rank_a: DataFrame,
    rank_b: DataFrame,
    id_col: str = "doc_key",
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """RRF = Σ sides 1/(rrf_k + rank), missing side contributes 0 — which
    is exactly a union + sum-by-id, so no join at all. The r1 full-outer
    join form compiled to a SortMergeJoin (Spark has no broadcast
    full-outer for equi-keys); this HashAggregate over ≤2k rows
    partial-aggregates map-side and also generalizes to N-way fusion for
    free. Arithmetic is bit-identical (two-double add is commutative;
    single-side rows sum to themselves vs the old value + 0.0)."""
    contribs = [
        df.select(F.col(id_col), (1.0 / (F.lit(rrf_k) + F.col("rank"))).alias("contrib"))
        for df in (rank_a, rank_b)
    ]
    fused = (
        contribs[0]
        .unionAll(contribs[1])
        .groupBy(id_col)
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    return fused.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def rrf_sql(kw_sql: str, vec_sql: str, depth: int, k: int) -> str:
    """`rank_top` of each leg to `depth` and `rrf_fuse` to `k`, as ONE SQL
    text over two scored (doc_key, score) SQL texts — the same total
    order (rounded score desc, id asc), the same union + sum and the same
    rounding, for callers that build the whole search as one spark.sql
    round-trip. Returns (doc_key, score) ordered by score desc, doc_key."""
    order = "ORDER BY round(score, 4) DESC, doc_key"
    ranks = []
    for leg, sql in (("kw", kw_sql), ("vec", vec_sql)):
        ranks.append(
            f"{leg} AS ({sql}), "
            f"{leg}_top AS (SELECT doc_key, score FROM {leg} {order} LIMIT {int(depth)}), "
            f"{leg}_rank AS (SELECT doc_key, row_number() OVER ({order}) AS rank FROM {leg}_top)"
        )
    contrib = f"1.0D / ({RRF_K} + rank) AS contrib"
    return (
        "WITH " + ", ".join(ranks) + ", "
        f"u AS (SELECT doc_key, {contrib} FROM kw_rank "
        f"UNION ALL SELECT doc_key, {contrib} FROM vec_rank) "
        "SELECT doc_key, round(sum(contrib), 6) AS score FROM u "
        f"GROUP BY doc_key ORDER BY score DESC, doc_key LIMIT {int(k)}"
    )


def route_topic(query_text: str, topics: tuple[str, ...] = KNOWN_TOPICS) -> str | None:
    """First topic substring-matched in the query — reference
    `_extract_topics` (/root/reference/src/retrieve/hybrid_retriever.py:148-151).
    Driver-side: the topic list is a constant, not data."""
    q = query_text.lower()
    for t in topics:
        if t in q:
            return t
    return None


def context_budget_cut(
    ranked: DataFrame,
    text_col: str,
    max_tokens: int,
    order_col: str = "rank",
) -> DataFrame:
    """Greedy running-sum token budget over a ranked result set (A7).

    Keeps every row whose cumulative token estimate (including itself) fits
    the budget — the reference's loop at hybrid_retriever.py:190-200.
    """
    w = (
        Window.orderBy(F.asc(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranked.withColumn("tokens", token_count_estimate(text_col))
        .withColumn("cum_tokens", F.sum("tokens").over(w))
        .filter(F.col("cum_tokens") <= max_tokens)
    )
