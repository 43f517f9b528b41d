"""Registered retrieval queries (reference Q1–Q6) with DuckDB oracles.

The BM25 oracle SQL mirrors bm25.py's DataFrame plan CTE-for-stage:
tokenize→explode (toks), tf, dl, corpus stats, df over query terms, then
the Lucene-style score. The hybrid oracle composes the BM25 and cosine
rankings with RRF exactly as hybrid.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import title_from_filename, tokens
from ..registry import query
from ..sources.catalog import load_table, warehouse_path
from .bm25 import bm25_scores, bm25_topk
from .hybrid import context_budget_cut, rank_top, route_topic, rrf_fuse

QUERY_TERMS = ["spark", "join", "fast", "table"]
_QTERMS_SQL = "[" + ", ".join(f"'{t}'" for t in QUERY_TERMS) + "]"

# BM25 pipeline as reusable oracle CTEs (k1=1.2, b=0.75, Lucene idf).
_BM25_CTES = """
    toks AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS term
        FROM documents{doc_filter}
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
        SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
    ),
    qterms AS (SELECT DISTINCT unnest({qterms}) AS term),
    dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf
        WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ),
    bm25 AS (
        SELECT tf.doc_id,
               sum( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                    * (tf.tf * 2.2)
                    / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
        FROM tf
        JOIN qterms q ON tf.term = q.term
        JOIN dfreq d  ON tf.term = d.term
        JOIN dl       ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
"""


def _bm25_ctes(doc_filter: str = "", qterms: str = _QTERMS_SQL) -> str:
    return _BM25_CTES.format(doc_filter=doc_filter, qterms=qterms)


@query(
    "bm25_search",
    oracle=f"""
    WITH {_bm25_ctes()}
    SELECT doc_id, round(score, 4) AS score
    FROM bm25 ORDER BY round(score, 4) DESC, doc_id LIMIT 15
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q2 keyword search
    (/root/reference/src/load/lancedb_store.py:192-222) as an explicit
    postings-join BM25, top-15.

    r11 routing (same contract as revenue_by_nation's bucketed layout):
    when this corpus's persisted postings index is FRESH (built at
    ingest — bench.py's prepare slot, or any ensure_bm25_index call),
    serve from it (literal term pushdown into the postings scan, dl
    inline, no tokenization) — the reference's actual steady state, where
    every search reads the once-per-ingest Tantivy index. Cold corpus or
    stale index falls back to the live scan plan; both paths answer the
    identical oracle (the shared gate row of bm25_topk_from_index), and
    bench.py publishes the scan-path wall beside the served one."""
    if bm25_index_servable(spark, sf_dir):
        from .bm25 import bm25_topk_from_index

        return bm25_topk_from_index(
            spark, _bm25_index_path(sf_dir), QUERY_TERMS, 15
        ).withColumnRenamed("doc_key", "doc_id")
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", QUERY_TERMS, 15).withColumnRenamed("doc_key", "doc_id")


@query(
    "bm25_search_title_filtered",
    oracle=f"""
    WITH {_bm25_ctes(doc_filter=" WHERE source LIKE '%src1%'")}
    SELECT doc_id, round(score, 4) AS score
    FROM bm25 ORDER BY round(score, 4) DESC, doc_id LIMIT 10
    """,
)
def bm25_search_title_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q4 + F8: keyword search with a metadata pre-filter
    (title LIKE, /root/reference/src/retrieve/hybrid_retriever.py:77-81).
    The filter is applied BEFORE scoring — pre-filter semantics, matching
    the reference's `.where()` pushdown into LanceDB — so corpus stats (N,
    avgdl, df) are those of the filtered corpus."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("source").contains("src1"))
    return bm25_topk(docs, "doc_id", "text", QUERY_TERMS, 10).withColumnRenamed("doc_key", "doc_id")


# Title-weighted search: the reference's FTS index covers document_title
# AND text (/root/reference/src/load/lancedb_store.py:104-112) with a 2.0×
# title boost planned in plans/etl-pipeline-plan.md:1131-1158. Query terms
# chosen to exercise both fields: 'spark'/'table' live in text, 'report'
# is in every derived title (near-zero idf — sanity ballast), 'src1' is in
# ~1/20 of titles and nowhere in text (the discriminating title hit).
TITLE_BOOST = 2.0
TW_QUERY_TERMS = ["spark", "table", "report", "src1"]
_TW_QTERMS_SQL = "[" + ", ".join(f"'{t}'" for t in TW_QUERY_TERMS) + "]"

# Mirror of _BM25_CTES over the derived title field (same regex chain as
# the doc_titles_from_filenames oracle).
_TITLE_BM25_CTES = """
    titles AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(source || '_report_' || CAST(doc_id AS VARCHAR) || '.pdf', '\\.pdf$', ''),
                           '^[A-Z]{{2,3}}[0-9]{{2,4}}[ _-]*', ''),
                       '[_-][0-9]{{4,8}}$', ''),
                   '[_-]+', ' ', 'g')) AS title
        FROM documents
    ),
    ttoks AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(title), '\\s+'), t -> t <> '')) AS term
        FROM titles
    ),
    ttf AS (SELECT doc_id, term, count(*) AS tf FROM ttoks GROUP BY doc_id, term),
    tdl AS (SELECT doc_id, count(*) AS dl FROM ttoks GROUP BY doc_id),
    tstats AS (
        SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM tdl
    ),
    tdfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM ttf
        WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ),
    tbm25 AS (
        SELECT ttf.doc_id,
               sum( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                    * (ttf.tf * 2.2)
                    / (ttf.tf + 1.2 * (0.25 + 0.75 * tdl.dl / s.avgdl)) ) AS score
        FROM ttf
        JOIN qterms q ON ttf.term = q.term
        JOIN tdfreq d ON ttf.term = d.term
        JOIN tdl      ON ttf.doc_id = tdl.doc_id
        CROSS JOIN tstats s
        GROUP BY ttf.doc_id
    )
""".format()


@query(
    "bm25_search_title_weighted",
    oracle=f"""
    WITH {_bm25_ctes(qterms=_TW_QTERMS_SQL)},
    {_TITLE_BM25_CTES}
    SELECT doc_id, round(sum(s), 4) AS score
    FROM (
        SELECT doc_id, score AS s FROM bm25
        UNION ALL
        SELECT doc_id, score * {TITLE_BOOST} AS s FROM tbm25
    )
    GROUP BY doc_id
    ORDER BY round(sum(s), 4) DESC, doc_id LIMIT 15
    """,
)
def bm25_search_title_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference S12/Q2 field parity (VERDICT r3 ask #6): the FTS index
    covers document_title AND text (lancedb_store.py:104-112); a title
    match lifts a result with the planned 2.0× boost
    (plans/etl-pipeline-plan.md:1131-1158). Scored as per-field BM25
    (each field has its own dl/avgdl/df — the BM25F-style decomposition)
    fused join-free: union the two scored sets with the boost applied,
    one groupBy-sum. Both scored sets are posting-list-sized (docs
    matching ≥1 query term), so the fusion aggregate never touches the
    corpus; titles derive from filenames exactly as F10 does."""
    docs = load_table(spark, sf_dir, "documents")
    fname = F.concat(
        F.col("source"), F.lit("_report_"), F.col("doc_id").cast("string"), F.lit(".pdf")
    )
    with_title = docs.select(
        "doc_id", "text", title_from_filename(fname).alias("title")
    )
    text_scored = bm25_scores(with_title, "doc_id", "text", TW_QUERY_TERMS)
    title_scored = bm25_scores(with_title, "doc_id", "title", TW_QUERY_TERMS)
    fused = (
        text_scored.select("doc_key", F.col("score").alias("s"))
        .unionByName(
            title_scored.select("doc_key", (F.col("score") * TITLE_BOOST).alias("s"))
        )
        .groupBy("doc_key")
        .agg(F.round(F.sum("s"), 4).alias("score"))
    )
    return (
        fused.select(F.col("doc_key").alias("doc_id"), "score")
        .orderBy(F.desc("score"), "doc_id")
        .limit(15)
    )


@query(
    "bm25_topk_from_index",
    oracle=f"""
    WITH {_bm25_ctes()}
    SELECT doc_id, round(score, 4) AS score
    FROM bm25 ORDER BY round(score, 4) DESC, doc_id LIMIT 15
    """,
)
def bm25_topk_from_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index path of S12 (VERDICT r4 ask #8), gated against
    the SAME oracle as bm25_search: build the bucketed postings +
    doc-stats parquet pair (bm25.persist_index — term-hash-partitioned,
    sorted within partitions), then score top-15 from the files with no
    corpus scan or tokenization. A green row proves index-path ≡
    recompute-path end-to-end (build + read-back + score), which is the
    100 TB story for repeated queries: the reference builds its Tantivy
    index once per ingest batch (lancedb_store.py:104-112, pipeline.py:
    164-165) and serves every search from it.

    The index lands under the repo warehouse keyed by corpus dir so gate
    runs at different sf don't collide; each invocation rebuilds
    (mode=overwrite) — the gate intentionally times/validates the whole
    build+query cycle, not a warm cache."""
    from .bm25 import bm25_topk_from_index

    path = _build_bm25_index(spark, sf_dir)
    return (
        bm25_topk_from_index(spark, path, QUERY_TERMS, 15)
        .withColumnRenamed("doc_key", "doc_id")
    )


@query(
    "bm25_incremental_index",
    oracle=f"""
    WITH {_bm25_ctes()}
    SELECT doc_id, round(score, 4) AS score
    FROM bm25 ORDER BY round(score, 4) DESC, doc_id LIMIT 15
    """,
)
def bm25_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(delta) FTS index maintenance, end-to-end: persist the index over
    the base corpus (doc_id % 20 != 0), extend it with the delta
    (doc_id % 20 == 0 — the same 'tomorrow's documents' split as
    near_dup_incremental) via bm25.extend_index, then serve top-15 from
    the EXTENDED files. The oracle is the full-corpus BM25 — the same
    SQL bm25_search and bm25_topk_from_index are gated on — so a green
    row proves extend ≡ full rebuild on every score component (postings,
    denormalized dl, query-time df, and the exactly-merged corpus
    scalars; see extend_index's docstring for why each holds).

    Economics this buys at scale: a daily ingest tokenizes only its
    delta instead of the corpus — the FTS twin of the near-dup band
    index's 55.8 s-build / 8.1 s-marginal split (SCALING.md). The gate
    row intentionally pays base-build + extend + query every call, like
    the other index rows; the steady-state cost is the extend alone."""
    from .bm25 import bm25_topk_from_index, extend_index, persist_index

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 20 != 0)
    delta = docs.filter(F.col("doc_id") % 20 == 0)
    path = warehouse_path(sf_dir, "bm25_index_incr")
    persist_index(base, "doc_id", "text", path)
    extend_index(delta, "doc_id", "text", path)
    return (
        bm25_topk_from_index(spark, path, QUERY_TERMS, 15)
        .withColumnRenamed("doc_key", "doc_id")
    )


def _bm25_index_path(sf_dir: str) -> str:
    """This corpus's shared BM25 index location (catalog.warehouse_path)."""
    return warehouse_path(sf_dir, "bm25_index")


def _build_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the BM25 index for this corpus under the repo warehouse
    (path keyed by corpus dir) and return its path. The freshness
    signature is recorded too: the index just built IS fresh, and the
    always-build gate rows (bm25_topk_from_index, hybrid_rrf_from_index)
    share this path with the r11 routing — omitting the signature here
    would silently flip bm25_index_servable off for every later
    bm25_search in the session (code-review r11 finding)."""
    from ..sources.catalog import table_stat_signature
    from .bm25 import persist_index

    docs = load_table(spark, sf_dir, "documents")
    path = _bm25_index_path(sf_dir)
    persist_index(
        docs,
        "doc_id",
        "text",
        path,
        source_signature=table_stat_signature(sf_dir, ("documents",)),
    )
    return path


def ensure_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """Serve-or-build for the shared corpus BM25 index — the ingest-time
    lifecycle slot (reference: Tantivy index built once per ingest batch,
    /root/reference/src/pipeline.py:164-165). Persists WITH a freshness
    signature, so bm25_index_servable can route steady-state searches to
    the files; reuses the index while the documents table is unchanged.
    SparkEngine calls it once per engine and serves keyword search from
    the returned path."""
    from ..sources.catalog import table_stat_signature
    from .bm25 import ensure_index

    docs = load_table(spark, sf_dir, "documents")
    return ensure_index(
        docs,
        "doc_id",
        "text",
        _bm25_index_path(sf_dir),
        table_stat_signature(sf_dir, ("documents",)),
    )


def bm25_index_servable(spark: SparkSession, sf_dir: str) -> bool:
    """Routing predicate for the keyword-search family, the FTS twin of
    plans/bucketed.bucketed_layout_exists: True when this corpus's
    persisted postings index is current (bm25.index_is_current: its
    freshness signature matches the documents table and its layout is
    the one the index readers accept). Honors force_scan_path (the same
    override bench.py uses to publish the scan-path walls beside the
    served ones), and never triggers a build — a serving query must not hide an
    index build inside its wall; ensure_bm25_index is the ingest-slot
    verb."""
    from ..plans.bucketed import scan_forced
    from ..sources.catalog import table_stat_signature
    from .bm25 import index_is_current

    if scan_forced():
        return False
    return index_is_current(
        _bm25_index_path(sf_dir), table_stat_signature(sf_dir, ("documents",))
    )


@query(
    "routed_search",
    oracle=f"""
    WITH {_bm25_ctes(qterms="['how', 'fast', 'is', 'spark']")}
    SELECT b.doc_id, round(b.score, 4) AS score
    FROM bm25 b JOIN documents d ON b.doc_id = d.doc_id
    WHERE contains(lower(d.text), 'spark')
    ORDER BY round(b.score, 4) DESC, b.doc_id LIMIT 10
    """,
)
def routed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q5 topic routing
    (/root/reference/src/retrieve/hybrid_retriever.py:92-126): the query
    string is matched against the KNOWN_TOPICS list driver-side; the first
    hit ('spark') becomes a content filter, then keyword search runs over
    the full query tokens."""
    user_query = "how fast is spark"
    topic = route_topic(user_query)
    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, "doc_id", "text", user_query.split())
    filtered = docs.filter(F.lower(F.col("text")).contains(topic)).select(
        F.col("doc_id").alias("doc_key")
    )
    return (
        scored.join(filtered, "doc_key", "left_semi")
        .select(F.col("doc_key").alias("doc_id"), F.round("score", 4).alias("score"))
        .orderBy(F.desc(F.round("score", 4)), "doc_id")
        .limit(10)
    )


# Shared by hybrid_rrf_search (live postings) and hybrid_rrf_from_index
# (persisted postings): both must produce exactly this fusion.
_HYBRID_ORACLE = f"""
    WITH {_bm25_ctes()},
    kw_rank AS (
        SELECT doc_id, row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rank_kw
        FROM bm25 QUALIFY rank_kw <= 20
    ),
    vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    qv AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
    cos AS (
        SELECT vec_id AS doc_id,
               round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS score
        FROM vecs CROSS JOIN qv
    ),
    vec_rank AS (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_vec
        FROM cos QUALIFY rank_vec <= 20
    )
    SELECT coalesce(k.doc_id, v.doc_id) AS doc_id,
           round(coalesce(1.0 / (60 + k.rank_kw), 0) + coalesce(1.0 / (60 + v.rank_vec), 0), 6) AS score
    FROM kw_rank k FULL OUTER JOIN vec_rank v ON k.doc_id = v.doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """


@query("hybrid_rrf_search", oracle=_HYBRID_ORACLE)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q3 hybrid search
    (/root/reference/src/load/lancedb_store.py:154-190): overfetch 20 from
    each modality, full-outer join, RRF(k=60) fusion, top-10. Both ranked
    inputs are k rows, so the fusion join is trivially broadcast.

    r11: the keyword leg routes through the persisted postings index when
    fresh (bm25_index_servable — same routing/fallback/oracle contract as
    bm25_search; hybrid_rrf_from_index stays the always-build gate row).

    r13: the query vector enters the vector leg as a SQL LITERAL
    (array_lit_sql over the signature-memoized fetch) instead of a
    broadcast 1-row DF — the scored scan is a pure projection, one
    BroadcastExchange driver job gone. The query norm is not
    constant-folded (a higher-order function never is): cosine_lit_sql
    folds it driver-side into a literal and computes each per-row
    value once.

    r13 construction floor (guide §1): on the served route the ENTIRE
    query — index-scored kw leg, literal-vector leg, both top-20 ranks,
    union-RRF, top-10 — is ONE spark.sql round-trip (profiled 0.27 s of
    op-by-op py4j construction per call at sf0.1), built by
    hybrid.rrf_sql, the SQL twin of rank_top/rrf_fuse that SparkEngine
    serves hybrid search with too."""
    emb = load_table(spark, sf_dir, "embeddings")

    if bm25_index_servable(spark, sf_dir):
        from ..functions.vectors import cosine_lit_sql
        from ..operators.similarity import _query_vector_cached
        from .bm25 import scored_from_index_sql
        from .hybrid import rrf_sql

        kw_sql, post = scored_from_index_sql(spark, _bm25_index_path(sf_dir), QUERY_TERMS)
        cos = cosine_lit_sql("embedding", _query_vector_cached(spark, sf_dir, 0))
        vec_sql = "SELECT vec_id AS doc_key, round(" + cos + ", 4) AS score FROM {emb}"
        return spark.sql(
            rrf_sql(kw_sql, vec_sql, depth=20, k=10),
            post=post,
            emb=emb,
        ).withColumnRenamed("doc_key", "doc_id")

    docs = load_table(spark, sf_dir, "documents")
    kw = bm25_scores(docs, "doc_id", "text", QUERY_TERMS)
    kw_rank = rank_top(kw, 20, "doc_key")
    vec_rank = rank_top(_vec_scored_lit(spark, sf_dir, emb), 20, "doc_key")
    return rrf_fuse(kw_rank, vec_rank, "doc_key", k=10).withColumnRenamed("doc_key", "doc_id")


def _vec_scored_lit(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """(doc_key, score): the hybrid family's vector leg — cosine against
    the literal query vector, shared by the live and from-index paths."""
    from ..functions.vectors import cosine_lit_sql
    from ..operators.similarity import _query_vector_cached

    cos = cosine_lit_sql("embedding", _query_vector_cached(spark, sf_dir, 0))
    return emb.select(F.col("vec_id").alias("doc_key"), F.expr(f"round({cos}, 4)").alias("score"))


@query("hybrid_rrf_from_index", oracle=_HYBRID_ORACLE)
def hybrid_rrf_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING path of Q3 hybrid search: the keyword side scores from
    the persisted bucketed postings (bm25_scores_from_index — literal
    term predicate pushed to the scan, dl inline, no doc-side join), the
    vector side is the scored scan, fusion is the same join-free RRF.
    Gated against the SAME oracle as hybrid_rrf_search, proving the
    reference's steady-state serving contract end-to-end: LanceDB builds
    its Tantivy+vector indexes once per ingest and every hybrid query
    reads them (lancedb_store.py:104-112,154-190) — here that is
    build-parquet-once, then every query is posting-list reads + one
    corpus vector scan. At sf100 the in-session keyword side costs
    26.8 s per query; from the index it is ~5 s (SCALING.md r5)."""
    from .bm25 import bm25_scores_from_index

    path = _build_bm25_index(spark, sf_dir)
    kw_rank = rank_top(bm25_scores_from_index(spark, path, QUERY_TERMS), 20, "doc_key")

    emb = load_table(spark, sf_dir, "embeddings")
    vec_rank = rank_top(_vec_scored_lit(spark, sf_dir, emb), 20, "doc_key")

    return rrf_fuse(kw_rank, vec_rank, "doc_key", k=10).withColumnRenamed("doc_key", "doc_id")


@query(
    "context_assembly",
    oracle=f"""
    WITH {_bm25_ctes()},
    topk AS (
        SELECT doc_id, row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rank
        FROM bm25 QUALIFY rank <= 20
    ),
    budget AS (
        SELECT t.rank, t.doc_id, d.source,
               CAST(floor(len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), x -> x <> '')) * 1.3) AS INT) AS tokens
        FROM topk t JOIN documents d ON t.doc_id = d.doc_id
    ),
    cum AS (
        -- widths pinned to the Spark result: row_number is INT there,
        -- sum(INT) over a window is BIGINT (DuckDB would give BIGINT/
        -- HUGEINT and the driver's value-hash is width-sensitive)
        SELECT CAST(rank AS INT) AS rank, doc_id, source, tokens,
               CAST(sum(tokens) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM budget
    )
    SELECT rank, doc_id, source, tokens, cum_tokens
    FROM cum WHERE cum_tokens <= 400 ORDER BY rank
    """,
)
def context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q6 get_context
    (/root/reference/src/retrieve/hybrid_retriever.py:167-206): overfetch
    20, greedy running token-budget cut at 400 tokens (A7 window), keeping
    source attribution for the [Source: title] blocks."""
    docs = load_table(spark, sf_dir, "documents")
    topk = rank_top(bm25_scores(docs, "doc_id", "text", QUERY_TERMS), 20, "doc_key")
    enriched = topk.join(
        docs.select(F.col("doc_id").alias("doc_key"), "source", "text"), "doc_key"
    )
    cut = context_budget_cut(enriched, "text", max_tokens=400, order_col="rank")
    return cut.select(
        "rank", F.col("doc_key").alias("doc_id"), "source", "tokens", "cum_tokens"
    ).orderBy("rank")


@query(
    "context_distinct_sources",
    oracle=f"""
    WITH {_bm25_ctes()},
    topk AS (
        SELECT doc_id, row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rank
        FROM bm25 QUALIFY rank <= 20
    )
    SELECT DISTINCT d.source FROM topk t JOIN documents d ON t.doc_id = d.doc_id
    ORDER BY source
    """,
)
def context_distinct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A9: distinct source documents among assembled context
    (/root/reference/src/retrieve/hybrid_retriever.py:188-205)."""
    docs = load_table(spark, sf_dir, "documents")
    topk = rank_top(bm25_scores(docs, "doc_id", "text", QUERY_TERMS), 20, "doc_key")
    return (
        topk.join(docs.select(F.col("doc_id").alias("doc_key"), "source"), "doc_key")
        .select("source")
        .distinct()
        .orderBy("source")
    )


PHRASE = ("hash", "join")


@query(
    "fts_phrase_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS t
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len([i for i in range(1, len(t))
                         if t[i] = '{PHRASE[0]}' AND t[i+1] = '{PHRASE[1]}']) AS BIGINT)
                   AS n_matches,
               CAST(list_min([i for i in range(1, len(t))
                              if t[i] = '{PHRASE[0]}' AND t[i+1] = '{PHRASE[1]}']) AS BIGINT)
                   AS first_pos
        FROM toks
    )
    SELECT doc_id, n_matches, first_pos
    FROM m WHERE n_matches > 0
    ORDER BY doc_id
    """,
)
def fts_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query over POSITIONAL postings — the FTS feature BM25's
    bag-of-words postings cannot answer (Tantivy/Lucene phrase queries use
    the same structure; the reference's FTS index delegates to Tantivy,
    /root/reference/src/load/lancedb_store.py:104-112). The plan is the
    real inverted-index shape, not a substring scan: posexplode the token
    stream to (doc, term, pos), keep only the phrase's terms (at index
    scale this is the posting-list fetch), and adjacency-join the two
    position lists (pos_b = pos_a + 1) — per-doc match count and first
    position come out of one aggregate. 1-based positions match the
    oracle's list-comprehension indexing.

    Scale posture: the term filter cuts the exploded stream to the two
    query terms' postings BEFORE any exchange; the adjacency self-join
    shuffles on (doc_id) with tiny per-doc lists; with a persisted
    positional-postings table (persist_index's natural extension,
    bucketed by term) the scan never touches non-query terms at all."""
    docs = load_table(spark, sf_dir, "documents")
    a, b = PHRASE
    toks = tokens("text")
    # (term, 1-based pos) structs so positions survive the term filter;
    # the filter runs INSIDE the scan stage, so only the two query terms'
    # postings are ever exploded into rows.
    indexed = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.size(toks)),
        lambda t, i: F.struct(t.alias("term"), i.alias("p")),
    )
    pos = docs.select(
        "doc_id",
        F.explode(F.filter(indexed, lambda s: s["term"].isin(a, b))).alias("s"),
    ).select("doc_id", F.col("s.term").alias("term"), F.col("s.p").alias("p"))
    pa = pos.filter(F.col("term") == a).select("doc_id", F.col("p").alias("pa"))
    pb = pos.filter(F.col("term") == b).select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")
    )
    matches = pa.join(pb, (pa.doc_id == pb.doc_b) & (pb.pb == pa.pa + 1))
    return (
        matches.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.min("pa").alias("first_pos"),
        )
        .orderBy("doc_id")
    )
