"""Explicit BM25 keyword search (reference Q2/S12/A8).

The reference delegates BM25 to LanceDB's Tantivy FTS index
(/root/reference/src/load/lancedb_store.py:104-112,192-222). Here the
"index" is an explicit pair of DataFrames — postings (term frequencies) and
doc stats — built with plain tokenize→explode→groupBy aggregations, so
Catalyst plans them as partial+final hash aggregates with map-side combine.

Scale posture (100 TB): postings build shuffles once on (doc, term); the
corpus-level scalars (N, avgdl) are a one-row aggregate cross-joined back
in (broadcast). Query scoring joins the tiny query-term list against
postings — broadcast join, no full-corpus shuffle — then TakeOrderedAndProject
for top-k. Persist postings as a bucketed-by-term table to make repeated
query scoring shuffle-free.

Parameters k1=1.2, b=0.75 (Lucene/LanceDB defaults, SURVEY.md §7.3), idf =
ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene's non-negative variant).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

K1 = 1.2
B = 0.75
# Postings files per index build or extend (hash-partitioned by term).
N_BUCKETS = 16


def build_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) — term frequencies per document."""
    return (
        docs.select(F.col(id_col).alias("doc_key"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("doc_key", "term")
        .agg(F.count("*").alias("tf"))
    )


def build_doc_stats(postings: DataFrame) -> DataFrame:
    """(id, dl) — token length per document, derived from postings."""
    return postings.groupBy("doc_key").agg(F.sum("tf").alias("dl"))


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
) -> DataFrame:
    """Score every document containing ≥1 query term; returns (doc_key, score).

    Only rows whose term is in the (tiny, broadcast) query list survive the
    first join, so the scored set is the posting lists of the query terms —
    the same work a posting-list index union would do.
    """
    # The live index: tokenized from `docs` and .cache()d, so repeated
    # queries over the same corpus lineage (Spark's cache manager matches
    # canonicalized plans) reuse one materialization. Its callers are
    # the registry rows that score a derived view (routed, title-weighted,
    # context) or the unindexed fallback. Serving (api/engine.py, which
    # cli.py search calls) reads the persisted index instead
    # (persist_index / scored_from_index_sql below), which pins no
    # executor memory per corpus lineage.
    postings = build_postings(docs, id_col, text_col).cache()
    doc_stats = build_doc_stats(postings).cache()
    key = (id(postings.sparkSession), postings.semanticHash())
    _CACHED_INDEXES.setdefault(key, (postings, doc_stats))
    return _score_postings(postings, doc_stats, query_terms)


# Every live (cached) index registered here so long-lived sessions (the
# REST API, notebook sessions) can drop them: each DISTINCT corpus lineage
# pins one materialization in executor memory until released. Re-caching
# an identical canonical plan is a no-op in Spark's cache manager, and the
# entry is keyed by the session and that plan's semantic hash, so
# per-query calls over one lineage hold one entry while the same plan
# cached in another session gets its own.
_CACHED_INDEXES: dict[tuple[int, int], tuple[DataFrame, DataFrame]] = {}


def release_indexes() -> int:
    """Unpersist all cached live indexes; returns how many lineages were
    dropped. Idempotent — double-unpersist is a Spark no-op."""
    n = len(_CACHED_INDEXES)
    for postings, doc_stats in _CACHED_INDEXES.values():
        doc_stats.unpersist()
        postings.unpersist()
    _CACHED_INDEXES.clear()
    return n


def _score_postings(
    postings: DataFrame,
    doc_stats: DataFrame,
    query_terms: list[str],
) -> DataFrame:
    """The live (cached) path's Lucene-style scoring plan: broadcast the
    query-term list, join df-counts/doc-stats/corpus scalars, sum
    per-doc term scores (the scoring expression is the persisted-index
    path's too — _term_score_sql)."""
    spark = postings.sparkSession
    if not query_terms:
        # Empty query scores nothing (createDataFrame([]) cannot infer a
        # schema, and zero terms genuinely means an empty posting union).
        return (
            doc_stats.select(F.col("doc_key"), F.lit(0.0).alias("score")).limit(0)
        )
    # N = docs with ≥1 token (= |doc_stats|): one single-row aggregate
    # serves both corpus scalars, broadcast everywhere.
    corpus = doc_stats.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n"))
    qterms = spark.createDataFrame([(t,) for t in set(query_terms)], ["term"])

    matched = postings.join(F.broadcast(qterms), "term")
    # postings rows are unique per (doc, term), so count(*) == distinct docs
    df_counts = matched.groupBy("term").agg(F.count("*").alias("df"))

    return (
        matched.join(F.broadcast(df_counts), "term")
        .join(doc_stats, "doc_key")
        .crossJoin(F.broadcast(corpus))
        # One JVM-parsed scoring expression (r12) — see _term_score_sql.
        .withColumn("term_score", F.expr(_term_score_sql()))
        .groupBy("doc_key")
        .agg(F.sum("term_score").alias("score"))
    )


def _term_score_sql(n: int | None = None, avgdl: float | None = None) -> str:
    """The Lucene-style per-posting score as ONE SQL string — parsed
    JVM-side in a single py4j round-trip instead of built as ~15 chained
    Column calls (the r12 construction-floor fix; the parsed tree and its
    arithmetic are identical to the Column form both scorers used before).
    Live path: `n`/`avgdl` are columns from the broadcast corpus row.
    Index path: they fold in as literals (repr() round-trips doubles
    exactly; n < 2^53 makes double-vs-long subtraction order exact)."""
    # NB: the D suffix is load-bearing — a bare "500.0" parses as a
    # DECIMAL literal in Spark SQL, not a double.
    n_sql = "n" if n is None else f"{float(n)!r}D"
    avgdl_sql = "avgdl" if avgdl is None else f"{float(avgdl)!r}D"
    return (
        f"log(1.0D + ({n_sql} - df + 0.5D) / (df + 0.5D)) "
        f"* (tf * {K1 + 1.0!r}D) "
        f"/ (tf + {K1!r}D * ({1.0 - B!r}D + {B!r}D * dl / {avgdl_sql}))"
    )


def _topk_by_score(scored: DataFrame, k: int) -> DataFrame:
    """Rounded-score top-k with the id tie-break (total order)."""
    return (
        scored.select(F.col("doc_key"), F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_key"))
        .limit(k)
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int,
) -> DataFrame:
    """Top-k by rounded score (rounding makes cross-engine ordering total
    when combined with the id tie-break). Spark executes orderBy().limit()
    as TakeOrderedAndProject — no global sort materialization."""
    return _topk_by_score(bm25_scores(docs, id_col, text_col, query_terms), k)


# --------------------------------------------------------------------------
# Persisted index — the build-once-query-many contract at cluster scale.
# --------------------------------------------------------------------------


def _write_term_df(postings: DataFrame, path: str, mode: str) -> None:
    """Materialize the per-term document frequency — Lucene's docFreq,
    stored in the term dictionary rather than recomputed per query.
    Before r13 the serving plan derived df at query time with a SECOND
    scan of the term-pruned postings plus a groupBy + BroadcastExchange
    (a separate driver job per query); with df in the index the scorer
    folds it in as literals and the whole query is ONE postings scan
    (guide §2.3/§2.4 — fewer passes, fewer exchanges). Layout matches
    the postings discipline (hash-partitioned by term, sorted within
    partitions) so the query-term read is row-group-prunable; extends
    APPEND delta rows and readers sum per term, exactly like the
    corpus-scalar accumulation."""
    (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"))
        .repartition(max(1, N_BUCKETS // 8), "term")
        .sortWithinPartitions("term")
        .write.mode(mode)
        .parquet(f"{path}/term_df")
    )


# Driver-side term-df lookups, one entry per term_df directory: its
# file-stat signature and the df of every term looked up under it (0 for
# a term the index lacks). A warm lookup is a dict read; a cold one reads
# only the terms the entry lacks, with a pyarrow row-group-pruned read of
# a tiny table — no Spark job either way (the same pattern as
# corpus_scalars' literal fold). A rewritten index has a new signature,
# which replaces the entry, so each index holds one entry.
_TERM_DF_CACHE: dict[str, tuple[str, dict[str, int]]] = {}


def _term_df_lookup(path: str, query_terms: list[str]) -> dict[str, int]:
    """{term: df} for the query terms from the index's term dictionary,
    0 for a term it lacks; a missing term_df/ raises (the reader, not a
    fallback)."""
    from ..sources.catalog import path_stat_signature

    d = f"{path}/term_df"
    sig = path_stat_signature(d)
    cached_sig, known = _TERM_DF_CACHE.get(d, (None, {}))
    if cached_sig != sig:
        known = {}
    missing = sorted(set(query_terms) - known.keys())
    if missing:
        import pyarrow.dataset as pads

        tbl = pads.dataset(d, format="parquet").to_table(
            filter=pads.field("term").isin(missing), columns=["term", "df"]
        )
        # A new dict, published whole: a concurrent lookup never sees, or
        # adds to, a half-summed entry.
        known = {**known, **dict.fromkeys(missing, 0)}
        for term, df in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()):
            known[term] += int(df)
        _TERM_DF_CACHE[d] = (sig, known)
    return {t: known[t] for t in query_terms}


def persist_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    source_signature: str | None = None,
) -> None:
    """Materialize the index as parquet: postings hash-partitioned by term
    (repartition(N_BUCKETS, term) + sorted within partitions), the
    per-doc length DENORMALIZED into each posting row, the term_df
    dictionary, and the corpus scalars (N, total_dl) in the CAS meta
    record. A query's term lookup then touches only the
    partitions/row-groups its terms hash to, and scoring
    needs NO doc-side join at all — the same reason Lucene stores norms
    inline in the postings rather than in a separate doc table. The dl
    copy costs ~one long per posting row at build time (amortized across
    every query); at sf100 it removed a 1.5M×4M-row doc_stats shuffle
    from every query (SCALING.md r5). doc_stats is still written for
    consumers that want the per-doc view. Rebuild cadence mirrors the
    reference: once per ingest batch
    (/root/reference/src/pipeline.py:164-165)."""
    # Tokenized once: the term dictionary, the doc_stats join, the
    # doc_stats write and the scalars all read these postings, and each
    # would otherwise re-tokenize the corpus.
    postings = build_postings(docs, id_col, text_col).cache()
    try:
        doc_stats = build_doc_stats(postings)
        # Term dictionary FIRST (r13): (term, df) — the Lucene docFreq slot.
        # Written before the postings so a crash mid-build/mid-extend can
        # only leave df rows whose postings are missing (scores then
        # under-weight those terms' idf slightly), never postings rows with
        # no df entry (which would NULL their scores in the literal-df
        # serving plan). Readers sum rows per term, so extends can append.
        _write_term_df(postings, path, "overwrite")
        (
            postings.join(doc_stats, "doc_key")
            .repartition(N_BUCKETS, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{path}/postings")
        )
        doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
        # Corpus scalars (N, total token count; avgdl derives) are published
        # through the manifest CAS (sources/manifest.py commit_meta) — the
        # repo's one artifact-publication protocol. The commit is atomic, so
        # a reader never sees a half-replaced record (the crash window a
        # mode('overwrite') parquet rewrite of the old {path}/corpus dir
        # had), and the exact integer total lets extend_index merge scalars
        # exactly instead of reconstructing the sum from a rounded double.
        row = doc_stats.agg(
            F.count("*").alias("n"), F.sum("dl").alias("total_dl")
        ).collect()[0]
    finally:
        postings.unpersist()
    from ..sources.manifest import commit_meta

    # source_signature (when the caller supplies one — a stat digest of
    # the source docs table) rides in the same record, making the index
    # serve-or-build capable via ensure_index.
    payload = {
        "n": int(row["n"]),
        "total_dl": int(row["total_dl"] or 0),
        "layout": _LAYOUT_VERSION,
    }
    if source_signature is not None:
        payload["source_signature"] = source_signature
    commit_meta(path, payload)


# Persisted-index layout version: 2 (r13) = postings + doc_stats + the
# term_df dictionary, with the corpus scalars in the CAS meta record.
# It is the only layout any reader accepts; ensure_index rebuilds an
# index recorded with any other (or none).
_LAYOUT_VERSION = 2


def corpus_scalars(path: str) -> tuple[int, int]:
    """(n, total_dl) from the index's CAS-committed meta record. An index
    without one of the current layout raises: rebuild it (persist_index
    or ensure_index)."""
    from ..sources.manifest import read_meta

    meta = read_meta(path) or {}
    if meta.get("layout") != _LAYOUT_VERSION:
        raise FileNotFoundError(
            f"no layout-{_LAYOUT_VERSION} BM25 index meta record at {path} — "
            "run persist_index or ensure_index to rebuild this index"
        )
    return int(meta["n"]), int(meta["total_dl"])


def index_is_current(path: str, source_signature: str) -> bool:
    """True when the index at `path` was built (or extended) from the
    source with this stat signature, in the current layout (freshness is
    manifest.meta_matches) — the one freshness predicate for
    serve-or-build and for query routing."""
    from ..sources.manifest import meta_matches

    return meta_matches(path, source_signature=source_signature, layout=_LAYOUT_VERSION)


def ensure_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    source_signature: str,
) -> str:
    """Serve-or-build for the persisted BM25 index — the FTS face of the
    lifecycle the other maintained artifacts have (ensure_ivf_index,
    ensure_lsh_band_index, bucketed facts): reuse when the CAS-committed
    freshness record carries a matching `source_signature`, rebuild
    otherwise. Records without a signature (pre-r10 indexes, or builds
    that never passed one) always rebuild — absence means unknown
    provenance, and serving unknown-provenance postings silently is the
    stale-index bug this record exists to prevent. Steady-state loop:
    ingest delta → extend_index(..., source_signature=post_ingest_sig) →
    the next ensure_index serves the EXTENDED files with no rebuild
    (pinned by tests/test_index_freshness.py)."""
    if index_is_current(path, source_signature):
        return path
    persist_index(docs, id_col, text_col, path, source_signature=source_signature)
    return path


def extend_index(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    source_signature: str | None = None,
) -> None:
    """O(delta) extension of a persisted index with NEW documents — the
    FTS twin of the near-dup admission index (operators/dedup.py
    ensure_lsh_band_index): a daily ingest tokenizes only its delta
    instead of re-tokenizing the corpus, the same once-per-ingest-batch
    lifecycle the reference's Tantivy index has
    (/root/reference/src/load/lancedb_store.py:104-112) but with the
    rebuild replaced by an append.

    Contract: delta ids are NEW (the admission pipeline guarantees it
    upstream, exactly as near_dup_incremental assumes) — re-sending an
    existing id would double its postings; callers updating documents go
    through a delete-rebuild or a full persist_index.

    Why the extended index scores identically to a full rebuild (every
    per-(doc,term) component bit-equal; the final per-doc sum can part
    in the last ulp because double summation order follows file layout
    — under the round(4) serving contract the results are equal, and
    tests/test_bm25_incremental.py asserts both bounds):
    (a) df is the per-term sum of the term_df rows, and the delta's
        (term, df) rows are appended beside the base ones (delta ids
        are NEW, so the counts add exactly);
    (b) dl is per-doc and denormalized into each appended row, same as
        the build path;
    (c) the corpus scalars merge EXACTLY: the stored integer total_dl
        accumulates the delta's token count and avgdl is re-derived as
        total_dl/n — double accumulation of integers is exact below
        2^53, so this is the same division the full build performs.

    Scale posture: the appended files are hash-partitioned by term and
    sorted within partitions like the base files, so the In(term)
    pushdown and row-group pruning that carry the query path keep
    working; each extend adds N_BUCKETS postings files. Corpus-scalar
    ordering is crash-safe in the useful direction: postings/doc_stats
    append first, the scalar record commits last
    (atomically, via the manifest CAS — a reader always sees one
    complete record), so a crash mid-extend leaves scores slightly
    UNDER-counting avgdl/n on the new rows rather than referencing
    postings that don't exist."""
    # An index without committed current-layout scalars raises here,
    # before any append (it needs a rebuild, not an extend).
    corpus_scalars(path)
    delta_postings = build_postings(new_docs, id_col, text_col)
    delta_stats = build_doc_stats(delta_postings).cache()
    try:
        # Delta term-df rows land first (see _write_term_df's crash-order
        # rationale); readers sum rows per term, and delta ids are NEW
        # docs by contract, so delta counts add exactly.
        _write_term_df(delta_postings, path, "append")
        (
            delta_postings.join(delta_stats, "doc_key")
            .repartition(N_BUCKETS, "term")
            .sortWithinPartitions("term")
            .write.mode("append")
            .parquet(f"{path}/postings")
        )
        delta_stats.write.mode("append").parquet(f"{path}/doc_stats")
        d = delta_stats.agg(F.sum("dl").alias("s"), F.count("*").alias("c")).collect()[0]
        dn, dtotal = int(d["c"]), int(d["s"] or 0)
        from ..sources.manifest import update_meta

        # The commit goes through update_meta's pinned-version CAS, which
        # re-adds THIS delta to whatever payload won any concurrent race
        # (two concurrent extends both land; last-writer-wins would
        # silently drop one delta's counts from the scalars forever).
        def add_delta(current: dict | None) -> dict:
            if current is None:
                raise FileNotFoundError(f"BM25 index meta record at {path} vanished mid-extend")
            # Preserve every other key (notably source_signature) — the
            # scalar accumulation must not strip the freshness record —
            # and ADVANCE the signature when the caller hands in the
            # post-ingest one, in the SAME pinned-version CAS commit as
            # the scalars, so ensure_index serves the extended files
            # instead of full-rebuilding (the r9 economics defect).
            out = dict(current)
            out["n"] = int(current["n"]) + dn
            out["total_dl"] = int(current["total_dl"]) + dtotal
            if source_signature is not None:
                out["source_signature"] = source_signature
            return out

        update_meta(path, add_delta)
    finally:
        delta_stats.unpersist()


def _sql_str_lit(t: str) -> str:
    """SQL string literal for a spark.sql template: backslash and quote
    escaped for the parser, braces doubled for the template formatter."""
    t = t.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + t.replace("{", "{{").replace("}", "}}") + "'"


# Σdf (posting rows a query's keyword leg reads) at or below which the
# leg reads them in ONE task: its GROUP BY doc_key then needs no exchange,
# so AQE runs no separate shuffle-map job and the leg is one Spark job
# with one stage. Above it the partitioned scan and its shuffle stay.
# Placed at the measured crossover (tools/keyword_leg_crossover.py:
# 4-vCPU host, local[4], 4 query terms each in every doc of an N-doc
# index, top-10; per size, the median over 2-5 interleaved rounds of each
# round's median of 7 runs; wall seconds, one task vs shuffle): 0.5 M rows 0.74 vs 0.77, 1 M 1.34 vs 1.37 (a tie),
# 1.5 M 1.75 vs 1.40, 2 M 2.46 vs 1.51, 4 M 5.09 vs 3.07, 8 M 10.31 vs
# 5.66. The one task grows ~1.3 s per M rows on one core; from 1.5 M the
# shuffle's 4 tasks win on wall time, though the one task stays cheaper
# in CPU at every size.
SINGLE_TASK_POSTINGS = 1_000_000


def scored_from_index_sql(
    spark,
    path: str,
    query_terms: list[str],
    added: Mapping[str, Mapping[str, int]] | None = None,
    removed: Mapping[int, Mapping[str, int]] | None = None,
) -> tuple[str, DataFrame]:
    """The index-served scorer as ONE SQL text and the `{post}` DataFrame
    it reads, to pass as spark.sql(text, post=post): literal IN term
    pushdown, df from the term dictionary folded in as a literal map,
    corpus scalars as double literals — one spark.sql round-trip for the
    whole tree (r13 construction-floor fix, guide §1: the op-by-op build
    cost ~0.16 s of py4j per bm25_search call at sf0.1). Also the
    composable kw-leg fragment for the hybrid family's single SQL text
    (retrieval/queries.py). An empty term list yields a text that scores
    nothing.

    `post` is the index's memoized postings scan (read_parquet_cached),
    coalesced to one partition when the query terms' summed df — read
    from the term dictionary with the df literals, a dict read when warm
    — is at most SINGLE_TASK_POSTINGS. The term IN filter still pushes
    through the coalesce into the parquet scan.

    `added` and `removed` are exact read-time edits of the index, each
    document given as its {term: tf} counts: `added` documents (keyed by
    string id) are served beside the index and `removed` ones (keyed by
    index key) withdrawn from it, so the scores equal a rebuild over
    (indexed − removed + added). N, total_dl and each query term's df
    are corrected by them, the removed keys are excluded from the
    postings scan and the added documents' query-term rows are unioned
    in as a VALUES list; the scoring expression is the same. With either
    edit given, keys are strings (index keys cast), so ties break by
    string id."""
    from ..sources.catalog import read_parquet_cached

    post = read_parquet_cached(spark, f"{path}/postings")
    edited = added is not None or removed is not None
    key_sql = "CAST(doc_key AS STRING) AS doc_key" if edited else "doc_key"
    terms = sorted(set(query_terms))
    if not terms:
        return "SELECT " + key_sql + ", 0.0D AS score FROM {post} WHERE false", post
    n, total_dl = corpus_scalars(path)
    dfs = _term_df_lookup(path, terms)
    if sum(dfs.values()) <= SINGLE_TASK_POSTINGS:
        post = post.coalesce(1)
    terms_in = ", ".join(_sql_str_lit(t) for t in terms)
    added, removed = added or {}, removed or {}
    rows = "SELECT " + key_sql + ", term, tf, dl FROM {post} WHERE term IN (" + terms_in + ")"
    for sign, docs in ((-1, removed), (1, added)):
        for tfs in docs.values():
            dl = sum(tfs.values())
            n += sign if dl else 0
            total_dl += sign * dl
            for t in terms:
                dfs[t] += sign if t in tfs else 0
    if removed:
        rows += " AND doc_key NOT IN (" + ", ".join(str(int(k)) for k in removed) + ")"
    values = [
        f"({_sql_str_lit(doc)}, {_sql_str_lit(t)}, {tfs[t]}L, {sum(tfs.values())}L)"
        for doc, tfs in added.items()
        for t in terms
        if t in tfs
    ]
    if values:
        rows += " UNION ALL SELECT * FROM VALUES " + ", ".join(values) + " AS up(doc_key, term, tf, dl)"
    avgdl = float(total_dl) / n if n else 0.0
    entries = ", ".join(f"{_sql_str_lit(t)}, {dfs[t]}L" for t in terms)
    score = _term_score_sql(n=n, avgdl=avgdl)
    # NB: literal braces around `post` are load-bearing — this text is
    # passed to spark.sql(..., post=<postings scan>) as a template, never
    # through an f-string.
    text = (
        "SELECT doc_key, sum(" + score + ") AS score FROM ("
        "  SELECT doc_key, tf, dl, element_at(map(" + entries + "), term) AS df"
        "  FROM (" + rows + ") p"
        ") m GROUP BY doc_key"
    )
    return text, post


def bm25_scores_from_index(
    spark,
    path: str,
    query_terms: list[str],
) -> DataFrame:
    """(doc_key, score) from a persisted index: no tokenization, no
    corpus scan, no doc-side join — read the posting lists of the query
    terms and score them, as the one spark.sql text of
    scored_from_index_sql. The scan-path properties that carry the
    whole cost model:

    - The term lookup is a LITERAL IN predicate on the scan, not a
      broadcast join probe (which cannot push down to parquet): without
      it the scan reads every posting row (measured 20.5 s over ~375M
      postings at sf100); with it, PushedFilters carries In(term, ...)
      into the reader and the sortWithinPartitions('term') layout makes
      each term's rows contiguous row-group runs min/max stats can skip.
    - dl rides inside the posting rows (persist_index denormalizes it),
      so scoring is matched-rows algebra + one groupBy(doc_key) — the
      1.5M-doc doc_stats join the live path needs is gone.
    - df (from the term dictionary) and the corpus scalars (from the
      meta record) enter as LITERALS read driver-side, so they fold into
      the whole-stage-codegen score expression: the plan is one postings
      scan → score projection → groupBy(doc_key).

    Same scores as the live path (same dl, same scalars): proven by the
    shared oracle row and the round-trip test."""
    # r12: the postings scan is memoized per file-stat signature
    # (read_parquet_cached) — an unchanged index used to pay a ~190 ms
    # footer/listing round-trip on EVERY query, the single largest slice
    # of the served bm25/hybrid walls at sf0.1.
    text, post = scored_from_index_sql(spark, path, query_terms)
    return spark.sql(text, post=post)


def bm25_topk_from_index(
    spark,
    path: str,
    query_terms: list[str],
    k: int,
) -> DataFrame:
    """Top-k by rounded score over the index-served scorer: the whole
    query — scorer + rounded top-k — is one spark.sql round-trip (scan →
    score → hash agg → TakeOrderedAndProject)."""
    text, post = scored_from_index_sql(spark, path, query_terms)
    return spark.sql(
        "SELECT doc_key, round(score, 4) AS score FROM (" + text + ") kw ORDER BY score DESC, doc_key LIMIT "
        + str(int(k)),
        post=post,
    )
