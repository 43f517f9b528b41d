"""Explicit BM25 keyword search (reference Q2/S12/A8).

The reference delegates BM25 to LanceDB's Tantivy FTS index
(/root/reference/src/load/lancedb_store.py:104-112,192-222). Here the
index is one postings frame, (doc_key, term, tf, dl): tokenize, take each
document's token count dl, explode, count tf per (doc, term). Catalyst
plans the count as a partial+final hash aggregate with map-side combine.
The frame is either persisted as parquet (persist_index / extend_index,
hash-partitioned by term, with the term_df dictionary and the corpus
scalars beside it) or, for a corpus with no index, tokenized live and
.cache()d (bm25_scores).

Every BM25 request is scored by ONE SQL text (scored_sql) over either
frame: a literal IN term filter on the postings, df and the corpus
scalars (N, avgdl) folded in as literals, one GROUP BY doc_key. The
index reader takes those literals from the term dictionary and the meta
record; the live reader counts N and total_dl once per cached lineage
and the query terms' df in one aggregate per call.
top-k is that text under ORDER BY ... LIMIT (TakeOrderedAndProject).

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
    """(doc_key, term, tf, dl) — term frequencies per document, each row
    carrying its document's token count dl, taken from the token array
    before the explode (a document with no tokens has no rows). A
    document is one row of `docs`: ids must be unique."""
    toks = docs.select(F.col(id_col).alias("doc_key"), tokens(text_col).alias("toks"))
    dl = toks.select("doc_key", "toks", F.size("toks").cast("bigint").alias("dl"))
    # explode_outer and a null-term filter, not explode: under an explode
    # of a column Spark infers a size(toks) > 0 filter and pushes it below
    # the projection, where it tokenizes every document a second time.
    return (
        dl.select("doc_key", F.explode_outer("toks").alias("term"), "dl")
        .where(F.col("term").isNotNull())
        .groupBy("doc_key", "term", "dl")
        .agg(F.count("*").alias("tf"))
        .select("doc_key", "term", "tf", "dl")
    )


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
) -> DataFrame:
    """Score every document containing ≥1 query term; returns (doc_key, score)."""
    text, post = scored_live_sql(docs, id_col, text_col, query_terms)
    return post.sparkSession.sql(text, post=post)


def scored_live_sql(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
) -> tuple[str, DataFrame]:
    """scored_sql over the live index of `docs` (_live_index), with the
    query terms' df from one aggregate over its cached postings. Its
    callers are the registry rows that score a derived view (routed,
    title-weighted, context) or a corpus without a fresh index; serving
    (api/engine.py) reads the persisted index (scored_from_index_sql),
    which pins no executor memory per corpus lineage."""
    post, n, total_dl, rows = _live_index(build_postings(docs, id_col, text_col))
    terms = sorted(set(query_terms))
    # postings rows are unique per (doc, term): a term's row count is its df
    dfs = post.agg(*[F.count_if(F.col("term") == t) for t in terms]).first() if terms else ()
    # spark.sql drops its template views after analysis, and dropping a
    # view whose plan IS a cached plan uncaches it: hand it a filtered
    # frame over the cached postings, never the cached frame itself. The
    # cached rows are not sorted by term, so the scan reads all of them.
    terms_only = post.where(F.col("term").isin(terms))
    return scored_sql(terms_only, rows, terms, dict(zip(terms, dfs)), n, total_dl)


# Every live (cached) index, with its (n, total_dl, rows), registered so
# long-lived sessions (the REST API, notebooks) can drop them: each
# distinct corpus lineage pins one materialization in executor memory
# until released. Keyed by session and postings-plan semantic hash, so
# the calls over one lineage share one entry and another session's own
# cache of the same plan gets its own.
_CACHED_INDEXES: dict[tuple[int, int], tuple[DataFrame, int, int, int]] = {}


def _live_index(postings: DataFrame) -> tuple[DataFrame, int, int, int]:
    """(cached postings, n, total_dl, rows) for this postings plan, cached
    and counted once per lineage (every call on a hash collision)."""
    key = (id(postings.sparkSession), postings.semanticHash())
    entry = _CACHED_INDEXES.get(key)
    if entry is None or not entry[0].sameSemantics(postings):
        post = postings.cache()
        n, total_dl, rows = post.agg(F.count_distinct("doc_key"), F.sum("tf"), F.count("*")).first()
        entry = (post, n, total_dl or 0, rows)
        _CACHED_INDEXES.setdefault(key, entry)
    return entry


def release_indexes() -> int:
    """Unpersist all cached live indexes; returns how many lineages were
    dropped. Idempotent — double-unpersist is a Spark no-op."""
    n = len(_CACHED_INDEXES)
    for postings, *_ in _CACHED_INDEXES.values():
        postings.unpersist()
    _CACHED_INDEXES.clear()
    return n


def _term_score_sql(n: int, avgdl: float) -> str:
    """The Lucene-style per-posting score as ONE SQL string — parsed
    JVM-side in a single py4j round-trip instead of built as ~15 chained
    Column calls. `n` and `avgdl` fold in as literals (repr() round-trips
    doubles exactly; n < 2^53 makes double-vs-long subtraction order
    exact)."""
    # NB: the D suffix is load-bearing — a bare "500.0" parses as a
    # DECIMAL literal in Spark SQL, not a double.
    return (
        f"log(1.0D + ({float(n)!r}D - df + 0.5D) / (df + 0.5D)) "
        f"* (tf * {K1 + 1.0!r}D) "
        f"/ (tf + {K1!r}D * ({1.0 - B!r}D + {B!r}D * dl / {float(avgdl)!r}D))"
    )


def topk_sql(scored: str, k: int) -> str:
    """Top-k by rounded score over a scored (doc_key, score) text, ties
    broken by id (rounding makes cross-engine ordering total). Spark
    executes ORDER BY ... LIMIT as TakeOrderedAndProject — no global sort
    materialization."""
    return (
        "SELECT doc_key, round(score, 4) AS score FROM (" + scored + ") kw ORDER BY score DESC, doc_key LIMIT "
        + str(int(k))
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int,
) -> DataFrame:
    """topk_sql over the live index of `docs`."""
    text, post = scored_live_sql(docs, id_col, text_col, query_terms)
    return post.sparkSession.sql(topk_sql(text, k), post=post)


# --------------------------------------------------------------------------
# Persisted index — the build-once-query-many contract at cluster scale.
# --------------------------------------------------------------------------


# Driver-side term-df lookups, one entry per term_df directory: its
# stat signature and the df of terms looked up under it (0 for a term the
# index lacks). A warm lookup is a dict read; a cold one reads only the
# terms the entry lacks, with a pyarrow row-group-pruned read of a tiny
# table — no Spark job either way (the same pattern as corpus_scalars'
# literal fold). A rewritten index has a new signature, which replaces the
# entry, so each index holds one entry. It accumulates per term, so it is
# not a catalog.memo value; past _TERM_DF_MAX terms the entry starts over
# from the current query's terms, so a long-lived engine sent distinct
# queries holds at most that many per index.
_TERM_DF_CACHE: dict[str, tuple[str, dict[str, int]]] = {}
_TERM_DF_MAX = 4096


def _term_df_lookup(path: str, query_terms: list[str]) -> dict[str, int]:
    """{term: df} for the query terms from the index's term dictionary,
    0 for a term it lacks; a missing term_df/ raises (the reader, not a
    fallback)."""
    from ..sources.catalog import stat_signature

    d = f"{path}/term_df"
    sig = stat_signature(d)
    cached_sig, known = _TERM_DF_CACHE.get(d, (None, {}))
    if cached_sig != sig:
        known = {}
    missing = sorted(set(query_terms) - known.keys())
    if missing:
        import pyarrow.dataset as pads

        tbl = pads.dataset(d, format="parquet").to_table(
            filter=pads.field("term").isin(missing), columns=["term", "df"]
        )
        fresh = dict.fromkeys(missing, 0)
        for term, df in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()):
            fresh[term] += int(df)
        # A new dict, published whole: a concurrent lookup never sees, or
        # adds to, a half-summed entry.
        known = {**known, **fresh}
        if len(known) > _TERM_DF_MAX:
            known = {t: known[t] for t in query_terms}
        if len(known) <= _TERM_DF_MAX:
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
    (repartition(N_BUCKETS, term) + sorted within partitions), each row
    carrying its document's length dl, the term_df dictionary, and the
    corpus scalars (N, total_dl) in the CAS meta record. A query's term
    lookup then touches only the partitions/row-groups its terms hash
    to, and scoring needs NO doc-side join at all — the same reason
    Lucene stores norms inline in the postings rather than in a separate
    doc table. At sf100 the inline dl removed a 1.5M×4M-row doc_stats
    shuffle from every query (SCALING.md r5). doc_stats (doc_key, dl) is
    still written, one row per document with ≥1 token; no scorer reads
    it, only perfbench's ingest check counts its rows. Rebuild cadence
    mirrors the reference: once per ingest batch
    (/root/reference/src/pipeline.py:164-165)."""
    # Cached, so the term dictionary, the postings, doc_stats and the
    # scalars do not each re-tokenize the corpus.
    postings = build_postings(docs, id_col, text_col).cache()
    try:
        n, total_dl = _write_index(postings, path, "overwrite")
    finally:
        postings.unpersist()
    from ..sources.manifest import commit_meta

    # The scalars (N, total token count; avgdl derives) are published
    # through the manifest CAS: the commit is atomic, so a reader never
    # sees a half-replaced record, and the exact integer total lets
    # extend_index merge scalars exactly. source_signature (when the
    # caller supplies one — a stat digest of the source docs table)
    # rides in the same record, making the index serve-or-build capable
    # via ensure_index.
    payload = {"n": n, "total_dl": total_dl, "layout": _LAYOUT_VERSION}
    if source_signature is not None:
        payload["source_signature"] = source_signature
    commit_meta(path, payload)


def _write_index(postings: DataFrame, path: str, mode: str) -> tuple[int, int]:
    """Write (mode "overwrite" or "append") the term dictionary, the
    postings and doc_stats of these cached postings under `path`; returns
    their (n, total_dl).

    The term dictionary, term_df, holds each term's df — Lucene's
    docFreq, stored rather than counted per query, so the scorer folds
    it in as a literal. It is written FIRST, so a crash mid-build or
    mid-extend can only leave df rows whose postings are missing (scores
    then under-weight those terms' idf slightly), never postings rows
    with no df entry (which would NULL their scores). Readers sum its
    rows per term, so extends append. It and the postings are
    hash-partitioned by term and sorted within partitions, so a query's
    term read is row-group-prunable."""
    term_df = postings.groupBy("term").agg(F.count("*").alias("df"))
    for table, rows, parts in (("term_df", term_df, max(1, N_BUCKETS // 8)), ("postings", postings, N_BUCKETS)):
        rows.repartition(parts, "term").sortWithinPartitions("term").write.mode(mode).parquet(f"{path}/{table}")
    doc_stats = postings.select("doc_key", "dl").distinct()
    doc_stats.write.mode(mode).parquet(f"{path}/doc_stats")
    row = doc_stats.agg(F.count("*"), F.sum("dl")).first()
    return int(row[0]), int(row[1] or 0)


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
    (b) dl is per-doc and rides in each appended row, same as the
        build path;
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
    delta = build_postings(new_docs, id_col, text_col).cache()
    try:
        # Delta ids are NEW docs by contract, so the delta's term-df rows,
        # postings and scalars add exactly to the base ones.
        dn, dtotal = _write_index(delta, path, "append")
    finally:
        delta.unpersist()
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


def _sql_str_lit(t: str) -> str:
    """SQL string literal for a spark.sql template: backslash and quote
    escaped for the parser, braces doubled for the template formatter."""
    t = t.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + t.replace("{", "{{").replace("}", "}}") + "'"


# Posting rows a query's keyword leg scans (Σdf over the term-sorted
# persisted index, every row of a cached live index) at or below which
# the leg reads them in ONE task: its GROUP BY doc_key then needs no exchange,
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
    """scored_sql over the persisted index at `path`: `post` is its
    memoized postings scan (read_parquet_cached), df comes from the term
    dictionary (a dict read when warm) and N/total_dl from the meta
    record — no Spark job before the scoring one. Also the composable
    kw-leg fragment for the hybrid family's single SQL text
    (retrieval/queries.py) and the engine's keyword leg, whose session
    uploads and deletes are `added` and `removed` (see scored_sql)."""
    from ..sources.catalog import read_parquet_cached

    post = read_parquet_cached(spark, f"{path}/postings")
    terms = sorted(set(query_terms))
    dfs = _term_df_lookup(path, terms)
    # The postings files are sorted by term, so the IN filter skips row
    # groups and the scan reads about Σdf rows.
    return scored_sql(post, sum(dfs.values()), terms, dfs, *corpus_scalars(path), added, removed)


def scored_sql(
    post: DataFrame,
    scan_rows: int,
    terms: list[str],
    dfs: Mapping[str, int],
    n: int,
    total_dl: int,
    added: Mapping[str, Mapping[str, int]] | None = None,
    removed: Mapping[int, Mapping[str, int]] | None = None,
) -> tuple[str, DataFrame]:
    """The one BM25 scorer: ONE SQL text over a postings frame
    (doc_key, term, tf, dl) and the frame it reads, to pass as
    spark.sql(text, post=post). `terms` are the sorted distinct query
    terms, `dfs` their document frequencies and `n`/`total_dl` the
    corpus scalars; they enter the text as literals (literal IN term
    pushdown, df as a literal map, N and avgdl as double literals), so
    the plan is one postings scan → score projection → GROUP BY doc_key
    (r13 construction-floor fix, guide §1: one spark.sql round-trip for
    the whole tree). An empty term list yields a text that scores
    nothing.

    When `scan_rows`, the rows its term-filtered scan reads, is at most
    SINGLE_TASK_POSTINGS, a COALESCE(1) hint puts the scored rows, the
    scan and any added VALUES, in one task, whose GROUP BY needs no
    exchange; the term IN filter still reaches the scan.

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
    edited = added is not None or removed is not None
    key_sql = "CAST(doc_key AS STRING) AS doc_key" if edited else "doc_key"
    if not terms:
        return "SELECT " + key_sql + ", 0.0D AS score FROM {post} WHERE false", post
    dfs = dict(dfs)
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
    if scan_rows <= SINGLE_TASK_POSTINGS:
        rows = "SELECT /*+ COALESCE(1) */ * FROM (" + rows + ") r"
    avgdl = float(total_dl) / n if n else 0.0
    entries = ", ".join(f"{_sql_str_lit(t)}, {dfs[t]}L" for t in terms)
    score = _term_score_sql(n=n, avgdl=avgdl)
    # NB: literal braces around `post` are load-bearing — this text is
    # passed to spark.sql(..., post=<postings frame>) as a template, never
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
    - dl rides inside the posting rows and df and the corpus scalars
      enter as literals (scored_sql), so there is no doc-side join.
    - The scan is memoized under the postings' stat signature
      (read_parquet_cached), so a query pays no footer or listing reads.

    Same text as the live path (bm25_scores) over the same postings
    rows and scalars: proven by the shared oracle row and the
    round-trip test."""
    text, post = scored_from_index_sql(spark, path, query_terms)
    return spark.sql(text, post=post)


def bm25_topk_from_index(
    spark,
    path: str,
    query_terms: list[str],
    k: int,
) -> DataFrame:
    """topk_sql over the persisted index: the whole query — scorer +
    rounded top-k — is one spark.sql round-trip (scan → score → hash agg
    → TakeOrderedAndProject)."""
    text, post = scored_from_index_sql(spark, path, query_terms)
    return spark.sql(topk_sql(text, k), post=post)
