"""Similarity search over embedding columns (beyond-reference, build brief).

Three tiers, matching how ANN actually scales on Spark:

1. brute-force cosine top-k (`ann_cosine_topk`) — the exact baseline;
   scored scan + TakeOrderedAndProject, shuffle-free until the final k.
2. IVF-style assignment (`ivf_assignment`) — assign every vector to its
   nearest centroid. At 100 TB the table is then repartitioned/bucketed by
   centroid id, and a query probes only its nearest centroid partitions —
   this is the partition-pruning path that replaces a full scan per query.
3. threshold similarity self-join (`embedding_near_dup_pairs`) — the
   embedding-cosine near-dup detector. Quadratic in the bucket, so at
   scale it runs per-IVF-cell (or LSH bucket), never globally.

All vector math is built-in `zip_with`/`aggregate` on double-cast arrays
(functions/vectors.py) — JVM-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    as_double,
    as_double_sql,
    cosine,
    cosine_lit_sql,
    cosine_topk_arrow,
    dot,
    pair_cosine_rounded_pandas,
    query_vector_lit,
    round_half_away,
)
from ..registry import query
from ..sources.catalog import load_table, warehouse_path

# NULL (not NaN) on zero-norm inputs, mirroring functions/vectors.py::cosine —
# both engines then agree that a zero vector never passes a `score >= t` filter.
_COS_ORACLE_EXPR = (
    "CASE WHEN list_dot_product({a}, {a}) * list_dot_product({b}, {b}) = 0 THEN NULL "
    "ELSE list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) END"
)

_EMB_DIM = 64


def _query_vector_cached(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """The standard query vector (a query PARAMETER — the reference's
    arrives as a literal argument) memoized per embeddings file-stat
    signature: fetching it was a whole filtered-scan Spark
    job on EVERY call of every probe query — pure repetition, since the
    vector only changes when the embeddings files do (r13; same currency
    and rationale as table_scalar_cached's other users). Any ingest
    bumps the signature and the next call re-fetches."""
    from ..sources.catalog import table_scalar_cached

    def compute() -> list[float]:
        emb = load_table(spark, sf_dir, "embeddings")
        row = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()
        if row is None:
            raise ValueError(f"query vector vec_id={vec_id} not found in embeddings")
        return [float(x) for x in row["embedding"]]

    return table_scalar_cached(spark, sf_dir, "embeddings", f"qvec_{vec_id}", compute)


@query(
    "ann_cosine_topk",
    oracle="""
    WITH d AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv FROM d WHERE vec_id = 0)
    SELECT d.vec_id, d.label,
           round({cos}, 4) AS score
    FROM d CROSS JOIN q
    WHERE d.vec_id <> 0
    ORDER BY score DESC, d.vec_id
    LIMIT 10
    """.format(cos=_COS_ORACLE_EXPR.format(a="d.v", b="q.qv")),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN for one query vector (reference Q1 shape,
    /root/reference/src/load/lancedb_store.py:127-152): fetch the 1-row
    query vector to the driver (it is a query PARAMETER — the reference's
    arrives as a literal argument), score every vector with the
    Arrow-batched BLAS scorer, take top-k.

    r4 scorer history, all at sf30 (600k vectors, min-of-4, toPandas,
    DuckDB oracle 0.31s): zip_with/aggregate HOF fold 1.05s (3.8×) →
    `cosine_scores_pandas` 0.72s (2.3×) → `cosine_topk_arrow` 0.55s
    (1.8×, identical rows). The last step removes the per-row
    Arrow→pandas ndarray conversion: mapInArrow reshapes each batch's
    contiguous list buffer straight into the (n×d) matrix and only ≤k
    candidate rows per batch leave Python, so the final
    TakeOrderedAndProject sorts a few hundred candidates, not the
    corpus. NaN (zero-norm) vectors are dropped inside the scorer —
    the same never-outranks contract as cosine()'s NULL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_arrow(
        emb.filter(F.col("vec_id") != 0), _query_vector_cached(spark, sf_dir, 0), 10
    )


# --- Trained IVF: deterministic seeded k-means (Lloyd), DataFrame-native ---
#
# Seed = first K vectors (deterministic); each iteration assigns every
# vector to its argmax-cosine centroid and recomputes centroids as per-dim
# means. Everything round-trips through fixed rounding (cos at 4dp,
# centroid components at 6dp) so Spark's partition-order double sums and
# DuckDB's sequential sums land on the same value — the same convention
# label_centroids uses. MLlib's KMeans collects centroids to the driver
# between iterations; K×dim scalars are broadcast state either way, and
# the pure-DataFrame form keeps the whole lineage declarative + oracle-
# mirrorable. Reference ANN trains IVF centroids in LanceDB
# (/root/reference/plans/etl-pipeline-plan.md:630-646).

IVF_K = 4
IVF_ITERS = 2


def kmeans_centroids(d: DataFrame, k: int = IVF_K, iters: int = IVF_ITERS) -> DataFrame:
    """(centroid_id, cv) after `iters` Lloyd iterations over d(vec_id, v).

    Per iteration: one broadcast crossJoin (n×k rows, combines map-side via
    max_by partial aggregation — no per-vector window shuffle) and one
    posexplode mean (n×dim rows into k×dim groups). Centroids stay a
    k-row DataFrame and are re-broadcast each round."""
    c = d.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        s = F.round(cosine(F.col("v"), F.col("cv")), 4)
        assigned = (
            d.crossJoin(F.broadcast(c))
            .select("vec_id", "v", "centroid_id", s.alias("s"))
            .groupBy("vec_id")
            .agg(
                F.expr("max_by(centroid_id, struct(s, -centroid_id))").alias("centroid_id"),
                F.first("v").alias("v"),
            )
        )
        per_dim = (
            assigned.select("centroid_id", F.posexplode("v").alias("pos0", "val"))
            .groupBy("centroid_id", (F.col("pos0") + 1).alias("pos"))
            .agg(F.round(F.sum("val") / F.count("*"), 6).alias("cval"))
        )
        c = (
            per_dim.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
            .select(
                "centroid_id", F.transform("pairs", lambda p: p.getField("cval")).alias("cv")
            )
        )
    return c


def _kmeans_oracle_ctes(k: int = IVF_K, iters: int = IVF_ITERS) -> str:
    """DuckDB CTE chain computing the SAME Lloyd iterations; the trained
    centroids end up in CTE `ctrained(centroid_id, cv)`."""
    parts = [
        "d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
        f"c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM d WHERE vec_id < {k})",
    ]
    for i in range(1, iters + 1):
        cos = _COS_ORACLE_EXPR.format(a="d.v", b="c.cv")
        parts.append(
            f"""a{i} AS (
        SELECT vec_id, centroid_id FROM (
            SELECT d.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY d.vec_id
                       ORDER BY round({cos}, 4) DESC, c.centroid_id) AS rn
            FROM d CROSS JOIN c{i - 1} c
        ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""c{i} AS (
        SELECT centroid_id, list(cval ORDER BY pos) AS cv FROM (
            SELECT a.centroid_id, p.pos,
                   round(sum(d.v[p.pos]) / count(*), 6) AS cval
            FROM a{i} a JOIN d ON d.vec_id = a.vec_id
            CROSS JOIN (SELECT unnest(range(1, {_EMB_DIM + 1})) AS pos) p
            GROUP BY a.centroid_id, p.pos
        ) GROUP BY centroid_id
    )"""
        )
    parts.append(f"ctrained AS (SELECT centroid_id, cv FROM c{iters})")
    return ",\n    ".join(parts)


@query(
    "ivf_assignment",
    oracle="""
    WITH {ctes},
    scored AS (
        SELECT d.vec_id, c.centroid_id,
               round({cos}, 4) AS score,
               row_number() OVER (PARTITION BY d.vec_id
                                  ORDER BY round({cos}, 4) DESC, c.centroid_id) AS rn
        FROM d CROSS JOIN ctrained c
    )
    SELECT vec_id, centroid_id, score FROM scored WHERE rn = 1 ORDER BY vec_id
    """.format(ctes=_kmeans_oracle_ctes(), cos=_COS_ORACLE_EXPR.format(a="d.v", b="c.cv")),
)
def ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization with TRAINED centroids: 2 seeded Lloyd
    iterations (kmeans_centroids), then nearest-centroid assignment for
    every vector. The centroid table broadcasts; argmax is a map-side
    max_by partial aggregate, not a window shuffle. Downstream,
    repartitionByRange(centroid_id) makes every ANN probe a
    partition-pruned scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", as_double("embedding").alias("v"))
    c = kmeans_centroids(d)
    s = F.round(cosine(F.col("v"), F.col("cv")), 4)
    return (
        d.crossJoin(F.broadcast(c))
        .select("vec_id", "centroid_id", s.alias("s"))
        .groupBy("vec_id")
        .agg(F.max(F.struct(F.col("s"), (-F.col("centroid_id")).alias("negcid"))).alias("m"))
        .select(
            "vec_id",
            (-F.col("m.negcid")).alias("centroid_id"),
            F.col("m.s").alias("score"),
        )
        .orderBy("vec_id")
    )


@query(
    "embedding_near_dup_pairs",
    oracle="""
    WITH d AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id < 120
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({cos}, 4) AS score
    FROM d a JOIN d b ON a.vec_id < b.vec_id
    WHERE round({cos}, 4) >= 0.3
    ORDER BY score DESC, vec_a, vec_b
    """.format(cos=_COS_ORACLE_EXPR.format(a="a.v", b="b.v")),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold. Bounded here to a
    window of ids; at scale the same join runs within IVF cells (see
    ivf_assignment) so the quadratic term is per-cell, not global."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    d = emb.select("vec_id", as_double("embedding").alias("v"))
    a = d.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = d.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    score = F.round(cosine(F.col("va"), F.col("vb")), 4)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", score.alias("score"))
        .filter(F.col("score") >= 0.3)
        .orderBy(F.desc("score"), "vec_a", "vec_b")
    )


@query(
    "label_centroids",
    oracle="""
    SELECT e.label, p.pos AS dim,
           round(CAST(sum(CAST(e.embedding[p.pos] AS DOUBLE)) AS DOUBLE) / count(*), 6) AS centroid_val
    FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 9)) AS pos) p
    GROUP BY e.label, p.pos
    ORDER BY e.label, p.pos
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector (first 8 dims) — the centroid-training step of
    IVF expressed as posexplode + groupBy. Sum-then-divide keeps the
    cross-engine value deterministic enough to round at 6 places."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(as_double("embedding")).alias("pos0", "val")
    ).filter(F.col("pos0") < 8)
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).alias("dim"))
        .agg(F.round(F.sum("val") / F.count("*"), 6).alias("centroid_val"))
        .orderBy("label", "dim")
    )


# Shared by ivf_probe_topk (in-session index) and ivf_probe_from_index
# (persisted index): both must produce exactly this result.
_IVF_PROBE_ORACLE = """
    WITH {ctes},
    q AS (SELECT v AS qv FROM d WHERE vec_id = 4),
    qprobe AS (
        SELECT centroid_id FROM (
            SELECT c.centroid_id,
                   round({cosqc}, 4) AS s,
                   row_number() OVER (ORDER BY round({cosqc}, 4) DESC, c.centroid_id) AS rn
            FROM ctrained c CROSS JOIN q
        ) WHERE rn <= 2
    ),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT d.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY d.vec_id
                                      ORDER BY round({cosdc}, 4) DESC, c.centroid_id) AS rn
            FROM d CROSS JOIN ctrained c WHERE d.vec_id <> 4
        ) WHERE rn = 1
    )
    SELECT d.vec_id, round({cosdq}, 4) AS score
    FROM d
    JOIN assign ON d.vec_id = assign.vec_id
    CROSS JOIN q
    WHERE assign.centroid_id IN (SELECT centroid_id FROM qprobe)
    ORDER BY score DESC, d.vec_id
    LIMIT 10
    """.format(
    ctes=_kmeans_oracle_ctes(),
    cosqc=_COS_ORACLE_EXPR.format(a="c.cv", b="q.qv"),
    cosdc=_COS_ORACLE_EXPR.format(a="d.v", b="c.cv"),
    cosdq=_COS_ORACLE_EXPR.format(a="d.v", b="q.qv"),
)


@query("ivf_probe_topk", oracle=_IVF_PROBE_ORACLE)
def ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete IVF-ANN search path over TRAINED centroids
    (kmeans_centroids): rank centroids against the query, probe only the
    nprobe=2 nearest cells, exact-score just those candidates. With the
    table partitioned by centroid_id the probe is partition pruning — the
    scan touches nprobe/nlist of the data instead of all of it, which is
    the entire point of IVF at 100 TB. (Recall is approximate by design:
    candidates outside probed cells are unseen — pinned by the recall@10
    test vs brute force in tests/test_similarity.py.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", as_double("embedding").alias("v"))
    c = kmeans_centroids(d)
    q = d.filter(F.col("vec_id") == 4).select(F.col("v").alias("qv"))

    # nprobe=2 nearest centroids to the query (|centroids| rows — driver-ok)
    qc_w = Window.orderBy(F.desc("s"), F.asc("centroid_id"))
    qprobe = (
        c.crossJoin(F.broadcast(q))
        .select("centroid_id", F.round(cosine(F.col("cv"), F.col("qv")), 4).alias("s"))
        .withColumn("rn", F.row_number().over(qc_w))
        .filter(F.col("rn") <= 2)
        .select("centroid_id")
    )

    assign = (
        d.filter(F.col("vec_id") != 4)
        .crossJoin(F.broadcast(c))
        .select("vec_id", "centroid_id", F.round(cosine(F.col("v"), F.col("cv")), 4).alias("s"))
        .groupBy("vec_id")
        .agg(F.expr("max_by(centroid_id, struct(s, -centroid_id))").alias("centroid_id"))
    )

    candidates = assign.join(F.broadcast(qprobe), "centroid_id", "left_semi")
    return (
        d.join(candidates, "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 4).alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


def ivf_index_path(sf_dir: str) -> str:
    return warehouse_path(sf_dir, "ivf_index")


def _assign_to_centroids(d: DataFrame, c: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, embedding): nearest centroid per vector,
    the rounded-cosine + smallest-id tie-break the oracle uses. The ONE
    copy of the assignment plan, shared by the full build and the
    O(delta) extension — sharing it is what makes 'extension ≡ rebuild'
    an identity of plans, not a hope."""
    return (
        d.crossJoin(F.broadcast(c))
        .select(
            "vec_id", "embedding", "centroid_id",
            F.round(cosine(F.col("v"), F.col("cv")), 4).alias("s"),
        )
        .groupBy("vec_id")
        .agg(
            F.expr("max_by(centroid_id, struct(s, -centroid_id))").alias("centroid_id"),
            F.first("embedding").alias("embedding"),
        )
    )


def persist_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    exclude_vec_id: int | None = None,
    base_filter=None,
) -> str:
    """Materialize the IVF layout the probe path assumes: trained
    centroids as a k-row parquet, vectors written partitionBy(centroid_id)
    — one directory per cell, so a probe of nprobe cells is DIRECTORY
    pruning, not a filtered full scan. The embedding rides along as its
    float array; repartition on the partition column gives one file per
    cell (the compacted layout, same rationale as
    plans/partitioned.py:write_partitioned_events).

    `base_filter` (a boolean Column) restricts which vectors are
    MATERIALIZED without changing the centroid training set — the
    incremental gate uses it to build a base index whose missing slice
    arrives later through extend_ivf_index."""
    path = ivf_index_path(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    if exclude_vec_id is not None:
        emb = emb.filter(F.col("vec_id") != exclude_vec_id)
    if base_filter is not None:
        emb = emb.filter(base_filter)
    d = emb.select("vec_id", "embedding", as_double("embedding").alias("v"))
    c = kmeans_centroids(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
    )
    c.write.mode("overwrite").parquet(f"{path}/centroids")
    (
        _assign_to_centroids(d, c)
        .repartition(F.col("centroid_id"))
        .write.partitionBy("centroid_id")
        .mode("overwrite")
        .parquet(f"{path}/vectors")
    )
    from ..sources.catalog import table_stat_signature
    from ..sources.manifest import commit_meta

    # The freshness record names the BUILD VARIANT beside the source
    # signature: the gate queries build partial indexes (exclude_vec_id /
    # base_filter) at the same path, and ensure_ivf_index must never
    # mistake one for a fresh full-corpus index.
    commit_meta(
        path,
        {
            "source_signature": table_stat_signature(sf_dir, ("embeddings",)),
            "exclude_vec_id": exclude_vec_id,
            "partial": base_filter is not None,
        },
    )
    return path


def ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Serve-or-build for the persisted IVF layout — the lifecycle face
    the other three maintained artifacts already have (bucketed facts:
    plans/bucketed.py; LSH bands: dedup.ensure_lsh_band_index; z-order:
    zorder.ensure_zorder_events): reuse when the CAS-committed freshness
    record matches the current embeddings files AND the index is a
    full-corpus build (no exclusion, no base_filter), rebuild otherwise.
    This is the reader of the source_signature persist_ivf_index
    commits — without it the record was write-only (r8 review).
    Freshness is manifest.meta_matches, so the build-variant keys must be
    PRESENT, not merely falsy: a legacy record (pre-variant
    persist_ivf_index wrote only source_signature, even for
    exclude/base_filter builds) rebuilds instead of serving a surviving
    partial index as full (ADVICE r9)."""
    from ..sources.catalog import table_stat_signature
    from ..sources.manifest import meta_matches

    path = ivf_index_path(sf_dir)
    if meta_matches(
        path,
        source_signature=table_stat_signature(sf_dir, ("embeddings",)),
        exclude_vec_id=None,
        partial=False,
    ):
        return path
    return persist_ivf_index(spark, sf_dir)


def extend_ivf_index(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    source_signature: str | None = None,
) -> None:
    """O(delta) extension of a persisted IVF index with NEW vectors —
    the vector-side twin of bm25.extend_index and the LSH band-index
    admission (the third and last index family completing the
    build-once / serve-marginal lifecycle, VERDICT r7 ask #4). A daily
    embedding ingest assigns only its delta against the EXISTING k-row
    centroid table (delta × k broadcast scoring — no corpus rescan, no
    retraining) and appends into the centroid-partitioned layout, so
    directory-level probe pruning keeps working and each extend adds at
    most one file per touched cell.

    Contract (same as extend_index): delta vec_ids are NEW; centroids
    are intentionally STALE — IVF maintenance everywhere (FAISS,
    Milvus) assigns to the last trained centroids and retrains on a
    slow cadence, because retraining moves cell boundaries and forces a
    full re-partition of the lake. Extension ≡ rebuild-given-the-same-
    centroids exactly, because assignment is the same shared plan
    (_assign_to_centroids) both paths run — gated against the full
    ivf_probe_topk oracle by ivf_incremental_index.

    `source_signature` is the post-ingest stat signature of the source
    table this extension brings the index up to date WITH (compute it
    via catalog.table_stat_signature AFTER the source delta lands).
    When given, the freshness record is CAS-advanced to it in the same
    logical commit as the vector append — without this, the very next
    ensure_ivf_index call sees a signature mismatch and pays the FULL
    O(corpus) rebuild the extend machinery exists to avoid (the r9
    economics defect: extend ≡ rebuild was gated for correctness, but
    steady-state serve silently degraded to rebuild-always the moment
    the source grew). Variant keys (exclude_vec_id/partial) are
    preserved from the current record — an extension never changes
    WHAT slice the index covers relative to its build contract, only
    brings it forward in time. No-rebuild-after-extend is pinned by
    tests/test_index_freshness.py."""
    c = spark.read.parquet(f"{path}/centroids")
    d = delta.select("vec_id", "embedding", as_double("embedding").alias("v"))
    (
        _assign_to_centroids(d, c)
        .repartition(F.col("centroid_id"))
        .write.partitionBy("centroid_id")
        .mode("append")
        .parquet(f"{path}/vectors")
    )
    if source_signature is not None:
        from ..sources.manifest import update_meta

        def advance(current: dict | None) -> dict:
            out = dict(current or {"exclude_vec_id": None, "partial": False})
            out["source_signature"] = source_signature
            return out

        update_meta(path, advance)


@query("ivf_probe_from_index", oracle=_IVF_PROBE_ORACLE)
def ivf_probe_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-IVF search path (the vector-side twin of
    bm25_topk_from_index, gated against the SAME oracle as
    ivf_probe_topk): build the centroid-partitioned layout once
    (persist_ivf_index), then serve the probe entirely from files —
    rank the k-row centroid parquet against the query, read ONLY the
    nprobe=2 matching `centroid_id=` directories (directory-level
    partition pruning, the mechanism tests/test_bucketing.py proves for
    events), exact-score those candidates, top-10.

    This is what "IVF at 100 TB" concretely means: nlist cells on disk,
    a probe touches nprobe/nlist of the lake before any row is read, and
    the index amortizes across every query instead of re-deriving
    centroids and assignments per search. The nprobe centroid ids are a
    2-row parameter fetch (collect of a k-row ranking), the engine's
    query-parameter convention. A green row proves persisted-path ≡
    in-session-path bit-for-bit.

    r6: candidate scoring runs through the zero-copy Arrow BLAS scorer
    (cosine_topk_arrow), not the interpreted cosine() HOF fold. The
    fresh-vector scale corpus exposed the inversion: with the HOF
    scorer the pruned probe (2.25 s at sf10) LOST to the brute-force
    Arrow scan (0.73 s) — the scorer, not the I/O, was the cost, so
    pruning 14/16 of the data saved nothing. With both paths on the
    same scorer the probe's advantage is what it should be: brute ×
    nprobe/nlist + the k-row centroid fetch."""
    path = persist_ivf_index(spark, sf_dir, exclude_vec_id=4)
    return _probe_persisted_index(spark, sf_dir, path)


def _probe_persisted_index(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """The file-serving probe tail shared by ivf_probe_from_index and
    ivf_incremental_index: rank the k-row centroid parquet against the
    query, directory-prune to the nprobe=2 cells, Arrow-BLAS exact-score
    the candidates, top-10."""
    qvec = _query_vector_cached(spark, sf_dir, 4)
    q = F.array(*[F.lit(x) for x in qvec])
    c = spark.read.parquet(f"{path}/centroids")
    qc_w = Window.orderBy(F.desc("s"), F.asc("centroid_id"))
    probe_ids = [
        r.centroid_id
        for r in (
            c.select("centroid_id", F.round(cosine(F.col("cv"), q), 4).alias("s"))
            .withColumn("rn", F.row_number().over(qc_w))
            .filter(F.col("rn") <= 2)
            .select("centroid_id")
            .collect()
        )
    ]
    from ..functions.vectors import cosine_topk_arrow

    vecs = (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("centroid_id").isin(probe_ids))
        .withColumn("label", F.lit(0).cast("int"))
    )
    return cosine_topk_arrow(vecs, qvec, 10).select("vec_id", "score")


@query("ivf_probe_served", oracle=_IVF_PROBE_ORACLE)
def ivf_probe_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STEADY-STATE face of the IVF family (the vector twin of
    near_dup_admission vs near_dup_incremental): serve the probe from an
    EXISTING index via ensure_ivf_index — the serve-or-build lifecycle
    reader r8's review found missing — building only when the freshness
    record (source signature + full-build variant) says the layout is
    stale or partial. ivf_probe_from_index re-proves build + serve every
    run; this row prices what a query against a maintained index
    actually pays: a k-row centroid fetch + an nprobe-pruned directory
    read. Same oracle as the whole probe family.

    The gate queries build partial (exclude_vec_id=4) indexes at the
    same path, which ensure_ivf_index treats as stale — so this row
    also exercises the rebuild-over-partial branch whenever it runs
    after them in a session. The query vector (vec_id 4) is part of the
    full-corpus index here; exact-scoring candidates includes it, so it
    is dropped post-probe to match the family oracle's exclusion."""
    path = ensure_ivf_index(spark, sf_dir)
    qvec = _query_vector_cached(spark, sf_dir, 4)
    q = F.array(*[F.lit(x) for x in qvec])
    c = spark.read.parquet(f"{path}/centroids")
    qc_w = Window.orderBy(F.desc("s"), F.asc("centroid_id"))
    probe_ids = [
        r.centroid_id
        for r in (
            c.select("centroid_id", F.round(cosine(F.col("cv"), q), 4).alias("s"))
            .withColumn("rn", F.row_number().over(qc_w))
            .filter(F.col("rn") <= 2)
            .select("centroid_id")
            .collect()
        )
    ]
    from ..functions.vectors import cosine_topk_arrow

    vecs = (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("centroid_id").isin(probe_ids))
        .filter(F.col("vec_id") != 4)
        .withColumn("label", F.lit(0).cast("int"))
    )
    return cosine_topk_arrow(vecs, qvec, 10).select("vec_id", "score")


@query("ivf_incremental_index", oracle=_IVF_PROBE_ORACLE)
def ivf_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(delta) IVF index maintenance, end-to-end and oracle-gated: build
    the centroid-partitioned layout over the BASE corpus only
    (vec_id % 20 != 0 — the same synthetic 'yesterday's lake' split the
    LSH and BM25 incremental gates use), extend it with the remaining 5%
    via extend_ivf_index (delta assigned against the persisted k-row
    centroids, appended into the cell directories — no corpus rescan, no
    retraining), then serve the standard probe from the EXTENDED files.
    The oracle is the full-corpus IVF probe (_IVF_PROBE_ORACLE, shared
    with ivf_probe_topk / ivf_probe_from_index), so a green row proves
    base-build + delta-extension ≡ one full build, completing the
    build-once/serve-marginal lifecycle for the third index family
    (near-dup LSH: dedup.py ensure_lsh_band_index; FTS: bm25.extend_index;
    vectors: here)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = persist_ivf_index(
        spark, sf_dir, exclude_vec_id=4, base_filter=F.col("vec_id") % 20 != 0
    )
    delta = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") != 4))
    extend_ivf_index(spark, delta, path)
    return _probe_persisted_index(spark, sf_dir, path)


# --------------------------------------------------------------------------
# Banded sign-LSH (random hyperplane) bucketing — the embedding analogue of
# MinHash-LSH banding: cos-similar vectors agree on hyperplane signs with
# probability 1 − θ/π per plane. Each band ANDs PLANES_PER_BAND sign bits
# into one bucket key; bands are OR-combined (a pair is a candidate if it
# collides in ANY band). AND-width bounds bucket occupancy (expected
# n / 2^planes per band instead of n / 2^4 globally — the single-band
# 4-plane form went quadratic in corpus size, SCALING.md r1); OR-width
# buys recall back. Hyperplanes are ±1 vectors derived deterministically
# from md5(plane:dim) parity — a pure function of constants, identical in
# the Spark plan and the DuckDB oracle (both receive them as literals).
# --------------------------------------------------------------------------

_LSH_BANDS = 2
_LSH_PLANES_PER_BAND = 8
# Bucket occupancy the derived plane count aims for: candidates per band
# ≈ buckets × C(occupancy, 2), so holding occupancy CONSTANT as the
# corpus grows keeps the candidate volume LINEAR in n instead of
# quadratic (fixed 2^8 buckets at 200k vectors meant 780 per bucket and
# ~150M candidate pairs — the r6 fresh-vector corpus filled the spill
# disk proving it).
_LSH_TARGET_OCCUPANCY = 32


def derive_lsh_planes(n_rows: int) -> int:
    """Planes per band sized to the corpus: 2^planes buckets ≈
    n / occupancy. Floor = the static _LSH_PLANES_PER_BAND so gate-scale
    corpora (≤ 2^_LSH_PLANES_PER_BAND × occupancy = 8192 vectors) use
    exactly the constants the DuckDB oracle CTE is generated from; past
    8192 rows the derived value departs from the static oracle, so
    callers with an active oracle comparison must stay under that bound
    (embedding_lsh_pairs warns loudly when it crosses it — see
    _warn_if_oracle_diverges). Each added plane halves occupancy
    and multiplies per-band recall for cosine-θ pairs by (1 - θ/π) —
    for the near-identical pairs dedup hunts (cosine ≥ 0.95, θ ≤ 0.32),
    that factor is ≥ 0.9/plane, so candidate volume falls ~2× per plane
    while true-dup recall falls ≤ 10% — the right trade at every scale,
    same economics as MinHash-LSH band sizing (dedup.py)."""
    import math

    return max(
        _LSH_PLANES_PER_BAND,
        math.ceil(math.log2(max(1.0, n_rows / _LSH_TARGET_OCCUPANCY))),
    )


def _warn_if_oracle_diverges(planes: int, n_rows: int) -> None:
    """The embedding_lsh_* DuckDB oracles are generated at import time from
    the static _LSH_PLANES_PER_BAND constants; a corpus past 8192 rows
    derives more planes and the Spark result legitimately departs from
    those oracles. Make the divergence loud instead of silent so an
    oracle-gated run on an oversized corpus fails visibly at the source."""
    if planes != _LSH_PLANES_PER_BAND:
        import warnings

        warnings.warn(
            f"derive_lsh_planes({n_rows}) = {planes} departs from the static "
            f"{_LSH_PLANES_PER_BAND}-plane DuckDB oracle CTE (valid to 8192 "
            "rows); do not oracle-compare this run.",
            stacklevel=3,
        )


def _sign_hyperplanes(n_planes: int, dim: int = _EMB_DIM) -> list[list[float]]:
    import hashlib

    planes = []
    for h in range(n_planes):
        row = []
        for i in range(dim):
            digest = hashlib.md5(f"{h}:{i}".encode()).hexdigest()
            row.append(1.0 if int(digest[0], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _band_planes(band: int, planes_per_band: int = _LSH_PLANES_PER_BAND) -> list[list[float]]:
    all_planes = _sign_hyperplanes(_LSH_BANDS * planes_per_band)
    return all_planes[band * planes_per_band : (band + 1) * planes_per_band]


def _lsh_band_sql(band: int) -> str:
    """DuckDB expression for band `band`'s sign-bucket key of column `v`."""
    terms = []
    for h, w in enumerate(_band_planes(band)):
        arr = "[" + ", ".join(str(x) for x in w) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}) >= 0 THEN {1 << h} ELSE 0 END)"
        )
    return " + ".join(terms)


def lsh_band_bucket(v, band: int, planes_per_band: int = _LSH_PLANES_PER_BAND) -> F.Column:
    """Band `band`'s sign-bucket key of an array<double> column (Spark)."""
    acc = F.lit(0)
    for h, w in enumerate(_band_planes(band, planes_per_band)):
        bit = F.when(dot(v, query_vector_lit(w)) >= 0, F.lit(1 << h)).otherwise(F.lit(0))
        acc = acc + bit
    return acc


_ELSH_CTES = """d AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    sig AS (SELECT vec_id, v, {b0} AS b0, {b1} AS b1 FROM d),
    cand AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
        FROM sig a JOIN sig b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
        UNION
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
        FROM sig a JOIN sig b ON a.b1 = b.b1 AND a.vec_id < b.vec_id
    ),
    lsh_pairs AS (
        SELECT vec_a, vec_b, round({cos}, 4) AS score
        FROM cand
        WHERE round({cos}, 4) >= 0.3
    )""".format(
    b0=_lsh_band_sql(0),
    b1=_lsh_band_sql(1),
    cos=_COS_ORACLE_EXPR.format(a="va", b="vb"),
)


@query(
    "embedding_lsh_pairs",
    oracle=f"""
    WITH {_ELSH_CTES}
    SELECT vec_a, vec_b, score FROM lsh_pairs
    ORDER BY score DESC, vec_a, vec_b
    """,
)
def embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH near-dup pairs: each vector gets one bucket key per
    band (AND-ed hyperplane signs); the self-join runs per band on the
    band key and bands are OR-combined with a pair-level distinct. Band
    count trades recall, plane count trades occupancy — identical to
    MinHash-LSH banding (dedup.py).

    Two r6 scale fixes, surfaced the day the scale corpus stopped being
    near-dup-by-construction (fresh isotropic vectors, gen_scale.py):

    - Plane count derives from corpus size (derive_lsh_planes): fixed
      2^8 buckets meant occupancy — and with it the per-bucket quadratic
      candidate term — grew linearly with n (200k vectors → ~780/bucket
      → ~150M candidate pairs; filled the spill disk). Constant target
      occupancy keeps the candidate volume LINEAR in n. Gate-scale
      corpora derive the floor (8 planes), exactly the constants the
      static oracle CTE is generated from.
    - The candidate distinct runs over (vec_a, vec_b) IDS ONLY, vectors
      re-attached by key afterwards: the old form carried both dim-64
      arrays (~1 KB/row) through the union+dropDuplicates shuffle — the
      dominant payload at every scale. Id pairs are 16 bytes; the two
      re-attach joins each move the corpus once (linear, one vector per
      row).

    Pair scoring is the Arrow-vectorized pandas UDF
    (functions/vectors.py::pair_cosine_rounded_pandas): one numpy pass
    per partition scores the whole batch, vs ~64 interpreted expression
    evaluations per pair for the zip_with/aggregate fold (measured 2.3×
    end-to-end on the r1 candidate volume)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_rows = emb.count()  # parquet metadata count — no scan
    planes = derive_lsh_planes(n_rows)
    _warn_if_oracle_diverges(planes, n_rows)
    sig = emb.select("vec_id", as_double("embedding").alias("v"))

    # One keyed pass, one composite-key self-join. The per-band
    # join-then-unionAll alternative re-executes the scan→sign subtree
    # per band (Union branches plan independently) and shuffles the
    # corpus once per band; keying every (band, bucket) in one explode
    # and self-joining on the composite key produces the identical
    # OR-of-bands pair set with a single exchange pattern — the same r11
    # rewrite as dedup.lsh_band_keys.
    keyed = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        lsh_band_bucket(F.col("v"), band, planes).alias("k"),
                    )
                    for band in range(_LSH_BANDS)
                ]
            )
        ).alias("__bk"),
    ).select("vec_id", F.col("__bk.band").alias("band"), F.col("__bk.k").alias("k"))
    a = keyed.select(F.col("vec_id").alias("vec_a"), "band", "k")
    b = keyed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("band").alias("band_r"),
        F.col("k").alias("k_r"),
    )
    cand = a.join(
        b,
        (F.col("band") == F.col("band_r"))
        & (F.col("k") == F.col("k_r"))
        & (F.col("vec_a") < F.col("vec_b")),
    ).select("vec_a", "vec_b")
    cand = cand.dropDuplicates(["vec_a", "vec_b"])
    va = sig.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = sig.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cand = cand.join(va, "vec_a").join(vb, "vec_b")

    # round_half_away inside the UDF (not F.round): the oracle is DuckDB
    # round(), and the tiers' shared rounding rule lives in vectors.py.
    score = pair_cosine_rounded_pandas(F.col("va"), F.col("vb"))
    return (
        cand.select("vec_a", "vec_b", score.alias("score"))
        .filter(~F.isnan("score") & (F.col("score") >= 0.3))
        .orderBy(F.desc("score"), "vec_a", "vec_b")
    )


@query(
    "embedding_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_ELSH_CTES},
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM lsh_pairs
        UNION ALL SELECT vec_b, vec_a FROM lsh_pairs
    ),
    cc(id, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, cc.label FROM cc JOIN edges e ON e.src = cc.id
    ),
    final AS (SELECT id AS vec_id, min(label) AS component FROM cc GROUP BY id)
    SELECT vec_id, component, count(*) OVER (PARTITION BY component) AS component_size
    FROM final ORDER BY vec_id
    """,
)
def embedding_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup GROUPS: transitive closure over the banded
    sign-LSH cosine pairs — the embedding-side twin of
    dedup_connected_components (same label-propagation core,
    operators/dedup.py::connected_components; same recursive-CTE oracle
    shape). Cosine chains are exactly why closure matters here: A~B and
    B~C at 0.3 does NOT imply A~C scores over threshold, yet a semantic
    dedup policy must treat {{A,B,C}} as one group with one canonical
    representative (min vec_id)."""
    from .dedup import connected_components

    pairs = embedding_lsh_pairs(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, src_col="vec_a", dst_col="vec_b")
    w = Window.partitionBy("component")
    return (
        labels.select(F.col("id").alias("vec_id"), F.col("label").alias("component"))
        .withColumn("component_size", F.count("*").over(w))
        .orderBy("vec_id")
    )


@query(
    "semantic_dedup_keepers",
    oracle=f"""
    WITH RECURSIVE {_ELSH_CTES},
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM lsh_pairs
        UNION ALL SELECT vec_b, vec_a FROM lsh_pairs
    ),
    cc(id, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, cc.label FROM cc JOIN edges e ON e.src = cc.id
    ),
    final AS (SELECT id AS vec_id, min(label) AS component FROM cc GROUP BY id)
    SELECT e.vec_id,
           coalesce(f.component, e.vec_id) AS component,
           e.vec_id = coalesce(f.component, e.vec_id) AS is_keeper
    FROM embeddings e LEFT JOIN final f ON e.vec_id = f.vec_id
    ORDER BY e.vec_id
    """,
)
def semantic_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's corpus-level output (Abbas et al. 2023): the per-vector
    KEEP/PRUNE decision, completing the semantic-dedup story that
    embedding_cluster_components leaves at the group level. One canonical
    representative (min vec_id — the component label itself, by
    construction of the min-label closure) survives per semantic cluster;
    every vector outside any cluster is trivially its own keeper.

    Scale posture: the closure runs only over vectors that appear in an
    LSH candidate pair, so on a clean corpus the label table is
    dimension-sized — but on a near-dup-heavy corpus it is
    corpus-fraction-sized, so the join back carries NO broadcast hint:
    AQE broadcasts it when the runtime size allows and falls back to a
    shuffle join when it doesn't, instead of a forced broadcast OOMing at
    the 100 TB design point. The keep decision itself is one
    coalesce+compare. The downstream training pipeline filters
    `is_keeper` and never materializes the pruned rows."""
    from .dedup import connected_components

    pairs = embedding_lsh_pairs(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, src_col="vec_a", dst_col="vec_b")
    lab = labels.select(F.col("id").alias("vec_id"), F.col("label").alias("component"))
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        emb.join(lab, "vec_id", "left")
        .select("vec_id", F.coalesce("component", F.col("vec_id")).alias("component"))
        .withColumn("is_keeper", F.col("vec_id") == F.col("component"))
        .orderBy("vec_id")
    )


# --- Batch ANN: many query vectors against the corpus in one pass ---

ANN_BATCH_Q = 5   # vec_id < Q form the query batch
ANN_BATCH_K = 5   # top-k per query


@query(
    "ann_batch_topk",
    oracle=f"""
    WITH d AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < {ANN_BATCH_Q}),
    c AS (SELECT vec_id, v FROM d WHERE vec_id >= {ANN_BATCH_Q}),
    scored AS (
        SELECT q.query_id, c.vec_id,
               round({_COS_ORACLE_EXPR.format(a="c.v", b="q.qv")}, 4) AS score
        FROM c CROSS JOIN q
    )
    SELECT query_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS INT) AS rank
    FROM scored WHERE score IS NOT NULL
    QUALIFY rank <= {ANN_BATCH_K}
    ORDER BY query_id, rank
    """,
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one corpus pass — the
    bulk-retrieval shape (RAG eval sets, embedding-join between a query
    table and a corpus) that per-query ann_cosine_topk cannot serve
    without Q full scans.

    Scale architecture — the classic two-phase distributed top-k:
    (1) per-partition semi-reduction in Arrow: each partition's vectors
    are scored against ALL Q queries with one BLAS matmul (n×d @ d×Q)
    inside mapInPandas, and only that partition's top-k PER QUERY leaves
    Python — ≤ Q·k rows per partition, so the n×Q score matrix never
    materializes as rows anywhere; (2) a global window over the ≤ P·Q·k
    surviving candidates picks the final top-k. Scores are rounded to
    4dp BEFORE selection in both phases and ties break on vec_id, which
    makes phase-1 pruning exactly order-compatible with the oracle's
    global sort (any global top-k row is in its partition's top-k under
    the same total order). Zero-norm vectors score NULL and are dropped,
    mirroring the cosine() contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType as _D,
        LongType as _L,
        StructField as _SF,
        StructType as _ST,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = sorted(
        emb.filter(F.col("vec_id") < ANN_BATCH_Q).select("vec_id", "embedding").collect(),
        key=lambda r: r[0],
    )
    if not qrows:
        raise ValueError("query batch vec_id < %d not found" % ANN_BATCH_Q)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(qm, axis=1)
    k = ANN_BATCH_K

    out_schema = _ST(
        [_SF("query_id", _L()), _SF("vec_id", _L()), _SF("score", _D())]
    )

    def part_topk(batches):
        cand: list[pd.DataFrame] = []
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            den = np.linalg.norm(m, axis=1)[:, None] * qn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(den != 0.0, (m @ qm.T) / den, np.nan)
            sims = round_half_away(sims)
            vids = pdf["vec_id"].to_numpy()
            for qi in range(len(qids)):
                s = sims[:, qi]
                idx = np.nonzero(~np.isnan(s))[0]
                if not len(idx):
                    continue
                order = idx[np.lexsort((vids[idx], -s[idx]))][:k]
                cand.append(
                    pd.DataFrame(
                        {"query_id": qids[qi], "vec_id": vids[order], "score": s[order]}
                    )
                )
        if cand:
            allc = pd.concat(cand)
            yield (
                allc.sort_values(
                    ["query_id", "score", "vec_id"], ascending=[True, False, True]
                )
                .groupby("query_id", sort=False)
                .head(k)
            )

    candidates = (
        emb.filter(F.col("vec_id") >= ANN_BATCH_Q)
        .select("vec_id", "embedding")
        .mapInPandas(part_topk, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (r12, beyond-reference).
#
# At 100 TB the embedding column IS the storage bill: float32×dim per row.
# Row-local symmetric int8 quantization (scale = max|x|/127 per vector,
# q_i = round_half_away(x_i/scale)) cuts scan bytes ~4× with no shuffle —
# a pure per-row projection at ingest — and dequantized cosine serves
# recall-adequate ANN while the exact float column stays in cold storage.
# The rounding is written as sign(x)·floor(|x|/scale + 0.5) IN BOTH
# ENGINES: Spark's F.round would re-derive through BigDecimal and DuckDB's
# round() is half-away — this closed form is identical IEEE arithmetic on
# both sides, so the oracle hash is exact (same discipline as
# functions/vectors.round_half_away).
# ---------------------------------------------------------------------------

_Q8_SQL = (
    "CASE WHEN scale = 0.0D THEN transform(v, x -> 0) "
    "ELSE transform(v, x -> cast(sign(x) * floor(abs(x) / scale + 0.5D) as int)) END"
)

_Q8_ORACLE_CTES = """
    d AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM d
    ),
    q AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0.0
                    THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x -> CAST(sign(x) * floor(abs(x) / scale + 0.5) AS INTEGER))
               END AS q8
        FROM s
    )"""


@query(
    "embedding_quantize_int8",
    oracle=f"""
    WITH {_Q8_ORACLE_CTES}
    SELECT vec_id,
           floor(scale * 1000000 + 0.5) / 1000000 AS scale_r,
           len(q8) AS n_codes,
           md5(array_to_string(q8, ',')) AS q8_md5
    FROM q ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: (vec_id, rounded scale,
    code count, md5 of the code array). Shuffle-free projection — the
    ingest-time pass that makes a 100 TB embedding store scannable at
    ~4× fewer bytes. The md5-of-joined-codes digest pins every code
    byte of every vector while keeping the gate output scalar — the
    driver's canonicalizer pandas-sorts columns and cannot hash raw
    array values (the r12 red row), so gated queries emit scalars only
    (enforced by check_oracle's no-nested-output lint). The scale is
    rounded with the same closed-form half-away expression in both
    engines (floor(x·1e6 + 0.5)/1e6; scale ≥ 0 by construction) rather
    than F.round vs DuckDB round — those two disagree one ulp below a
    .5 decimal boundary (functions/vectors.round_half_away), while the
    shared closed form is identical IEEE arithmetic on both sides."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _int8_code_table(emb).select(
        "vec_id",
        F.expr("floor(scale * 1000000.0D + 0.5D) / 1000000.0D").alias("scale_r"),
        F.expr("cast(size(q8) as bigint)").alias("n_codes"),
        F.expr("md5(array_join(transform(q8, c -> cast(c as string)), ','))").alias(
            "q8_md5"
        ),
    )
    # unbounded per-vector listing — no terminal sort (r12 doctrine)


def _int8_code_table(emb: DataFrame) -> DataFrame:
    """(vec_id, scale, q8) — the quantization projection, shared by the
    listing query and the quantized top-k."""
    return (
        emb.select("vec_id", F.expr(as_double_sql("embedding")).alias("v"))
        .withColumn("scale", F.expr("array_max(transform(v, x -> abs(x))) / 127.0D"))
        .select("vec_id", "scale", F.expr(_Q8_SQL).alias("q8"))
    )


@query(
    "ann_cosine_topk_int8",
    oracle=f"""
    WITH {_Q8_ORACLE_CTES},
    dq AS (
        SELECT vec_id,
               list_transform(q8, c -> c * scale) AS w
        FROM q
    ),
    probe AS (SELECT w AS qw FROM dq WHERE vec_id = 0)
    SELECT dq.vec_id,
           round({_COS_ORACLE_EXPR.format(a="dq.w", b="probe.qw")}, 4) AS score
    FROM dq CROSS JOIN probe
    WHERE dq.vec_id <> 0
    ORDER BY score DESC, dq.vec_id
    LIMIT 10
    """,
)
def ann_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over the DEQUANTIZED int8 codes — the serving path of
    the quantized store (quantize → dequantize → cosine), gated against
    a DuckDB oracle running the identical integer pipeline, so the whole
    quantization round-trip is pinned end-to-end. The codes are
    quantized live from the float column. Scoring stays a shuffle-free
    scored scan + TakeOrderedAndProject, same as ann_cosine_topk."""
    codes = _int8_code_table(load_table(spark, sf_dir, "embeddings"))
    dq = codes.select("vec_id", F.expr("transform(q8, c -> c * scale)").alias("w"))
    # r13: the dequantized query vector enters as a SQL literal (memoized
    # per embeddings signature) — no broadcast job; see array_lit_sql.
    cos = cosine_lit_sql("w", _dequantized_query_cached(spark, sf_dir, dq))
    return (
        dq.filter(F.col("vec_id") != 0)
        .select("vec_id", F.expr(f"round({cos}, 4)").alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


def _dequantized_query_cached(spark: SparkSession, sf_dir: str, dq: DataFrame) -> list[float]:
    """vec 0's dequantized (q8·scale) vector, memoized per embeddings
    signature — the quantized family's query parameter, fetched by ONE
    job on first use instead of a broadcast exchange per call."""
    from ..sources.catalog import table_scalar_cached

    def compute() -> list[float]:
        row = dq.filter(F.col("vec_id") == 0).select("w").first()
        return [float(x) for x in row["w"]]

    return table_scalar_cached(spark, sf_dir, "embeddings", "q8w_vec0", compute)


# ---------------------------------------------------------------------------
# int8 codes inside the IVF layout (r13) — quantized storage for the
# partition-pruned probe. The float IVF index answers "which cells do I
# read"; the int8 cell layout makes reading them ~4× cheaper: each probed
# directory holds (vec_id, scale, q8) instead of float32 vectors, and the
# probe dequantizes in-plan. This is FAISS's IVF-SQ8 layout re-expressed
# as lake partitioning: coarse cells = directories, fine codes = int8
# parquet columns. Asymmetric scoring (float query × dequantized codes)
# matches standard SQ serving.
# ---------------------------------------------------------------------------


def ivf_int8_path(sf_dir: str) -> str:
    return warehouse_path(sf_dir, "ivf_int8")


def _quantize_to_cells(vecs: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, scale, q8) from (vec_id, centroid_id, v):
    the ONE copy of the cell-coding projection, shared by the full build
    and the O(delta) extension — plan identity is what makes
    'extension ≡ rebuild' exact, same discipline as
    _assign_to_centroids."""
    return vecs.withColumn(
        "scale", F.expr("array_max(transform(v, x -> abs(x))) / 127.0D")
    ).select("vec_id", "centroid_id", "scale", F.expr(_Q8_SQL).alias("q8"))


def _write_int8_codes(spark: SparkSession, parent: str, path: str, mode: str) -> None:
    """Code the parent float layout's vectors into the int8 cell layout:
    one file per cell (repartition on the partition column), membership
    copied from the parent rows."""
    vecs = spark.read.parquet(f"{parent}/vectors").select(
        "vec_id", "centroid_id", F.expr(as_double_sql("embedding")).alias("v")
    )
    (
        _quantize_to_cells(vecs)
        .repartition(F.col("centroid_id"))
        .write.partitionBy("centroid_id")
        .mode(mode)
        .parquet(f"{path}/codes")
    )


def ensure_ivf_int8(spark: SparkSession, sf_dir: str) -> str:
    """Serve-or-build for the int8-coded IVF cell layout: the full-corpus
    float index (ensure_ivf_index — which itself rebuilds if stale) is
    re-coded as (vec_id, scale, q8) partitioned by centroid_id. Cell
    membership is COPIED from the float index, never re-derived — the
    int8 layout is a storage projection of the same index, so the two
    always agree on which directory a vector lives in. Freshness is the
    embeddings stat signature (the same currency as every serve-or-build
    artifact); a stale parent rebuild bumps the vectors files, but the
    meta here pins the SOURCE, so one signature check covers both. The
    check is manifest.meta_matches, so the `partial` variant key must be
    PRESENT and False — the incremental gate builds a partial layout
    at this path, and steady-state serving must never mistake it for a
    full build."""
    from ..sources.catalog import table_stat_signature
    from ..sources.manifest import commit_meta, meta_matches

    path = ivf_int8_path(sf_dir)
    sig = table_stat_signature(sf_dir, ("embeddings",))
    if meta_matches(path, source_signature=sig, partial=False):
        return path
    parent = ensure_ivf_index(spark, sf_dir)
    _write_int8_codes(spark, parent, path, mode="overwrite")
    commit_meta(path, {"source_signature": sig, "partial": False})
    return path


def extend_ivf_int8(
    spark: SparkSession,
    delta: DataFrame,
    parent: str,
    path: str,
    source_signature: str | None = None,
) -> None:
    """O(delta) extension of the int8 cell layout — without it, the
    quantized store pays an O(corpus) re-code on every ingest while its
    float parent extends O(delta) (the same economics defect the float
    family fixed in r9). The delta is assigned against the parent's
    persisted k-row centroids via the SAME shared plan the full build
    uses (_assign_to_centroids), quantized by the SAME projection
    (_quantize_to_cells), and appended into the cell directories — so
    extension ≡ rebuild is an identity of plans, gated end-to-end by
    ivf_int8_incremental against the full-corpus int8 probe oracle.
    When `source_signature` is given (the post-ingest embeddings stat
    signature), the freshness record CAS-advances in the same logical
    commit, keeping ensure_ivf_int8 on the serve path afterward; the
    `partial` variant key is preserved — extension never changes WHAT
    slice the layout covers, only brings it forward in time."""
    c = spark.read.parquet(f"{parent}/centroids")
    d = delta.select("vec_id", "embedding", F.expr(as_double_sql("embedding")).alias("v"))
    assigned = _assign_to_centroids(d, c).select(
        "vec_id", "centroid_id", F.expr(as_double_sql("embedding")).alias("v")
    )
    (
        _quantize_to_cells(assigned)
        .repartition(F.col("centroid_id"))
        .write.partitionBy("centroid_id")
        .mode("append")
        .parquet(f"{path}/codes")
    )
    if source_signature is not None:
        from ..sources.manifest import update_meta

        def advance(current: dict | None) -> dict:
            out = dict(current or {"partial": False})
            out["source_signature"] = source_signature
            return out

        update_meta(path, advance)


# Shared by ivf_probe_int8_served: the family probe oracle with exact
# scoring over the DEQUANTIZED codes (assignment and cell choice stay on
# the float vectors — quantization changes stored bytes and scoring
# precision, never cell membership).
_IVF_INT8_PROBE_ORACLE = """
    WITH {ctes},
    q AS (SELECT v AS qv FROM d WHERE vec_id = 4),
    qprobe AS (
        SELECT centroid_id FROM (
            SELECT c.centroid_id,
                   round({cosqc}, 4) AS s,
                   row_number() OVER (ORDER BY round({cosqc}, 4) DESC, c.centroid_id) AS rn
            FROM ctrained c CROSS JOIN q
        ) WHERE rn <= 2
    ),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT d.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY d.vec_id
                                      ORDER BY round({cosdc}, 4) DESC, c.centroid_id) AS rn
            FROM d CROSS JOIN ctrained c WHERE d.vec_id <> 4
        ) WHERE rn = 1
    ),
    s8 AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM d
    ),
    q8t AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0.0
                    THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x -> CAST(sign(x) * floor(abs(x) / scale + 0.5) AS INTEGER))
               END AS q8
        FROM s8
    ),
    dq AS (SELECT vec_id, list_transform(q8, c -> c * scale) AS w FROM q8t)
    SELECT dq.vec_id, round({cosdq}, 4) AS score
    FROM dq
    JOIN assign ON dq.vec_id = assign.vec_id
    CROSS JOIN q
    WHERE assign.centroid_id IN (SELECT centroid_id FROM qprobe)
    ORDER BY score DESC, dq.vec_id
    LIMIT 10
    """.format(
    ctes=_kmeans_oracle_ctes(),
    cosqc=_COS_ORACLE_EXPR.format(a="c.cv", b="q.qv"),
    cosdc=_COS_ORACLE_EXPR.format(a="d.v", b="c.cv"),
    cosdq=_COS_ORACLE_EXPR.format(a="dq.w", b="q.qv"),
)


@query("ivf_probe_int8_served", oracle=_IVF_INT8_PROBE_ORACLE)
def ivf_probe_int8_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantized steady-state probe — IVF-SQ8 serving, end-to-end
    oracle-gated (VERDICT r12 ask #6): rank the k-row centroid parquet
    against the float query, directory-prune to the nprobe=2 cells of
    the INT8 layout (ensure_ivf_int8 — int8 codes + one double per row,
    ~4× fewer scan bytes than the float cells), dequantize in-plan
    (transform(q8, c -> c*scale)) and exact-score asymmetrically against
    the float query. The oracle runs the identical integer pipeline over
    the same float-assigned cells, so cell choice, quantization, and the
    dequantized scores are all pinned. Query vec_id 4 is part of the
    corpus layout; dropped post-probe to match the family convention."""
    path = ensure_ivf_int8(spark, sf_dir)
    parent = ensure_ivf_index(spark, sf_dir)
    return _probe_int8_codes(spark, sf_dir, parent, path)


def _probe_int8_codes(spark: SparkSession, sf_dir: str, parent: str, path: str) -> DataFrame:
    """The quantized probe tail shared by ivf_probe_int8_served and
    ivf_int8_incremental: rank the parent's k-row centroid parquet
    against the float query, directory-prune to the nprobe=2 cells of
    the int8 layout, dequantize in-plan, score against the literal
    query vector, top-10 (query vec_id 4 dropped post-probe)."""
    qvec = _query_vector_cached(spark, sf_dir, 4)
    q = F.array(*[F.lit(x) for x in qvec])
    from ..sources.catalog import read_parquet_cached

    c = read_parquet_cached(spark, f"{parent}/centroids")
    qc_w = Window.orderBy(F.desc("s"), F.asc("centroid_id"))
    probe_ids = [
        r.centroid_id
        for r in (
            c.select("centroid_id", F.round(cosine(F.col("cv"), q), 4).alias("s"))
            .withColumn("rn", F.row_number().over(qc_w))
            .filter(F.col("rn") <= 2)
            .select("centroid_id")
            .collect()
        )
    ]
    codes = (
        read_parquet_cached(spark, f"{path}/codes")
        .filter(F.col("centroid_id").isin(probe_ids))
        .filter(F.col("vec_id") != 4)
    )
    cos = cosine_lit_sql("w", qvec)
    return (
        codes.select("vec_id", F.expr("transform(q8, c -> c * scale)").alias("w"))
        .select("vec_id", F.expr(f"round({cos}, 4)").alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


@query("ivf_int8_incremental", oracle=_IVF_INT8_PROBE_ORACLE)
def ivf_int8_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(delta) maintenance of the QUANTIZED cell layout, end-to-end and
    oracle-gated — the int8 twin of ivf_incremental_index, closing the
    same economics gap the float family closed in r9: build the float
    parent and the int8 codes over the BASE corpus only (vec_id % 20
    != 0, the standard synthetic 'yesterday's lake' split), admit the
    remaining 5% via extend_ivf_int8 (delta assigned against the
    persisted centroids and quantized by the same shared plans the full
    build runs — no corpus re-code, no retraining), then serve the
    standard quantized probe from the EXTENDED cells. The oracle is the
    full-corpus int8 probe (_IVF_INT8_PROBE_ORACLE, shared with
    ivf_probe_int8_served), so a green row proves base-code +
    delta-extension ≡ one full re-code."""
    emb = load_table(spark, sf_dir, "embeddings")
    parent = persist_ivf_index(
        spark, sf_dir, exclude_vec_id=4, base_filter=F.col("vec_id") % 20 != 0
    )
    path = ivf_int8_path(sf_dir)
    _write_int8_codes(spark, parent, path, mode="overwrite")
    from ..sources.manifest import commit_meta

    commit_meta(path, {"source_signature": None, "partial": True})
    delta = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") != 4))
    extend_ivf_int8(spark, delta, parent, path)
    return _probe_int8_codes(spark, sf_dir, parent, path)


@query(
    "ann_recall_int8",
    oracle=f"""
    WITH {_Q8_ORACLE_CTES},
    dqv AS (SELECT vec_id, list_transform(q8, c -> c * scale) AS w FROM q),
    fq AS (SELECT v AS qv FROM d WHERE vec_id = 0),
    topf AS (
        SELECT d.vec_id FROM d CROSS JOIN fq
        WHERE d.vec_id <> 0
        ORDER BY round({_COS_ORACLE_EXPR.format(a="d.v", b="fq.qv")}, 4) DESC, d.vec_id
        LIMIT 10
    ),
    qq AS (SELECT w AS qw FROM dqv WHERE vec_id = 0),
    top8 AS (
        SELECT dqv.vec_id FROM dqv CROSS JOIN qq
        WHERE dqv.vec_id <> 0
        ORDER BY round({_COS_ORACLE_EXPR.format(a="dqv.w", b="qq.qw")}, 4) DESC, dqv.vec_id
        LIMIT 10
    )
    SELECT count(*) AS overlap10 FROM topf JOIN top8 USING (vec_id)
    """,
)
def ann_recall_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the quantized store vs exact float search, as one
    scalar row: |top-10(float) ∩ top-10(dequantized-int8)| for the
    standard query (vec_id 0). This is the row that BOUNDS quantization
    loss in the gate itself — a quantizer bug that silently reranks
    results moves this count, and the DuckDB oracle recomputes both
    top-10 sets from scratch. tests/test_similarity.py additionally
    asserts overlap10 ≥ 8 so a regression fails the suite even at tiny
    scale. Both legs are shuffle-free scored scans + top-k; the
    intersection is a 10×10 broadcast join."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", F.expr(as_double_sql("embedding")).alias("v"))

    codes = _int8_code_table(emb)
    dq = codes.select("vec_id", F.expr("transform(q8, c -> c * scale)").alias("w"))

    cos_f = cosine_lit_sql("v", _query_vector_cached(spark, sf_dir, 0))
    cos_q = cosine_lit_sql("w", _dequantized_query_cached(spark, sf_dir, dq))

    topf = (
        d.filter(F.col("vec_id") != 0)
        .select("vec_id", F.expr(f"round({cos_f}, 4)").alias("s"))
        .orderBy(F.desc("s"), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    top8 = (
        dq.filter(F.col("vec_id") != 0)
        .select("vec_id", F.expr(f"round({cos_q}, 4)").alias("s"))
        .orderBy(F.desc("s"), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return topf.join(top8, "vec_id", "inner").agg(
        F.count("*").cast("bigint").alias("overlap10")
    )
