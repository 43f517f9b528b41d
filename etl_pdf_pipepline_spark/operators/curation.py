"""Training-corpus curation operators (round 4, beyond-reference):
sequence packing, repetition-based quality filtering, token-budget
mixture sampling, and PII redaction.

These complete the LLM-data-pipeline family started in dedup.py /
textstats.py: after a corpus is deduplicated (dedup.py), quality-gated
(doc_quality_scores), language-balanced (doc_stratified_sample) and
decontaminated (corpus_contamination_probe), a pretraining pipeline still
has to (a) drop mechanically repetitive documents (Gopher-style
repetition signals, Rae et al. 2021 §A1.1), (b) rebalance the language /
domain mixture to a token budget rather than a document count, (c) scrub
PII spans, and (d) pack the surviving token stream into fixed-length
training sequences. Each is expressed as JVM-side column algebra — the
only Python anywhere is the test harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from ..registry import query
from ..sources.catalog import load_table

SEQ_LEN = 256          # tokens per packed training sequence
PACK_BUCKET = 1024     # docs per prefix-sum bucket (see doc_pack_sequences)
MIX_BUDGET = 4000      # per-language token budget for mixture sampling
TOP2_MAX = 0.20        # keep thresholds for the repetition gate
DUP3_MAX = 0.30


@query(
    "doc_pack_sequences",
    oracle=f"""
    WITH nt AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, n,
               CAST(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - n AS BIGINT) AS cum_before
        FROM nt WHERE n > 0
    ),
    ex AS (
        SELECT doc_id, n, cum_before,
               unnest(range(cum_before // {SEQ_LEN},
                            (cum_before + n - 1) // {SEQ_LEN} + 1)) AS seq_id
        FROM c
    )
    SELECT seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(cum_before + n, (seq_id + 1) * {SEQ_LEN})
                    - greatest(cum_before, seq_id * {SEQ_LEN})) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM ex GROUP BY seq_id ORDER BY seq_id
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing — the GPT-style pretraining op:
    the corpus token stream, ordered by doc_id, is cut into fixed
    SEQ_LEN-token training sequences; a document whose span crosses a cut
    contributes to both sequences. Output is one row per sequence
    (doc count, token count, first/last doc) — every sequence holds
    exactly SEQ_LEN tokens except the last.

    The scale problem is the global prefix sum (each doc needs the total
    token count of every earlier doc). A bare `ORDER BY doc_id ROWS
    UNBOUNDED PRECEDING` window has no PARTITION BY, so Spark would drag
    the whole corpus through ONE task. Instead the classic two-level
    distributed prefix sum: (1) docs group into PACK_BUCKET-sized ranges
    by doc_id; per-bucket token totals aggregate map-side, (2) the
    single-task window runs over BUCKET TOTALS only (|docs|/1024 rows —
    at 10^10 docs that is 10^7 rows, and the same trick recurses if that
    ever dominates), (3) bucket offsets broadcast-join back and a window
    PARTITIONED by bucket finishes the per-doc cumsum in parallel. The
    sequence fan-out is then a narrow `sequence()+explode` — a doc emits
    one row per sequence it touches (⌈n/SEQ_LEN⌉+1 at most), and the
    final per-sequence aggregate partial-aggregates before its shuffle.
    All integer arithmetic — bit-identical across engines by
    construction."""
    docs = load_table(spark, sf_dir, "documents")
    nt = docs.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n")).filter(
        F.col("n") > 0
    )
    nt = nt.withColumn("bucket", F.floor(F.col("doc_id") / PACK_BUCKET))
    # (2) prefix-sum over bucket totals: tiny input, single task by design
    btot = nt.groupBy("bucket").agg(F.sum("n").alias("btot"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    boff = btot.withColumn("boffset", F.sum("btot").over(w_b) - F.col("btot")).select(
        "bucket", "boffset"
    )
    # (3) per-doc cumsum within bucket, shifted by the bucket offset
    w_d = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        nt.join(F.broadcast(boff), "bucket")
        .withColumn("cum_before", F.col("boffset") + F.sum("n").over(w_d) - F.col("n"))
        .select("doc_id", "n", "cum_before")
    )
    seq_first = F.floor(F.col("cum_before") / SEQ_LEN)
    seq_last = F.floor((F.col("cum_before") + F.col("n") - 1) / SEQ_LEN)
    ex = c.select(
        "doc_id",
        "n",
        "cum_before",
        F.explode(F.sequence(seq_first, seq_last)).alias("seq_id"),
    )
    tok_in_seq = F.least(
        F.col("cum_before") + F.col("n"), (F.col("seq_id") + 1) * SEQ_LEN
    ) - F.greatest(F.col("cum_before"), F.col("seq_id") * SEQ_LEN)
    return (
        ex.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(tok_in_seq).alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


def _gram_rows(docs: DataFrame, width: int) -> DataFrame:
    """(doc_id, gram) rows for word n-grams, built narrowly inside the scan
    stage (the arrays_zip-of-shifted-slices trick from dedup.shingle_rows);
    docs with fewer than `width` tokens emit nothing — mirrored by the
    oracle's list comprehension, which is empty for them."""
    toks = tokens("text")
    base = docs.select("doc_id", toks.alias("__toks"))
    n = F.size("__toks")
    m = n - (width - 1)
    zipped = F.arrays_zip(
        *[F.slice("__toks", F.lit(j + 1), m).alias(f"t{j}") for j in range(width)]
    )
    return (
        base.filter(n >= width)
        .select("doc_id", F.explode(zipped).alias("__z"))
        .select(
            "doc_id",
            F.concat_ws(" ", *[F.col(f"__z.t{j}") for j in range(width)]).alias("gram"),
        )
    )


@query(
    "doc_repetition_filter",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS t
        FROM documents
    ),
    grams2 AS (
        SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS gram
        FROM toks
    ),
    g2counts AS (
        SELECT doc_id, gram, count(*) AS c FROM grams2 GROUP BY doc_id, gram
    ),
    top2 AS (
        SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top2_frac
        FROM g2counts GROUP BY doc_id
    ),
    dup3 AS (
        SELECT doc_id,
               round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / greatest(len(g3), 1), 4)
                   AS dup3_frac
        FROM (SELECT doc_id,
                     [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)] AS g3
              FROM toks WHERE len(t) >= 3)
    )
    SELECT d.doc_id,
           coalesce(t.top2_frac, 0.0) AS top2_frac,
           coalesce(u.dup3_frac, 0.0) AS dup3_frac,
           coalesce(t.top2_frac, 0.0) <= {TOP2_MAX}
               AND coalesce(u.dup3_frac, 0.0) <= {DUP3_MAX} AS keep
    FROM documents d
    LEFT JOIN top2 t ON d.doc_id = t.doc_id
    LEFT JOIN dup3 u ON d.doc_id = u.doc_id
    ORDER BY d.doc_id
    """,
)
def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (Rae et al. 2021, §A1.1): reject
    documents dominated by repeated n-grams. Two signals per document —
    top2_frac, the share of 2-gram occurrences claimed by the single most
    frequent 2-gram, and dup3_frac, the fraction of 3-grams that are
    repeats — gated at TOP2_MAX / DUP3_MAX.

    Scale posture: dup3_frac never leaves the scan stage — the 3-gram
    array is built narrowly per doc and `1 − distinct/total` is array
    algebra, no shuffle. top2_frac needs per-(doc, gram) counts, which is
    a genuine aggregation: the 2-gram row stream partial-aggregates
    map-side before one shuffle keyed (doc_id, gram), then collapses to
    per-doc max/sum on doc_id (AQE-coalesced; same key prefix, no second
    wide exchange pattern at cluster scale with bucketed layouts). Docs
    too short to have 2-grams join back as 0.0 via the same left join the
    oracle uses — and the oracle's dup3 subquery filters len(t) >= 3 to
    match, so sub-3-token docs coalesce to 0.0 (keep=true) in BOTH
    engines rather than diverging (a doc with no 3-grams has duplicated
    nothing)."""
    docs = load_table(spark, sf_dir, "documents")
    g2 = (
        _gram_rows(docs, 2)
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("c").cast("double") / F.sum("c"), 4).alias("top2_frac"),
        )
    )
    toks = tokens("text")
    n = F.size(toks)
    m = n - 2
    # dup3 from the 3-gram ARRAY (no exchange): build it once per doc
    g3_arr = F.transform(
        F.arrays_zip(
            F.slice(toks, 1, m).alias("t0"), F.slice(toks, 2, m).alias("t1"),
            F.slice(toks, 3, m).alias("t2"),
        ),
        lambda z: F.concat_ws(" ", z["t0"], z["t1"], z["t2"]),
    )
    dup3 = docs.filter(n >= 3).select(
        "doc_id",
        F.round(
            1.0 - F.size(F.array_distinct(g3_arr)).cast("double")
            / F.greatest(F.size(g3_arr), F.lit(1)),
            4,
        ).alias("dup3_frac"),
    )
    out = (
        docs.select("doc_id")
        .join(g2, "doc_id", "left")
        .join(dup3, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top2_frac", F.lit(0.0)).alias("top2_frac"),
            F.coalesce("dup3_frac", F.lit(0.0)).alias("dup3_frac"),
        )
        .withColumn(
            "keep",
            (F.col("top2_frac") <= TOP2_MAX) & (F.col("dup3_frac") <= DUP3_MAX),
        )
        .orderBy("doc_id")
    )
    return out


@query(
    "corpus_mixture_sample",
    oracle=f"""
    WITH nt AS (
        SELECT doc_id, lang,
               len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS n
        FROM documents
    ),
    rates AS (
        SELECT lang, CAST(greatest(1, least(100, 100 * {MIX_BUDGET} // sum(n))) AS BIGINT) AS rate
        FROM nt GROUP BY lang
    )
    SELECT nt.lang, r.rate,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(nt.n) AS BIGINT) AS n_tokens_kept
    FROM nt JOIN rates r ON nt.lang = r.lang
    WHERE CAST('0x' || substr(md5(CAST(nt.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < r.rate
    GROUP BY nt.lang, r.rate
    ORDER BY nt.lang
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: rebalance the corpus so every
    language contributes ≈MIX_BUDGET tokens — the domain-mixture step of
    a pretraining pipeline (documents are sampled, token mass is what's
    budgeted). Each language's keep-rate is derived FROM THE DATA
    (100·budget/total_tokens, capped at 100) and applied as the same
    deterministic md5-bucket predicate doc_stratified_sample uses, so
    reruns, retries, and both engines select the identical doc set. The
    rate is clamped to [1, 100]: without the floor, a language whose
    token mass exceeds 100×budget would floor-divide to rate 0 and be
    silently DROPPED from the mixture instead of downsampled — the floor
    keeps every language represented (at ~1% of docs minimum).

    Scale posture: one pass computes per-lang token totals (tiny
    aggregate — |langs| rows), broadcast back as rates; the keep
    predicate is then pure scan-side filter. Integer rate arithmetic
    (floor division) keeps the threshold exact across engines. Output is
    the per-lang rollup (rate, docs kept, tokens kept) — the numbers a
    curation report needs."""
    docs = load_table(spark, sf_dir, "documents")
    nt = docs.select(
        "doc_id", "lang", F.size(tokens("text")).cast("bigint").alias("n")
    )
    rates = nt.groupBy("lang").agg(
        F.greatest(
            F.lit(1),
            F.least(F.lit(100), F.floor(100 * MIX_BUDGET / F.sum("n"))),
        ).cast("bigint").alias("rate")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return (
        nt.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("rate"))
        .groupBy("lang", "rate")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n").alias("n_tokens_kept"),
        )
        .orderBy("lang")
    )


# PII probe patterns — valid and identical in Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround.
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"
_IP_RE = r"\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@query(
    "doc_pii_scrub",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id,
               text || ' contact'
                    || CASE WHEN doc_id % 3 <> 0
                            THEN ' user' || doc_id || '@mail' || (doc_id % 7) || '.example.com'
                            ELSE '' END
                    || CASE WHEN doc_id % 2 = 0
                            THEN ' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            ELSE '' END
                    || ' 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256) AS full_text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(full_text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(full_text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(full_text, '{_IP_RE}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(full_text,
                   '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g'),
                   '{_IP_RE}', '<IP>', 'g')) AS redacted_md5
    FROM planted ORDER BY doc_id
    """,
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and mask email / phone / IP spans per
    document. The generated corpus contains no natural PII, so — like
    corpus_contamination_probe's stand-in eval set — the probe PLANTS
    deterministic PII derived from doc_id at query time (varying which
    docs get an email/phone so counts aren't constant), then redacts it.
    The md5 of the redacted text is compared across engines, so the gate
    proves byte-identical replacement behavior, not just counts.

    Scale posture: pure per-row column algebra — three regexp_replace
    passes and three counts inside one codegen stage, no shuffle, no
    Python. The patterns avoid constructs where Java regex and RE2
    diverge (no lookaround/backrefs)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact"),
            F.when(
                F.col("doc_id") % 3 != 0,
                F.concat(
                    F.lit(" user"), F.col("doc_id").cast("string"),
                    F.lit("@mail"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
            F.lit(" 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("full_text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("full_text"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    return planted.select(
        "doc_id",
        F.regexp_count("full_text", F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count("full_text", F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_count("full_text", F.lit(_IP_RE)).cast("bigint").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


# --- Model-based quality scoring ------------------------------------------
#
# Real pipelines gate documents with (a) a fasttext-style linear classifier
# over hashed n-gram features and (b) a language-model perplexity filter.
# Both shapes are reproduced here with deterministic stand-ins for the
# learned weights (the engine's job is the feature/score plumbing, not the
# training): the classifier weight for a hash bucket is derived from the
# bucket id, and the "LM" is the corpus's own unigram distribution.

QC_BUCKETS = 4096


def _tok_bucket(col):
    """Deterministic token→bucket hash shared with the DuckDB oracle:
    first 8 hex chars of md5 mod QC_BUCKETS (same trick as the
    md5-bucket sampling predicates — bit-identical in both engines,
    unlike Spark's Murmur `hash()` which DuckDB lacks)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % QC_BUCKETS
    )


@query(
    "doc_quality_classifier",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''))
                   AS term
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % {QC_BUCKETS} AS bucket
        FROM tok
    ),
    scored AS (
        SELECT doc_id,
               sum((CAST((bucket * 2654435761) % 1999 AS DOUBLE) / 999.0 - 1.0)) AS z,
               count(*) AS n
        FROM feat GROUP BY doc_id
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(z / n))), 4) AS quality_score,
           1.0 / (1.0 + exp(-(z / n))) >= 0.5 AS keep
    FROM scored ORDER BY doc_id
    """,
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-shaped quality gate: hash every token into QC_BUCKETS
    feature buckets, dot the bucket counts with a weight vector, squash
    with a sigmoid, threshold at 0.5. The weights here are a
    deterministic function of the bucket id (w = ((b·2654435761) mod
    1999)/999 − 1 ∈ [−1, 1]) — a real deployment broadcast-joins a
    learned weight table instead, same plan.

    Scale posture: explode → map-side partial sum → ONE shuffle on
    doc_id; the weight is computed inline (a learned table would be a
    ≤QC_BUCKETS-row broadcast). The mean-then-sigmoid keeps z in a range
    where both engines' exp() agree well inside the 4dp rounding."""
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).select("doc_id", _tok_bucket(F.col("term")).alias("bucket"))
    w = (((F.col("bucket") * 2654435761) % 1999).cast("double") / 999.0) - 1.0
    scored = (
        feat.select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("z"), F.count("*").alias("n"))
    )
    qs = 1.0 / (1.0 + F.exp(-(F.col("z") / F.col("n"))))
    return scored.select(
        "doc_id",
        F.round(qs, 4).alias("quality_score"),
        (qs >= 0.5).alias("keep"),
    ).orderBy("doc_id")


@query(
    "doc_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''))
                   AS term
        FROM documents
    ),
    uni AS (
        SELECT term, count(*) AS cnt FROM tok GROUP BY term
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uni),
    doc AS (
        SELECT t.doc_id,
               sum(ln(CAST(u.cnt AS DOUBLE) / tt.total)) AS lp,
               count(*) AS n
        FROM tok t JOIN uni u ON t.term = u.term CROSS JOIN tot tt
        GROUP BY t.doc_id
    )
    SELECT doc_id,
           round(-lp / n, 4) AS avg_neg_logprob,
           -lp / n <= 8.0 AS keep
    FROM doc ORDER BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy filter: score each document by the average
    negative log-probability of its tokens under the corpus's own
    unigram distribution and keep documents under a threshold — the
    KenLM-filter shape with the n-gram LM replaced by the corpus
    unigram model (a real deployment broadcast-joins a pretrained
    n-gram table; identical plan, wider key).

    Scale posture: two aggregates over the exploded token stream — the
    unigram table (vocabulary-sized, partial-aggregated before its
    term shuffle) and the per-doc sum after a broadcast-sized join of
    token→logprob (vocab ≪ corpus; Spark broadcasts it, so the token
    stream never shuffles on term for scoring — only the doc_id
    partial-sum shuffle remains). The total-count scalar rides in as a
    one-row broadcast cross join."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    uni = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    tot = uni.agg(F.sum("cnt").alias("total"))
    doc = (
        tok.join(F.broadcast(uni), "term")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.log(F.col("cnt").cast("double") / F.col("total")).alias("lp1"))
        .groupBy("doc_id")
        .agg(F.sum("lp1").alias("lp"), F.count("*").alias("n"))
    )
    neg = -F.col("lp") / F.col("n")
    return doc.select(
        "doc_id",
        F.round(neg, 4).alias("avg_neg_logprob"),
        (neg <= 8.0).alias("keep"),
    ).orderBy("doc_id")


PARA_LEN = 20          # tokens per pseudo-paragraph segment
DUP_PARA_MAX = 0.30    # keep threshold on the duplicate-paragraph fraction


def _seg_texts(col: str = "text") -> "F.Column":
    """Pseudo-paragraph segment texts as an array column, in one regex
    pass over the raw string. Whitespace-collapse first makes the
    normalized string equal tokens() joined by single spaces, so each
    greedy {1,PARA_LEN}-token chunk is byte-identical to
    concat_ws(' ', slice(tokens, i*PARA_LEN+1, PARA_LEN)) — verified by
    a full-outer hash-class diff (0 rows) at sf30 against the array
    form, which cost 7× more scan time in interpreted HOF slicing.
    Empty/whitespace-only text yields an empty array (explode drops the
    doc, matching the oracle's WHERE len(t) > 0)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(col))), r"\s+", " ")
    return F.transform(
        F.regexp_extract_all(norm, F.lit(r"(?:[^ ]+ ?){1,%d}" % PARA_LEN), F.lit(0)),
        lambda s: F.rtrim(s),
    )


def _seg_hashes(col: str = "text") -> "F.Column":
    """xxhash64 per segment — int64 shuffle keys (see
    doc_dup_paragraph_fraction's scale-posture notes)."""
    return F.transform(_seg_texts(col), lambda s: F.xxhash64(s))


@query(
    "doc_dup_paragraph_fraction",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS t
        FROM documents
    ),
    segs AS (
        SELECT doc_id,
               unnest([md5(array_to_string(t[(i * {PARA_LEN} + 1):((i + 1) * {PARA_LEN})], ' '))
                       for i in range(0, CAST(ceil(len(t) / {PARA_LEN}.0) AS BIGINT))]) AS seg_hash
        FROM toks WHERE len(t) > 0
    ),
    seg_docs AS (
        SELECT seg_hash, count(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg_hash
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           round(CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS dup_para_frac,
           CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) <= {DUP_PARA_MAX} AS keep
    FROM segs s JOIN seg_docs d ON s.seg_hash = d.seg_hash
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
)
def doc_dup_paragraph_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup signal (VERDICT r4 ask #6) — the
    C4/RefinedWeb granularity between doc-level exact dedup (dedup.py)
    and intra-doc n-gram repetition (doc_repetition_filter): the fraction
    of a document's paragraphs that ALSO occur verbatim in at least one
    other document (Gopher's cross-doc dup-paragraph signal, Rae et al.
    2021 §A1.2). The generated corpus has no blank-line boundaries
    (single-line texts), so a "paragraph" is a fixed PARA_LEN-token
    segment — the same pseudo-boundary a chunk-granular dedup pass uses;
    on real data the segmenter swaps for split-on-blank-lines with the
    rest of the plan unchanged.

    Scale posture: segment hashes are built SCAN-SIDE — one row per doc
    leaves the scan carrying only a hash array, never the text. Two r6
    rewrites, both profiled at sf30:

    - Segmentation is one regex pass, not array algebra: the r5 form
      (transform over a segment-index sequence, concat_ws over
      slice(tokens)) re-sliced and re-joined the token array per segment
      inside interpreted HOFs — profiled at 13 s of the 18 s wall for
      the SCAN ALONE. Collapsing whitespace once
      (regexp_replace(trim(lower), '\\s+', ' ') — by construction of
      tokens(), the normalized string IS the tokens joined by single
      spaces) and chunking with regexp_extract_all('([^ ]+ ?){1,N}')
      yields byte-identical segments (full-outer hash-class diff = 0 at
      sf30) with the scan at 1.8 s.
    - The hash is xxhash64, NOT md5: the shuffled key is 8 bytes instead
      of a 32-char string and non-cryptographic to compute. The oracle
      keeps md5 — the hash never appears in the output, only the min≠max
      signal, so any injective-enough hash agrees; a 64-bit collision
      falsely marks one segment dup with probability ~n²/2⁶⁵ (≈10⁻⁸ of
      segments even at 10¹² segments — the standard chunk-dedup trade,
      documented here rather than hidden).

    After explode, the only wide operations are one window over seg_hash
    (min/max doc_id — cheap partial-aggregating functions; the min≠max
    comparison IS "appears in ≥2 distinct docs", replacing a
    measured-slower countDistinct aggregate + join-back; a
    collect_list hash-aggregate form was also raced and lost, 21 s vs
    17.5 s pre-rewrite) and the per-doc rollup. Nothing is quadratic: a
    segment shared by k docs costs k rows. At 100 TB this is the
    standard two-shuffle chunk-dedup-mark pass; the hashed keys are
    uniform so no salting is needed.

    The keep DECISION compares the unrounded ratio to the threshold
    (PLANS.md oracle-conventions: rounding is display-only where a
    boundary could flip a decision; both engines compute the identical
    IEEE quotient, so the comparison is engine-independent)."""
    docs = load_table(spark, sf_dir, "documents")
    segs = docs.select("doc_id", F.explode(_seg_hashes()).alias("seg_hash"))
    w = Window.partitionBy("seg_hash")
    flagged = segs.withColumn(
        "is_dup", F.min("doc_id").over(w) != F.max("doc_id").over(w)
    )
    dup = F.sum(F.col("is_dup").cast("long"))
    ratio = dup.cast("double") / F.count("*")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.round(ratio, 4).alias("dup_para_frac"),
            (ratio <= DUP_PARA_MAX).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_dup_paragraph_removal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS t
        FROM documents
    ),
    segs AS (
        SELECT doc_id, u.i AS seg_idx, u.s AS seg_text, md5(u.s) AS seg_hash
        FROM (
            SELECT doc_id,
                   unnest([{{'i': i, 's': array_to_string(t[(i * {PARA_LEN} + 1):((i + 1) * {PARA_LEN})], ' ')}}
                           for i in range(0, CAST(ceil(len(t) / {PARA_LEN}.0) AS BIGINT))]) AS u
            FROM toks WHERE len(t) > 0)
    ),
    firsts AS (
        SELECT seg_hash, min(doc_id) AS k_doc FROM segs GROUP BY seg_hash
    ),
    first_idx AS (
        SELECT s.seg_hash, f.k_doc, min(s.seg_idx) AS k_idx
        FROM segs s JOIN firsts f ON s.seg_hash = f.seg_hash AND s.doc_id = f.k_doc
        GROUP BY s.seg_hash, f.k_doc
    ),
    kept AS (
        SELECT s.doc_id, s.seg_idx, s.seg_text
        FROM segs s JOIN first_idx f ON s.seg_hash = f.seg_hash
        WHERE s.doc_id = f.k_doc AND s.seg_idx = f.k_idx
    )
    SELECT p.doc_id, p.n_paras,
           coalesce(k.n_kept, 0) AS n_kept,
           md5(coalesce(k.txt, '')) AS cleaned_md5
    FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras FROM segs GROUP BY doc_id) p
    LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                      string_agg(seg_text, ' ' ORDER BY seg_idx) AS txt
               FROM kept GROUP BY doc_id) k ON p.doc_id = k.doc_id
    ORDER BY p.doc_id
    """,
)
def doc_dup_paragraph_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-paragraph REMOVAL (Raffel et al. 2020 §2.2 —
    C4 drops every repeated three-sentence span corpus-wide, keeping one
    occurrence): where doc_dup_paragraph_fraction only scores, this
    rebuilds the cleaned corpus. Every distinct paragraph survives
    exactly once, at its globally-first location (min (doc_id, seg_idx),
    a total order both engines share); all later occurrences are cut,
    and the per-doc output is the rebuilt text's md5 — byte-level proof
    of identical reconstruction, same convention as doc_pii_scrub.

    Scale posture: two shuffles, both key-hashed and skew-free — a
    window min over seg_hash (xxhash64 int64 keys are uniform; the window carries
    struct(doc_id, seg_idx), 12 bytes beyond the key) picks each
    paragraph's first occurrence, then the per-doc rollup regroups on
    doc_id and reassembles order via array_sort(collect_list(struct)) —
    the paragraph TEXT rides only this second shuffle, which is the
    reconstruction's inherent payload (output ≈ input bytes, the same
    volume any rewrite pass moves). Nothing is quadratic in duplicate
    multiplicity: k copies of a paragraph cost k rows."""
    docs = load_table(spark, sf_dir, "documents")
    # One regex pass builds the segment texts (_seg_texts — same 7×
    # scan-time win as doc_dup_paragraph_fraction); posexplode supplies
    # seg_idx. xxhash64, not md5: the hash is internal grouping state
    # (the output is the cleaned TEXT's md5), so the shuffle key is 8
    # bytes — same collision-rate note as doc_dup_paragraph_fraction.
    segs = docs.select(
        "doc_id", F.posexplode(_seg_texts()).alias("seg_idx", "seg_text")
    ).select(
        "doc_id",
        F.col("seg_idx").cast("int").alias("seg_idx"),
        "seg_text",
        F.xxhash64("seg_text").alias("seg_hash"),
    )
    w = Window.partitionBy("seg_hash")
    flagged = segs.withColumn(
        "first_occ", F.min(F.struct("doc_id", "seg_idx")).over(w)
    ).withColumn(
        "kept",
        (F.col("doc_id") == F.col("first_occ.doc_id"))
        & (F.col("seg_idx") == F.col("first_occ.seg_idx")),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("kept"), F.struct("seg_idx", "seg_text"))
                            )
                        ),
                        lambda s: s.getField("seg_text"),
                    ),
                )
            ).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


# --- Deterministic global shuffle (training-order assignment) -------------

SHUFFLE_SEED = "graft-r10"
SHUFFLE_SHARDS = 8
_SHUF_KEY = f"md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR))"


@query(
    "corpus_seeded_shuffle",
    oracle=f"""
    WITH ordered AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY {_SHUF_KEY}, doc_id) AS BIGINT) AS pos
        FROM documents
    )
    SELECT CAST((pos - 1) % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(pos * doc_id) AS BIGINT) AS perm_checksum
    FROM ordered GROUP BY 1 ORDER BY 1
    """,
)
def corpus_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle — the reproducible training-order
    assignment every pretraining run needs (seeded permutation of the
    corpus, stable across re-runs and engines, so a resumed job and a
    re-built pipeline feed batches in the same order). Each doc's sort
    key is md5(seed || doc_id); its global POSITION is the rank in that
    order, and round-robin over positions yields balanced shards. The
    gate aggregates per shard with a permutation-sensitive checksum
    (sum of position×doc_id): both engines must produce the IDENTICAL
    global permutation, not merely the same membership.

    Scale posture — global rank WITHOUT a global window: a naive
    row_number() over the full order is a single-reducer sort (the
    classic 100 TB faceplant). Instead the md5 key's first two hex
    chars give 256 ORDERED range buckets (uniform by construction);
    per-bucket counts collect to the driver (256 longs — an
    O(partitions)-class scalar list), a cumulative-sum map broadcasts
    back, and each row's position = bucket offset + its rank WITHIN the
    bucket (partition-local window). One narrow shuffle on the bucket
    key, 256-way parallel sort, no global exchange — the distributed
    zipWithIndex pattern in pure DataFrame ops."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(SHUFFLE_SEED + ":"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("k"), F.substring(key, 1, 2).alias("b"))
    sizes = {r["b"]: r["n"] for r in keyed.groupBy("b").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for b in sorted(sizes):
        offsets[b] = acc
        acc += sizes[b]
    off_map = F.create_map(*[x for b, o in sorted(offsets.items()) for x in (F.lit(b), F.lit(o))])
    w = Window.partitionBy("b").orderBy("k", "doc_id")
    pos = (off_map[F.col("b")] + F.row_number().over(w)).cast("bigint")
    return (
        keyed.select("doc_id", pos.alias("pos"))
        .groupBy(((F.col("pos") - 1) % SHUFFLE_SHARDS).alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum(F.col("pos") * F.col("doc_id")).alias("perm_checksum"),
        )
        .orderBy("shard")
    )
