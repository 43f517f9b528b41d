"""Dedup operator invariants (beyond-reference LLM-data ops)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.operators.dedup import (
    N_MINHASH,
    SHINGLE,
    minhash_signature,
    shingle_rows,
)

SF_SMALL = "/root/testdata/sf0.001"


def _shingles_by_id(df):
    got = {}
    for r in shingle_rows(df, "id", "t").collect():
        got.setdefault(r["__id"], []).append(r.sh)
    return {k: sorted(v) for k, v in got.items()}


def test_word_shingles_width3(spark):
    df = spark.createDataFrame([("d1", "a b c d")], ["id", "t"])
    assert _shingles_by_id(df) == {"d1": ["a b c", "b c d"]}


def test_word_shingles_short_text_whole_string(spark):
    df = spark.createDataFrame([("d1", "only two")], ["id", "t"])
    assert _shingles_by_id(df) == {"d1": ["only two"]}


def test_shingle_rows_matches_array_form(spark):
    # The array form: sliding SHINGLE-token windows over the whitespace
    # tokens, or the whole string when the text has fewer tokens.
    texts = {"d1": "a b c d e", "d2": "x y", "d3": "one two three"}
    df = spark.createDataFrame(list(texts.items()), ["id", "t"])
    arr = {}
    for k, t in texts.items():
        toks = t.split()
        arr[k] = sorted(
            " ".join(toks[i:i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1)
        ) or [t]
    assert _shingles_by_id(df) == arr


def test_minhash_identical_texts_identical_signatures(spark):
    df = spark.createDataFrame(
        [("d1", "the quick brown fox jumps"), ("d2", "the quick brown fox jumps"),
         ("d3", "entirely different text body here")],
        ["id", "t"],
    )
    sig = {r.id: tuple(r[f"mh{i}"] for i in range(N_MINHASH)) for r in
           minhash_signature(df, "id", "t", N_MINHASH).collect()}
    assert sig["d1"] == sig["d2"]
    assert sig["d1"] != sig["d3"]


def test_minhash_similar_texts_share_components(spark):
    a = "w0 " + " ".join(f"w{i}" for i in range(1, 30))
    b = "x0 " + " ".join(f"w{i}" for i in range(1, 30))  # 1-token difference
    df = spark.createDataFrame([("a", a), ("b", b)], ["id", "t"])
    sig = {r.id: [r[f"mh{i}"] for i in range(N_MINHASH)] for r in
           minhash_signature(df, "id", "t", N_MINHASH).collect()}
    agree = sum(1 for x, y in zip(sig["a"], sig["b"]) if x == y)
    # Jaccard ≈ 27/31 ⇒ expect most components to agree
    assert agree >= N_MINHASH // 2


def test_jaccard_df_cap_drops_universal_stopword(spark, tmp_path):
    # Every doc contains "the"; only (1, 2) share real vocabulary. Over 20
    # docs the cap is floor(0.15 * 20) = 3, so "the" (DF=20) is dropped
    # and docs that share ONLY the stopword must not pair at all.
    from etl_pdf_pipepline_spark.operators.dedup import dedup_ngram_jaccard

    rows = [(1, "the apple banana cherry"), (2, "the apple banana damson")]
    rows += [(i, f"the xylophone{i} quartz{i}") for i in range(3, 21)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    # capped vocab: {apple, banana, cherry} vs {apple, banana, damson}
    assert pairs == {(1, 2): 0.5}


def test_connected_components_chain_and_islands(spark):
    from etl_pdf_pipepline_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5 (diameter 4 → needs >1 round), island pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r.id: r.label for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_dedup_connected_components_groups(spark):
    from etl_pdf_pipepline_spark.operators.dedup import (
        dedup_connected_components,
        dedup_lsh_candidates,
    )

    rows = dedup_connected_components(spark, SF_SMALL).collect()
    pairs = dedup_lsh_candidates(spark, SF_SMALL).collect()
    in_pairs = {p.doc_a for p in pairs} | {p.doc_b for p in pairs}
    # every paired doc gets a group; component id is the group minimum
    assert {r.doc_id for r in rows} == in_pairs
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m.doc_id for m in members)
        assert all(m.component_size == len(members) for m in members)
    # closure property: both endpoints of every candidate pair co-group
    comp_of = {r.doc_id: r.component for r in rows}
    assert all(comp_of[p.doc_a] == comp_of[p.doc_b] for p in pairs)


def test_connected_components_matches_union_find(spark):
    """Label propagation vs a classic union-find reference on a seeded
    random graph (stars, chains, cliques, singleton pairs all emerge at
    this density)."""
    import random

    from etl_pdf_pipepline_spark.operators.dedup import connected_components

    rng = random.Random(42)
    nodes = list(range(60))
    edges = [tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id reachable, matching the operator
    expected = {}
    for n in {x for e in edges for x in e}:
        root = find(n)
        expected.setdefault(root, []).append(n)
    want = {n: min(group) for root, group in expected.items() for n in group}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.id: r.label for r in connected_components(df).collect()}
    assert got == want


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 200-node chain has diameter 199: plain min-label propagation
    needs 199 rounds and r3's max_iter=20 silently returned stale labels
    (ADVICE r3). Pointer jumping doubles propagation distance per round,
    so max_iter=10 suffices (2^10 > 199) — and exhaustion now raises
    instead of returning wrong labels."""
    from etl_pdf_pipepline_spark.operators.dedup import connected_components

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {r.id: r.label for r in connected_components(edges, max_iter=10).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_raises_on_exhaustion(spark):
    import pytest

    from etl_pdf_pipepline_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_a long, doc_b long"
    )
    # diameter 29 needs ceil(log2(29)) ≈ 5 jumping rounds + 1 stable probe
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_lsh_band_keys_one_row_per_doc_per_band(spark):
    from etl_pdf_pipepline_spark.operators.dedup import _LSH_BANDS, lsh_band_keys

    df = spark.createDataFrame(
        [("d1", "a b c d e f"), ("d2", "g h i j k l")], ["id", "t"]
    )
    rows = lsh_band_keys(df, "id", "t").collect()
    assert len(rows) == 2 * len(_LSH_BANDS)
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.id, set()).add(r.band_id)
    assert per_doc == {"d1": set(range(len(_LSH_BANDS))),
                       "d2": set(range(len(_LSH_BANDS)))}


def test_near_dup_incremental_covers_delta_with_explicit_negatives(spark):
    """Every delta doc (doc_id % 20 == 0) appears exactly once; docs with
    no banded corpus match report 0 candidates and a null min_dup_id —
    the admit decision needs explicit negatives, not absent rows."""
    from etl_pdf_pipepline_spark.operators.dedup import near_dup_incremental
    from etl_pdf_pipepline_spark.sources.catalog import load_table

    rows = near_dup_incremental(spark, SF_SMALL).collect()
    docs = load_table(spark, SF_SMALL, "documents")
    expected = sorted(
        r.doc_id for r in docs.filter("doc_id % 20 = 0").select("doc_id").collect()
    )
    # r12: the admission report is an unbounded listing with no terminal
    # sort — compare as sets of delta ids (exactly-once is the contract).
    assert sorted(r.doc_id for r in rows) == expected
    for r in rows:
        assert r.n_dup_candidates >= 0
        if r.n_dup_candidates == 0:
            assert r.min_dup_id is None
        else:
            assert r.min_dup_id is not None and r.min_dup_id % 20 != 0


def test_shingle_novelty_bounds_and_duplicates(spark):
    from etl_pdf_pipepline_spark.operators.dedup import doc_shingle_novelty  # noqa: F401
    from etl_pdf_pipepline_spark.registry import all_queries

    rows = all_queries()["doc_shingle_novelty"](spark, SF_SMALL).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r.novelty <= 1.0 and r.n_shingles >= 1


def test_shingle_novelty_copies_score_zero(spark):
    """Two identical docs share every shingle (df=2 -> novelty 0);
    a vocabulary-disjoint doc scores 1."""
    from pyspark.sql import functions as F  # noqa: F401
    from etl_pdf_pipepline_spark.operators.dedup import shingle_rows
    from pyspark.sql.window import Window as W

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "zeta eta theta iota")],
        ["doc_id", "text"],
    )
    ds = shingle_rows(df, "doc_id", "text").distinct()
    got = {
        r["__id"]: r["nov"]
        for r in ds.withColumn("df", F.count("*").over(W.partitionBy("sh")))
        .groupBy("__id")
        .agg(F.avg(F.when(F.col("df") == 1, 1.0).otherwise(0.0)).alias("nov"))
        .collect()
    }
    assert got[1] == 0.0 and got[2] == 0.0 and got[3] == 1.0


def test_minhash_affine_family_properties(spark):
    """Hypothesis-style sweep: components are always in [0, 2^31-1),
    identical under whitespace renormalization, and deterministic."""
    import random

    from etl_pdf_pipepline_spark.operators.dedup import MH_P

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    texts = [" ".join(rng.choices(vocab, k=rng.randint(1, 40))) for _ in range(25)]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(100 + i, t.replace(" ", "   ").upper()) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["id", "t"])
    sig = {r.id: tuple(r[f"mh{i}"] for i in range(N_MINHASH))
           for r in minhash_signature(df, "id", "t").collect()}
    for i in range(len(texts)):
        assert sig[i] == sig[100 + i]  # case/whitespace-normalized identity
        assert all(0 <= v < MH_P for v in sig[i])


def test_banded_pairs_caps_pathological_bucket(spark):
    """The skew cap the module docstring promises: a forged bucket with
    B members above the cap emits the B-1 star edges around the bucket
    min (r10 — diameter 2; the r9 chain made diameter-B paths the sf30
    closure couldn't finish), not B(B-1)/2 all-pairs; under-cap buckets
    keep exact all-pairs; and the transitive closure (what CC/keepers
    consume) is unchanged."""
    from etl_pdf_pipepline_spark.operators.dedup import banded_pairs, connected_components

    rows = [(i, 0, "big") for i in range(10)] + [(i, 0, "small") for i in (100, 101, 102)]
    bands = spark.createDataFrame(rows, "doc_id long, band_id int, band_key string")

    pairs = banded_pairs(bands, cap=4).collect()
    big = sorted((r.doc_a, r.doc_b) for r in pairs if r.doc_b < 100)
    small = sorted((r.doc_a, r.doc_b) for r in pairs if r.doc_b >= 100)
    assert big == [(0, i) for i in range(1, 10)]  # star around min, not 45 pairs
    assert small == [(100, 101), (100, 102), (101, 102)]  # exact all-pairs
    # the consumer-visible cap flag (VERDICT r10 #4): star edges from the
    # over-cap bucket say so; exact all-pairs from under-cap buckets don't
    assert all(r.capped for r in pairs if r.doc_b < 100)
    assert not any(r.capped for r in pairs if r.doc_b >= 100)

    # closure invariance: capped and uncapped pairs give identical components
    capped = banded_pairs(bands, cap=4).select("doc_a", "doc_b").distinct()
    uncapped = banded_pairs(bands, cap=10**6).select("doc_a", "doc_b").distinct()
    cc = lambda e: sorted(map(tuple, connected_components(e).collect()))
    assert cc(capped) == cc(uncapped)


def test_banded_pairs_multi_band_counts_survive_cap(spark):
    """A pair sharing two small buckets still counts n_bands=2 through
    the capped generator (band_id rides along the union)."""
    from etl_pdf_pipepline_spark.operators.dedup import banded_pairs

    rows = [(1, 0, "x"), (2, 0, "x"), (1, 1, "y"), (2, 1, "y")]
    bands = spark.createDataFrame(rows, "doc_id long, band_id int, band_key string")
    out = (
        banded_pairs(bands, cap=4)
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("band_id").alias("n_bands"))
        .collect()
    )
    assert [(r.doc_a, r.doc_b, r.n_bands) for r in out] == [(1, 2, 2)]


def test_banded_pairs_property_closure_and_subset(spark):
    """Property (randomized bands): capped pairs are a SUBSET of
    uncapped all-pairs, per-bucket pair counts are bounded by
    min(C(B,2), B-1 for over-cap), and the transitive closure is
    invariant — for several random band tables, not just the forged
    one."""
    import random

    from etl_pdf_pipepline_spark.operators.dedup import banded_pairs, connected_components

    rng = random.Random(907)
    for trial in range(3):
        rows = []
        for band in range(2):
            n_buckets = rng.randint(2, 4)
            ids = list(range(60))
            rng.shuffle(ids)
            for i, doc in enumerate(ids[: rng.randint(10, 40)]):
                rows.append((doc, band, f"b{i % n_buckets}"))
        bands = spark.createDataFrame(rows, "doc_id long, band_id int, band_key string")
        cap = rng.choice([3, 5, 8])
        capped = {(r.doc_a, r.doc_b) for r in banded_pairs(bands, cap=cap).collect()}
        full = {(r.doc_a, r.doc_b) for r in banded_pairs(bands, cap=10**9).collect()}
        assert capped <= full, f"trial {trial}: capped emitted a non-pair"
        cc = lambda pairs: sorted(
            map(
                tuple,
                connected_components(
                    spark.createDataFrame(
                        sorted(pairs) or [(0, 0)], "doc_a long, doc_b long"
                    )
                ).collect(),
            )
        )
        assert cc(capped) == cc(full), f"trial {trial}: closure changed under cap"


def test_extend_components_crafted_topologies(spark):
    """extend_components over hand-built band tables covering every
    incremental case the organic gate corpus may not hit:

    - BRIDGE: one delta doc shares buckets with members of TWO existing
      components → both components and the delta doc relabel to the
      global min (the O(affected) merge);
    - base singleton first PAIRED by the delta (had no label row);
    - a delta-only bucket (component born entirely inside the delta);
    - untouched base component stays put; edge-less delta doc and
      never-paired base singleton stay absent (no dedup decision).

    The incremental result must equal a from-scratch closure over the
    unioned bands — the same equivalence the dedup_cc_incremental gate
    row proves on the organic corpus."""
    from etl_pdf_pipepline_spark.operators.dedup import (
        banded_pairs,
        connected_components,
        extend_components,
    )

    base_bands = spark.createDataFrame(
        [
            (1, 0, "A"), (2, 0, "A"),          # component {1,2} label 1
            (3, 0, "B"), (4, 0, "B"),          # component {3,4} label 3
            (7, 0, "C"), (8, 0, "C"),          # untouched component {7,8}
            (5, 0, "S"),                       # singleton, never paired
            (6, 0, "T"),                       # singleton, paired by delta
            (2, 1, "X"),                       # bridge hooks
            (3, 2, "Y"),
        ],
        "doc_id long, band_id int, band_key string",
    )
    delta_bands = spark.createDataFrame(
        [
            (100, 1, "X"), (100, 2, "Y"),      # bridges {1,2} and {3,4}
            (101, 0, "T"),                     # pairs base singleton 6
            (102, 3, "W"), (103, 3, "W"),      # delta-only component
            (104, 4, "Q"),                     # edge-less: stays absent
        ],
        "doc_id long, band_id int, band_key string",
    )
    base_labels = connected_components(
        banded_pairs(base_bands).select("doc_a", "doc_b").distinct()
    )
    got = {
        (r.id, r.label)
        for r in extend_components(spark, base_labels, base_bands, delta_bands).collect()
    }
    expected = {
        (1, 1), (2, 1), (3, 1), (4, 1), (100, 1),   # bridged to global min
        (7, 7), (8, 7),                             # untouched
        (6, 6), (101, 6),                           # singleton first paired
        (102, 102), (103, 102),                     # delta-only bucket
    }
    assert got == expected
    # and it equals the from-scratch closure over the unioned bands
    scratch = {
        (r.id, r.label)
        for r in connected_components(
            banded_pairs(base_bands.unionByName(delta_bands))
            .select("doc_a", "doc_b")
            .distinct()
        ).collect()
    }
    assert got == scratch


def test_connected_components_long_chain_stats_reset(spark):
    """A chain long enough to need >8 propagation rounds exercises the
    parquet-backed statistics reset (operators/dedup.py STATS RESET —
    without it, join-estimate bit lengths double per round and planning
    itself dies past ~25 rounds with a BigInteger overflow; found at
    sf30 where the chain-capped mega-bucket needs >20 rounds). The cap
    makes diameter-B chains a DESIGNED topology, so long-chain closure
    is production behavior, not an adversarial corner."""
    from etl_pdf_pipepline_spark.operators.dedup import connected_components

    n = 12_000  # ~14 pointer-jumping rounds -> at least one reset
    edges = spark.range(n).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    rows = connected_components(edges).collect()
    assert len(rows) == n + 1
    assert all(r.label == 0 for r in rows)


# --- Exact-substring duplicate spans (doc_duplicate_spans / doc_span_scrub) ---


def test_duplicate_spans_exact_boundaries(spark):
    """A 10-token run shared by two docs is recovered as EXACTLY that
    run in each doc (1-based inclusive token positions), regardless of
    where it sits — the rolling K-gram + island merge must neither leak
    into the unique prefix/suffix nor clip the run."""
    from etl_pdf_pipepline_spark.operators.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, "a1 a2 a3 " + shared + " a4 a5"),   # shared at tokens 4..13
        (2, "b1 " + shared + " b2 b3 b4"),       # shared at tokens 2..11
        (3, " ".join(f"c{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.doc_id, r.s, r.e) for r in duplicate_spans(df).collect()}
    assert got == {(1, 4, 13), (2, 2, 11)}


def test_duplicate_spans_within_doc_repeat_not_counted(spark):
    """Repetition confined to ONE document is doc_repetition_filter's
    contract; the cross-doc span detector must ignore it (the dup-hash
    filter counts DISTINCT docs)."""
    from etl_pdf_pipepline_spark.operators.dedup import duplicate_spans

    rep = " ".join(f"r{i}" for i in range(8))
    rows = [
        (1, rep + " mid1 mid2 " + rep),  # twice in the same doc only
        (2, " ".join(f"u{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert duplicate_spans(df).count() == 0


def test_duplicate_spans_gap_keeps_two_islands(spark):
    """Two shared runs separated by a unique token must stay two spans:
    covered ranges [1..8] and [10..17] do not touch, so the island
    break (pos gap > K) fires."""
    from etl_pdf_pipepline_spark.operators.dedup import duplicate_spans

    x = " ".join(f"x{i}" for i in range(8))
    y = " ".join(f"y{i}" for i in range(8))
    rows = [
        (1, x + " ua " + y),
        (2, x + " ub " + y),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted((r.doc_id, r.s, r.e) for r in duplicate_spans(df).collect())
    assert got == [(1, 1, 8), (1, 10, 17), (2, 1, 8), (2, 10, 17)]


def test_span_scrub_removes_exactly_the_shared_run(spark):
    """Scrub of the boundary corpus keeps the unique tokens verbatim:
    kept text for doc 1 is 'a1 a2 a3 a4 a5' and its md5 matches — the
    byte-verified-removal contract."""
    import hashlib

    from etl_pdf_pipepline_spark.operators.dedup import SPAN_K, duplicate_spans
    from pyspark.sql import functions as F  # noqa: F811

    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, "a1 a2 a3 " + shared + " a4 a5"),
        (2, "b1 " + shared + " b2 b3 b4"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = duplicate_spans(df)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("spans")
    )
    from etl_pdf_pipepline_spark.functions.text import tokens

    base = df.select("doc_id", tokens("text").alias("t")).join(per_doc, "doc_id")
    kept = F.filter(
        F.col("t"),
        lambda tok, i: ~F.exists(
            F.col("spans"), lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"])
        ),
    )
    got = {
        r.doc_id: r.md5
        for r in base.select(
            "doc_id", F.md5(F.concat_ws(" ", kept)).alias("md5")
        ).collect()
    }
    assert got[1] == hashlib.md5(b"a1 a2 a3 a4 a5").hexdigest()
    assert got[2] == hashlib.md5(b"b1 b2 b3 b4").hexdigest()
    assert SPAN_K == 8  # boundary corpora above are sized to the K contract


def _brute_spans(corpus: dict[int, str], k: int) -> set[tuple[int, int, int]]:
    """Single-machine reference for duplicate_spans: gram→docs map, dup
    grams (≥2 distinct docs), per-doc island merge with gap > k."""
    toks = {d: [t for t in txt.lower().split() if t] for d, txt in corpus.items()}
    gram_docs: dict[tuple, set[int]] = {}
    for d, ts in toks.items():
        for i in range(len(ts) - k + 1):
            gram_docs.setdefault(tuple(ts[i : i + k]), set()).add(d)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    out = set()
    for d, ts in toks.items():
        hits = [i + 1 for i in range(len(ts) - k + 1) if tuple(ts[i : i + k]) in dup]
        if not hits:
            continue
        start = prev = hits[0]
        for p in hits[1:]:
            if p - prev > k:
                out.add((d, start, prev + k - 1))
                start = p
            prev = p
        out.add((d, start, prev + k - 1))
    return out


def test_duplicate_spans_matches_brute_force_reference(spark):
    """Randomized corpora (tiny vocab → heavy accidental overlap, the
    adversarial case for boundary math) must agree exactly with the
    single-machine reference: same docs, same span boundaries."""
    import random

    from etl_pdf_pipepline_spark.operators.dedup import SPAN_K, duplicate_spans

    rng = random.Random(12021)
    vocab = [f"w{i}" for i in range(6)]  # 6 words → many shared 8-gram runs
    for trial in range(4):
        corpus = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
            for d in range(1, 7)
        }
        df = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
        got = {(r.doc_id, r.s, r.e) for r in duplicate_spans(df).collect()}
        assert got == _brute_spans(corpus, SPAN_K), f"trial {trial}: {corpus}"
