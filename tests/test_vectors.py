"""Vector expressions vs numpy (Q1 math)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_pdf_pipepline_spark.functions.vectors import (
    array_lit_sql,
    as_double,
    cosine,
    cosine_lit_sql,
    dot,
    norm,
    query_vector_lit,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [
        ("a", [1.0, 2.0, 3.0]),
        ("b", [0.0, 0.0, 1.0]),
        ("c", [-1.0, 0.5, 2.5]),
    ]
    return spark.createDataFrame(rows, ["id", "v"])


def test_dot_norm_cosine_match_numpy(spark, vec_df):
    q = [0.5, -1.0, 2.0]
    out = vec_df.select(
        "id",
        dot(as_double("v"), query_vector_lit(q)).alias("dot"),
        norm(as_double("v")).alias("norm"),
        cosine(as_double("v"), query_vector_lit(q)).alias("cos"),
    ).collect()
    qn = np.array(q)
    for r in out:
        v = np.array(dict([("a", [1.0, 2.0, 3.0]), ("b", [0.0, 0.0, 1.0]), ("c", [-1.0, 0.5, 2.5])])[r.id])
        assert r.dot == pytest.approx(float(v @ qn))
        assert r.norm == pytest.approx(float(np.linalg.norm(v)))
        assert r.cos == pytest.approx(float(v @ qn / (np.linalg.norm(v) * np.linalg.norm(qn))))


def test_cosine_self_is_one(spark, vec_df):
    out = vec_df.select(cosine(as_double("v"), as_double("v")).alias("c")).collect()
    for r in out:
        assert r.c == pytest.approx(1.0)


def test_pair_cosine_rounded_pandas_matches_hof(spark):
    from etl_pdf_pipepline_spark.functions.vectors import pair_cosine_rounded_pandas
    from etl_pdf_pipepline_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    d = emb.filter(F.col("vec_id") < 20).select("vec_id", as_double("embedding").alias("v"))
    a = d.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = d.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("ia") < F.col("ib"))
    out = pairs.select(
        "ia", "ib",
        F.round(cosine(F.col("va"), F.col("vb")), 4).alias("hof"),
        pair_cosine_rounded_pandas(F.col("va"), F.col("vb")).alias("vec"),
    ).collect()
    assert len(out) == 190  # C(20, 2)
    for r in out:
        assert r.hof == pytest.approx(r.vec, abs=1e-4), (r.ia, r.ib)


def test_cosine_topk_arrow_matches_pandas_path(spark):
    """The zero-copy mapInArrow scorer must select the same top-k (ids AND
    rounded scores) as the pandas-UDF scorer over a corpus with a zero
    vector (dropped, never ranked) and exact ties (vec_id ascending)."""
    import numpy as np

    from etl_pdf_pipepline_spark.functions.vectors import (
        cosine_scores_pandas,
        cosine_topk_arrow,
    )

    rng = np.random.default_rng(7)
    d = 8
    rows = []
    for i in range(200):
        v = rng.normal(size=d).astype("float32")
        rows.append((i, int(i % 3), [float(x) for x in v]))
    rows.append((200, 0, [0.0] * d))          # zero-norm: must be dropped
    rows.append((201, 1, rows[5][2]))          # exact duplicate of vec 5: tie
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    ).withColumn("label", F.col("label").cast("int"))
    q = [float(x) for x in rng.normal(size=d)]

    arrow = cosine_topk_arrow(df, q, k=10).collect()

    score = cosine_scores_pandas(q)
    ref = (
        df.select("vec_id", "label", score(F.col("embedding")).alias("raw"))
        .select(
            "vec_id",
            "label",
            F.round(F.when(~F.isnan(F.col("raw")), F.col("raw")), 4).alias("score"),
        )
        .filter(F.col("score").isNotNull())
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
        .collect()
    )
    assert [(r.vec_id, r.label, r.score) for r in arrow] == [
        (r.vec_id, r.label, r.score) for r in ref
    ]
    assert all(r.vec_id != 200 for r in arrow)


def test_round_half_away_matches_duckdb_round(spark):
    """The Arrow scorers' rounding contract is the ORACLE's (DuckDB),
    probed against live DuckDB at .5 boundaries (ADVICE r4). Note DuckDB
    and Spark's F.round themselves disagree here (binary-double half-away
    vs BigDecimal shortest-decimal: round(0.00015, 4) is 0.0001 in DuckDB
    but 0.0002 in Spark) — the scorers are hash-compared against DuckDB,
    so DuckDB semantics win."""
    import duckdb
    import numpy as np

    from etl_pdf_pipepline_spark.functions.vectors import round_half_away

    vals = [0.00005, 0.00015, -0.00005, -0.00015, 0.12345, -0.99995, 0.5, 1.0]
    got = round_half_away(np.array(vals))
    con = duckdb.connect()
    duck = [
        con.execute(f"SELECT round(CAST({v!r} AS DOUBLE), 4)").fetchone()[0]
        for v in vals
    ]
    con.close()
    assert list(got) == duck
    # numpy's default would disagree at the even boundary — the defect probe
    assert np.round(0.00005, 4) == 0.0 and round_half_away(np.array([0.00005]))[0] == 0.0001
    # NaN passes through untouched
    assert np.isnan(round_half_away(np.array([np.nan]))[0])


def test_cosine_topk_arrow_null_and_ragged_rows_skipped(spark):
    """A null or wrong-length embedding must be skipped (scored NaN →
    dropped), not crash np.vstack/np.asarray (ADVICE r4: the old ragged
    fallback raised an obscure TypeError on null rows)."""
    import numpy as np

    from etl_pdf_pipepline_spark.functions.vectors import cosine_topk_arrow

    rng = np.random.default_rng(11)
    d = 6
    rows = [(i, 0, [float(x) for x in rng.normal(size=d)]) for i in range(20)]
    rows.append((20, 0, None))                       # null embedding
    rows.append((21, 0, [1.0, 2.0]))                 # ragged (wrong length)
    df = (
        spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
        .withColumn("label", F.col("label").cast("int"))
    )
    q = [float(x) for x in rng.normal(size=d)]
    out = cosine_topk_arrow(df, q, k=5).collect()
    assert len(out) == 5
    assert all(r.vec_id not in (20, 21) for r in out)



def _two_fragment_cosine(col: str, q: list[float]) -> str:
    """The generic cosine form cosine_lit_sql replaced: the row cast by a
    transform and both norms folded per row, inside a CASE."""
    a = f"transform({col}, x -> cast(x as double))"
    b = array_lit_sql(q)

    def norm_sq(v: str) -> str:
        return f"aggregate({v}, cast(0.0 as double), (acc, x) -> acc + x * x)"

    denom = f"sqrt({norm_sq(a)}) * sqrt({norm_sq(b)})"
    dot_ab = f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    return f"CASE WHEN {denom} != cast(0.0 as double) THEN {dot_ab} / ({denom}) END"


def test_cosine_lit_sql_bit_identical_to_two_fragment_form(spark):
    """Unrounded scores equal the two-fragment form, and the Column
    cosine(), bit for bit on random float32 rows: the driver-folded |q|
    uses the JVM's own arithmetic."""
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(64).astype(np.float32)]) for i in range(300)]
    df = spark.createDataFrame(rows, "id int, v array<float>")
    for q in (rows[0][1], [float(x) for x in rng.uniform(-3, 3, 64)], rows[5][1][:63] + [1e-30]):
        out = df.select(
            "id",
            F.expr(cosine_lit_sql("v", q)).alias("new"),
            F.expr(_two_fragment_cosine("v", q)).alias("old"),
            cosine(as_double("v"), query_vector_lit(q)).alias("col"),
        ).collect()
        assert all(r.new is not None for r in out)
        assert [r.new for r in out] == [r.old for r in out] == [r.col for r in out]


def test_cosine_lit_sql_null_contract(spark):
    """NULL, never NaN or an error, for a zero-norm row, a NULL embedding,
    a zero query vector and an embedding shorter or longer than the
    query — as the two-fragment form gives."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [0.0, 0.0, 0.0]), (2, None), (3, [1.0, 2.0]), (4, [1.0, 2.0, 3.0, 4.0])],
        "id int, v array<float>",
    )

    def scores(q):
        out = df.select(
            "id", F.expr(cosine_lit_sql("v", q)).alias("new"), F.expr(_two_fragment_cosine("v", q)).alias("old")
        ).orderBy("id").collect()
        assert [r.new for r in out] == [r.old for r in out]
        return [r.new for r in out]

    got = scores([0.5, -1.0, 2.0])
    assert got[0] == pytest.approx(4.5 / (np.sqrt(14.0) * np.sqrt(5.25)))
    assert got[1:] == [None, None, None, None]
    assert scores([0.0, 0.0, 0.0]) == [None] * 5


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _finite = st.floats(allow_nan=False, allow_infinity=False, width=64)

    @given(st.lists(_finite, min_size=1, max_size=8))
    @settings(max_examples=40, deadline=None)
    def test_array_lit_sql_roundtrips_every_double(spark, vec):
        """array_lit_sql is correct only if repr→parse is the IDENTITY on
        doubles — the literal-plan rewrite (r13) rests on it. Property:
        any finite double list survives the Spark SQL parser bit-exactly
        (subnormals, extreme exponents, negative zero included)."""
        from etl_pdf_pipepline_spark.functions.vectors import array_lit_sql

        got = spark.sql(f"select {array_lit_sql(vec)} as a").first()["a"]
        import math

        assert len(got) == len(vec)
        for g, v in zip(got, vec):
            assert math.copysign(1.0, g) == math.copysign(1.0, v) and g == v

except ImportError:  # pragma: no cover - hypothesis is in the container
    pass
