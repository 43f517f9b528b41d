"""Vector column expressions for embedding search (SURVEY.md §2.9 Q1).

All pure built-ins (`zip_with`/`aggregate`), evaluated JVM-side — the
brute-force scored scan is embarrassingly parallel and shuffle-free; the
only shuffle in a top-k query is the final TakeOrderedAndProject.

Arrays are cast to double before arithmetic so Spark and the DuckDB oracle
accumulate in the same precision (inputs are float32, exactly representable
in double → identical left-to-right sums).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def round_half_away(sims: "np.ndarray", digits: int = 4) -> "np.ndarray":
    """Round exactly like the DuckDB oracle's round(): half away from
    zero evaluated on the BINARY double (std::round(x·10⁴)/10⁴) — NOT
    numpy's banker's rounding (np.round(0.00005, 4) == 0.0, DuckDB gives
    0.0001), and deliberately not Spark's F.round either: F.round goes
    through BigDecimal's shortest-decimal re-derivation, so a double just
    BELOW a .5 decimal boundary (0.00015 stores as …49999…e-4) rounds to
    0.0002 in Spark but 0.0001 in DuckDB and here. The Arrow scorers'
    scores are hash-compared against DuckDB, so DuckDB semantics are the
    contract; a boundary tie would otherwise change both the emitted
    score and the prune/tie order the scorers claim is order-compatible
    (tested against live DuckDB in test_vectors.py). NaN passes through
    via floor alone: NaN >= 0.5 evaluates False (contributes 0), but
    floor(NaN) is NaN, so the sum — and the final copysign — stay NaN.

    The comparison is done on r = |x|·scale directly (floor(r) + (frac >=
    0.5)) rather than floor(r + 0.5): the FP add would round a value one
    ulp BELOW the boundary (r = 0.49999999999999994 → r + 0.5 == 1.0 →
    floor 1) up, where std::round keeps it down — the 1-ulp edge case the
    earlier floor(r+0.5) form got wrong."""
    scale = 10.0 ** digits
    with np.errstate(invalid="ignore"):
        r = np.abs(sims) * scale
        fl = np.floor(r)
        return np.copysign((fl + (r - fl >= 0.5)) / scale, sims)


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Null on zero-norm inputs instead of 0/0 = NaN: Spark sorts NaN above
    every double and treats `NaN >= t` as true, while the DuckDB oracle's
    IEEE comparison is false — NULL compares the same (false) in both."""
    denom = norm(a) * norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


def query_vector_lit(vec: list[float]) -> Column:
    """A literal query vector as an array<double> column."""
    return F.array(*[F.lit(float(x)) for x in vec])


# --------------------------------------------------------------------------
# SQL-string forms (r12).
#
# Building the cosine tree through the Python Column DSL costs dozens of
# py4j round-trips per call site — profiled ~0.19 s to CONSTRUCT the
# scored-scan leg at sf0.1, plus a slower analysis pass, vs ~0.09 s for
# the identical expression parsed JVM-side from one string (and the
# e2e wall halved, 0.49 → 0.25 s; results bit-identical). The hot query
# paths use the string forms below; the Column forms above remain the
# public composable API.
# --------------------------------------------------------------------------


def as_double_sql(col: str) -> str:
    """SQL fragment: `col` (array<float/int>) cast to array<double>."""
    return f"transform({col}, x -> cast(x as double))"


def array_lit_sql(vec: list[float]) -> str:
    """SQL fragment: an array<double> LITERAL for a query vector. repr()
    round-trips every double exactly (shortest-repr guarantee, verified
    against Spark's parser incl. scientific notation) and the D suffix
    pins the type — bare decimals in SQL strings parse as DECIMAL.

    Why a literal and not a broadcast 1-row DF: the query vector is a
    query PARAMETER (the reference's arrives as a literal argument), and
    the crossJoin(broadcast(qdf)) form pays a BroadcastExchange — a
    separate driver job (~60-90 ms at sf0.1) — per call. As a literal
    the scored scan is a pure projection. Catalyst does NOT fold a
    higher-order function over it (a lambda is never foldable), so
    anything derived from the vector alone, such as its norm, must be
    computed driver-side: see cosine_lit_sql."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in vec) + ")"


def cosine_lit_sql(col: str, vec: list[float]) -> str:
    """SQL fragment: cosine of the array column `col` (float, double or
    int elements) against the literal query vector `vec`, each per-row
    value computed once: one dot fold and one norm fold, with the double
    casts inside their lambdas, and one denominator. Spark runs these
    higher-order functions interpreted, without codegen, so every
    repeated fold or cast is real per-row work.

    |vec| is folded driver-side into a double literal, with the JVM's
    own arithmetic: the same left-to-right sum of x*x from 0.0, then a
    correctly rounded sqrt, and the product taken as |row| * |vec|, so
    scores are bit-identical to `cosine()` over double-cast arrays
    computed per row (tests/test_vectors.py). The zero-norm contract of
    `cosine()` holds: `nullif` turns a zero denominator (zero row or
    zero query) into NULL, as do a NULL embedding and one whose length
    differs from the query's (zip_with pads with NULL)."""
    # An explicit loop, not sum(): from Python 3.12 on, sum() of floats
    # is compensated and would not match the JVM's plain sequential fold.
    qsq = 0.0
    for x in map(float, vec):
        qsq += x * x
    return (
        f"aggregate(zip_with({col}, {array_lit_sql(vec)}, (x, y) -> cast(x as double) * y), "
        "0.0D, (acc, p) -> acc + p) / nullif(sqrt(aggregate("
        f"{col}, 0.0D, (acc, x) -> acc + cast(x as double) * cast(x as double))) * "
        f"{math.sqrt(qsq)!r}D, 0.0D)"
    )


def cosine_scores_pandas(query_vec: list[float]):
    """Arrow-batched cosine scorer against one fixed query vector: returns
    a pandas_udf usable as `score(col)` in any projection. One Arrow batch
    → one BLAS matvec per partition. NaN (zero-norm) is converted back to
    NULL by callers via `F.when(~F.isnan(c), c)` to keep the `cosine()`
    zero-norm contract (NULL never outranks a real score; Spark sorts NaN
    ABOVE all doubles in DESC order, which would corrupt top-k).

    Measured vs the `cosine()` HOF fold at sf30 (600k × dim-64, min of 4,
    toPandas): HOF 1.05s, Arrow 0.70s (DuckDB oracle 0.31s) — the
    interpreted per-element fold costs ~2× even at dim 64, and widens
    with dimension; Arrow is the default scorer for whole-corpus scans."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf(DoubleType())
    def score(vecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        denom = np.linalg.norm(m, axis=1) * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom != 0.0, (m @ q) / denom, np.nan)
        return pd.Series(sims)

    return score


@pandas_udf(DoubleType())
def pair_cosine_rounded_pandas(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Vectorized cosine over row-aligned vector PAIRS (similarity
    self-joins), rounded with round_half_away(·, 4). One Arrow batch →
    two stacked float64 matrices → a single fused numpy pass per
    partition; the interpreted zip_with/aggregate fold costs ~64
    expression evaluations per pair, which is the bottleneck when the
    pair count is quadratic in LSH bucket occupancy.

    The rounding happens INSIDE the UDF because the output is
    hash-compared against a DuckDB round() oracle: Spark's F.round
    (BigDecimal shortest-decimal) diverges from DuckDB at .5 decimal
    boundaries, round_half_away does not. Zero-norm pairs score NaN —
    Arrow ships NaN as NaN (not null), so callers filtering on a
    threshold must drop NaN explicitly (Spark's NaN >= t is true; see
    cosine())."""
    a = np.vstack([np.asarray(v, dtype=np.float64) for v in va])
    b = np.vstack([np.asarray(v, dtype=np.float64) for v in vb])
    denom = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.where(denom != 0.0, (a * b).sum(axis=1) / denom, np.nan)
    return pd.Series(round_half_away(sims))


def cosine_topk_arrow(df, query_vec: list[float], k: int):
    """Zero-copy Arrow top-k scan for one query vector: mapInArrow +
    per-batch BLAS + per-partition candidate pruning.

    Why a third scorer tier: `cosine_scores_pandas` pays an
    Arrow→pandas→object-ndarray conversion (`np.vstack` over one small
    ndarray PER ROW — a Python loop) before the matvec. Here the
    embedding column arrives as a pyarrow ListArray whose contiguous
    values buffer reshapes to the (n×d) matrix with NO per-row work, the
    batch is scored with one matvec, and only the batch's top-k
    candidate rows (rounded, vec_id tie-break — the same total order the
    final TakeOrdered uses, so pruning is exactly order-compatible)
    leave Python. Rows expected out: ≤ k per Arrow batch.

    Contract matches ann_cosine_topk: float64 math, round(4), zero-norm
    → dropped (never outranks), ties break on vec_id ascending."""
    import pyarrow as pa

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    d = len(query_vec)
    out_schema = pa.schema(
        [("vec_id", pa.int64()), ("label", pa.int32()), ("score", pa.float64())]
    )

    def score_batches(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            col = batch.column("embedding")
            flat = col.flatten()
            if col.null_count or len(flat) != n * d:
                # Ragged/null safety net: per-row copy into a NaN-filled
                # matrix — null or wrong-length embeddings score NaN and
                # are dropped below, instead of crashing np.vstack /
                # np.asarray(None) with an obscure TypeError.
                m = np.full((n, d), np.nan, dtype=np.float64)
                for i, v in enumerate(col.to_pylist()):
                    if v is not None and len(v) == d:
                        m[i] = v
            else:
                m = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, d)
            den = np.linalg.norm(m, axis=1) * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(den != 0.0, (m @ q) / den, np.nan)
            sims = round_half_away(sims)
            vids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            labels = batch.column("label").to_numpy(zero_copy_only=False)
            idx = np.nonzero(~np.isnan(sims))[0]
            if not len(idx):
                continue
            top = idx[np.lexsort((vids[idx], -sims[idx]))][:k]
            yield pa.record_batch(
                [
                    pa.array(vids[top], pa.int64()),
                    pa.array(labels[top], pa.int32()),
                    pa.array(sims[top], pa.float64()),
                ],
                schema=out_schema,
            )

    from pyspark.sql.types import (
        DoubleType as _D,
        IntegerType as _I,
        LongType as _L,
        StructField as _SF,
        StructType as _ST,
    )

    # label stays int32 — the scorer must not change the table's schema
    spark_schema = _ST([_SF("vec_id", _L()), _SF("label", _I()), _SF("score", _D())])
    cand = df.select("vec_id", "label", "embedding").mapInArrow(
        score_batches, spark_schema
    )
    return cand.orderBy(F.desc("score"), "vec_id").limit(k)
