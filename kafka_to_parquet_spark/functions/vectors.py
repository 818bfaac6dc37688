"""Vector (embedding) expression helpers + the array-function family
query. Shared by the similarity, dedup, clustering, linear-algebra,
kNN, coreset and quantization queries.

Design: dot product, norm and cosine over ``array<float>`` columns are
built from higher-order functions (zip_with + aggregate) — pure JVM
expressions, no UDF, so they vectorize inside whole-stage codegen and
the DuckDB oracle can mirror them term-for-term. Floats are upcast to
double *before* any arithmetic so both engines fold the identical
double sequence (left-to-right) — bit-stable across engines.

Integer primitives, the one spelling of each exact integer decision
(Spark SQL ``*_expr``, DuckDB ``duck_*``; DuckDB lambdas are prefixed
so they nest inside an oracle's own ``x`` / ``i`` lambdas):
``micro_expr`` fences each element to micro-units
(``rounding.int_units(x, 6)``); ``int_sqdist_expr`` and
``int_dot_expr`` fold two BIGINT arrays from 0 (0 on empty arrays in
both engines); ``amax_expr`` and ``quantize_expr`` are the symmetric
int-b quantizer (scale max|x| / qm as one double divide, half-up
elements, zeros when max|x| = 0); ``unit_mean`` is the half-up integer
mean, one text for both engines. BIGINT bound: at 64 dims and |x| <= 4
an element is <= 4e6, a squared distance <= 64·(8e6)² ≈ 4.1e15 and a
dot <= 64·(4e6)² ≈ 1e15, far below 2^63 ≈ 9.2e18.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.functions.rounding import int_units
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load


def dot_expr(a: str, b: str) -> str:
    """Spark SQL expression: dot product of two float-array columns in
    double precision (sequential left fold — matches the oracle)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
    )


def norm_expr(a: str) -> str:
    return f"sqrt({dot_expr(a, a)})"


def cosine_expr(a: str, b: str) -> str:
    return f"({dot_expr(a, b)} / ({norm_expr(a)} * {norm_expr(b)}))"


def np_seq_dot(prods):
    """Sequential-fold dot product for numpy: ``cumsum`` over the
    element products accumulates left-to-right in float64 — the exact
    IEEE op sequence of :func:`dot_expr`'s ``aggregate`` fold and
    :func:`duck_dot`'s ``list_reduce`` (asserted bit-identical in
    tests/test_round7.py::test_np_cumsum_matches_sequential_fold), so
    a pandas-UDF consumer stays hash-identical to the SQL twins.
    ``prods`` is an ndarray of float64 products; the last axis is
    reduced. (np.dot/einsum use SIMD pairwise summation — a different
    add order that can flip a threshold comparison near the boundary,
    which is why this helper exists.)"""
    return prods.cumsum(axis=-1)[..., -1]


def duck_dot(a: str, b: str) -> str:
    """DuckDB mirror of dot_expr — same fold order, same precision."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, CAST(len({a}) AS INTEGER) + 1),"
        f" i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE))),"
        " (s, v) -> s + v)"
    )


def duck_cosine(a: str, b: str) -> str:
    return f"({duck_dot(a, b)} / (sqrt({duck_dot(a, a)}) * sqrt({duck_dot(b, b)})))"


def duck_dot_literal(a: str, values: list[float]) -> str:
    """Unrolled mirror of ``duck_dot(a, "[literal list]")`` — the same
    IEEE op sequence as the sequential left fold (s = 0.0; s = s +
    a[i]*b[i] …), so results are bit-identical (asserted in
    tests/test_round4.py::test_duck_dot_literal_bit_equal). Exists
    because DuckDB re-constructs a literal list per lambda invocation
    inside ``list_transform``: one 64-element literal-dot fold measured
    362 ms per 500 rows vs 19 ms unrolled (19×) — with 32 signature
    bits that inflated the angular-LSH oracle to 12 s at sf0.01."""
    s = "CAST(0.0 AS DOUBLE)"
    for i, v in enumerate(values, 1):
        s = f"({s} + CAST(({a})[{i}] AS DOUBLE) * CAST({v!r} AS DOUBLE))"
    return s


def sqdist_expr(a: str, b: str) -> str:
    """Spark SQL expression: squared L2 distance of two float-array
    columns in double precision (sequential left fold — matches
    :func:`duck_sqdist` term-for-term)."""
    d = "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {d} * {d}),"
        " CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
    )


def duck_sqdist(a: str, b: str) -> str:
    """DuckDB mirror of sqdist_expr — same fold order, same precision."""
    d = f"(CAST(({a})[i] AS DOUBLE) - CAST(({b})[i] AS DOUBLE))"
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, CAST(len({a}) AS INTEGER) + 1),"
        f" i -> {d} * {d})),"
        " (s, v) -> s + v)"
    )


def micro_expr(a: str) -> str:
    """Spark SQL: the float array ``a`` as BIGINT micro-units."""
    return f"transform({a}, u_x -> {int_units('u_x')})"


def duck_micro(a: str) -> str:
    """DuckDB mirror of :func:`micro_expr` (its ``list_transform``)."""
    return "list_" + micro_expr(a)


_SQDIFF = "({x} - {y}) * ({x} - {y})"
_PROD = "{x} * {y}"


def _int_fold(a: str, b: str, term: str) -> str:
    """Spark SQL: the BIGINT left fold from 0 of ``term`` over the
    element pairs of two BIGINT arrays."""
    pair = term.format(x="v_a", y="v_b")
    return (
        f"aggregate(zip_with({a}, {b}, (v_a, v_b) -> {pair}),"
        " CAST(0 AS BIGINT), (v_s, v_t) -> v_s + v_t)"
    )


def _duck_int_fold(a: str, b: str, term: str) -> str:
    """DuckDB mirror of :func:`_int_fold`; the prepended 0 makes an
    empty array fold to 0 (``list_sum`` would give NULL)."""
    pair = term.format(x=f"({a})[v_i]", y=f"({b})[v_i]")
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range(1, CAST(len({a}) AS INTEGER) + 1), v_i -> {pair})),"
        " (v_s, v_t) -> v_s + v_t)"
    )


def int_sqdist_expr(a: str, b: str) -> str:
    return _int_fold(a, b, _SQDIFF)


def duck_int_sqdist(a: str, b: str) -> str:
    return _duck_int_fold(a, b, _SQDIFF)


def int_dot_expr(a: str, b: str) -> str:
    return _int_fold(a, b, _PROD)


def duck_int_dot(a: str, b: str) -> str:
    return _duck_int_fold(a, b, _PROD)


def amax_expr(a: str) -> str:
    """Spark SQL: max|x| of the float array ``a`` as a double."""
    return f"CAST(array_max(transform({a}, q_x -> abs(q_x))) AS DOUBLE)"


def duck_amax(a: str) -> str:
    return f"CAST(list_max(list_transform({a}, q_x -> abs(q_x))) AS DOUBLE)"


def _quantize(fn: str, a: str, amax: str, qm: int) -> str:
    q = f"CAST(floor(CAST(q_x AS DOUBLE) / ({amax} / {qm}.0) + 0.5) AS BIGINT)"
    return (
        f"CASE WHEN {amax} = 0 THEN {fn}({a}, q_x -> CAST(0 AS BIGINT))"
        f" ELSE {fn}({a}, q_x -> {q}) END"
    )


def quantize_expr(a: str, amax: str, qm: int) -> str:
    """Spark SQL: ``a`` quantized to int-b, qm = 2^(b-1) - 1, with the
    per-vector scale ``amax`` / qm."""
    return _quantize("transform", a, amax, qm)


def duck_quantize(a: str, amax: str, qm: int) -> str:
    return _quantize("list_transform", a, amax, qm)


def unit_mean(s: str, n: str) -> str:
    """The half-up integer mean of ``n`` units summing to ``s``."""
    return f"CAST(floor({s} * 1.0 / {n} + 0.5) AS BIGINT)"


@query(
    "q_array_funcs",
    oracle=f"""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER)                       AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6)                AS e0,
       round({duck_dot('embedding[1:8]', 'embedding[1:8]')}, 6) AS sq8,
       array_to_string({duck_micro('embedding[1:3]')}, ',') AS first3,
       round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS emax
FROM embeddings
""",
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over embeddings: size / element_at / slice /
    transform / aggregate (HOF dot product) / array_max. The
    transform output is serialized to a string of integer micro-units
    (floor-form rounding, engine-stable) — scalar columns keep every
    downstream row-hash comparator happy; integers render identically
    in both engines, where formatted doubles would not."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
        F.round(
            F.expr(dot_expr("slice(embedding, 1, 8)", "slice(embedding, 1, 8)")), 6
        ).alias("sq8"),
        F.expr(f"array_join({micro_expr('slice(embedding, 1, 3)')}, ',')").alias(
            "first3"
        ),
        F.round(F.array_max("embedding").cast("double"), 6).alias("emax"),
    )
