"""Vector (embedding) expression helpers + the array-function family
query. Shared by the similarity, dedup, clustering, linear-algebra,
kNN, coreset and quantization queries.

Design: dot product, norm and cosine over ``array<float>`` columns are
built from higher-order functions (zip_with + aggregate) — pure JVM
expressions, no UDF, so they vectorize inside whole-stage codegen and
the DuckDB oracle can mirror them term-for-term. Floats are upcast to
double *before* any arithmetic so both engines fold the identical
double sequence (left-to-right) — bit-stable across engines.

Every fold, double or BIGINT, is one rule (:func:`_fold` /
:func:`_duck_fold`): a left fold from a typed zero, so an empty array
folds to 0 in both engines. The DuckDB form mirrors Spark's NULLs too:
a NULL array folds to NULL, and a pair fold over arrays of unequal
length iterates the longer one, so the missing elements are NULL and
so is the sum, as with ``zip_with``'s NULL padding. Lambdas are
prefixed ``v_`` / ``u_`` / ``q_`` so they nest inside an oracle's own
``x`` / ``i`` lambdas.

Integer primitives, the one spelling of each exact integer decision
(Spark SQL ``*_expr``, DuckDB ``duck_*``):
``micro_expr`` fences each element to micro-units
(``rounding.int_units(x, 6)``); ``int_sqdist_expr`` and
``int_dot_expr`` fold two BIGINT arrays and ``int_sum_expr`` one;
``amax_expr`` and ``quantize_expr`` are the symmetric
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


_SQDIFF = "({x} - {y}) * ({x} - {y})"
_PROD = "{x} * {y}"
_DSQDIFF = _SQDIFF.format(x="CAST({x} AS DOUBLE)", y="CAST({y} AS DOUBLE)")
_DPROD = _PROD.format(x="CAST({x} AS DOUBLE)", y="CAST({y} AS DOUBLE)")
_ZERO = "CAST(0 AS BIGINT)"
_DZERO = "CAST(0.0 AS DOUBLE)"


def _fold(terms: str, zero: str) -> str:
    """Spark SQL: the left fold from ``zero`` of the array ``terms``."""
    return f"aggregate({terms}, {zero}, (v_s, v_t) -> v_s + v_t)"


def _duck_fold(terms: str, zero: str, *arrays: str) -> str:
    """DuckDB mirror of :func:`_fold`. The prepended zero makes an
    empty array fold to 0 (``list_sum`` would give NULL); the guard
    keeps a NULL input NULL, which ``list_prepend`` alone would turn
    into ``[zero]``."""
    null = " OR ".join(f"({x}) IS NULL" for x in arrays)
    return (
        f"CASE WHEN {null} THEN NULL ELSE list_reduce(list_prepend({zero},"
        f" {terms}), (v_s, v_t) -> v_s + v_t) END"
    )


def _pair_fold(a: str, b: str, term: str, zero: str) -> str:
    """Spark SQL: the fold of ``term`` over the element pairs of two
    arrays; ``zip_with`` pads the shorter one with NULL."""
    pair = term.format(x="v_a", y="v_b")
    return _fold(f"zip_with({a}, {b}, (v_a, v_b) -> {pair})", zero)


def _duck_pair_fold(a: str, b: str, term: str, zero: str) -> str:
    """DuckDB mirror of :func:`_pair_fold`: indexing past the end of
    the shorter list gives NULL, as ``zip_with``'s padding does."""
    pair = term.format(x=f"({a})[v_i]", y=f"({b})[v_i]")
    n = f"CAST(greatest(len({a}), len({b})) AS INTEGER)"
    return _duck_fold(f"list_transform(range(1, {n} + 1), v_i -> {pair})", zero, a, b)


def dot_expr(a: str, b: str) -> str:
    """Spark SQL expression: dot product of two float-array columns in
    double precision (sequential left fold — matches the oracle)."""
    return _pair_fold(a, b, _DPROD, _DZERO)


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
    return _duck_pair_fold(a, b, _DPROD, _DZERO)


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
    s = _DZERO
    for i, v in enumerate(values, 1):
        s = f"({s} + CAST(({a})[{i}] AS DOUBLE) * CAST({v!r} AS DOUBLE))"
    return s


def sqdist_expr(a: str, b: str) -> str:
    """Spark SQL expression: squared L2 distance of two float-array
    columns in double precision (sequential left fold — matches
    :func:`duck_sqdist` term-for-term)."""
    return _pair_fold(a, b, _DSQDIFF, _DZERO)


def duck_sqdist(a: str, b: str) -> str:
    """DuckDB mirror of sqdist_expr — same fold order, same precision."""
    return _duck_pair_fold(a, b, _DSQDIFF, _DZERO)


def micro_expr(a: str) -> str:
    """Spark SQL: the float array ``a`` as BIGINT micro-units."""
    return f"transform({a}, u_x -> {int_units('u_x')})"


def duck_micro(a: str) -> str:
    """DuckDB mirror of :func:`micro_expr` (its ``list_transform``)."""
    return "list_" + micro_expr(a)


def int_sqdist_expr(a: str, b: str) -> str:
    return _pair_fold(a, b, _SQDIFF, _ZERO)


def duck_int_sqdist(a: str, b: str) -> str:
    return _duck_pair_fold(a, b, _SQDIFF, _ZERO)


def int_dot_expr(a: str, b: str) -> str:
    return _pair_fold(a, b, _PROD, _ZERO)


def duck_int_dot(a: str, b: str) -> str:
    return _duck_pair_fold(a, b, _PROD, _ZERO)


def int_sum_expr(a: str) -> str:
    """Spark SQL: the sum of the BIGINT array ``a``, 0 when empty."""
    return _fold(a, _ZERO)


def duck_int_sum(a: str) -> str:
    return _duck_fold(a, _ZERO, a)


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
