"""Pin the cross-engine primitives: functions/hashes.py's md5-prefix
integer, h31/h62 hashes and SimHash bits — especially the
lambda-nesting class that once made q_dedup_substring's oracle hash
chimera windows — functions/text.py's tokenizer and word n-grams, and
functions/vectors.py's integer vector primitives.

duck_md5_int is a SQL FRAGMENT spliced into oracle strings, and several
oracles splice it inside an outer DuckDB lambda (the sliding-window
oracle binds ``i``). If its own lambda variables ever collide with an
outer binding, DuckDB silently shadows the outer one and hashes
garbage — these tests fail loudly instead.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest

from kafka_to_parquet_spark.functions.hashes import (
    H31_P,
    duck_h31,
    duck_md5_int,
    spark_h31,
    spark_md5_int,
)
from kafka_to_parquet_spark.functions.vectors import (
    amax_expr,
    dot_expr,
    duck_amax,
    duck_dot,
    duck_int_dot,
    duck_int_sqdist,
    duck_int_sum,
    duck_micro,
    duck_quantize,
    duck_sqdist,
    int_dot_expr,
    int_sqdist_expr,
    int_sum_expr,
    micro_expr,
    quantize_expr,
    sqdist_expr,
    unit_mean,
)

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


def py_md5_int(s: str, n: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:n], 16)


def py_h31(s: str) -> int:
    return py_md5_int(s, 8) % H31_P


NIBBLES = (8, 15)


def test_duck_h31_matches_python_reference():
    con = duckdb.connect()
    for w in WORDS:
        got = con.sql(f"SELECT {duck_h31(f'{w!r}')} AS h").fetchone()[0]
        assert got == py_h31(w), w
        for n in NIBBLES:
            got = con.sql(f"SELECT {duck_md5_int(f'{w!r}', n)} AS h").fetchone()[0]
            assert got == py_md5_int(w, n), (w, n)


def test_spark_h31_matches_python_reference(spark):
    df = spark.createDataFrame([(w,) for w in WORDS], ["s"])
    import pyspark.sql.functions as F

    ints = [F.expr(spark_md5_int("s", n)).alias(f"m{n}") for n in NIBBLES]
    rows = df.select("s", F.expr(spark_h31("s")).alias("h"), *ints).collect()
    for r in rows:
        assert r.h == py_h31(r.s), r.s
        for n in NIBBLES:
            assert r[f"m{n}"] == py_md5_int(r.s, n), (r.s, n)


def test_simhash_bits_agree_across_engines(spark, tmp_path):
    """Spark's SimHash bit k (q_dedup_simhash) equals the DuckDB form's
    bit k (SIMHASH_FP_CTE) and bit k % 4 of md5 hex digit k // 4, on
    one-word documents, whose fingerprint is the word's own bits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_to_parquet_spark.llm.dedup import (
        SIMHASH_BITS,
        SIMHASH_FP_CTE,
        q_dedup_simhash,
    )

    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(WORDS)), pa.int64()), "text": WORDS}),
        tmp_path / "documents.parquet",
    )
    got_spark = {
        (r.doc_id, k): (r.simhash >> k) & 1
        for r in q_dedup_simhash(spark, str(tmp_path)).collect()
        for k in range(SIMHASH_BITS)
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    bits = con.sql(f"WITH {SIMHASH_FP_CTE} SELECT doc_id, k, bit FROM bits").fetchall()
    got_duck = {(d, k): bit for d, k, bit in bits}
    want = {
        (d, k): (int(hashlib.md5(w.encode()).hexdigest()[k // 4], 16) >> (k % 4)) & 1
        for d, w in enumerate(WORDS)
        for k in range(SIMHASH_BITS)
    }
    assert got_spark == want
    assert got_duck == want


def test_duck_h31_inside_outer_i_lambda():
    """THE round-4 bug class: duck_h31 embedded in an outer
    list_transform lambda that binds ``i`` (the sliding-window index).
    With the old inner variable also named ``i``, every element of the
    result was a chimera hash; now each element must equal the direct
    per-element hash."""
    con = duckdb.connect()
    arr = ", ".join(f"'{w}'" for w in WORDS)
    for frag, ref in [
        (duck_h31, py_h31),
        (lambda c: duck_md5_int(c, 15), lambda w: py_md5_int(w, 15)),
    ]:
        got = con.sql(
            f"SELECT list_transform(range(1, {len(WORDS)} + 1),"
            f" i -> {frag(f'(([{arr}])[i])')}) AS hs"
        ).fetchone()[0]
        assert list(got) == [ref(w) for w in WORDS]


def test_duck_h31_inside_outer_lambda_over_windows():
    """Same shape as _substring_oracle: hash of a window STRING built
    from the outer lambda index."""
    con = duckdb.connect()
    arr = ", ".join(f"'{w}'" for w in WORDS)
    w = 3
    expected = [
        py_h31(" ".join(WORDS[i : i + w])) for i in range(len(WORDS) - w + 1)
    ]
    win_expr = duck_h31(f"array_to_string(toks[i:i+{w - 1}], ' ')")
    got = con.sql(
        f"WITH t AS (SELECT [{arr}] AS toks) "
        f"SELECT list_transform(range(1, len(toks) - {w} + 2),"
        f" i -> {win_expr}) AS hs "
        "FROM t"
    ).fetchone()[0]
    assert list(got) == expected


COMMON_NAMES = ["i", "a", "c", "s", "x", "j", "k", "n", "t"]
DUCK_FRAGMENTS = {
    "duck_h31": duck_h31("x"),
    "duck_md5_int": duck_md5_int("x", 15),
    "duck_micro": duck_micro("x"),
    "duck_int_sqdist": duck_int_sqdist("x", "y"),
    "duck_int_dot": duck_int_dot("x", "y"),
    "duck_amax": duck_amax("x"),
    "duck_quantize": duck_quantize("x", "amax", 127),
}


@pytest.mark.parametrize(
    "name, bad",
    [
        pytest.param(name, bad, id=bad if name == "duck_h31" else f"{name}-{bad}")
        for name in DUCK_FRAGMENTS
        for bad in COMMON_NAMES
    ],
)
def test_duck_h31_fragment_reserves_no_common_lambda_names(name, bad):
    """Structural guard: a DuckDB fragment spliced into oracles must not
    introduce lambda variables an oracle author would plausibly bind in
    an OUTER lambda. (Checks the lambda-arrow bindings only — `i` etc.
    may appear inside string literals like the nibble alphabet.)"""
    frag = DUCK_FRAGMENTS[name]
    import re

    bound = set()
    for m in re.finditer(r"(\w+)\s*->", frag):
        bound.add(m.group(1))
    for m in re.finditer(r"\((\w+),\s*(\w+)\)\s*->", frag):
        bound.update(m.groups())
    assert bad not in bound, f"{name} binds common name {bad!r}: {sorted(bound)}"


def py_h62(s: str) -> int:
    return py_h31(s) * H31_P + py_h31("h62:" + s)


def test_h62_matches_python_reference_both_engines(spark):
    from kafka_to_parquet_spark.functions.hashes import duck_h62, spark_h62

    con = duckdb.connect()
    for w in WORDS:
        expect = py_h62(w)
        assert con.sql(f"SELECT {duck_h62(f'{w!r}')} AS h").fetchone()[0] == expect
        assert spark.sql(f"SELECT {spark_h62(f'{w!r}')} AS h").collect()[0][0] == expect
        assert 0 <= expect < 2**62


def test_duck_h62_inside_outer_i_lambda():
    """h62 composes two sibling h31 folds; embedded inside an outer
    lambda that binds ``i`` (the sliding-window oracle shape) it must
    hash each window, not a shadowed chimera — the round-4 class."""
    from kafka_to_parquet_spark.functions.hashes import duck_h62

    con = duckdb.connect()
    arr = "['" + "','".join(WORDS) + "']"
    got = con.sql(
        "SELECT list_transform(range(1, 4), i -> "
        + duck_h62(f"array_to_string(({arr})[i:i+2], ' ')")
        + ") AS hs"
    ).fetchone()[0]
    expect = [py_h62(" ".join(WORDS[i : i + 3])) for i in range(3)]
    assert list(got) == expect


# ---------------------------------------------------------------------------
# Tokenizer and word n-grams (functions/text.py)
# ---------------------------------------------------------------------------

TEXTS = [
    "",
    "   ",
    "  leading and trailing  ",
    "tab\tand\nnewline\r\nend",
    "vt\x0bsplit",
    "runs    of     spaces",
    "Ünïcödé STRASSE Straße café 日本語 テキスト",
    " ".join(f"w{i % 7}" for i in range(45)),
]
NGRAM_NS = [2, 3, 5, 8, 40]


def _duck_documents(texts: list[str]):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    return con


def _spark_documents(spark, texts: list[str]):
    return spark.createDataFrame(list(enumerate(texts)), "id int, text string")


def test_tokenizer_and_word_ngrams_agree_across_engines(spark):
    """The Spark Column tokenizer, its Spark SQL string and the DuckDB
    mirror give the same tokens, and word_ngrams / word_ngrams_sql give
    the same ordered windows (empty below n tokens) as a Python
    reference, on whitespace corner cases and non-ASCII text."""
    import pyspark.sql.functions as F

    from kafka_to_parquet_spark.functions.text import (
        _TOKENS_SQL,
        TOKENS_EXPR,
        tokens_col,
        word_ngrams,
        word_ngrams_sql,
    )

    spark_grams = [F.expr(word_ngrams("toks", n)).alias(f"g{n}") for n in NGRAM_NS]
    rows = (
        _spark_documents(spark, TEXTS)
        .select("id", tokens_col(F.col("text")).alias("toks"), F.expr(TOKENS_EXPR).alias("sql"))
        .select("id", "toks", "sql", *spark_grams)
        .orderBy("id")
        .collect()
    )
    duck_grams = ", ".join(f"{word_ngrams_sql('toks', n)} AS g{n}" for n in NGRAM_NS)
    con = _duck_documents(TEXTS)
    duck = con.sql(
        f"SELECT id, toks, {duck_grams}"
        f" FROM (SELECT id, {_TOKENS_SQL} AS toks FROM documents) ORDER BY id"
    ).fetchall()
    assert len(rows) == len(duck) == len(TEXTS)
    for r, d in zip(rows, duck):
        toks = r.toks
        assert toks == r.sql == list(d[1]), TEXTS[r.id]
        for n, dg in zip(NGRAM_NS, d[2:]):
            want = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            assert r[f"g{n}"] == list(dg) == want, (TEXTS[r.id], n)
    assert rows[-1]["g40"], "the long row must yield 40-grams"


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="engine divergence: Spark lower() maps final sigma to ς and İ to "
    "i + U+0307, DuckDB's lower() maps them to σ and i",
)
@pytest.mark.parametrize("text", ["ΟΔΟΣ", "İstanbul"])
def test_tokenizer_known_engine_divergence(spark, text):
    import pyspark.sql.functions as F

    from kafka_to_parquet_spark.functions.text import _TOKENS_SQL, tokens_col

    got = _spark_documents(spark, [text]).select(tokens_col(F.col("text"))).first()[0]
    con = _duck_documents([text])
    want = con.sql(f"SELECT {_TOKENS_SQL} FROM documents").fetchone()[0]
    assert got == list(want)


def test_text_primitives_have_one_definition():
    """functions/text.py is the only module that spells the tokenizer
    or the stopword list; every other module imports tokens_col /
    TOKENS_EXPR / _TOKENS_SQL / STOPWORDS renderings from it, so a
    streaming query and its batch twin cannot tokenize differently."""
    import pathlib
    import re

    import kafka_to_parquet_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    spelled = re.compile(
        r"split\(lower\(|F\.split\(F\.lower\(|string_split_regex\(lower\("
        r"|['\"]the['\"],\s*['\"]a['\"]"
    )
    found = [
        f"{path.relative_to(root)}:{no}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "functions" / "text.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if spelled.search(line)
    ]
    assert found == []


def test_graph_substrate_has_one_definition():
    """operators/graph.py is the only module that spells the shared
    graph decisions: the trade-graph node ids and its per-lineitem
    rows, the label-propagation tie-break, the (degree, id) edge
    orientation and the support-quantile gate on co-purchase pairs.
    Every other graph query imports trade_edges / TRADE_EDGES_CTES,
    label_propagation / lpa_sql, orient / ORIENT_CTES and gated_pairs /
    gated_pairs_sql."""
    import pathlib
    import re

    import kafka_to_parquet_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    spelled = re.compile(
        r'o_custkey"?\)? \* 2|trade_lines\(|TRADE_LINES_SQL'
        r'|c DESC, lab|F\.col\("c"\)\.desc\(\), F\.col\("lab"\)'
        r'|\(da\.d, pa\) < \(db\.d, pb\)|F\.struct\(F\.col\("da"\), F\.col\("pa"\)\)'
        r"|quantile_disc\(support\b|ORDER BY support\)"
    )
    found = [
        f"{path.relative_to(root)}:{no}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "operators" / "graph.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if spelled.search(line)
    ]
    assert found == []


def test_hash_primitives_have_one_definition():
    """functions/hashes.py is the only module that spells a hash or
    sketch primitive: an md5 hex prefix read as an integer (by conv,
    a 0x cast or a nibble fold), an md5-derived coefficient, or a
    signature band extraction. Every other module imports spark_md5_int /
    duck_md5_int, the h31/h62 hashes, universal_coeffs /
    hyperplane_signs and capped_banded / capped_band_cte. cache.py's
    path digest names a directory and is no hash primitive."""
    import pathlib
    import re

    import kafka_to_parquet_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    spelled = re.compile(
        r"conv\(substring\(md5\(|strpos\('0123456789abcdef'"
        r"|'0x' \|\| substr\(md5\(|\.digest\(\)\[|shiftright\(sig, CAST\("
    )
    own = {root / "functions" / "hashes.py", root / "cache.py"}
    found = [
        f"{path.relative_to(root)}:{no}"
        for path in sorted(root.rglob("*.py"))
        if path not in own
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if spelled.search(line)
    ]
    assert found == []


def test_vector_primitives_have_one_definition():
    """functions/vectors.py is the only module that spells the integer
    vector decisions (functions/rounding.py keeps the scalar
    ``int_units`` the fence is built on): the micro-unit element fence,
    the exact integer squared distance and dot product, the int-b
    quantizer with its max|x| scale, and the integer unit mean. Scalar
    forms such as ``(7 * o - n) * (7 * o - n)`` do not match."""
    import pathlib
    import re

    import kafka_to_parquet_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    spelled = re.compile(
        r"AS DOUBLE\) \* 1000000 \+ 0\.5"
        r"|zip_with\(.*\((\w+) - (\w+)\) \* \(\1 - \2\)"
        r"|\[(\w+)\] - [^()]*\[\3\]\) \* \("
        r"|list_sum\(list_transform\(range\(1, len\(|F\.zip_with\("
        r"|\) / \(amax / "
        r"|list_transform\(embedding, x -> abs\(x\)\)"
        r'|F\.transform\("embedding", lambda x: F\.abs\(x\)\)'
        r"|\* 1\.0 / (?:n|count\(\*\)) \+ 0\.5\) AS BIGINT"
    )
    own = {root / "functions" / "vectors.py", root / "functions" / "rounding.py"}
    found = [
        f"{path.relative_to(root)}:{no}"
        for path in sorted(root.rglob("*.py"))
        if path not in own
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if spelled.search(line)
    ]
    assert found == []


def _half_unit_floats() -> list[float]:
    """float32 values at and one float32 step beside a half micro-unit
    k + 0.5: m / 128 for odd m is exact in float32, and m / 128 * 1e6 =
    7812.5 * m."""
    import numpy as np

    out = []
    for m in (1, 3, 255, 511):
        for x in (np.float32(m / 128), np.float32(-m / 128)):
            out += [x, np.nextafter(x, np.float32(8)), np.nextafter(x, np.float32(-8))]
    return [float(v) for v in out]


def _vector_rows() -> list[tuple[int, list[float] | None, list[float] | None]]:
    import numpy as np

    rng = np.random.default_rng(7)
    wide = [rng.uniform(-4, 4, 64).astype(np.float32) for _ in range(2)]
    wide[0][:2] = (4.0, -4.0)
    wide[1][:2] = (-4.0, 4.0)
    half = _half_unit_floats()
    rows = [
        ([], []),
        ([-1.5, -0.25, 0.0, 2.0], [0.5, -3.0, -1e-6, 1.0]),
        ([0.1, -0.1, 0.3], [0.7, 1e-7, -2.5]),
        (half, half[::-1]),
        ([float(v) for v in wide[0]], [float(v) for v in wide[1]]),
        (None, [1.0, -2.0]),
        ([0.5, -0.75], None),
        (None, None),
        (None, []),
        ([1.5, -2.0, 0.25], [0.5]),
        ([], [2.0]),
        ([0.0] * 8, [0.0] * 8),
    ]

    def f32(xs):
        return None if xs is None else [float(np.float32(x)) for x in xs]

    return [(i, f32(a), f32(b)) for i, (a, b) in enumerate(rows)]


QMS = (127, 7, 1)


def _py_micro(a: list[float] | None) -> list[int] | None:
    return None if a is None else [math.floor(x * 1000000.0 + 0.5) for x in a]


def _py_pair_fold(a, b, term):
    """Spark's ``aggregate(zip_with(a, b, term), 0, +)``: NULL on a NULL
    array, and on unequal lengths (zip_with pads with NULL)."""
    if a is None or b is None or len(a) != len(b):
        return None
    return sum(term(p, q) for p, q in zip(a, b))


def _py_quantize(a: list[float] | None, qm: int) -> list[int] | None:
    if not a:
        return a
    amax = max(abs(x) for x in a)
    if amax == 0:
        return [0] * len(a)
    return [math.floor(x / (amax / qm) + 0.5) for x in a]


def test_integer_vector_primitives_agree_across_engines(spark):
    """Each integer primitive's Spark form, DuckDB form and a Python
    reference agree: on the empty array (the integer dot, squared
    distance and sum are 0 in both engines), a NULL array and arrays of
    unequal length (every fold is NULL, as Spark's zip_with padding
    gives; the double dot and squared distance too), negative elements,
    float32 elements on and beside a half micro-unit (the fence's
    rounding boundary), 64 dimensions at |x| <= 4 (the BIGINT bound)
    and the quantizer at qm = 127, 7 and 1 with an all-zero row;
    unit_mean agrees with the exact rational rounding (2s + n) // 2n."""
    import pyspark.sql.functions as F

    rows = _vector_rows()
    quant = [F.expr(quantize_expr("a", "amax", qm)).alias(f"q{qm}") for qm in QMS]
    got_spark = [
        tuple(r)
        for r in spark.createDataFrame(rows, "id int, a array<float>, b array<float>")
        .select(
            "id",
            "a",
            "b",
            F.expr(micro_expr("a")).alias("ua"),
            F.expr(micro_expr("b")).alias("ub"),
            F.expr(amax_expr("a")).alias("amax"),
        )
        .select(
            "id",
            "ua",
            "ub",
            F.expr(int_sqdist_expr("ua", "ub")).alias("d2"),
            F.expr(int_dot_expr("ua", "ub")).alias("dot"),
            F.expr(int_sum_expr("ua")).alias("sum"),
            F.expr(sqdist_expr("a", "b")).alias("d2f"),
            F.expr(dot_expr("a", "b")).alias("dotf"),
            "amax",
            *quant,
        )
        .orderBy("id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE v (id INTEGER, a FLOAT[], b FLOAT[])")
    con.executemany("INSERT INTO v VALUES (?, ?, ?)", rows)
    duck_quant = ", ".join(f"{duck_quantize('a', 'amax', qm)}" for qm in QMS)
    got_duck = [
        tuple(list(v) if isinstance(v, list) else v for v in r)
        for r in con.sql(
            f"SELECT id, ua, ub, {duck_int_sqdist('ua', 'ub')},"
            f" {duck_int_dot('ua', 'ub')}, {duck_int_sum('ua')},"
            f" {duck_sqdist('a', 'b')}, {duck_dot('a', 'b')}, amax, {duck_quant}"
            f" FROM (SELECT id, a, b, {duck_micro('a')} AS ua, {duck_micro('b')} AS ub,"
            f" {duck_amax('a')} AS amax FROM v) ORDER BY id"
        ).fetchall()
    ]
    want = []
    for i, a, b in rows:
        ua, ub = _py_micro(a), _py_micro(b)
        want.append(
            (
                i,
                ua,
                ub,
                _py_pair_fold(ua, ub, lambda p, q: (p - q) * (p - q)),
                _py_pair_fold(ua, ub, lambda p, q: p * q),
                None if ua is None else sum(ua),
                _py_pair_fold(a, b, lambda p, q: (p - q) * (p - q)),
                _py_pair_fold(a, b, lambda p, q: p * q),
                None if a is None else max((abs(x) for x in a), default=None),
                *(_py_quantize(a, qm) for qm in QMS),
            )
        )
    assert got_spark == want
    assert got_duck == want
    assert want[0][3:8] == (0, 0, 0, 0, 0), "the empty array folds to 0"
    pair_folds = [(w[3], w[4], w[6], w[7]) for w in want[5:11]]
    assert pair_folds == [(None,) * 4] * 6, "a NULL array or unequal lengths fold to NULL"
    assert want[3][1][:3] == [7813, 7813, 7812], "x * 1e6 = 7812.5 rounds half up"
    assert want[3][1][3:6] == [-7812, -7812, -7813], "-7812.5 rounds half up"
    assert want[-1][-3:] == ([0] * 8,) * 3, "amax = 0 quantizes to zeros"

    # unit_mean: one text for both engines, half-units rounding up.
    sn = [(7, 2), (-7, 2), (5, 10), (-5, 10), (1, 3), (-1, 3), (-2, 3), (0, 5),
          (10**12 + 1, 2), (-(10**12) - 1, 2), (4_000_000 * 300 + 150, 300)]
    want = sorted((s, n, (2 * s + n) // (2 * n)) for s, n in sn)
    got_spark = (
        spark.createDataFrame(sn, "s bigint, n bigint")
        .select("s", "n", F.expr(unit_mean("s", "n")))
        .orderBy("s", "n")
        .collect()
    )
    assert [tuple(r) for r in got_spark] == want
    con.execute("CREATE TABLE sn (s BIGINT, n BIGINT)")
    con.executemany("INSERT INTO sn VALUES (?, ?)", sn)
    mean = f"SELECT s, n, {unit_mean('s', 'n')} FROM sn ORDER BY s, n"
    assert con.sql(mean).fetchall() == want



def test_embed_quantize_matches_oracle_on_edge_embeddings(spark, tmp_path):
    """q_embed_quantize and its oracle agree on an empty embedding
    (q_sum is the zero-seeded fold, 0 in both engines; list_sum would
    give NULL), a NULL one and an all-zero one, beside an ordinary row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_to_parquet_spark import registry
    from kafka_to_parquet_spark.cache import clear_caches

    registry.load_all()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1, 2, 3], pa.int64()),
                "embedding": pa.array(
                    [[0.5, -1.0, 0.25], [], None, [0.0, 0.0]], pa.list_(pa.float32())
                ),
                "label": pa.array([1, 2, 3, 4], pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    d = str(tmp_path)
    try:
        got = sorted(
            tuple(r) for r in registry.QUERIES["q_embed_quantize"](spark, d).collect()
        )
    finally:
        clear_caches(spark, d)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet')")
    cols = "vec_id, label, amax_u, q_sum, q_min, q_max"
    oracle = registry.ORACLE_SQL["q_embed_quantize"]
    want = sorted(con.sql(f"SELECT {cols} FROM ({oracle})").fetchall())
    assert got == want
    assert want[1] == (1, 2, None, 0, None, None), "an empty embedding sums to 0"
    assert want[2] == (2, 3, None, None, None, None)
    assert want[3] == (3, 4, 0, 0, 0, 0)
