"""Cross-engine hash and sketch primitives, each one Spark form and one
DuckDB form:

- the md5 hex-prefix integer (``spark_md5_int`` / ``duck_md5_int``) and
  the 31- and 62-bit hashes built on it;
- the seeded md5 coefficient family (``md5_seed``, ``universal_coeffs``,
  ``hyperplane_signs``), derived once in Python and inlined as literals
  into both engines' SQL, so there is no cross-engine RNG to reconcile;
- signature banding under the hot-bucket cap (``capped_banded`` /
  ``capped_band_cte``).

Leaf module: it imports nothing from the package, so every consumer can
import it at its top.

Oracles splice the DuckDB fragments inside their own lambdas (a
sliding-window ``list_transform(range(...), i -> ...)``), and DuckDB
lets an inner lambda variable shadow an outer one of the same name. The
DuckDB forms here therefore bind no lambda variable; tests/test_hashes.py
checks the nesting. The Spark forms contain no lambda either, so they
compose inside any ``transform(...)``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: hash values stay < 2^31, so linear hashes
# a*h + b and band keys m_even * P + m_odd stay < 2^62 — every
# intermediate fits a signed 64-bit integer in both engines.
H31_P = 2_147_483_647

# LSH band buckets above this sub-split by the next band, then drop.
MAX_BAND_BUCKET = 256


def spark_md5_int(col: str, nibbles: int) -> str:
    """The first ``nibbles`` hex digits of md5(col) as a BIGINT (Spark
    SQL). Up to 15 nibbles fit a signed 64-bit integer."""
    return f"CAST(conv(substring(md5({col}), 1, {nibbles}), 16, 10) AS BIGINT)"


def duck_md5_int(col: str, nibbles: int) -> str:
    """The same BIGINT in DuckDB SQL: one md5 per row, its hex prefix
    read by a ``0x`` cast. It binds no lambda variable."""
    return f"CAST('0x' || substr(md5({col}), 1, {nibbles}) AS BIGINT)"


def spark_h31(col: str) -> str:
    """The 8-nibble md5 integer of ``col`` mod 2^31-1 (Spark SQL)."""
    return f"{spark_md5_int(col, 8)} % {H31_P}"


def duck_h31(col: str) -> str:
    """Same value in DuckDB SQL."""
    return f"{duck_md5_int(col, 8)} % {H31_P}"


# ---------------------------------------------------------------------------
# 62-bit fingerprints for EQUALITY semantics
# ---------------------------------------------------------------------------
# The 31-bit space is fine for SKETCH uses (MinHash signatures, KMV
# order statistics, bloom audits — collisions are part of the model),
# but fingerprints whose EQUALITY is taken as text identity saturate
# it: a stress run measured 10.1% false-positive duplicate
# window-hashes at ~30M distinct 8-token windows (birthday-quadratic:
# 1.1% at ~3M), which would have q_dedup_span_strip deleting real text
# on hash noise at 100 TB. Identity fingerprints therefore compose TWO
# independent 31-bit hashes (the second salted) into a < 2^62 BIGINT:
# expected FP pairs at N windows ≈ N²/2^63 — ~0.05 at N=1e9.


def spark_h62(col: str) -> str:
    """Collision-safe identity fingerprint (Spark SQL form): two
    independent h31 values (second salted with 'h62:') composed as
    a·P + b < 2^62. Lambda-free like spark_h31 — safe at any nesting
    depth."""
    salted = spark_h31(f"concat('h62:', {col})")
    return f"(({spark_h31(col)}) * CAST({H31_P} AS BIGINT) + ({salted}))"


def duck_h62(col: str) -> str:
    """Same value in DuckDB SQL. The two embedded duck_h31 casts bind
    no lambda variable, so the fragment is safe inside an outer query
    lambda."""
    salted = duck_h31(f"'h62:' || ({col})")
    return f"(({duck_h31(col)}) * CAST({H31_P} AS BIGINT) + ({salted}))"


# ---------------------------------------------------------------------------
# Seeded coefficient family
# ---------------------------------------------------------------------------


def md5_seed(label: str, nbytes: int = 8) -> int:
    """The first ``nbytes`` bytes of md5(label) as a big-endian integer."""
    return int.from_bytes(hashlib.md5(label.encode()).digest()[:nbytes], "big")


def universal_coeffs(salt: str, n: int) -> list[tuple[int, int]]:
    """``n`` universal-hash pairs (a, b), 1 ≤ a < P and 0 ≤ b < P, for
    h ↦ (a·h + b) mod P; pair i is seeded by ``{salt}_a_{i}`` and
    ``{salt}_b_{i}``."""
    return [
        (md5_seed(f"{salt}_a_{i}") % (H31_P - 1) + 1, md5_seed(f"{salt}_b_{i}") % H31_P)
        for i in range(n)
    ]


def hyperplane_signs(k: int, dim: int) -> list[float]:
    """±1 components of random hyperplane ``k``: component j is +1 when
    the first byte of md5(f"{k}_{j}") is odd."""
    return [1.0 if md5_seed(f"{k}_{j}", 1) & 1 else -1.0 for j in range(dim)]


# ---------------------------------------------------------------------------
# Capped LSH banding — the hot-bucket control shared by every
# band-bucketed similarity join (SimHash pairs, angular embedding LSH).
#
# A near-duplicate-heavy corpus collapses many items into one
# (band, band_val) bucket, and pair generation is quadratic in that
# bucket. Control: buckets above MAX_BAND_BUCKET are SUB-SPLIT by the
# *adjacent* band's value (pairs in a hot bucket must then agree on two
# bands — a recall trade confined to hot buckets); sub-buckets still
# above the cap (e.g. thousands of byte-identical docs, which exact
# dedup should have removed upstream) are dropped entirely. Both steps
# are deterministic functions of the signature multiset and are
# mirrored in the oracle CTE, so the cap is declared semantics.
#
# Scale: bucket statistics are bounded by the SIGNATURE space, not the
# corpus — s1 ≤ n_bands·2^band_bits rows (1 024 here), s2 ≤
# n_bands·(2^band_bits + 2^(2·band_bits)) rows (~263 k) — so both
# stats joins broadcast at any corpus size.


def capped_banded(
    sigs: DataFrame,
    cap: int = MAX_BAND_BUCKET,
    band_bits: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """Band a signature DataFrame under the hot-bucket control.

    ``sigs`` needs a ``sig`` (long) column; its other columns are ids
    and pass through. Each row fans out to one row per band ``b``.
    Returns the kept rows with join key ``k``: the band's value for
    normal buckets, ``2^(2·band_bits) + band_val·2^band_bits +
    next_band_val`` for sub-split ones (disjoint ranges, so split and
    unsplit buckets can never collide). Callers equi-join on (b, k)."""
    mask = (1 << band_bits) - 1

    def band(b: str):
        return F.expr(f"shiftright(sig, CAST({band_bits} * {b} AS INT)) & {mask}")

    banded = (
        sigs.select("*", F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("b"))
        .withColumn("band_val", band("b"))
        .withColumn("_nb", band(f"((b + 1) % {n_bands})"))
    )
    s1 = banded.groupBy("b", "band_val").agg(F.count(F.lit(1)).alias("_c1"))
    keyed = banded.join(F.broadcast(s1), ["b", "band_val"]).withColumn(
        "k",
        F.when(
            F.col("_c1") > cap,
            F.lit(1 << (2 * band_bits))
            + F.col("band_val") * (1 << band_bits)
            + F.col("_nb"),
        )
        .otherwise(F.col("band_val"))
        .cast("long"),
    )
    s2 = keyed.groupBy("b", "k").agg(F.count(F.lit(1)).alias("_c2"))
    return (
        keyed.join(F.broadcast(s2), ["b", "k"])
        .filter(F.col("_c2") <= cap)
        .drop("_nb", "_c1", "_c2", "band_val")
    )


def capped_band_cte(
    id_col: str,
    cap: int = MAX_BAND_BUCKET,
    band_bits: int = 8,
    n_bands: int = 4,
) -> str:
    """DuckDB CTE chain ``banded → s1 → keyed → s2 → kept`` mirroring
    ``capped_banded`` exactly. Expects a prior CTE ``fp({id_col}, sig)``.

    ``banded``/``kept`` are MATERIALIZED: DuckDB otherwise inlines each
    CTE reference, so the self-joined ``kept`` re-evaluates the whole
    upstream chain (including ``fp``'s signature computation) once per
    reference — measured 60 s → 12 s at sf0.01 for the angular oracle
    whose ``fp`` holds 32 dot-product folds per vector."""
    mask = (1 << band_bits) - 1
    return f"""banded AS MATERIALIZED (
  SELECT {id_col}, sig, b,
         (sig >> CAST({band_bits} * b AS INTEGER)) & {mask} AS band_val,
         (sig >> CAST({band_bits} * ((b + 1) % {n_bands}) AS INTEGER)) & {mask} AS nb_val
  FROM fp CROSS JOIN range({n_bands}) r(b)
),
s1 AS (SELECT b, band_val, count(*) AS c1 FROM banded GROUP BY b, band_val),
keyed AS (
  SELECT banded.*, CASE WHEN c1 > {cap}
         THEN {1 << (2 * band_bits)} + band_val * {1 << band_bits} + nb_val
         ELSE band_val END AS k
  FROM banded JOIN s1 USING (b, band_val)
),
s2 AS (SELECT b, k, count(*) AS c2 FROM keyed GROUP BY b, k),
kept AS MATERIALIZED (SELECT keyed.* FROM keyed JOIN s2 USING (b, k) WHERE c2 <= {cap})"""
