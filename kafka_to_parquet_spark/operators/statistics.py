"""Statistical aggregates: exact percentiles, histogram binning, and
correlation/covariance computed from exact integer-scaled moments.

Why not ``F.corr``/``F.covar_samp`` directly: their streaming-update
implementations accumulate doubles in partition order, so Spark and
DuckDB legitimately differ in the last ulps and no rounding grid is
safe near boundaries. Computing the five moments as integer-scaled
sums (exact in double: every partial < 2^53) and then applying the
closed-form formula in the *identical expression order* on both
engines yields bit-identical results — same trick as
functions/rounding.py, lifted to second moments. At 100 TB the moment
form is also the right plan: one partial+final aggregation, no second
pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import park
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load


@query(
    "q_agg_percentile",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.5)  AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       quantile_cont(l_quantity, 0.95) AS p95,
       CAST(count(*) AS BIGINT)        AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group. l_quantity is
    integer-valued, so interpolated results are exact binary fractions
    — engine-stable without rounding. (For approximate percentiles at
    scale, ``approx_percentile`` swaps in per-group sketches; exact
    percentile needs a per-group sort, which Spark distributes by
    group.)"""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        F.expr("percentile(l_quantity, 0.95)").alias("p95"),
        F.count("*").alias("n"),
    )


@query(
    "q_agg_histogram",
    oracle="""
SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(o_totalprice) >= floor(o_totalprice / 25000) * 25000 AS BOOLEAN) AS lo_ok
FROM orders
GROUP BY floor(o_totalprice / 25000)
""",
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram as fixed-width binning + hash agg — the distributed
    histogram: one shuffle of (bucket, partial_count). The floor-form
    bucket is portable to any engine (vs width_bucket, which DuckDB
    lacks)."""
    o = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 25000).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            (F.min("o_totalprice") >= F.col("bucket") * 25000).alias("lo_ok"),
        )
    )


_MOMENTS_SQL = """
SELECT CAST(count(*) AS DOUBLE)              AS n,
       sum(round(l_quantity * 100))          AS sx,
       sum(round(l_discount * 100))          AS sy,
       sum(round(l_quantity * 100) * round(l_quantity * 100)) AS sxx,
       sum(round(l_discount * 100) * round(l_discount * 100)) AS syy,
       sum(round(l_quantity * 100) * round(l_discount * 100)) AS sxy
FROM lineitem
"""


@query(
    "q_agg_stats",
    oracle=f"""
SELECT (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_disc,
       (n * sxy - sx * sy) / (n * (n - 1)) / 10000.0                         AS covar_qty_disc,
       sqrt((n * sxx - sx * sx) / (n * (n - 1))) / 100.0                     AS stddev_qty,
       CAST(n AS BIGINT)                                                     AS n
FROM ({_MOMENTS_SQL})
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation, sample covariance, and sample stddev of
    (l_quantity, l_discount) from exact scaled moments. Each moment sum
    is exact (integers < 2^53); the closed-form combination is the
    same IEEE expression tree in Spark and DuckDB → bit-identical
    doubles, no rounding grid needed."""
    li = load(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100, 0)
    y = F.round(F.col("l_discount") * 100, 0)
    m = li.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "corr_qty_disc"
        ),
        ((n * sxy - sx * sy) / (n * (n - 1)) / 10000.0).alias("covar_qty_disc"),
        (F.sqrt((n * sxx - sx * sx) / (n * (n - 1))) / 100.0).alias("stddev_qty"),
        n.cast("long").alias("n"),
    )


@query(
    "q_text_levenshtein",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, source, substr(text, 1, 40) AS head
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_dist
FROM t a JOIN t b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 20
""",
)
def q_text_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs on 40-char prefixes inside
    (lang, source) blocking buckets — the O(len²) DP cost is bounded by
    the prefix cap and the quadratic pair count by the blocks, same
    scaling discipline as the other near-dup operators."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", "source", F.substring("text", 1, 40).alias("head"))
    a, b = t.alias("a"), t.alias("b")
    # Project the DP distance once, then filter the column (filter-first
    # would run the O(len²) DP twice per pair).
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.head"), F.col("b.head")).cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 20)
    )


@query(
    "q_profile_table",
    oracle="""
SELECT 'l_orderkey' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(l_orderkey) AS VARCHAR) AS min_s,
       CAST(max(l_orderkey) AS VARCHAR) AS max_s
FROM lineitem
UNION ALL
SELECT 'l_quantity',
       CAST(count(*) AS BIGINT),
       CAST(count(*) - count(l_quantity) AS BIGINT),
       CAST(count(DISTINCT l_quantity) AS BIGINT),
       CAST(CAST(min(l_quantity) AS BIGINT) AS VARCHAR),
       CAST(CAST(max(l_quantity) AS BIGINT) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_shipdate',
       CAST(count(*) AS BIGINT),
       CAST(count(*) - count(l_shipdate) AS BIGINT),
       CAST(count(DISTINCT l_shipdate) AS BIGINT),
       CAST(min(l_shipdate) AS VARCHAR),
       CAST(max(l_shipdate) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_returnflag',
       CAST(count(*) AS BIGINT),
       CAST(count(*) - count(l_returnflag) AS BIGINT),
       CAST(count(DISTINCT l_returnflag) AS BIGINT),
       min(l_returnflag),
       max(l_returnflag)
FROM lineitem
""",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile (row count, null count, distinct
    count, min/max) for a representative column of each type class —
    the stats pass every ingest pipeline runs for planner statistics
    and data-quality gates. ONE scan: all 4x4 aggregates compute in a
    single agg row (partial aggregation map-side), then ``stack``
    unpivots to the (col_name, stats) long format — vs the oracle's
    4-scan UNION ALL, same values. Min/max serialize to strings so one
    schema carries every column type; the double column (l_quantity,
    integer-valued in TPC-H) serializes through BIGINT so both engines
    render identically."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("l_orderkey").alias("nn_ok"),
        F.countDistinct("l_orderkey").alias("nd_ok"),
        F.min("l_orderkey").cast("string").alias("mn_ok"),
        F.max("l_orderkey").cast("string").alias("mx_ok"),
        F.count("l_quantity").alias("nn_q"),
        F.countDistinct("l_quantity").alias("nd_q"),
        F.min("l_quantity").cast("long").cast("string").alias("mn_q"),
        F.max("l_quantity").cast("long").cast("string").alias("mx_q"),
        F.count("l_shipdate").alias("nn_sd"),
        F.countDistinct("l_shipdate").alias("nd_sd"),
        F.min("l_shipdate").cast("string").alias("mn_sd"),
        F.max("l_shipdate").cast("string").alias("mx_sd"),
        F.count("l_returnflag").alias("nn_rf"),
        F.countDistinct("l_returnflag").alias("nd_rf"),
        F.min("l_returnflag").alias("mn_rf"),
        F.max("l_returnflag").alias("mx_rf"),
    )
    return agg.select(
        F.expr(
            "stack(4,"
            " 'l_orderkey',  n - nn_ok, nd_ok, mn_ok, mx_ok,"
            " 'l_quantity',  n - nn_q,  nd_q,  mn_q,  mx_q,"
            " 'l_shipdate',  n - nn_sd, nd_sd, mn_sd, mx_sd,"
            " 'l_returnflag',n - nn_rf, nd_rf, mn_rf, mx_rf)"
            " AS (col_name, n_nulls, n_distinct, min_s, max_s)"
        ),
        F.col("n").alias("n_rows"),
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s")


@query(
    "q_winsorize",
    oracle="""
WITH pct AS (
  SELECT l_returnflag,
         CAST(round(quantile_cont(l_quantity, 0.05) * 100) AS BIGINT) AS p05c,
         CAST(round(quantile_cont(l_quantity, 0.95) * 100) AS BIGINT) AS p95c
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN CAST(round(l_quantity * 100) AS BIGINT) < p05c
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(sum(CASE WHEN CAST(round(l_quantity * 100) AS BIGINT) > p95c
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
       CAST(sum(least(greatest(CAST(round(l_quantity * 100) AS BIGINT), p05c), p95c))
            AS BIGINT) AS sum_wins_c
FROM lineitem l JOIN pct ON l.l_returnflag = pct.l_returnflag
GROUP BY l.l_returnflag
""",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the outlier-robust feature transform: clip each
    group's values to its exact [p05, p95] percentile band and report
    the clipped-tail counts plus the winsorized sum (integer
    centi-units, the rounding.py discipline, so the sum is
    order-independent and engine-exact even though the interpolated
    percentile is a general double). The percentile CUTOFFS are fenced
    to the same centi-unit integer grid on both engines before any
    comparison — Spark ``percentile()`` and DuckDB ``quantile_cont()``
    are not guaranteed ulp-identical in their interpolation, so the
    clip predicate and the clipped value both work on
    ``round(x * 100)`` integers, never raw doubles.

    Shape: one per-group exact-percentile pass (distributed per-group
    sort), then the 3-row percentile table broadcasts back over the
    scan for the clip + aggregate — two scans, one tiny broadcast, no
    row ever leaves its group's partition twice. At 100 TB the
    percentile pass is the cost; swap in the q_agg_approx_quantile
    sketch for a single-scan approximate variant."""
    li = load(spark, sf_dir, "lineitem")
    pct = li.groupBy("l_returnflag").agg(
        F.expr(
            "CAST(round(percentile(l_quantity, 0.05) * 100) AS BIGINT)"
        ).alias("p05c"),
        F.expr(
            "CAST(round(percentile(l_quantity, 0.95) * 100) AS BIGINT)"
        ).alias("p95c"),
    )
    qty_c = F.expr("CAST(round(l_quantity * 100) AS BIGINT)")
    return (
        li.join(F.broadcast(pct), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(qty_c < F.col("p05c"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_lo"),
            F.sum(F.when(qty_c > F.col("p95c"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_hi"),
            F.sum(F.least(F.greatest(qty_c, F.col("p05c")), F.col("p95c")))
            .cast("long")
            .alias("sum_wins_c"),
        )
    )


@query(
    "q_chi2_independence",
    oracle="""
WITH cell AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
),
rowt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS r FROM cell GROUP BY lang),
colt AS (SELECT source, CAST(sum(n) AS BIGINT) AS c FROM cell GROUP BY source),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_lang,
               CAST(count(DISTINCT source) AS BIGINT) AS n_source
        FROM cell),
term AS (
  SELECT CAST(round(
           1000000.0
             * (CAST(big_n AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
             * (CAST(big_n AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
             / (CAST(big_n AS DOUBLE) * r * c)
         ) AS BIGINT) AS t_micro
  FROM cell JOIN rowt USING (lang) JOIN colt USING (source) CROSS JOIN tot
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST((max(tot.n_lang) - 1) * (max(tot.n_source) - 1) AS BIGINT) AS dof,
       CAST(sum(t_micro) AS BIGINT) AS chi2_micro
FROM term CROSS JOIN tot
""",
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between the ``lang`` and
    ``source`` labels — the contingency-table screen a curator runs to
    see whether sources are language-skewed (a strong association
    means per-source language filters can't be tuned globally).

    Cross-engine determinism without float summation: each cell's
    contribution (N·n - r·c)²/(N·r·c) — the (o-e)²/e term with all
    denominators cleared to one division — is computed as ONE double
    expression per cell (every operand CAST to DOUBLE first, so both
    engines run the identical IEEE op sequence and no int64 product
    can overflow at any corpus size) and immediately rounded to
    integer MICROS; the cross-cell SUM is then pure BIGINT, so
    accumulation order — the one thing two engines will never agree
    on — cannot move the result. chi2 = chi2_micro/1e6. Ceiling: the
    int64 sum holds chi2 ≤ 9.2e12 (chi2 is bounded by N·min(L,S)-ish
    only under near-perfect association; at a corpus where that
    binds, drop the scale to millis — the per-term double is
    unchanged).

    Shape: one map-side-combinable (lang, source) count, two tiny
    margin aggregates, a 1-row total, and broadcast joins back onto
    the ≤|langs|·|sources| cell table — at 100 TB only the first
    aggregate touches the corpus; everything after is O(cells)."""
    cell = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("n"))
    )
    rowt = cell.groupBy("lang").agg(F.sum("n").cast("long").alias("r"))
    colt = cell.groupBy("source").agg(F.sum("n").cast("long").alias("c"))
    tot = cell.agg(
        F.sum("n").cast("long").alias("big_n"),
        F.count_distinct("lang").cast("long").alias("n_lang"),
        F.count_distinct("source").cast("long").alias("n_source"),
    )
    term = (
        cell.join(F.broadcast(rowt), "lang")
        .join(F.broadcast(colt), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(round(1000000.0"
                " * (CAST(big_n AS DOUBLE) * n - CAST(r AS DOUBLE) * c)"
                " * (CAST(big_n AS DOUBLE) * n - CAST(r AS DOUBLE) * c)"
                " / (CAST(big_n AS DOUBLE) * r * c)) AS BIGINT)"
            ).alias("t_micro"),
            "n_lang",
            "n_source",
        )
    )
    return term.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.expr("CAST((max(n_lang) - 1) * (max(n_source) - 1) AS BIGINT)").alias("dof"),
        F.sum("t_micro").cast("long").alias("chi2_micro"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov statistic
# ---------------------------------------------------------------------------

KS_TYPE_A, KS_TYPE_B = "click", "purchase"


def _value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cent-quantized two-sample value histogram shared by q_ks_test
    and q_mann_whitney: per distinct cent value, the two samples'
    counts. Quantizing to integer cents bounds the histogram by the
    value RANGE (here ≤ ~49k cent levels), not by N — the binned-ECDF
    form production drift monitors run, and exactly lossless when the
    data are 2-dp to begin with (this fixture's are). Parked: the
    cumulative window and the totals are two consumers and
    Catalyst has no cross-subtree CSE — without the boundary the fact
    scan runs twice."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    return park(
        ev.select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("vc"),
            "event_type",
        )
        .groupBy("vc")
        .agg(
            F.sum(F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0))
            .cast("long")
            .alias("na"),
            F.sum(F.when(F.col("event_type") == KS_TYPE_B, 1).otherwise(0))
            .cast("long")
            .alias("nb"),
        ),
        spark,
        sf_dir,
    )


_DUCK_VALUE_HIST = f"""v AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS vc,
         CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM events
  WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
  GROUP BY vc
)"""


@query(
    "q_ks_test",
    oracle=f"""
WITH {_DUCK_VALUE_HIST},
tot AS (SELECT CAST(sum(na) AS BIGINT) AS n1, CAST(sum(nb) AS BIGINT) AS n2 FROM v),
cum AS (
  SELECT sum(na) OVER (ORDER BY vc) AS c1,
         sum(nb) OVER (ORDER BY vc) AS c2
  FROM v
)
SELECT max(n1) AS n1, max(n2) AS n2,
       CAST(max(abs(c1 * n2 - c2 * n1)) * 10000 // (max(n1) * max(n2)) AS BIGINT) AS d_bp
FROM cum CROSS JOIN tot
""",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the '{KS_TYPE_A}'
    and '{KS_TYPE_B}' value distributions — the nonparametric
    distribution-shift screen (data-drift monitoring, A/B sanity,
    "did this source's quality-score distribution move between
    snapshots"). D = sup_x |F1(x) − F2(x)| over the CENT-QUANTIZED
    ECDFs: the supremum of a step function is attained at its steps,
    so the max over distinct cent levels is exact — identical to the
    raw-value D when the data are 2-dp (this fixture's are), and the
    standard binned-KS approximation otherwise.

    Integer discipline: per distinct cent the two cumulative counts
    c1, c2 are exact BIGINTs (window sums of per-level counts), and
    |c1·n2 − c2·n1| clears both denominators — D in basis points is
    one integer floor-division at the end, so no float comparison
    exists anywhere and the oracle matches bit-for-bit.

    Shape: one map-side-combinable groupBy(cent) collapses the fact
    table to a histogram BOUNDED BY THE VALUE RANGE (≤ ~49k levels
    here, independent of N — quantization is what makes that claim
    hold for a continuous column). The cumulative window then runs
    over histogram rows only; at extreme ranges the ordered pass uses
    the q_win_running_scalable two-level prefix-sum. The histogram is
    checkpointed once for its two consumers; the builder is one
    shared definition with q_mann_whitney (_value_histogram)."""
    v = _value_histogram(spark, sf_dir)
    tot = v.agg(
        F.sum("na").cast("long").alias("n1"), F.sum("nb").cast("long").alias("n2")
    )
    w = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = v.select(
        F.sum("na").over(w).alias("c1"), F.sum("nb").over(w).alias("c2")
    )
    return cum.crossJoin(F.broadcast(tot)).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.expr(
            "CAST(max(abs(c1 * n2 - c2 * n1)) * 10000 DIV (max(n1) * max(n2)) AS BIGINT)"
        ).alias("d_bp"),
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U / rank-biserial AUC
# ---------------------------------------------------------------------------


@query(
    "q_mann_whitney",
    oracle=f"""
WITH {_DUCK_VALUE_HIST},
c AS (
  SELECT na, nb,
         coalesce(sum(na + nb) OVER (ORDER BY vc
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
  FROM v
),
tot AS (SELECT CAST(sum(na) AS BIGINT) AS n1, CAST(sum(nb) AS BIGINT) AS n2 FROM v),
s AS (SELECT CAST(sum(na * (2 * cprev + na + nb + 1)) AS BIGINT) AS r2a FROM c)
SELECT n1, n2,
       CAST(r2a - n1 * (n1 + 1) AS BIGINT) AS u2_a,
       CAST((r2a - n1 * (n1 + 1)) * 5000 // (n1 * n2) AS BIGINT) AS auc_bp
FROM s CROSS JOIN tot
""",
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U between the two event-type value samples,
    reported with its effect size: U/(n1·n2) is exactly the
    probability a random '{KS_TYPE_A}' value exceeds a random
    '{KS_TYPE_B}' value (ties half-counted) — i.e. the AUC, in basis
    points. The rank-sum complement of q_ks_test: KS finds WHERE the
    distributions differ most, U says which one is stochastically
    larger and by how much.

    Tie handling without fractions: midranks over a tie group of size
    g starting after c_prev items are (c_prev + (g+1)/2) — DOUBLED
    they are the integer 2·c_prev + g + 1, so the doubled rank sum
    2·R_A = Σ na·(2·c_prev + na + nb + 1) is exact BIGINT, and
    2·U_A = 2·R_A − n1(n1+1) stays integer end to end; AUC_bp is one
    floor division (×5000 because the numerator is doubled).
    Ranking runs over the CENT-QUANTIZED values (see q_ks_test /
    _value_histogram) — identical to raw-value ranks for 2-dp data,
    bin-midrank semantics otherwise.

    Shape: identical topology to q_ks_test — the fact collapses to a
    histogram bounded by the value range (not N), the exclusive
    running count is a histogram-sized ordered pass (two-level
    prefix-sum at extreme ranges), and the statistic is one global
    reduce row; the histogram builder is one shared definition with
    q_ks_test (_value_histogram), so the quantization rule can't drift."""
    v = _value_histogram(spark, sf_dir)
    wprev = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, -1)
    c = v.select(
        "na",
        "nb",
        F.coalesce(F.sum(F.col("na") + F.col("nb")).over(wprev), F.lit(0)).alias(
            "cprev"
        ),
    )
    tot = v.agg(
        F.sum("na").cast("long").alias("n1"), F.sum("nb").cast("long").alias("n2")
    )
    s = c.agg(
        F.sum(F.col("na") * (2 * F.col("cprev") + F.col("na") + F.col("nb") + 1))
        .cast("long")
        .alias("r2a")
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        F.expr("CAST(r2a - n1 * (n1 + 1) AS BIGINT)").alias("u2_a"),
        F.expr(
            "CAST((r2a - n1 * (n1 + 1)) * 5000 DIV (n1 * n2) AS BIGINT)"
        ).alias("auc_bp"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit conformance audit
# ---------------------------------------------------------------------------

# χ² term and expected-proportion expressions, shared verbatim with the
# oracle text. Inputs n (cell count) / nt (flag total) / digit are exact
# BIGINTs; log10 on an exact small integer ratio is one transcendental
# evaluated on identical doubles, and each cell's term is micro-rounded
# BEFORE the cross-cell window sum (the chi2/MI/PSI order-immunity
# discipline), so the per-flag χ² is an integer sum of integers.
_BENFORD_E = "(CAST(nt AS DOUBLE) * log10(1 + 1 / CAST(digit AS DOUBLE)))"
_BENFORD_TERM = (
    f"CAST(round(1000000 * ((CAST(n AS DOUBLE) - {_BENFORD_E}) "
    f"* (CAST(n AS DOUBLE) - {_BENFORD_E}) / {_BENFORD_E})) AS BIGINT)"
)
_BENFORD_PPM = "CAST(round(1000000 * log10(1 + 1 / CAST(digit AS DOUBLE))) AS BIGINT)"


@query(
    "q_benford",
    oracle=f"""
WITH d AS (
  SELECT l_returnflag,
         CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
),
t AS (
  SELECT l_returnflag, digit, n,
         CAST(sum(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS nt
  FROM d
)
SELECT l_returnflag, digit, n,
       CAST(n * 1000000 // nt AS BIGINT) AS obs_ppm,
       {_BENFORD_PPM} AS benford_ppm,
       CAST(sum({_BENFORD_TERM}) OVER (PARTITION BY l_returnflag) AS BIGINT)
         AS chi2_micro
FROM t
ORDER BY l_returnflag, digit
""",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of l_extendedprice per return
    flag: observed vs expected log10(1+1/d) digit shares, with the
    per-flag χ² conformance statistic — the classic forensic screen
    for fabricated or truncated monetary columns (amounts spanning
    several orders of magnitude follow Benford; clamped or synthetic
    generators don't, and the χ² quantifies by how much).

    Engine stability: the first significant digit is extracted from
    the DECIMAL STRING of exact integer cents (integer-to-string
    renders identically in both engines — no log10-of-a-near-power
    float edge), all shares are integer ppm via BIGINT division, and
    each χ² cell term is micro-rounded before the flag-level sum, so
    the window sum adds integers in any order.

    Shape: one map-side-combinable groupBy collapses the fact to
    ≤ |flags|·9 cells; both windows run over those cells only. At
    100 TB this is one pass and one shuffle of 27 partial rows per
    task."""
    li = load(spark, sf_dir, "lineitem")
    d = li.groupBy(
        "l_returnflag",
        F.expr(
            "CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING), 1, 1)"
            " AS BIGINT)"
        ).alias("digit"),
    ).agg(F.count("*").cast("long").alias("n"))
    t = d.withColumn(
        "nt", F.sum("n").over(Window.partitionBy("l_returnflag")).cast("long")
    )
    return t.select(
        "l_returnflag",
        "digit",
        "n",
        F.expr("CAST(n * 1000000 DIV nt AS BIGINT)").alias("obs_ppm"),
        F.expr(_BENFORD_PPM).alias("benford_ppm"),
        F.sum(F.expr(_BENFORD_TERM))
        .over(Window.partitionBy("l_returnflag"))
        .cast("long")
        .alias("chi2_micro"),
    ).orderBy("l_returnflag", "digit")


# ---------------------------------------------------------------------------
# Pairwise correlation matrix (multi-column profiling)
# ---------------------------------------------------------------------------

# The four profiled variables as exact integer quantizations. Price is
# whole DOLLARS (not cents) so the second-moment partial sums stay well
# inside the BIGINT accumulator: ~1e10 per row squared, 6e16 at sf≈1,
# 2^63 headroom to ~sf100 per partial (and Spark partials are per-task,
# far smaller). The closed-form corr is evaluated on doubles CAST from
# those exact sums — n·sxy − sx·sy products would overflow BIGINT at
# sf≈1 (n grows the product quadratically), doubles of exact < 2^53
# integers round identically in both engines.
_CORR_VARS = {
    "qty": "CAST(l_quantity AS BIGINT)",
    "price": "CAST(round(l_extendedprice) AS BIGINT)",
    "disc": "CAST(round(l_discount * 100) AS BIGINT)",
    "tax": "CAST(round(l_tax * 100) AS BIGINT)",
}
_CORR_PAIRS = [
    ("qty", "price"), ("qty", "disc"), ("qty", "tax"),
    ("price", "disc"), ("price", "tax"), ("disc", "tax"),
]


def _corr_micro(x: str, y: str) -> str:
    """Mirrored Pearson-r expression over the moment row (micro units)."""
    return (
        f"CAST(round(1000000 * ((CAST(n AS DOUBLE) * s_{x}_{y} - CAST(s_{x} AS DOUBLE) * s_{y}) "
        f"/ sqrt((CAST(n AS DOUBLE) * s_{x}_{x} - CAST(s_{x} AS DOUBLE) * s_{x}) "
        f"* (CAST(n AS DOUBLE) * s_{y}_{y} - CAST(s_{y} AS DOUBLE) * s_{y})))) AS BIGINT)"
    )


def _corr_moment_sql() -> str:
    """The shared single-row moment aggregate (engine-neutral SQL)."""
    cols = ["CAST(count(*) AS BIGINT) AS n"]
    for k, e in _CORR_VARS.items():
        cols.append(f"CAST(sum({e}) AS BIGINT) AS s_{k}")
    done = set()
    for a in _CORR_VARS:
        for b in _CORR_VARS:
            key = tuple(sorted((a, b)))
            if key in done:
                continue
            done.add(key)
            cols.append(
                f"CAST(sum({_CORR_VARS[key[0]]} * {_CORR_VARS[key[1]]}) AS BIGINT)"
                f" AS s_{key[0]}_{key[1]}"
            )
    return "SELECT " + ", ".join(cols) + " FROM lineitem"


def _corr_pair_selects() -> list[str]:
    out = []
    for a, b in _CORR_PAIRS:
        x, y = sorted((a, b))
        out.append(
            f"SELECT '{a}' AS var_x, '{b}' AS var_y, n, "
            f"{_corr_micro(x, y)} AS corr_micro FROM m"
        )
    return out


@query(
    "q_corr_matrix",
    oracle=(
        "WITH m AS (" + _corr_moment_sql() + ")\n"
        + "\nUNION ALL\n".join(_corr_pair_selects())
        + "\nORDER BY var_x, var_y"
    ),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the four numeric lineitem
    measures (quantity, price-in-dollars, discount-pct, tax-pct) in
    long form — the multi-column screen a profiler runs before feature
    selection or drift baselining; extends q_agg_stats' single-pair
    moments discipline to all C(4,2) pairs in ONE pass over the fact.

    Engine stability: 15 exact BIGINT moments (n, 4 sums, 4 squares, 6
    cross products) from integer-quantized inputs; each r is one
    mirrored double expression over those integers (products taken in
    double — the n·sxy cross terms exceed BIGINT at sf≈1), rounded to
    integer micros. Both sides expand the same pair list — the oracle
    as a 6-way UNION over the moment CTE, Spark as a stack() generator
    over the single moment row — so the matrix rows can't diverge.

    Shape: one map-side-combinable aggregation collapses the fact to a
    single 15-column row; the 6 output rows are a generator over that
    one row (the oracle's UNION re-reads a 1-row CTE; Spark's stack
    avoids re-evaluating the aggregate 6×). At 100 TB: one pass, one
    partial row per task."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    m = spark.sql(_corr_moment_sql())
    cells = []
    for a, b in _CORR_PAIRS:
        x, y = sorted((a, b))
        cells += [f"'{a}'", f"'{b}'", "n", _corr_micro(x, y)]
    return m.selectExpr(
        f"stack({len(_CORR_PAIRS)}, {', '.join(cells)})"
        " AS (var_x, var_y, n, corr_micro)"
    ).orderBy("var_x", "var_y")


# ---------------------------------------------------------------------------
# Spearman rank correlation (tie-corrected, cell-collapsed)
# ---------------------------------------------------------------------------

# Mirrored Pearson-on-ranks expression over the per-flag moment row.
# Products are taken in DOUBLE (n·sxy cross terms exceed BIGINT) from
# exact BIGINT sums — identical shape to q_corr_matrix's driver-proven
# _corr_micro.
_SPEARMAN_MICRO = (
    "CAST(round(1000000 * ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
    "/ sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) "
    "* (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))) AS BIGINT)"
)


@query(
    "q_spearman_corr",
    oracle=f"""
WITH cells AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2, 3
),
mx AS (SELECT flag, x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY flag, x),
my AS (SELECT flag, y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY flag, y),
rx AS (
  SELECT flag, x,
         CAST((2 * (sum(cx) OVER (PARTITION BY flag ORDER BY x) - cx) + cx + 1)
              * 1000000 // (2 * sum(cx) OVER (PARTITION BY flag)) AS BIGINT) AS rxp
  FROM mx
),
ry AS (
  SELECT flag, y,
         CAST((2 * (sum(cy) OVER (PARTITION BY flag ORDER BY y) - cy) + cy + 1)
              * 1000000 // (2 * sum(cy) OVER (PARTITION BY flag)) AS BIGINT) AS ryp
  FROM my
),
j AS (
  SELECT cells.flag, c, rxp, ryp
  FROM cells
  JOIN rx ON cells.flag = rx.flag AND cells.x = rx.x
  JOIN ry ON cells.flag = ry.flag AND cells.y = ry.y
),
m AS (
  SELECT flag, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * rxp) AS BIGINT) AS sx,
         CAST(sum(c * ryp) AS BIGINT) AS sy,
         CAST(sum(c * rxp * rxp) AS BIGINT) AS sxx,
         CAST(sum(c * ryp * ryp) AS BIGINT) AS syy,
         CAST(sum(c * rxp * ryp) AS BIGINT) AS sxy
  FROM j GROUP BY flag
)
SELECT flag AS l_returnflag, n, {_SPEARMAN_MICRO} AS rho_micro
FROM m
WHERE CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
  AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
ORDER BY l_returnflag
""",
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between quantity and
    discount per return flag — the monotone-dependence complement to
    q_corr_matrix's Pearson r (robust to any monotone transform of
    either measure; the screen for "does discount grow with volume"
    that outliers can't hijack).

    Rank computation is CELL-COLLAPSED, not row-ranked: both measures
    have small discrete domains (quantity 1..50, discount-pct 0..10),
    so the fact collapses to ≤550 (flag, x, y) cells in one pass, and
    each distinct value's tie-averaged rank derives from the CUMULATIVE
    MARGINAL counts (avg rank = ranks-before + (ties+1)/2) — a window
    over ≤50 marginal rows, never a per-row rank() over the corpus.
    That is the plan that survives 100 TB: one aggregation shuffle,
    then arithmetic on a bounded grid.

    Engine stability: 2× avg-rank is an exact integer (2·before+ties+1);
    it is quantized to integer ppm of 2n by BIGINT division, so all six
    weighted moments stay exact BIGINTs (Σc·r² ≤ n·1e12 — inside 2^63
    through ~sf3; beyond, coarsen the rank grid a decade); rho is ONE
    mirrored double expression over those integers, micro-rounded.
    Degenerate flags (zero rank variance) are excluded by the double
    predicate on the same exact inputs."""
    li = load(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("y"),
    ).agg(F.count("*").cast("long").alias("c"))

    def ranks(col: str, cnt: str, out: str) -> DataFrame:
        marg = cells.groupBy("flag", col).agg(F.sum("c").cast("long").alias(cnt))
        cum = Window.partitionBy("flag").orderBy(col)
        tot = Window.partitionBy("flag")
        return marg.select(
            "flag",
            col,
            (
                (
                    2 * (F.sum(cnt).over(cum) - F.col(cnt))
                    + F.col(cnt)
                    + 1
                )
                * 1000000
            )
            .cast("long")
            .alias("_num"),
            (2 * F.sum(cnt).over(tot)).cast("long").alias("_den"),
        ).select(
            "flag", col, F.expr("CAST(_num DIV _den AS BIGINT)").alias(out)
        )

    rx = ranks("x", "cx", "rxp")
    ry = ranks("y", "cy", "ryp")
    j = cells.join(F.broadcast(rx), ["flag", "x"]).join(
        F.broadcast(ry), ["flag", "y"]
    )
    m = j.groupBy("flag").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("rxp")).cast("long").alias("sx"),
        F.sum(F.col("c") * F.col("ryp")).cast("long").alias("sy"),
        F.sum(F.col("c") * F.col("rxp") * F.col("rxp")).cast("long").alias("sxx"),
        F.sum(F.col("c") * F.col("ryp") * F.col("ryp")).cast("long").alias("syy"),
        F.sum(F.col("c") * F.col("rxp") * F.col("ryp")).cast("long").alias("sxy"),
    )
    return (
        m.filter(
            (F.expr("CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx") > 0)
            & (F.expr("CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy") > 0)
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            "n",
            F.expr(_SPEARMAN_MICRO).alias("rho_micro"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Kendall tau-b (tie-corrected, cell-collapsed concordance)
# ---------------------------------------------------------------------------

# Mirrored tau-b over the per-flag pair/tie counts. conc/disc/n0/n1/n2
# are exact BIGINTs; only the final ratio is double.
_TAU_MICRO = (
    "CAST(round(1000000 * (CAST(conc AS DOUBLE) - disc) "
    "/ sqrt((CAST(n0 AS DOUBLE) - n1) * (CAST(n0 AS DOUBLE) - n2))) AS BIGINT)"
)


@query(
    "q_kendall_tau",
    oracle=f"""
WITH cells AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2, 3
),
cd AS (
  SELECT a.flag,
         CAST(sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
         CAST(sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc
  FROM cells a JOIN cells b ON a.flag = b.flag AND a.x < b.x
  GROUP BY a.flag
),
tx AS (
  SELECT flag, CAST(sum(cx * (cx - 1) // 2) AS BIGINT) AS n1
  FROM (SELECT flag, x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY flag, x)
  GROUP BY flag
),
ty AS (
  SELECT flag, CAST(sum(cy * (cy - 1) // 2) AS BIGINT) AS n2
  FROM (SELECT flag, y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY flag, y)
  GROUP BY flag
),
nn AS (
  SELECT flag, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c) * (sum(c) - 1) // 2 AS BIGINT) AS n0
  FROM cells GROUP BY flag
)
SELECT flag AS l_returnflag, n, conc, disc, {_TAU_MICRO} AS tau_micro
FROM nn JOIN cd USING (flag) JOIN tx USING (flag) JOIN ty USING (flag)
WHERE n0 > n1 AND n0 > n2
ORDER BY l_returnflag
""",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kendall tau-b between quantity and discount per
    return flag — the concordance companion to q_spearman_corr (tau
    weights each PAIR of observations equally, so it is the robust
    choice when the question is "how often does more volume come with
    more discount" rather than "how linear are the ranks").

    The O(n²) pair enumeration is CELL-COLLAPSED: the fact collapses
    to ≤550 (flag, x, y) cells, and concordant/discordant pair mass
    comes from the cell-grid self-join restricted to a.x < b.x (each
    unordered distinct-x pair counted exactly once, weight c_a·c_b) —
    ≤550² bounded combinations per flag regardless of corpus size,
    against the row-pair form's N². Tie corrections n1/n2 come from
    the marginal counts (Σt(t−1)/2), n0 = n(n−1)/2 from the total.

    Engine stability: conc, disc, n0, n1, n2 are exact BIGINTs (pair
    masses ≤ n²/2 ≈ 2e12 at sf≈1 — inside 2^63 through ~sf1000);
    tau-b is ONE mirrored double expression over them, micro-rounded;
    degenerate flags are excluded by the pure-integer predicates
    n0 > n1 AND n0 > n2."""
    li = load(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("y"),
    ).agg(F.count("*").cast("long").alias("c"))
    a, b = cells.alias("a"), cells.alias("b")
    cd = (
        a.join(
            F.broadcast(b),
            (F.col("a.flag") == F.col("b.flag")) & (F.col("a.x") < F.col("b.x")),
        )
        .groupBy(F.col("a.flag").alias("flag"))
        .agg(
            F.sum(
                F.when(F.col("a.y") < F.col("b.y"), F.col("a.c") * F.col("b.c"))
                .otherwise(F.lit(0))
            ).cast("long").alias("conc"),
            F.sum(
                F.when(F.col("a.y") > F.col("b.y"), F.col("a.c") * F.col("b.c"))
                .otherwise(F.lit(0))
            ).cast("long").alias("disc"),
        )
    )
    tx = (
        cells.groupBy("flag", "x")
        .agg(F.sum("c").cast("long").alias("cx"))
        .groupBy("flag")
        .agg(F.expr("CAST(sum(cx * (cx - 1) DIV 2) AS BIGINT)").alias("n1"))
    )
    ty = (
        cells.groupBy("flag", "y")
        .agg(F.sum("c").cast("long").alias("cy"))
        .groupBy("flag")
        .agg(F.expr("CAST(sum(cy * (cy - 1) DIV 2) AS BIGINT)").alias("n2"))
    )
    nn = cells.groupBy("flag").agg(
        F.sum("c").cast("long").alias("n"),
        F.expr("CAST(sum(c) * (sum(c) - 1) DIV 2 AS BIGINT)").alias("n0"),
    )
    return (
        nn.join(cd, "flag").join(tx, "flag").join(ty, "flag")
        .filter((F.col("n0") > F.col("n1")) & (F.col("n0") > F.col("n2")))
        .select(
            F.col("flag").alias("l_returnflag"),
            "n", "conc", "disc",
            F.expr(_TAU_MICRO).alias("tau_micro"),
        )
        .orderBy("l_returnflag")
    )
