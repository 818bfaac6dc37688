"""Round-6 seventh batch: SRM guardrail, CMS error bands, interval
union, windowed funnel, runs test, PQ-ADC recall. Python recompute at
sf0.001."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from kafka_to_parquet_spark.tables import load


def rnd(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def test_srm_check_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.llm.pipeline import SRM_EXPECTED, SRM_CHI2_CRIT_MICRO

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang").collect()

    def split_of(doc_id: int) -> str:
        b = (doc_id * 2654435761) % 1000
        return "train" if b < 800 else ("val" if b < 900 else "test")

    obs: Counter = Counter()
    tot: Counter = Counter()
    for r in docs:
        obs[(r.lang, split_of(r.doc_id))] += 1
        tot[r.lang] += 1
    rows = {r.lang: r for r in run("q_srm_check").collect()}
    assert set(rows) == set(tot)
    for lang, r in rows.items():
        n = tot[lang]
        chi2 = sum(
            rnd(1e6 * float(1000 * obs.get((lang, s), 0) - n * er) ** 2
                / (1000.0 * n * er))
            for s, er in SRM_EXPECTED.items()
        )
        assert r.n_docs == n
        assert r.chi2_micro == chi2
        assert r.srm_flag == (1 if chi2 > SRM_CHI2_CRIT_MICRO else 0)


def test_cms_error_bands_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.llm.corpus_stats import (
        CMS_COEFFS, CMS_W, H31_P,
    )
    import hashlib

    docs = load(spark, sf_dir, "documents").select("text").collect()
    cnt: Counter = Counter()
    for r in docs:
        cnt.update(t for t in r.text.lower().split() if t)

    def h31(w: str) -> int:
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % H31_P

    sketch: Counter = Counter()
    cells = {}
    for w, c in cnt.items():
        hw = h31(w)
        cs = [((a * hw + b) % H31_P) % CMS_W for a, b in CMS_COEFFS]
        cells[w] = cs
        for j, cell in enumerate(cs):
            sketch[(j, cell)] += c
    bands = defaultdict(lambda: [0, 0, 0, 0])  # n_words, n_exact, mass, over
    for w, c in cnt.items():
        est = min(sketch[(j, cell)] for j, cell in enumerate(cells[w]))
        band = c.bit_length() - 1
        b = bands[band]
        b[0] += 1
        b[1] += 1 if est == c else 0
        b[2] += c
        b[3] += est - c
    rows = {r.band: r for r in run("q_cms_error_bands").collect()}
    assert set(rows) == set(bands)
    for band, (nw, nx, mass, over) in bands.items():
        r = rows[band]
        assert (r.n_words, r.n_exact, r.exact_mass) == (nw, nx, mass)
        assert r.over_ppm == over * 1000000 // mass


def test_interval_union_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.timeseries import DWELL_SECS

    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((math.floor(r.ts.timestamp()), r.event_id))
    rows = {r.user_id: r for r in run("q_interval_union").collect()}
    assert set(rows) == set(by_user)
    for u, pts in by_user.items():
        pts.sort()
        islands = []
        for es, _ in pts:
            if islands and es < islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], es + DWELL_SECS)
                islands[-1][2] += 1
            else:
                islands.append([es, es + DWELL_SECS, 1])
        r = rows[u]
        assert r.n_events == len(pts)
        assert r.n_islands == len(islands)
        assert r.coverage_secs == sum(e - s for s, e, _ in islands)
        # coverage can never exceed the naive sum of dwells, and merging
        # strictly reduces it whenever islands < events
        assert r.coverage_secs <= len(pts) * DWELL_SECS


def test_funnel_window_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.timeseries import CONV_WINDOW_SECS

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        if r.event_type in ("signup", "purchase"):
            by_user[r.user_id].append(
                (math.floor(r.ts.timestamp()), r.event_id, r.event_type)
            )
    want: Counter = Counter()
    conv: Counter = Counter()
    for u, seq in by_user.items():
        seq.sort()
        for i, (es, _, t) in enumerate(seq):
            if t != "signup":
                continue
            nxt = min(
                (es2 for es2, _, t2 in seq[i + 1:] if t2 == "purchase"),
                default=None,
            )
            d = es // 86400
            want[d] += 1
            if nxt is not None and nxt - es <= CONV_WINDOW_SECS:
                conv[d] += 1
    rows = {r.dnum: r for r in run("q_funnel_window").collect()}
    assert set(rows) == set(want)
    for d, r in rows.items():
        assert r.n_signups == want[d]
        assert r.n_conv == conv.get(d, 0)
        assert r.cvr_ppm == conv.get(d, 0) * 1000000 // want[d]


def test_runs_test_matches_python(run, spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", "value"
    ).collect()
    by_type = defaultdict(list)
    for r in ev:
        by_type[r.event_type].append(
            (math.floor(r.ts.timestamp()), r.event_id, rnd(r.value * 100))
        )
    rows = {r.event_type: r for r in run("q_runs_test").collect()}
    assert set(rows) == set(by_type)
    for t, seq in by_type.items():
        seq.sort()
        n = len(seq)
        sc = sum(c for _, _, c in seq)
        signs = [1 if n * c > sc else 0 for _, _, c in seq]
        runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
        n1 = sum(signs)
        n2 = n - n1
        r = rows[t]
        assert (r.n, r.n1, r.runs) == (n, n1, runs)
        if n1 > 0 and n2 > 0 and 2 * n1 * n2 > n:
            mu = 1 + 2 * float(n1) * n2 / n
            var = 2 * float(n1) * n2 * (2 * float(n1) * n2 - n) / (
                float(n) * n * (n - 1)
            )
            assert r.z_micro == rnd(1e6 * (runs - mu) / math.sqrt(var))
        else:
            assert r.z_micro is None


def test_pq_adc_recall_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.llm.similarity import (
        N_QUERIES, PQ_K, PQ_M, PQ_SEED_MOD, PQ_SUBDIM, TOP_K,
    )

    em = load(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in em}
    cents = {
        vid: v for vid, v in vecs.items()
        if vid % PQ_SEED_MOD == 0 and vid < PQ_SEED_MOD * PQ_K
    }

    def subd(a, b, s):
        lo = s * PQ_SUBDIM
        return round(
            sum((x - y) ** 2 for x, y in zip(a[lo:lo + PQ_SUBDIM], b[lo:lo + PQ_SUBDIM])),
            6,
        )

    codes = {
        vid: [min((subd(v, cv, s), cid) for cid, cv in cents.items())[1]
              for s in range(PQ_M)]
        for vid, v in vecs.items()
    }
    rows = {r.q_id: r for r in run("q_pq_adc_recall").collect()}
    assert set(rows) == set(range(N_QUERIES))
    for qid in range(N_QUERIES):
        qv = vecs[qid]
        lut = {(s, cid): math.floor(subd(qv, cv, s) * 1e6 + 0.5)
               for s in range(PQ_M) for cid, cv in cents.items()}
        adc = sorted(
            (sum(lut[(s, codes[vid][s])] for s in range(PQ_M)), vid)
            for vid in vecs if vid != qid
        )[:TOP_K]
        exact = sorted(
            (round(sum((x - y) ** 2 for x, y in zip(qv, vecs[vid])), 6), vid)
            for vid in vecs if vid != qid
        )[:TOP_K]
        hits = {v for _, v in adc} & {v for _, v in exact}
        r = rows[qid]
        assert r.n_hits == len(hits)
        assert r.recall_bp == len(hits) * 10000 // TOP_K
