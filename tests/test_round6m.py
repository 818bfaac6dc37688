"""Round-6 thirteenth batch: MinHash estimator-error audit, 3-step
windowed funnel. Python recompute at sf0.001."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from kafka_to_parquet_spark.tables import load


def h31(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 2_147_483_647


def test_minhash_est_err_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.llm.minhash import (
        MAX_BAND_BUCKET, MH_BANDS, MH_COEFFS, MH_NUM_HASHES, MH_P,
    )

    SHINGLE_N = 3  # word-3-gram shingles (llm/dedup.py shingled_documents)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    coeffs = MH_COEFFS
    sh: dict = {}
    sig: dict = {}
    for r in docs:
        toks = r.text.lower().split()
        ss = {" ".join(toks[i:i + SHINGLE_N])
              for i in range(len(toks) - SHINGLE_N + 1)}
        if not ss:
            continue
        sh[r.doc_id] = ss
        hs = [h31(s) for s in ss]
        sig[r.doc_id] = [min((a * h + b) % MH_P for h in hs) for a, b in coeffs]
    buckets: defaultdict = defaultdict(list)
    for d, m in sig.items():
        for j in range(MH_BANDS):
            buckets[(j, m[2 * j] * MH_P + m[2 * j + 1])].append(d)
    cand = set()
    for ds in buckets.values():
        if len(ds) > MAX_BAND_BUCKET:
            continue
        for a in ds:
            for b in ds:
                if a < b:
                    cand.add((a, b))
    cells: defaultdict = defaultdict(list)
    for a, b in cand:
        agree = sum(1 for i in range(MH_NUM_HASHES) if sig[a][i] == sig[b][i])
        est = agree * 10000 // MH_NUM_HASHES
        inter = len(sh[a] & sh[b])
        exact = inter * 10000 // (len(sh[a]) + len(sh[b]) - inter)
        cells[exact // 1000].append(abs(est - exact))
    got = {r.decile: (r.n_pairs, r.mean_abs_err_bp, r.max_abs_err_bp)
           for r in run("q_minhash_est_err").collect()}
    assert got == {d: (len(v), sum(v) // len(v), max(v))
                   for d, v in cells.items()}
    # high-similarity candidates must exist, and the estimator's mean
    # error there must sit inside a few sigma of sqrt(J(1-J)/16)
    hi = max(got)
    assert hi >= 8
    assert got[hi][1] < 1500


def test_funnel3_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.timeseries import F3_W

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type").collect()
    by_user: defaultdict = defaultdict(list)
    for r in ev:
        if r.event_type in ("signup", "view", "purchase"):
            by_user[r.user_id].append(
                (math.floor(r.ts.timestamp()), r.event_id, r.event_type))
    want: defaultdict = defaultdict(lambda: [0, 0, 0])
    for seq in by_user.values():
        seq.sort()
        for es, eid, typ in seq:
            if typ != "signup":
                continue
            day = es // 86400
            want[day][0] += 1
            views = [(e2, i2) for e2, i2, t2 in seq
                     if t2 == "view" and (e2, i2) > (es, eid)
                     and e2 - es <= F3_W]
            if not views:
                continue
            want[day][1] += 1
            v_es, v_id = min(views)
            if any(t3 == "purchase" and (e3, i3) > (v_es, v_id)
                   and e3 - v_es <= F3_W
                   for e3, i3, t3 in seq):
                want[day][2] += 1
    got = {r.dnum: (r.n_signups, r.n_step2, r.n_step3, r.cvr2_ppm, r.cvr3_ppm)
           for r in run("q_funnel3").collect()}
    assert got == {
        d: (n, s2, s3, s2 * 1_000_000 // n, s3 * 1_000_000 // n)
        for d, (n, s2, s3) in want.items()
    }
    tot = [sum(v[i] for v in want.values()) for i in range(3)]
    assert tot[0] > tot[1] > tot[2] > 0  # a real funnel narrows
