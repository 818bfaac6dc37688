"""Round-7 session tests: the numpy sequential-fold helper behind
q_semdedup's applyInPandas prune, and its bit-parity with the SQL
fold twins (dot_expr / duck_dot)."""

from __future__ import annotations

import random

import duckdb
import numpy as np
from pyspark.sql import functions as F

from kafka_to_parquet_spark.functions.vectors import (
    dot_expr,
    duck_dot,
    np_seq_dot,
)


def _py_fold(prods) -> float:
    s = 0.0
    for p in prods:
        s = s + float(p)
    return s


def test_np_cumsum_matches_sequential_fold():
    """np_seq_dot (cumsum) must accumulate in the exact IEEE op order
    of the SQL engines' sequential left folds — np.dot/einsum's
    pairwise summation would not. Bitwise comparison, not isclose:
    a single reordered add can flip q_semdedup's threshold compare."""
    rng = random.Random(7)
    for _ in range(200):
        n = rng.randint(1, 80)
        a = np.array([rng.uniform(-2, 2) for _ in range(n)], dtype=np.float32)
        b = np.array([rng.uniform(-2, 2) for _ in range(n)], dtype=np.float32)
        prods = a.astype(np.float64) * b.astype(np.float64)
        got = float(np_seq_dot(prods))
        want = _py_fold(prods)
        assert np.float64(got).tobytes() == np.float64(want).tobytes()
    # batched form (the Gram-matrix path): last axis reduced per pair
    m = np.array(
        [[rng.uniform(-2, 2) for _ in range(16)] for _ in range(5)],
        dtype=np.float32,
    ).astype(np.float64)
    gram = np_seq_dot(m[:, None, :] * m[None, :, :])
    for i in range(5):
        for j in range(5):
            want = _py_fold(m[i] * m[j])
            assert np.float64(gram[i, j]).tobytes() == np.float64(want).tobytes()


def test_np_seq_dot_matches_spark_and_duckdb_folds(spark):
    """Cross-engine leg: the same float32 vectors through Spark's
    aggregate() fold, DuckDB's list_reduce fold, and np_seq_dot give
    bitwise-identical doubles."""
    rng = random.Random(11)
    vecs = [
        [rng.uniform(-2, 2) for _ in range(64)] for _ in range(20)
    ]
    f32 = [[float(x) for x in np.array(v, dtype=np.float32)] for v in vecs]
    df = spark.createDataFrame(
        [(i, f32[i], f32[(i + 1) % 20]) for i in range(20)],
        "i int, a array<float>, b array<float>",
    )
    spark_dots = {
        r.i: r.d
        for r in df.select("i", F.expr(dot_expr("a", "b")).alias("d")).collect()
    }
    con = duckdb.connect()
    for i in range(20):
        fa, fb = f32[i], f32[(i + 1) % 20]
        # literals parse as DECIMAL in DuckDB and DECIMAL→FLOAT rounds
        # differently than DOUBLE→FLOAT — route through DOUBLE[] (the
        # parquet path never sees literals, so this is harness-only)
        duck = con.execute(
            f"SELECT {duck_dot('$a$', '$b$')}".replace(
                "$a$", f"CAST(CAST({fa} AS DOUBLE[]) AS FLOAT[])"
            ).replace("$b$", f"CAST(CAST({fb} AS DOUBLE[]) AS FLOAT[])")
        ).fetchone()[0]
        prods = np.array(fa, dtype=np.float32).astype(np.float64) * np.array(
            fb, dtype=np.float32
        ).astype(np.float64)
        mine = float(np_seq_dot(prods))
        assert np.float64(mine).tobytes() == np.float64(duck).tobytes()
        assert np.float64(mine).tobytes() == np.float64(spark_dots[i]).tobytes()


# ---------------------------------------------------------------------------
# Python recomputes for the five round-7 declarations (sf0.001)
# ---------------------------------------------------------------------------

import hashlib
import math
from collections import Counter, defaultdict

from kafka_to_parquet_spark.tables import load


def _h31(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 2_147_483_647


def test_graph_kcore_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.batch7 import KCORE_Q, KCORE_ROUNDS

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").collect()
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").collect()
    cust = {r.o_orderkey: r.o_custkey for r in od}
    e0 = {(cust[r.l_orderkey] * 2, r.l_suppkey * 2 + 1) for r in li}
    edges = e0 | {(d, s) for s, d in e0}
    nbrs: defaultdict = defaultdict(set)
    for s, d in edges:
        nbrs[s].add(d)
    degs = sorted(len(v) for v in nbrs.values())
    kk = degs[math.ceil(KCORE_Q * len(degs)) - 1]
    alive = set(nbrs)
    deg = {}
    for _ in range(KCORE_ROUNDS):
        deg = {
            n: sum(1 for m in nbrs[n] if m in alive)
            for n in alive
            if any(m in alive for m in nbrs[n])
        }
        alive = {n for n, d in deg.items() if d >= kk}
    want = sorted((n, deg[n]) for n in alive)
    got = [(r.node, r.degree) for r in run("q_graph_kcore").collect()]
    assert got == want
    # non-degenerate: the peel must actually remove nodes
    assert 0 < len(alive) < len(nbrs)


def test_search_phrase_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.batch7 import PHRASE_TOP_DOCS

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    bg: Counter = Counter()
    per_doc: defaultdict = defaultdict(Counter)
    for r in docs:
        toks = [t for t in r.text.lower().split() if t]
        for i in range(len(toks) - 1):
            pair = (toks[i], toks[i + 1])
            bg[pair] += 1
            per_doc[r.doc_id][pair] += 1
    top = min(bg, key=lambda p: (-bg[p], p[0], p[1]))
    rows = sorted(
        ((d, c[top]) for d, c in per_doc.items() if c[top] > 0),
        key=lambda t: (-t[1], t[0]),
    )[:PHRASE_TOP_DOCS]
    got = [
        (r.doc_id, r.word1, r.word2, r.occurrences)
        for r in run("q_search_phrase").collect()
    ]
    assert got == [(d, top[0], top[1], c) for d, c in rows]


def test_multimodal_hashdup_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.batch7 import HASHDUP_HEADER_BYTES

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    fam: defaultdict = defaultdict(list)
    for r in docs:
        b = r.text.encode("utf-8")
        fam[hashlib.md5(b[:HASHDUP_HEADER_BYTES]).hexdigest()].append(
            (r.doc_id, hashlib.md5(b).hexdigest(), len(b))
        )
    want = sorted(
        (
            h,
            len(v),
            len({f for _, f, _ in v}),
            min(d for d, _, _ in v),
            min(n for _, _, n in v),
            max(n for _, _, n in v),
        )
        for h, v in fam.items()
        if len(v) >= 2
    )
    got = [
        (r.header_md5, r.n_copies, r.n_distinct_payloads, r.keep_doc,
         r.min_bytes, r.max_bytes)
        for r in run("q_multimodal_hashdup").collect()
    ]
    assert got == want
    assert want, "fixture must produce at least one header family"


def test_keyness_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.batch7 import KEYNESS_TOP

    docs = load(spark, sf_dir, "documents").select("source", "text").collect()
    sw: Counter = Counter()
    for r in docs:
        for t in r.text.lower().split():
            if t:
                sw[(r.source, t)] += 1
    stot: Counter = Counter()
    wtot: Counter = Counter()
    for (s, w), a in sw.items():
        stot[s] += a
        wtot[w] += a
    nt = sum(sw.values())
    scored: defaultdict = defaultdict(list)
    for (s, w), a in sw.items():
        mu = math.floor(
            (
                math.log((a + 1.0) / (stot[s] - a + 1.0))
                - math.log((wtot[w] - a + 1.0) / (nt - stot[s] - (wtot[w] - a) + 1.0))
            )
            * 1000000
            + 0.5
        )
        scored[s].append((w, a, mu))
    want = []
    for s in sorted(scored):
        ranked = sorted(scored[s], key=lambda t: (-t[2], t[0]))[:KEYNESS_TOP]
        want += [(s, w, a, mu) for w, a, mu in ranked]
    got = [
        (r.source, r.word, r.tf, r.keyness_mu)
        for r in run("q_keyness").collect()
    ]
    assert got == want


def test_minhash_bbit_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.llm.minhash import (
        MAX_BAND_BUCKET,
        MH_BANDS,
        MH_NUM_HASHES,
        MH_COEFFS,
        MH_P,
    )

    SHINGLE_N = 3
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
        hs = [_h31(s) for s in ss]
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
    scale = 10000 // MH_NUM_HASHES
    cells: defaultdict = defaultdict(list)
    for a, b in cand:
        agree = sum(
            1 for i in range(MH_NUM_HASHES) if sig[a][i] % 2 == sig[b][i] % 2
        )
        est = (2 * agree - MH_NUM_HASHES) * scale
        inter = len(sh[a] & sh[b])
        exact = inter * 10000 // (len(sh[a]) + len(sh[b]) - inter)
        cells[exact // 1000].append(abs(est - exact))
    got = {r.decile: (r.n_pairs, r.mean_abs_err_bp, r.max_abs_err_bp)
           for r in run("q_minhash_bbit").collect()}
    assert got == {d: (len(v), sum(v) // len(v), max(v))
                   for d, v in cells.items()}


# ---------------------------------------------------------------------------
# Python recomputes for the second round-7 batch (sf0.001)
# ---------------------------------------------------------------------------


def test_graph_label_prop_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.batch7 import LPA_ROUNDS

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").collect()
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").collect()
    cust = {r.o_orderkey: r.o_custkey for r in od}
    e0 = {(cust[r.l_orderkey] * 2, r.l_suppkey * 2 + 1) for r in li}
    edges = e0 | {(d, s) for s, d in e0}
    nbrs: defaultdict = defaultdict(list)
    for s, d in edges:
        nbrs[d].append(s)
    lab = {n: n for n in nbrs}
    for _ in range(LPA_ROUNDS):
        new = {}
        for n, ins in nbrs.items():
            cnt = Counter(lab[m] for m in ins)
            new[n] = min(cnt, key=lambda v: (-cnt[v], v))
        lab = new
    got = sorted((r.node, r.community) for r in run("q_graph_label_prop").collect())
    assert got == sorted(lab.items())
    # non-degenerate: labels actually coalesce into communities
    assert len(set(lab.values())) < len(lab)


def test_ts_sax_motif_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.batch7 import (
        SAX_ALPHABET,
        SAX_MOTIF_LEN,
        SAX_TOP,
    )

    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value").collect()
    hourly: defaultdict = defaultdict(int)
    for r in ev:
        # r.ts.timestamp() inverts collect()'s local-naive conversion on
        # any host TZ (the test_round6* convention); truncating the local
        # naive datetime would shift buckets on non-UTC hosts.
        hr = int(r.ts.timestamp()) // 3600
        hourly[(r.event_type, hr)] += int(math.floor(r.value * 100 + 0.5))
    by_type: defaultdict = defaultdict(list)
    for (et, hr), cents in hourly.items():
        by_type[et].append((hr, cents))
    results = []
    for et, series in by_type.items():
        # SQL-standard ntile over (cents, hr): first (N mod g) groups
        # take the extra row
        order = sorted(series, key=lambda t: (t[1], t[0]))
        n = len(order)
        base, rem = divmod(n, SAX_ALPHABET)
        letters = {}
        idx = 0
        for g in range(SAX_ALPHABET):
            size = base + (1 if g < rem else 0)
            for _ in range(size):
                letters[order[idx][0]] = "abcd"[g]
                idx += 1
        seq = [letters[hr] for hr, _ in sorted(series)]
        motifs = Counter(
            "".join(seq[i : i + SAX_MOTIF_LEN])
            for i in range(len(seq) - SAX_MOTIF_LEN + 1)
        )
        top = sorted(motifs.items(), key=lambda t: (-t[1], t[0]))[:SAX_TOP]
        results.extend((et, m, c) for m, c in top)
    got = [(r.event_type, r.motif, r.n) for r in run("q_ts_sax_motif").collect()]
    assert sorted(got) == sorted(results)


def test_token_fertility_matches_python(run, spark, sf_dir):
    import re

    from kafka_to_parquet_spark.functions.text import BPE_PATTERN

    docs = load(spark, sf_dir, "documents").collect()
    agg: defaultdict = defaultdict(lambda: [0, 0, 0, 0])
    bpe_re = re.compile(BPE_PATTERN)
    for r in docs:
        a = agg[(r.lang, r.source)]
        a[0] += 1
        a[1] += len([t for t in r.text.lower().split() if t])
        a[2] += len(bpe_re.findall(r.text.lower()))
        a[3] += r.n_chars
    want = sorted(
        (
            lang,
            src,
            nd,
            nw,
            nb,
            nc,
            1000 * nb // nw,
            1000 * nc // nb,
        )
        for (lang, src), (nd, nw, nb, nc) in agg.items()
    )
    got = [tuple(r) for r in run("q_token_fertility").collect()]
    assert got == want
    # sanity: BPE-ish subwords at least as numerous as whitespace words
    for row in got:
        assert row[4] >= row[3]


def test_decontaminate_embed_matches_python(run, spark, sf_dir):
    import numpy as np

    from kafka_to_parquet_spark.functions.hashes import MAX_BAND_BUCKET, hyperplane_signs
    from kafka_to_parquet_spark.functions.vectors import np_seq_dot
    from kafka_to_parquet_spark.llm.dedup import (
        ANGULAR_BANDS,
        ANGULAR_BITS,
        EMBED_DIM,
        EMBED_NEAR_TAU,
    )
    from kafka_to_parquet_spark.operators.batch7 import DECON_EVAL_MOD

    rows = load(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float32).astype(np.float64)
        for r in rows
    }
    planes = [
        np.array(hyperplane_signs(k, EMBED_DIM), dtype=np.float64)
        for k in range(ANGULAR_BITS)
    ]
    sig = {
        vid: sum(
            (1 << k) if float(np_seq_dot(v * planes[k])) > 0 else 0
            for k in range(ANGULAR_BITS)
        )
        for vid, v in vecs.items()
    }
    band_bits = ANGULAR_BITS // ANGULAR_BANDS
    mask = (1 << band_bits) - 1
    # capped_banded mirror: sub-split hot buckets by next band, drop
    # any key still over the cap
    rows_b = []
    for vid, s in sig.items():
        for b in range(ANGULAR_BANDS):
            bv = (s >> (band_bits * b)) & mask
            nb = (s >> (band_bits * ((b + 1) % ANGULAR_BANDS))) & mask
            rows_b.append((vid, b, bv, nb))
    c1 = Counter((b, bv) for _, b, bv, _ in rows_b)
    keyed = [
        (
            vid,
            b,
            (1 << (2 * band_bits)) + bv * (1 << band_bits) + nb
            if c1[(b, bv)] > MAX_BAND_BUCKET
            else bv,
        )
        for vid, b, bv, nb in rows_b
    ]
    c2 = Counter((b, k) for _, b, k in keyed)
    kept = [(vid, b, k) for vid, b, k in keyed if c2[(b, k)] <= MAX_BAND_BUCKET]
    buckets: defaultdict = defaultdict(set)
    for vid, b, k in kept:
        buckets[(b, k)].add(vid)
    cand = set()
    for members in buckets.values():
        ev = [v for v in members if v % DECON_EVAL_MOD == 0]
        tr = [v for v in members if v % DECON_EVAL_MOD != 0]
        cand.update((e, t) for e in ev for t in tr)
    norms = {vid: math.sqrt(float(np_seq_dot(v * v))) for vid, v in vecs.items()}
    hits: defaultdict = defaultdict(list)
    for e, t in cand:
        cos = float(np_seq_dot(vecs[e] * vecs[t])) / (norms[e] * norms[t])
        if cos >= EMBED_NEAR_TAU:
            hits[e].append(cos)
    want = {}
    for vid in vecs:
        if vid % DECON_EVAL_MOD != 0:
            continue
        if hits[vid]:
            want[vid] = (len(hits[vid]), round(max(hits[vid]), 6), "contaminated")
        else:
            want[vid] = (0, None, "clean")
    got = {
        r.eval_id: (r.n_hits, r.max_cos, r.status)
        for r in run("q_decontaminate_embed").collect()
    }
    assert set(got) == set(want)
    for vid in want:
        gn, gc, gs = got[vid]
        wn, wc, ws = want[vid]
        assert (gn, gs) == (wn, ws), vid
        if wc is None:
            assert gc is None
        else:
            assert abs(gc - wc) < 2e-6, vid


def test_stream_topk_matches_python(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.batch7 import (
        STREAM_TOPK_K,
        STREAM_TOPK_WIN_S,
    )

    ev = load(spark, sf_dir, "events").select("ts", "event_type").collect()
    wc: defaultdict = defaultdict(int)
    for r in ev:
        # .timestamp() (not calendar.timegm) — collect() yields
        # LOCAL-naive datetimes; timegm would shift every window start
        # by the host's UTC offset (the test_round6* convention).
        epoch = int(r.ts.timestamp())
        ws = epoch // STREAM_TOPK_WIN_S * STREAM_TOPK_WIN_S
        wc[(ws, r.event_type)] += 1
    by_win: defaultdict = defaultdict(list)
    for (ws, et), n in wc.items():
        by_win[ws].append((et, n))
    want = []
    for ws, pairs in by_win.items():
        top = sorted(pairs, key=lambda t: (-t[1], t[0]))[:STREAM_TOPK_K]
        want.extend((ws, et, n, i + 1) for i, (et, n) in enumerate(top))
    got = [
        (r.win_start_s, r.event_type, r.n, r.rnk)
        for r in run("q_stream_topk").collect()
    ]
    assert sorted(got) == sorted(want)
    # every represented window emits at most K rows, rank-dense from 1
    per_win: defaultdict = defaultdict(list)
    for ws, _, _, rnk in got:
        per_win[ws].append(rnk)
    for ws, rnks in per_win.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))
        assert len(rnks) <= STREAM_TOPK_K


def test_ntile_semantics_match_duckdb_and_python():
    """q_ts_sax_motif's letters (and the test recompute) assume all
    three implementations agree on SQL-standard ntile: n rows into g
    groups, the first (n mod g) groups take the extra row. Property
    check of the python mirror against DuckDB over random sizes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()

    @settings(max_examples=40, deadline=None)
    @given(st.integers(min_value=1, max_value=120), st.integers(min_value=2, max_value=8))
    def check(n, g):
        duck = [
            r[0]
            for r in con.execute(
                f"SELECT ntile({g}) OVER (ORDER BY i) FROM range({n}) t(i) ORDER BY i"
            ).fetchall()
        ]
        base, rem = divmod(n, g)
        mine = []
        for grp in range(g):
            mine.extend([grp + 1] * (base + (1 if grp < rem else 0)))
        assert duck == mine

    check()


def test_ntile_semantics_match_spark(spark):
    """One Spark leg pinning the same ntile definition (n=10, g=4 →
    sizes 3,3,2,2) so all three engines of the SAX recompute agree."""
    from pyspark.sql import Window

    df = spark.createDataFrame([(i,) for i in range(10)], "i int")
    got = [
        r.q
        for r in df.select(
            "i", F.ntile(4).over(Window.orderBy("i")).alias("q")
        ).orderBy("i").collect()
    ]
    assert got == [1, 1, 1, 2, 2, 2, 3, 3, 4, 4]


# ---------------------------------------------------------------------------
# Real image decode (PPM/PGM/BMP — no imaging libs needed)
# ---------------------------------------------------------------------------


def _mk_ppm(w, h):
    px = np.arange(w * h * 3, dtype=np.uint16) % 256
    raster = px.astype(np.uint8).tobytes()
    return (
        f"P6\n# synthetic\n{w} {h}\n255\n".encode() + raster,
        px.astype(np.uint8).reshape(h, w, 3),
    )


def _mk_pgm(w, h):
    px = (np.arange(w * h, dtype=np.uint16) * 7) % 256
    return (
        f"P5\n{w} {h}\n255\n".encode() + px.astype(np.uint8).tobytes(),
        px.astype(np.uint8).reshape(h, w, 1),
    )


def _mk_bmp(w, h):
    import struct

    px = (np.arange(w * h * 3, dtype=np.uint32) * 11 % 256).astype(np.uint8).reshape(h, w, 3)
    stride = (w * 3 + 3) // 4 * 4
    rows = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y][:, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return header + info + rows, px


def test_decode_image_real_formats_roundtrip():
    from kafka_to_parquet_spark.llm.multimodal import decode_image

    for mk, (w, h) in ((_mk_ppm, (13, 7)), (_mk_pgm, (16, 5)), (_mk_bmp, (10, 6))):
        data, want = mk(w, h)
        arr, gw, gh, gc = decode_image(data)
        assert (gw, gh) == (w, h)
        assert arr.shape == want.shape
        assert (arr == want).all(), mk.__name__


def test_decode_image_rejects_compressed_and_unknown():
    import pytest

    from kafka_to_parquet_spark.llm.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0\x00\x10JFIF....")  # JPEG stays stubbed
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")  # malformed PNG: loud, not stub
    with pytest.raises(ValueError):
        # 8-bit palette BMP: bpp=8 must be rejected, not mis-parsed
        import struct

        bad = struct.pack("<2sIHHI", b"BM", 100, 0, 0, 54) + struct.pack(
            "<IiiHHIIiiII", 40, 4, 4, 1, 8, 0, 16, 0, 0, 0, 0
        )
        decode_image(bad)


def test_real_decode_through_mapinpandas(spark):
    """The q_multimodal_decode plumbing with the REAL decoder as the
    inner function: binary media column in, typed feature rows out,
    Arrow-batched — proving the swap the module docstring promises is
    one function body, not a redesign."""
    from kafka_to_parquet_spark.llm.multimodal import decode_image

    imgs = [_mk_ppm(13, 7), _mk_pgm(16, 5), _mk_bmp(10, 6)]
    rows = [(i, data) for i, (data, _) in enumerate(imgs)]
    media = spark.createDataFrame(rows, "img_id int, media_bytes binary")

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for img_id, data in zip(pdf["img_id"], pdf["media_bytes"]):
                arr, w, h, c = decode_image(bytes(data))
                out.append((int(img_id), w, h, c, float(arr.mean())))
            yield pd.DataFrame(
                out, columns=["img_id", "width", "height", "channels", "mean_px"]
            )

    got = {
        r.img_id: (r.width, r.height, r.channels, r.mean_px)
        for r in media.mapInPandas(
            extract,
            schema="img_id int, width int, height int, channels int, mean_px double",
        ).collect()
    }
    for i, (data, want) in enumerate(imgs):
        w, h = want.shape[1], want.shape[0]
        assert got[i][:3] == (w, h, want.shape[2])
        assert abs(got[i][3] - float(want.mean())) < 1e-9


def _mk_wav(n_frames, n_ch, rate):
    import struct

    samples = ((np.arange(n_frames * n_ch, dtype=np.int64) * 777) % 65536 - 32768).astype(
        "<i2"
    )
    raw = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", len(body)) + body, samples.reshape(-1, n_ch)


def test_decode_audio_pcm_wav_roundtrip():
    from kafka_to_parquet_spark.llm.multimodal import decode_audio

    for n_frames, n_ch, rate in ((480, 1, 16000), (256, 2, 44100)):
        data, want = _mk_wav(n_frames, n_ch, rate)
        frames, got_rate = decode_audio(data)
        assert got_rate == rate
        assert frames.shape == (n_frames, n_ch)
        assert (frames == want).all()


def test_decode_audio_rejects_non_pcm():
    import struct

    import pytest

    from kafka_to_parquet_spark.llm.multimodal import decode_audio

    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04\x00...mp3 bytes...")
    # IEEE-float WAV (fmt=3) must be rejected loudly, not mis-read
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError):
        decode_audio(wav)


def test_real_audio_features_through_mapinpandas(spark):
    """Windowed RMS energy over real PCM frames through the multimodal
    mapInPandas plumbing — the audio twin of the image-decode test."""
    from kafka_to_parquet_spark.llm.multimodal import decode_audio

    clips = [_mk_wav(480, 1, 16000), _mk_wav(256, 2, 44100)]
    media = spark.createDataFrame(
        [(i, data) for i, (data, _) in enumerate(clips)],
        "clip_id int, media_bytes binary",
    )

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for cid, data in zip(pdf["clip_id"], pdf["media_bytes"]):
                frames, rate = decode_audio(bytes(data))
                mono = frames.astype(np.float64).mean(axis=1)
                rms = float(np.sqrt((mono**2).mean()))
                out.append((int(cid), rate, frames.shape[0], rms))
            yield pd.DataFrame(
                out, columns=["clip_id", "rate", "n_frames", "rms"]
            )

    got = {
        r.clip_id: (r.rate, r.n_frames, r.rms)
        for r in media.mapInPandas(
            extract, schema="clip_id int, rate int, n_frames int, rms double"
        ).collect()
    }
    for i, (data, want) in enumerate(clips):
        mono = want.astype(np.float64).mean(axis=1)
        assert got[i][0] in (16000, 44100)
        assert got[i][1] == want.shape[0]
        assert abs(got[i][2] - float(np.sqrt((mono**2).mean()))) < 1e-9


def _mk_y4m(n_frames, w, h, chroma="420jpeg"):
    if chroma.startswith("420"):
        cb = (w // 2) * (h // 2) * 2
    elif chroma.startswith("422"):
        cb = (w // 2) * h * 2
    else:
        cb = w * h * 2
    out = f"YUV4MPEG2 W{w} H{h} F30000:1001 Ip A1:1 C{chroma}\n".encode()
    ys = []
    for f in range(n_frames):
        y = ((np.arange(w * h, dtype=np.uint32) * 13 + f * 31) % 256).astype(np.uint8)
        ys.append(y.reshape(h, w))
        out += b"FRAME\n" + y.tobytes() + bytes(cb)  # zero chroma planes
    return out, np.stack(ys)


def test_decode_video_y4m_roundtrip():
    from kafka_to_parquet_spark.llm.multimodal import decode_video

    for chroma in ("420jpeg", "422", "444"):
        data, want = _mk_y4m(4, 16, 8, chroma)
        frames, w, h, num, den = decode_video(data)
        assert (w, h, num, den) == (16, 8, 30000, 1001)
        assert frames.shape == want.shape
        assert (frames == want).all(), chroma


def test_decode_video_rejects_compressed():
    import pytest

    from kafka_to_parquet_spark.llm.multimodal import decode_video

    with pytest.raises(NotImplementedError):
        decode_video(b"\x00\x00\x00 ftypisom....mp4 bytes")


def test_real_video_framesample_through_mapinpandas(spark):
    """Every-k-th-frame luma sampling over real Y4M frames through the
    multimodal mapInPandas plumbing — the video leg of the
    real-decoder trio (q_multimodal_framesample's semantics on actual
    decoded frames)."""
    from kafka_to_parquet_spark.llm.multimodal import decode_video

    clips = [_mk_y4m(6, 16, 8), _mk_y4m(3, 8, 8)]
    media = spark.createDataFrame(
        [(i, data) for i, (data, _) in enumerate(clips)],
        "clip_id int, media_bytes binary",
    )
    K = 2

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for cid, data in zip(pdf["clip_id"], pdf["media_bytes"]):
                frames, w, h, num, den = decode_video(bytes(data))
                sampled = frames[::K]
                out.append(
                    (int(cid), frames.shape[0], len(sampled),
                     float(sampled.astype(np.float64).mean()))
                )
            yield pd.DataFrame(
                out, columns=["clip_id", "n_frames", "n_sampled", "mean_luma"]
            )

    got = {
        r.clip_id: (r.n_frames, r.n_sampled, r.mean_luma)
        for r in media.mapInPandas(
            extract,
            schema="clip_id int, n_frames int, n_sampled int, mean_luma double",
        ).collect()
    }
    for i, (_, want) in enumerate(clips):
        assert got[i][0] == want.shape[0]
        assert got[i][1] == len(want[::K])
        assert abs(got[i][2] - float(want[::K].astype(np.float64).mean())) < 1e-9


def test_frame_ahash_properties():
    """aHash invariances that make it a perceptual (not byte) hash:
    identical frames hash equal; global brightness shifts preserve the
    hash (threshold is the frame mean); a half-inverted frame differs
    in many bits; byte-level noise below block granularity flips few."""
    from kafka_to_parquet_spark.llm.multimodal import frame_ahash

    rng = np.random.default_rng(7)
    base = rng.integers(0, 200, size=(16, 16), dtype=np.uint8)
    brighter = np.clip(base.astype(np.int16) + 40, 0, 255).astype(np.uint8)
    half = base.copy()
    half[:8] = 255 - half[:8]
    noisy = base.copy()
    noisy[0, 0] ^= 3  # one pixel, sub-block
    hashes = frame_ahash(np.stack([base, base, brighter, half, noisy]))
    assert hashes[0] == hashes[1]
    assert hashes[0] == hashes[2], "brightness shift must not change aHash"
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")
    assert ham(hashes[0], hashes[3]) > 16
    assert ham(hashes[0], hashes[4]) <= 2
    import pytest

    with pytest.raises(ValueError):
        frame_ahash(np.zeros((1, 6, 6), dtype=np.uint8))  # below the 8x8 grid
    # non-8-divisible dims take the area-mean resample path: same
    # invariances hold (self-equality, brightness shift)
    odd = np.random.default_rng(13).integers(0, 200, size=(10, 13), dtype=np.uint8)
    odd_b = np.clip(odd.astype(np.int16) + 25, 0, 255).astype(np.uint8)
    oh = frame_ahash(np.stack([odd, odd, odd_b]))
    assert oh[0] == oh[1] == oh[2]
    # and on divisible input the resample path would agree with the
    # fast path (boundaries coincide exactly when 8 | dims)


def test_frame_ahash_over_decoded_y4m():
    """End-to-end: decode a Y4M clip, aHash its frames — shifted-copy
    frames (same content, +constant luma) collapse to one hash while
    distinct frames stay distinct."""
    from kafka_to_parquet_spark.llm.multimodal import decode_video, frame_ahash

    rng = np.random.default_rng(11)
    f0 = rng.integers(0, 180, size=(16, 16), dtype=np.uint8)
    f1 = np.clip(f0.astype(np.int16) + 30, 0, 255).astype(np.uint8)  # near-dup
    f2 = rng.integers(0, 255, size=(16, 16), dtype=np.uint8)         # distinct
    cb = 8 * 8 * 2
    data = b"YUV4MPEG2 W16 H16 F25:1 C420\n"
    for f in (f0, f1, f2):
        data += b"FRAME\n" + f.tobytes() + bytes(cb)
    frames, w, h, _, _ = decode_video(data)
    hashes = frame_ahash(frames)
    assert hashes[0] == hashes[1]
    assert hashes[0] != hashes[2]


def test_capped_banded_invariants(spark):
    """The hot-bucket control's two safety properties, on a synthetic
    signature table built to trip both paths: (a) every surviving
    (b, k) bucket holds <= cap rows — the bound that keeps LSH
    candidate generation signature-governed at any corpus size; (b)
    sub-split keys live in a disjoint range from unsplit band values,
    so a split bucket can never alias an unsplit one. DuckDB's
    capped_band_cte keeps the same (id, b, k) rows, sub-split path
    included."""
    from kafka_to_parquet_spark.functions.hashes import capped_band_cte, capped_banded

    CAP, BITS, BANDS = 4, 8, 4
    rows = []
    # 40 vectors share one band-0 value (hot bucket, must sub-split or
    # drop); 10 others spread thin (kept as-is).
    for vid in range(40):
        rows.append((vid, (0xAB | (vid << 8)) & 0x7FFFFFFF))
    for vid in range(40, 50):
        rows.append((vid, (vid * 2654435761) & 0x7FFFFFFF))
    sig = spark.createDataFrame(rows, "vec_id long, sig long")
    kept = capped_banded(sig, cap=CAP, band_bits=BITS, n_bands=BANDS).cache()
    sizes = kept.groupBy("b", "k").count().collect()
    assert sizes, "some buckets must survive"
    assert all(r["count"] <= CAP for r in sizes)
    split_threshold = 1 << (2 * BITS)
    ks = [r.k for r in kept.select("k").distinct().collect()]
    unsplit = [k for k in ks if k < split_threshold]
    split = [k for k in ks if k >= split_threshold]
    assert all(k <= (1 << BITS) - 1 for k in unsplit)
    assert split and min(split) >= split_threshold, "the hot bucket must sub-split"

    con = duckdb.connect()
    con.execute("CREATE TABLE fp (vec_id BIGINT, sig BIGINT)")
    con.executemany("INSERT INTO fp VALUES (?, ?)", rows)
    cte = capped_band_cte("vec_id", cap=CAP, band_bits=BITS, n_bands=BANDS)
    duck = set(con.sql(f"WITH {cte} SELECT vec_id, b, k FROM kept").fetchall())
    got = {(r.vec_id, r.b, r.k) for r in kept.select("vec_id", "b", "k").collect()}
    assert got == duck
    kept.unpersist()


def test_media_decoders_roundtrip_fuzz():
    """Hypothesis fuzz over random small dims/channels: every decoder
    must round-trip sample-exact for arbitrary sizes, including odd
    widths (BMP row padding) and multi-channel audio."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_to_parquet_spark.llm.multimodal import (
        decode_audio,
        decode_image,
        decode_video,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(min_value=1, max_value=23),
        st.integers(min_value=1, max_value=17),
        st.integers(min_value=1, max_value=2),
        st.integers(min_value=1, max_value=3),
    )
    def check(w, h, n_ch, n_frames):
        data, want = _mk_ppm(w, h)
        arr, gw, gh, _ = decode_image(data)
        assert (gw, gh) == (w, h) and (arr == want).all()
        data, want = _mk_bmp(w, h)
        arr, gw, gh, _ = decode_image(data)
        assert (gw, gh) == (w, h) and (arr == want).all()
        data, want = _mk_wav(w * h, n_ch, 8000)
        frames, rate = decode_audio(data)
        assert rate == 8000 and (frames == want).all()
        # Y4M needs even dims for 420 chroma geometry
        data, want = _mk_y4m(n_frames, w * 2, h * 2)
        frames, gw, gh, _, _ = decode_video(data)
        assert (gw, gh) == (w * 2, h * 2) and (frames == want).all()

    check()


def _png_paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _mk_png(w, h, channels, filters=None):
    """Independent PNG encoder (pure-python per-pixel filtering from
    the spec, a deliberately different implementation from the
    decoder's vectorized/row-loop reconstruction)."""
    import struct
    import zlib

    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    px = ((np.arange(h * w * channels, dtype=np.uint32) * 31 + 7) % 256).astype(
        np.uint8
    ).reshape(h, w * channels)
    raw = b""
    prev = [0] * (w * channels)
    for y in range(h):
        ftype = (filters or [0, 1, 2, 3, 4])[y % len(filters or [0, 1, 2, 3, 4])]
        row = [int(v) for v in px[y]]
        filt = []
        for x in range(len(row)):
            a = row[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if ftype == 0:
                f = row[x]
            elif ftype == 1:
                f = (row[x] - a) % 256
            elif ftype == 2:
                f = (row[x] - b) % 256
            elif ftype == 3:
                f = (row[x] - (a + b) // 2) % 256
            else:
                f = (row[x] - _png_paeth(a, b, c)) % 256
            filt.append(f)
        raw += bytes([ftype]) + bytes(filt)
        prev = row

    def chunk(ctype, body):
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    return data, px.reshape(h, w, channels)


def test_decode_png_all_filters_and_colortypes():
    from kafka_to_parquet_spark.llm.multimodal import decode_image

    for channels in (1, 2, 3, 4):
        for filters in ([0], [1], [2], [3], [4], None):  # None = cycle all 5
            data, want = _mk_png(9, 7, channels, filters)
            arr, w, h, c = decode_image(data)
            assert (w, h, c) == (9, 7, channels)
            assert (arr == want).all(), (channels, filters)


def test_decode_png_rejects_unsupported():
    import struct
    import zlib as _z

    import pytest

    from kafka_to_parquet_spark.llm.multimodal import decode_image

    def chunk(ctype, body):
        crc = _z.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    # 16-bit depth must be rejected
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    with pytest.raises(ValueError):
        decode_image(bad)
    # palette (color type 3) must be rejected
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)
    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    with pytest.raises(ValueError):
        decode_image(bad)


def test_decode_png_fuzz_dims():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_to_parquet_spark.llm.multimodal import decode_image

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(min_value=1, max_value=19),
        st.integers(min_value=1, max_value=13),
        st.sampled_from([1, 2, 3, 4]),
    )
    def check(w, h, channels):
        data, want = _mk_png(w, h, channels)
        arr, gw, gh, gc = decode_image(data)
        assert (gw, gh, gc) == (w, h, channels)
        assert (arr == want).all()

    check()


def test_probe_image_all_formats():
    """Header-only probe: correct (format, w, h) for every supported
    magic — including JPEG, whose dimensions come from the SOF marker
    walk with no entropy decode (a minimal-but-valid marker stream
    with APP0 + DQT noise before SOF0)."""
    import struct

    import pytest

    from kafka_to_parquet_spark.llm.multimodal import probe_image

    ppm, _ = _mk_ppm(13, 7)
    pgm, _ = _mk_pgm(16, 5)
    bmp, _ = _mk_bmp(10, 6)
    png, _ = _mk_png(9, 7, 3)
    gif = b"GIF89a" + struct.pack("<HH", 21, 12) + b"\x00" * 10
    jpeg = (
        b"\xff\xd8"                                       # SOI
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9  # APP0
        + b"\xff\xdb" + struct.pack(">H", 4) + b"\x00\x00"                  # DQT stub
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 33, 44)
        + b"\x03\x00\x00\x00"                              # SOF0: h=33 w=44
    )
    assert probe_image(ppm) == ("ppm", 13, 7)
    assert probe_image(pgm) == ("pgm", 16, 5)
    assert probe_image(bmp) == ("bmp", 10, 6)
    assert probe_image(png) == ("png", 9, 7)
    assert probe_image(gif) == ("gif", 21, 12)
    assert probe_image(jpeg) == ("jpeg", 44, 33)
    with pytest.raises(ValueError):
        probe_image(b"RIFFxxxxWEBP")  # WebP: probe must not guess
    with pytest.raises(ValueError):
        probe_image(b"\xff\xd8\xff\xe0\x00\x02")  # JPEG with no SOF


# ---------------------------------------------------------------------------
# GIF decode (hand-rolled LZW)
# ---------------------------------------------------------------------------


def _gif_lzw_encode(mcs, indices):
    """Standard GIF-LZW compressor (independent of the decoder's
    reconstruction): dictionary of tuples, Clear first, EOI last,
    width grows after assigning code 2^width."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    codes = []
    width = mcs + 1
    codes.append((clear, width))
    table = {(i,): i for i in range(1 << mcs)}
    next_code = eoi + 1
    buf = ()
    for sym in indices:
        nxt = buf + (int(sym),)
        if nxt in table:
            buf = nxt
            continue
        codes.append((table[buf], width))
        table[nxt] = next_code
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        if next_code > 4095:
            codes.append((clear, width))
            table = {(i,): i for i in range(1 << mcs)}
            next_code = eoi + 1
            width = mcs + 1
        buf = (int(sym),)
    if buf:
        codes.append((table[buf], width))
    codes.append((eoi, width))
    # LSB-first bit packing
    acc = nbits = 0
    out = bytearray()
    for code, w in codes:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _mk_gif(frames_idx, palette, w, h, mcs):
    """Minimal GIF89a writer: global palette, one image block per
    index frame, LZW via _gif_lzw_encode, 255-byte sub-blocks."""
    import struct

    pal_bits = max(1, (len(palette) - 1).bit_length())
    pal_n = 1 << pal_bits
    out = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | (pal_bits - 1), 0, 0)
    pal = bytes(v for rgb in palette for v in rgb) + bytes(3 * (pal_n - len(palette)))
    out += pal
    for idx in frames_idx:
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out += bytes([mcs])
        lzw = _gif_lzw_encode(mcs, idx)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    return out + b"\x3b"


def test_gif_lzw_kwkwk_and_width_growth():
    """The two classic LZW pitfalls, round-tripped: an ababab stream
    (triggers the KwKwK code-one-past-table case) and a long
    high-entropy stream (drives repeated width growth past 9 bits)."""
    from kafka_to_parquet_spark.llm.multimodal import _gif_lzw_decode

    kwkwk = [0, 1, 0, 1, 0, 1, 0, 1, 0, 1]
    data = _gif_lzw_encode(2, kwkwk)
    assert _gif_lzw_decode(2, data, len(kwkwk)) == kwkwk

    rng = np.random.default_rng(3)
    long = [int(v) for v in rng.integers(0, 4, size=3000)]
    data = _gif_lzw_encode(2, long)
    assert _gif_lzw_decode(2, data, len(long)) == long


def test_decode_gif_frames_roundtrip():
    from kafka_to_parquet_spark.llm.multimodal import decode_gif

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    rng = np.random.default_rng(5)
    w, h = 11, 6
    idx_frames = [
        [int(v) for v in rng.integers(0, 4, size=w * h)] for _ in range(3)
    ]
    gif = _mk_gif(idx_frames, palette, w, h, mcs=2)
    frames, gw, gh = decode_gif(gif)
    assert (gw, gh) == (w, h) and frames.shape == (3, h, w, 3)
    pal = np.array(palette, np.uint8)
    for f, idx in zip(frames, idx_frames):
        want = pal[np.array(idx).reshape(h, w)]
        assert (f == want).all()


def test_decode_gif_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_to_parquet_spark.llm.multimodal import decode_gif

    palette = [(i * 37 % 256, i * 11 % 256, i * 5 % 256) for i in range(8)]

    @settings(max_examples=20, deadline=None)
    @given(
        st.integers(min_value=1, max_value=17),
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=0, max_value=10_000),
    )
    def check(w, h, seed):
        rng = np.random.default_rng(seed)
        idx = [int(v) for v in rng.integers(0, 8, size=w * h)]
        gif = _mk_gif([idx], palette, w, h, mcs=3)
        frames, gw, gh = decode_gif(gif)
        pal = np.array(palette, np.uint8)
        assert (gw, gh) == (w, h)
        assert (frames[0] == pal[np.array(idx).reshape(h, w)]).all()

    check()


def test_probe_media_routes_all_kinds(spark):
    """probe_media classifies a mixed binary column by magic and
    extracts header meta — driven through mapInPandas like the rest of
    the multimodal plumbing."""
    import pytest

    from kafka_to_parquet_spark.llm.multimodal import probe_media

    png, _ = _mk_png(9, 7, 3)
    wav, _ = _mk_wav(100, 2, 22050)
    y4m, _ = _mk_y4m(2, 16, 8)
    assert probe_media(png) == ("image", "png", {"width": 9, "height": 7})
    assert probe_media(wav) == ("audio", "wav", {"channels": 2, "rate": 22050})
    kind, fmt, meta = probe_media(y4m)
    assert (kind, fmt) == ("video", "y4m")
    assert meta == {"width": 16, "height": 8, "fps_num": 30000, "fps_den": 1001}
    with pytest.raises(ValueError):
        probe_media(b"OggS....vorbis")

    media = spark.createDataFrame(
        [(0, png), (1, wav), (2, y4m)], "media_id int, media_bytes binary"
    )

    def route(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["media_bytes"]):
                kind, fmt, _ = probe_media(bytes(data))
                out.append((int(mid), kind, fmt))
            yield pd.DataFrame(out, columns=["media_id", "kind", "fmt"])

    got = {
        r.media_id: (r.kind, r.fmt)
        for r in media.mapInPandas(
            route, schema="media_id int, kind string, fmt string"
        ).collect()
    }
    assert got == {0: ("image", "png"), 1: ("audio", "wav"), 2: ("video", "y4m")}
