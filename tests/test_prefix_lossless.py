"""Losslessness of the prefix-filter candidate generation, checked on
an ADVERSARIAL synthetic corpus (not the friendly fixture): many
near-identical templates, full duplicates, containment chains (doc ⊂
doc ⊂ doc), hot boilerplate shingles shared by everything, and tiny
docs below the shingle width. The prefix/length filters of
q_dedup_jaccard_prefix and q_dedup_containment are provably lossless;
these tests check the implementation against brute-force set math on a
corpus built to break them."""

from __future__ import annotations

import itertools
import os
import random

import pytest

from kafka_to_parquet_spark import registry


WORDS = [f"w{i}" for i in range(120)]


def _mk_corpus() -> list[tuple[int, str]]:
    rng = random.Random(20260814)
    docs: list[tuple[int, str]] = []
    did = itertools.count()
    # hot boilerplate prefix shared by many docs (stress the df-ordered
    # canonical prefix: hot shingles must not blow up candidates or get
    # wrongly excluded)
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    for _ in range(12):
        body = " ".join(rng.choices(WORDS, k=rng.randint(8, 30)))
        docs.append((next(did), f"{boiler} {body}"))
    # exact duplicates
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for _ in range(3):
        docs.append((next(did), dup))
    # containment chain: d1 ⊂ d2 ⊂ d3
    base = " ".join(WORDS[10:30])
    docs.append((next(did), base))
    docs.append((next(did), base + " " + " ".join(WORDS[40:46])))
    docs.append((next(did), base + " " + " ".join(WORDS[40:60])))
    # near-duplicates: one-word edits of a template
    tmpl = " ".join(WORDS[60:80])
    for i in range(5):
        toks = tmpl.split()
        toks[i * 3 % len(toks)] = f"edit{i}"
        docs.append((next(did), " ".join(toks)))
    # tiny docs (below shingle width) and empty-ish docs
    docs.append((next(did), "one two"))
    docs.append((next(did), "solo"))
    # random background
    for _ in range(30):
        docs.append((next(did), " ".join(rng.choices(WORDS, k=rng.randint(5, 40)))))
    return docs


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv"))
    rows = [(i, t, "xx", "synthetic", len(t)) for (i, t) in _mk_corpus()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    yield d
    from kafka_to_parquet_spark.cache import clear_caches

    clear_caches(spark, d)


def _hashed_sets(spark, sf_dir):
    from kafka_to_parquet_spark.llm.minhash import _hashed_shingles

    return {
        r.doc_id: frozenset(r.hs)
        for r in _hashed_shingles(spark, sf_dir).collect()
    }


def test_jaccard_prefix_is_lossless_on_adversarial_corpus(spark, adversarial_dir):
    registry.load_all()
    sets = _hashed_sets(spark, adversarial_dir)
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= 0.5:
            want.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["q_dedup_jaccard_prefix"](
            spark, adversarial_dir
        ).collect()
    }
    assert got == want


def test_containment_is_lossless_on_adversarial_corpus(spark, adversarial_dir):
    registry.load_all()
    sets = _hashed_sets(spark, adversarial_dir)
    want = set()
    for a in sets:
        for b in sets:
            if a == b:
                continue
            inter = len(sets[a] & sets[b])
            if inter * 5 >= len(sets[a]) * 4:
                want.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["q_dedup_containment"](
            spark, adversarial_dir
        ).collect()
    }
    assert got == want
    # the containment chain must be fully detected, including the
    # transitive (smallest ⊂ largest) pair
    chain = [
        i for (i, t) in _mk_corpus() if t.startswith(" ".join(WORDS[10:12]) + " ")
    ]
    for small, large in itertools.combinations(chain, 2):
        assert (small, large) in got


def test_ppjoin_count_filter_candidates_are_answer_sized(spark, adversarial_dir):
    """Round-14: the counting form of the prefix filter must keep the
    candidate set within a small multiple of the verified answer on
    the adversarial corpus (the property that removed the r12/r13
    shard loop — candidates ≈ answers means the 1 KB/row verification
    exchange can never become the working set again)."""
    from pyspark.sql import functions as F

    from kafka_to_parquet_spark.llm.minhash import (
        PREFIX_K,
        _posting_plans,
    )

    registry.load_all()
    plen = f"n - ((n + 1) DIV 2) + {PREFIX_K}"
    _, _, prefix = _posting_plans(spark, adversarial_dir, plen)
    x, y = prefix.alias("x"), prefix.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("x.n") <= 2 * F.col("y.n"))
            & (F.col("y.n") <= 2 * F.col("x.n")),
        )
        .groupBy(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
            F.col("x.n").alias("nx"), F.col("y.n").alias("ny"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.expr(f"c >= least({PREFIX_K}, (nx + 1) DIV 2, (ny + 1) DIV 2)"))
        .count()
    )
    verified = registry.QUERIES["q_dedup_jaccard_prefix"](
        spark, adversarial_dir
    ).count()
    assert verified > 0
    assert cand <= 10 * max(verified, 4), (cand, verified)


def test_ppjoin_shards_selection_arithmetic(spark, adversarial_dir, monkeypatch):
    """ppjoin_shards survives as the posting-budget capacity measure
    q_shard_balance certifies (since round 14 no query executes a
    shard loop — the counting prefix filter removed it): the integer
    selection rule and both env overrides must keep working."""
    from kafka_to_parquet_spark.llm import minhash

    registry.load_all()
    monkeypatch.delenv("KTPS_PPJOIN_SHARDS", raising=False)
    monkeypatch.delenv("KTPS_PPJOIN_TARGET_POSTINGS", raising=False)
    n_post = minhash._posting_count(spark, adversarial_dir)
    assert n_post > 0
    # tiny corpus, default budget: one budget-sized pass
    assert minhash.ppjoin_shards(spark, adversarial_dir) == 1
    # pinned env wins over auto-selection
    monkeypatch.setenv("KTPS_PPJOIN_SHARDS", "5")
    assert minhash.ppjoin_shards(spark, adversarial_dir) == 5
    monkeypatch.delenv("KTPS_PPJOIN_SHARDS", raising=False)
    # shrink the per-pass budget so THIS corpus crosses it: exact ceil
    target = max(1, n_post // 3)
    monkeypatch.setenv("KTPS_PPJOIN_TARGET_POSTINGS", str(target))
    want = min(64, -(-n_post // target))
    assert minhash.ppjoin_shards(spark, adversarial_dir) == want
    assert want > 1


def test_containment_count_filter_at_exact_threshold(spark, tmp_path):
    """Round-14 counting form of the containment prefix filter: a
    candidate pair must share >= min(K, ceil(tau*|a|)) of a's
    (K-1)-extended canonical prefix. The bound is TIGHT exactly when
    a's missing shingles are its globally rarest — they monopolize the
    df-ordered prefix and leave only p - m shared slots — so this
    corpus makes every edit word unique (df=1 shingles, guaranteed
    rarest class) and sweeps edit counts so true pairs land ON the
    overlap = ceil(tau*|a|) boundary. Brute-force set math is the
    truth; at least one true pair must sit within 1 of the boundary or
    the corpus stopped exercising it."""
    import itertools as _it
    import os as _os

    from kafka_to_parquet_spark.cache import clear_caches

    registry.load_all()
    docs = []
    did = _it.count()
    # trial t: container b = L unique words (+ tail growth); contained
    # a = b's first L words with d interior words swapped for unique
    # edit tokens. Each swapped word kills up to 3 of a's shingles, so
    # sweeping (L, d) brackets the 4/5 threshold from both sides.
    for L in (18, 22, 25, 28, 33, 40):
        for d in (0, 1, 2, 3):
            t = len(docs)
            base = [f"t{t}w{i}" for i in range(L)]
            b_words = base + [f"t{t}x{i}" for i in range(4)]
            a_words = list(base)
            for j in range(d):
                a_words[3 + 5 * j] = f"t{t}e{j}"
            docs.append((next(did), " ".join(a_words)))
            docs.append((next(did), " ".join(b_words)))
    d = str(tmp_path)
    rows = [(i, txt, "xx", "synthetic", len(txt)) for (i, txt) in docs]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(_os.path.join(d, "documents.parquet"))
    try:
        sets = _hashed_sets(spark, d)
        want, margins = set(), []
        for a in sets:
            for b in sets:
                if a == b:
                    continue
                inter = len(sets[a] & sets[b])
                ceil_t = (4 * len(sets[a]) + 4) // 5
                if inter * 5 >= len(sets[a]) * 4:
                    want.add((a, b))
                    margins.append(inter - ceil_t)
        got = {
            (r.doc_a, r.doc_b)
            for r in registry.QUERIES["q_dedup_containment"](spark, d).collect()
        }
        assert got == want
        assert want, "corpus produced no containment pairs"
        # the boundary is actually exercised: some true pair sits at
        # (or within 1 shingle of) overlap == ceil(tau*|a|)
        assert min(margins) <= 1, sorted(margins)[:5]
    finally:
        clear_caches(spark, d)
