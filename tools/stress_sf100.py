"""1000× stress: the THIRD decade (round-10 verdict item 4) for the
four kernels whose second-decade ratios exceeded 4× —
q_win_running_scalable (5.2×, output itself 10×), q_suffix_lrs
(5.1×), q_dedup_components (4.9×), q_dedup_jaccard_prefix (4.3×).
Two decades of sub-linear is good; a third closes the 100 TB claim
for the heaviest kernels (or surfaces the blowup while it is still a
/tmp-sized problem — the h62 precedent).

Corpus design chains the stress_sf10 classes one more decade:

- REL rows: sf≈100 lineitem = the sf≈10 replica ×10 with 100B key
  offsets (600M rows) — no offset scheme collision (sf≈1 stepped by
  10M, sf≈10 by 1B).
- PAIR rows (unique-text): sf≈100p documents = the sf≈10p corpus ×10
  with every token RE-suffixed 'r{j}' per copy — intra-copy near-dup
  structure mirrors sf10p exactly, cross-copy shingle overlap is
  zero, pair mass stays LINEAR in the corpus (the second decade's
  lesson: plain replication disk-spills the pair class).
- q_suffix_lrs moves to the PAIR corpus at this decade (its
  second-decade row rode plain replication): a 1000-way-duplicated
  corpus makes EVERY position's class duplicated, so the level
  dup-filter keeps nothing and each checkpointed level is
  corpus-sized — the first sf≈100 attempt held ~33 GB of level
  checkpoints before the fully-retained sparse table was even half
  built (the retention bug this stress surfaced and round 11 fixed:
  only the latest level is kept now). Post-exact-dedup corpora — the
  only thing a production pipeline feeds this operator (SCALING.md
  split-leakage ordering note) — look like the unique-text corpus,
  which is therefore the scale axis measured here; the t(sf≈10)
  column re-measures on sf≈10p so the ratio is like-for-like.

Usage: python tools/stress_sf100.py [--only q_a,q_b] [--sweeps 2]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

# Artifact path is cwd-independent (the sf100 run from tools/ crashed
# at the final write with a relative path).
_SCALING_PATH = "/root/repo/SCALING.md"

from pyspark.sql import functions as F  # noqa: E402

from kafka_to_parquet_spark import registry  # noqa: E402
from kafka_to_parquet_spark.cache import clear_result_caches  # noqa: E402
from kafka_to_parquet_spark.session import get_spark  # noqa: E402
from kafka_to_parquet_spark.session import reclaim as pkg_reclaim  # noqa: E402

from stress_sf10 import (  # noqa: E402
    SF10,
    SF10P,
    build as build_sf10,
    build_pair_corpora,
)

SF100 = "/tmp/ktps_sf100"
SF100P = "/tmp/ktps_sf100p"
COPIES = 10

# Third-decade key offsets: 100B steps (sf≈1 used 10M, sf≈10 used 1B).
# Only lineitem replicates ×10 — every document-reading row rides the
# unique-text pair corpus (see docstring), so plain sf≈100 documents
# would be dead weight.
OFFSETS = {
    "lineitem": {"l_orderkey": 100_000_000_000},
}

QUERIES: list[tuple[str, str]] = [
    ("q_win_running_scalable", "rel"),
    ("q_suffix_lrs", "pairs"),  # see module docstring: post-dedup axis
    ("q_dedup_components", "pairs"),
    ("q_dedup_jaccard_prefix", "pairs"),
    # round-12 additions (round-11 verdict item 7 — the two heavy
    # kernels measured only to the second decade, honest-timed):
    # modularity rides the fact-table axis (co-purchase projection of
    # 600M lineitem rows over a FIXED part universe: projection build
    # scales, LPA rounds bounded); BPE rides the unique-text pair
    # corpus (per-copy token re-suffixing grows the VOCABULARY 10× per
    # decade — the axis a vocabulary-bound kernel must survive; both
    # legs re-measured on the pair corpora so the ratio is
    # like-for-like, the q_suffix_lrs precedent).
    ("q_graph_modularity", "rel"),
    ("q_bpe_learn_k", "pairs"),
    # round-13 addition (round-12 verdict item 6 — the last >3s warm
    # kernel with no third-decade row): TextRank rides the unique-text
    # pair corpus (its word-graph universe grows with vocabulary, the
    # same axis as BPE; per-doc sentence graphs grow with doc count).
    ("q_text_textrank", "pairs"),
    # round-13 addition (round-12 verdict item 8's cliff-class note):
    # containment shares PPJoin's posting topology — asymmetric
    # a-prefix × b-FULL join, a strictly LARGER probe side than the
    # Jaccard cell. Since round 14 both family queries run the
    # single-pass COUNTING prefix filter (answer-sized candidates, no
    # shard loop); this cell re-measures that plan at the decade that
    # used to need sharding.
    ("q_dedup_containment", "pairs"),
    # round-14 addition (round-13 verdict item 6): the MLlib rows-only
    # near-dup variant was the one HEADLINE family member with no
    # sf≈100 figure. OPT-IN ONLY (round-14 advisor item 2): excluded
    # from the default sweep in main() — run it via --only in its own
    # invocation after the deterministic cells' disk is reclaimed (it
    # is the riskiest cell: library-internal banding over 5M docs).
    ("q_dedup_minhash_lsh", "pairs"),
]

SECTION = "## 1000× stress (sf≈100, built by tools/stress_sf100.py)"


def _stale(out: str, src: str) -> bool:
    return (not os.path.exists(out)
            or os.path.getmtime(out) < os.path.getmtime(src))


def build(spark) -> None:
    """sf≈100 = sf≈10 ×10 for the two tables these kernels read;
    everything else symlinks to sf≈10 (itself symlinked/real)."""
    os.makedirs(SF100, exist_ok=True)
    for table, offs in OFFSETS.items():
        out = f"{SF100}/{table}.parquet"
        src = f"{SF10}/{table}.parquet"
        if not _stale(out, src):
            continue
        base = spark.read.parquet(src)
        parts = []
        for i in range(COPIES):
            df = base
            for col, step in offs.items():
                df = df.withColumn(col, F.col(col) + F.lit(i * step))
            parts.append(df)
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.write.mode("overwrite").parquet(out)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "events", "embeddings", "documents"):
        link = f"{SF100}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{SF10}/{t}.parquet", link)


def build_pair_corpus(spark) -> None:
    """sf≈100p = sf≈10p ×10, copy j re-suffixing every token with
    'r{j}' — unique text across copies at both suffix levels."""
    os.makedirs(SF100P, exist_ok=True)
    src = f"{SF10P}/documents.parquet"
    out = f"{SF100P}/documents.parquet"
    if _stale(out, src):
        base = spark.read.parquet(src)
        parts = []
        for j in range(COPIES):
            parts.append(
                base.select(
                    (F.col("doc_id") + F.lit(j * 1_000_000_000)).alias("doc_id"),
                    F.expr(
                        "array_join(transform(split(text, '\\\\s+'),"
                        f" t -> concat(t, 'r{j}')), ' ')"
                    ).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
            )
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.write.mode("overwrite").parquet(out)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        link = f"{SF100P}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"/root/testdata/sf0.1/{t}.parquet", link)


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--sweeps", type=int, default=2)
    args = ap.parse_args()
    # Opt-in-only cells (round-14 advisor item 2): isolation-intent
    # cells that must NOT ride the shared default sweep — a failure or
    # disk blow-up there would take the whole table write with it. Run
    # them via --only in their own invocation.
    opt_in = {"q_dedup_minhash_lsh"}
    queries = [(n, c) for n, c in QUERIES if n not in opt_in]
    if args.only:
        only = set(args.only.split(","))
        unknown = only - {n for n, _ in QUERIES}
        if unknown:
            raise SystemExit(f"--only names not in sf100 QUERIES: {sorted(unknown)}")
        queries = [(n, c) for n, c in QUERIES if n in only]

    registry.load_all()
    # Third-decade working sets want the heap headroom the host has
    # (the default 48g OOM'd on concurrent reduce tasks pre the
    # initialPartitionNum fix; 96g gives the sweeps margin either way).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "96g")
    # Reduce granularity scaled to third-decade data (see session.py:
    # 32 reduce tasks × ~19M rows of a 600M-row exchange OOM'd the
    # shared heap; the default stays core-scaled because the high
    # count costs ~2× on small-data iterative kernels).
    os.environ.setdefault("SPARK_GRAFT_INIT_PARTITIONS", "256")
    spark = get_spark("stress_sf100")

    # Shared staleness chain: sf≈1 -> sf≈10 (+ pair corpora) -> sf≈100.
    from stress_big import build as build_sf1

    build_sf1(spark)
    build_sf10(spark)
    # Only materialize the corpora the selected cells read — an
    # --only pairs-class re-measure must not spend ~20 min / tens of
    # GB replicating the 600M-row lineitem it never scans (and vice
    # versa). Symlink farms are cheap; the ×10 table writes are not.
    need_rel = any(c == "rel" for _, c in queries)
    need_pairs = any(c == "pairs" for _, c in queries)
    if need_pairs:
        build_pair_corpora(spark)
    if need_rel:
        build(spark)
    if need_pairs:
        build_pair_corpus(spark)
    n_li = (
        spark.read.parquet(f"{SF100}/lineitem.parquet").count()
        if need_rel else 0
    )
    n_docp = (
        spark.read.parquet(f"{SF100P}/documents.parquet").count()
        if need_pairs else 0
    )
    print(f"sf100 lineitem {n_li:,} pair-docs {n_docp:,}", flush=True)

    cls = dict(QUERIES)

    def dirs_for(name: str) -> tuple[str, str]:
        return (SF10P, SF100P) if cls[name] == "pairs" else (SF10, SF100)

    def reclaim() -> None:
        """Release the previous cell's shuffle files NOW — a third-decade
        cell writes tens of GB of shuffle, and the first sf≈100 run
        filled the disk with five cells' accumulated spill before a GC
        ever ran. The mechanism lives in the package (session.reclaim)
        so production drivers get the same discipline."""
        pkg_reclaim(spark)

    def run_once(name: str, where: str) -> float:
        t0 = time.time()
        registry.QUERIES[name](spark, where).write.format("noop").mode(
            "overwrite").save()
        dt = time.time() - t0
        reclaim()  # after the timer stops: cleanup isn't the query's cost
        return dt

    cells = [(n, w) for n, _ in queries for w in dirs_for(n)]
    outs: dict[tuple[str, str], int] = {}
    samples: dict[tuple[str, str], list[float]] = {c: [] for c in cells}
    # CELL-MAJOR protocol (round-15, per the r14 verdict item 3): the
    # old sweep-major interleave let heavy cells evict each other's
    # persisted posting features mid-sweep — block-manager churn put
    # the jaccard sf≈100p per-sample spread at 59-192 s, making
    # third-decade medians incomparable round-over-round beyond ±40%.
    # Each cell now gets a clean slate (clear_caches — every other
    # cell's features dropped), ONE untimed feature rebuild (the count
    # warm-up, which doubles as the n_out probe — the bench fbt
    # discipline applied to the cache dimension, guide §1.4), then its
    # timed sweeps back-to-back with only the result-level boundary
    # between samples.
    from kafka_to_parquet_spark.cache import clear_caches

    for name, where in cells:
        clear_caches(spark)
        reclaim()
        t0 = time.time()
        try:
            outs[(name, where)] = registry.QUERIES[name](spark, where).count()
            print(f"warm {name} @ {where}: {outs[(name, where)]:,} rows "
                  f"[{time.time() - t0:.1f}s]", flush=True)
        except Exception as exc:  # noqa: BLE001 — keep the other cells
            outs[(name, where)] = -1
            print(f"warm {name} @ {where}: FAILED "
                  f"{type(exc).__name__}: {str(exc)[:100]}", flush=True)
            reclaim()
            continue
        reclaim()
        for s in range(args.sweeps):
            clear_result_caches(spark)
            try:
                samples[(name, where)].append(run_once(name, where))
            except Exception as exc:  # noqa: BLE001
                print(f"sweep{s} {name} @ {where}: FAILED "
                      f"{type(exc).__name__}: {str(exc)[:100]}", flush=True)
                continue
            print(f"sweep{s} {name} @ {where}: "
                  f"{samples[(name, where)][-1]:.1f}s", flush=True)
        ts = samples[(name, where)]
        if len(ts) >= 2 and min(ts) > 0:
            print(f"cell {name} @ {where}: spread {max(ts) / min(ts):.2f}×",
                  flush=True)

    # (The r12/r13 pinned-S=1 'shard-control' cliff cell is gone with
    # the shard loop itself: since round 14 the counting prefix filter
    # makes PPJoin candidates answer-sized and both family queries run
    # single-pass at every decade, and the shard-count knob is gone
    # too. The historical cliff figures
    # (S=1 392-416 s / ~65 GB vs S=4 212.5 s at sf≈100) stay on
    # record in SCALING.md.)

    lines = [
        SECTION, "",
        f"lineitem = {n_li:,} rows; unique-text pair corpus = {n_docp:,}",
        "docs (sf≈10p ×10, tokens re-suffixed per copy — linear pair",
        "mass). q_suffix_lrs rides the pair corpus at this decade (the",
        "post-exact-dedup axis; plain 1000-way replication held ~33 GB",
        "of corpus-sized level checkpoints before the retention fix —",
        f"tool docstring). Median of {args.sweeps} CELL-MAJOR noop-sink",
        "sweeps: each cell runs isolated — clear_caches slate, one",
        "untimed feature rebuild (the count warm-up), then its timed",
        "sweeps back-to-back (round-15 protocol; the old interleave's",
        "cross-cell feature eviction spread jaccard samples 59-192 s).",
        "The t(sf≈10) columns re-measure the same cells as the",
        "second-decade table for a like-for-like ratio on current",
        "code.", "",
        "| query | class | t(sf≈10) | t(sf≈100) | ratio | n_out sf≈10 | n_out sf≈100 |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, c in queries:
        lo, hi = dirs_for(name)
        if not samples[(name, lo)] or not samples[(name, hi)]:
            lines.append(f"| {name} | {c} | failed | failed | — | "
                         f"{outs[(name, lo)]:,} | {outs[(name, hi)]:,} |")
            print(lines[-1], flush=True)
            continue
        t10 = statistics.median(samples[(name, lo)])
        t100 = statistics.median(samples[(name, hi)])
        lines.append(
            f"| {name} | {c} | {t10:.2f}s | {t100:.2f}s | {t100 / t10:.1f}× |"
            f" {outs[(name, lo)]:,} | {outs[(name, hi)]:,} |")
        print(lines[-1], flush=True)
    if args.only:
        # isolated re-measure (e.g. a cell that needs the whole disk to
        # itself): rows print above for hand-merging into the table —
        # don't clobber the full-section artifact.
        return
    note = "\n".join(lines) + "\n"
    with open(_SCALING_PATH) as f:
        old = f.read()
    idx = old.find(SECTION)
    if idx != -1:
        nxt = old.find("\n## ", idx + 1)
        old = old[:idx] + (old[nxt + 1:] if nxt != -1 else "")
    if not old.endswith("\n"):
        old += "\n"
    with open(_SCALING_PATH, "w") as f:
        f.write(old + "\n" + note)


if __name__ == "__main__":
    main()
