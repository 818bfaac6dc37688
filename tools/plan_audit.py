"""Dump the physical plans of the headline queries to PLANS.md with
the scale-critical properties (pushdown, pruning, broadcast, shuffle
count) summarized per query — the M5 plan-audit artifact.

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.1]
       python tools/plan_audit.py --full   # all registered queries -> PLANS_FULL.md

--full: PLANS.md covers only the headline set. The full sweep audits
EVERY registered query's plan properties and records any Exchange
SinglePartition outside the documented allowlist below;
tests/test_registry.py::test_plans_full_artifact_current pins the
artifact to the live registry so a new batch can't land unaudited.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_to_parquet_spark import registry  # noqa: E402
from kafka_to_parquet_spark.plans import explain  # noqa: E402
from kafka_to_parquet_spark.session import get_spark  # noqa: E402


def count_single_partition(plan: str) -> int:
    """Exchange-to-one-partition nodes in an ``explain("formatted")``
    plan. In formatted mode the partitioning is NOT on the tree line
    (``Exchange (2)``) — it appears in the node's detail block as
    ``Arguments: SinglePartition, ENSURE_REQUIREMENTS, ...`` — so the
    historical ``plan.count("Exchange SinglePartition")`` (which only
    matches simple-mode explain output) was blind in this audit. Both
    spellings are counted: formatted detail lines (anchored at column
    0, where only node-detail ``Arguments:`` lines live) plus the
    simple-mode token for any caller that feeds a simple-mode string.
    """
    import re

    return (len(re.findall(r"^Arguments: SinglePartition", plan, re.M))
            + plan.count("Exchange SinglePartition"))


# Queries where an Exchange SinglePartition is the documented
# semantics, not a scale bug — every entry must say WHY the relation
# feeding the single partition is bounded (node-sized, calendar-sized,
# vocabulary-sized, K-sized) regardless of input scale. The full-sweep
# audit fails (and the companion test pins) any OTHER query whose plan
# contains one.
#
# Provenance: the round-10 sweep (fixed detector — see
# count_single_partition) found 77 such plans; each was triaged by the
# operator CONSUMING the exchange (HashAggregate / Window / Sort /
# TakeOrderedAndProject) and the query docstring's documented collapse.
# Three bounded classes cover all of them:
_SP_SCALAR = (
    "global scalar/sketch reduce — map-side partial aggregation "
    "upstream, the exchange carries <=1 pre-reduced row per map partition"
)
_SP_ROUNDS = (
    "per-round convergence scalar of an iterative kernel — one bounded "
    "reduce per round, each fed by map-side partials"
)
_SP_TOPK = (
    "global top-k (TakeOrdered) — per-partition partial top-k, the "
    "exchange carries <=k rows per map partition"
)


def _sp_bounded(what: str) -> str:
    return f"global window/sort over an upstream-collapsed bounded relation: {what}"


SINGLE_PART_OK: dict[str, str] = {
    "q_abtest_cuped": _SP_SCALAR,
    "q_abtest_power": _SP_SCALAR,
    "q_active_users": _sp_bounded("day-grid share window (calendar-bounded)"),
    "q_agg_global": _SP_SCALAR,
    "q_agg_stats": _SP_SCALAR,
    "q_assoc_rules": _SP_SCALAR,
    "q_attribution": _sp_bounded("<=|channels|+1 report rows"),
    "q_bfs_levels": _SP_ROUNDS,
    "q_bloom_fpr_audit": _SP_SCALAR,
    "q_bm25": _SP_SCALAR,
    "q_bootstrap_ci": _SP_SCALAR,
    "q_burstiness": _SP_SCALAR,
    "q_changepoint_cusum": _SP_SCALAR,
    "q_chi2_independence": _SP_SCALAR,
    "q_churn_flags": _SP_SCALAR,
    "q_cluster_dbscan_grid": _SP_SCALAR,
    "q_collocation_llr": _SP_SCALAR,
    "q_contamination_attrib": _sp_bounded(
        "benchmark-sized attribution report (eval suites don't scale"
        " with the corpus)"
    ),
    "q_contamination_ladder": _SP_SCALAR,
    "q_cooccur_pmi": _SP_SCALAR,
    "q_copurchase_pmi": _SP_SCALAR,
    "q_coreset_kcenter": _SP_SCALAR,
    "q_corpus_mix": _SP_SCALAR,
    "q_corpus_shuffle": _sp_bounded("SHUFFLE_BUCKETS per-bucket offset rows"),
    "q_corr_matrix": _SP_SCALAR,
    "q_dsir_logratio": _SP_SCALAR,
    "q_dup_width_curve": _SP_SCALAR,
    "q_fertility_bytes": _SP_SCALAR,
    "q_filter_venn": _SP_SCALAR,
    "q_funnel": _SP_SCALAR,
    "q_gini_tokens": _sp_bounded(
        "vocabulary-sized rank pass (documented bound: per-shard past ~1M types)"
    ),
    "q_graph_assortativity": _SP_SCALAR,
    "q_graph_clustering_coeff": _SP_SCALAR,
    "q_graph_kcore": _SP_SCALAR,
    "q_graph_modularity": _SP_SCALAR,
    "q_graph_triangles": _SP_SCALAR,
    "q_growth_accounting": _sp_bounded("week-grid rollup (calendar-bounded)"),
    "q_hash_uniformity": _sp_bounded("<=1000 bucket counts"),
    "q_join_null_aware": _SP_SCALAR,
    "q_keyness": _SP_SCALAR,
    "q_kmv_distinct": _sp_bounded("K-sized sketch rows per source"),
    "q_kn_continuation": _SP_SCALAR,
    "q_ks_test": _SP_SCALAR,
    "q_link_adamic_adar": _SP_TOPK,
    "q_lm_bigram_logprob": _SP_SCALAR,
    "q_mann_whitney": _SP_SCALAR,
    "q_mix_curriculum": _SP_SCALAR,
    "q_mix_token_budget": _sp_bounded("|sources| plan rows"),
    "q_mutual_information": _sp_bounded("|lang|x|source| <=100 cells"),
    "q_ndcg_bm25": _sp_bounded("top-k ranked legs (k rows)"),
    "q_order_size_dist": _sp_bounded("basket-size histogram (max basket size)"),
    "q_price_index": _SP_SCALAR,
    "q_profile_table": _SP_SCALAR,
    "q_psi_drift": _sp_bounded("value-range-bounded PSI buckets"),
    "q_quality_checks": _SP_SCALAR,
    "q_quality_ensemble": _SP_SCALAR,
    "q_rate_spike": _sp_bounded("(type, hour) grid"),
    "q_repetition_windows": _SP_SCALAR,
    "q_repurchase_gaps": _sp_bounded("calendar-bounded gap histogram"),
    "q_rfm_segments": _SP_SCALAR,
    "q_rocchio_expand": _SP_SCALAR,
    "q_sample_hash_stratified": _sp_bounded(
        "|lang| strata stats rows -> 1-row budget reduce, broadcast back"
    ),
    "q_shard_balance": _sp_bounded(
        "two 1-row posting-count reduces broadcast onto the AUDIT_S-row "
        "report (+ its bounded sort)"
    ),
    "q_sample_temperature": _SP_SCALAR,
    "q_pad_waste_buckets": _SP_SCALAR,
    "q_search_rrf": _sp_bounded("two top-k legs (<=2k rows)"),
    "q_select_budget": _sp_bounded("<=BUDGET_BANDS+1 band-total offset rows"),
    "q_seasonal_strength": _SP_SCALAR,
    "q_skew_report": _SP_SCALAR,
    "q_split_leakage": _SP_SCALAR,
    "q_sssp_weighted": _SP_ROUNDS,
    "q_stratified_sample": _sp_bounded("|lang| quota rows"),
    "q_survival_curve": _SP_SCALAR,
    "q_text_textrank": _SP_ROUNDS,
    "q_text_unigram_logprob": _SP_SCALAR,
    "q_tfidf_top_term": _SP_SCALAR,
    "q_tpch_q11": _SP_SCALAR,
    "q_tpch_q14": _SP_SCALAR,
    "q_tpch_q15": _SP_SCALAR,
    "q_tpch_q17": _SP_SCALAR,
    "q_tpch_q19": _SP_SCALAR,
    "q_tpch_q22": _SP_SCALAR,
    "q_tpch_q6": _SP_SCALAR,
    "q_ts_autocorr": _sp_bounded("<=|days| daily series"),
    "q_vocab_coverage": _sp_bounded(
        "vocabulary-sized rank (same documented bound as q_gini_tokens)"
    ),
    "q_vocab_growth": _sp_bounded("GROWTH_BUCKETS checkpoint rows"),
    "q_welch_ttest": _SP_SCALAR,
    "q_zipf_slope": _sp_bounded(
        "vocabulary-sized rank-frequency curve (same documented bound)"
    ),
    "q_zorder_stats": _SP_SCALAR,
}


def full_sweep(spark, registry, sf: str, out_path: str) -> int:
    """Audit every registered query's physical plan; write the
    artifact and return the number of UNDOCUMENTED single-partition
    plans (nonzero = regression)."""
    import re

    names = sorted(registry.QUERIES)
    rows = []
    undocumented = []
    for name in names:
        try:
            df = registry.QUERIES[name](spark, sf)
            plan = explain.formatted_plan(df)
        except Exception as exc:  # noqa: BLE001 — audit the rest
            msg = str(exc)[:60].replace("|", "/").replace("\n", " ")
            rows.append((name, f"plan failed: {msg}", "", "", ""))
            undocumented.append(name)
            continue
        n_shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        n_single = count_single_partition(plan)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        has_pushed = bool(pushed) and all(p.strip() for p in pushed)
        has_bcast = "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        rows.append((name, str(n_shuffles), str(n_single),
                     "yes" if has_pushed else "no",
                     "yes" if has_bcast else "no"))
        if n_single > 0 and name not in SINGLE_PART_OK:
            undocumented.append(name)

    n_single_total = sum(1 for r in rows if r[2] not in ("", "0"))
    lines = [
        "# PLANS_FULL — plan-property audit of EVERY registered query",
        "",
        f"Generated by `tools/plan_audit.py --full` at `{sf}` over "
        f"{len(names)} queries.",
        "",
        f"- queries with >=1 Exchange SinglePartition: {n_single_total}",
        f"- undocumented single-partition plans (audit failures): "
        f"{len(undocumented)}{' — ' + ', '.join(undocumented) if undocumented else ''}",
        "",
        "Documented exceptions (SINGLE_PART_OK):",
        "",
    ]
    for n, why in sorted(SINGLE_PART_OK.items()):
        lines.append(f"- `{n}` — {why}")
    lines += [
        "",
        "Streaming queries are audited on the plan their callable",
        "returns (the materialized availableNow result); their live",
        "stream plans are pinned in tests/test_streaming_*.py.",
        "",
        "| query | shuffles | 1-part exch | pushed filters | bcast join |",
        "|---|---|---|---|---|",
    ]
    lines += [f"| {n} | {a} | {b} | {c} | {d} |" for n, a, b, c, d in rows]
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}: {len(names)} queries, "
          f"{n_single_total} with single-partition exchanges, "
          f"{len(undocumented)} undocumented")
    return len(undocumented)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="PLANS.md")
    ap.add_argument("--full", action="store_true",
                    help="audit ALL registered queries -> PLANS_FULL.md")
    args = ap.parse_args()

    if args.full:
        registry.load_all()
        spark = get_spark("plan_audit_full")
        # sf0.01 by default unless --sf overridden: plan properties are
        # scale-invariant, and the iterative kernels (which EXECUTE
        # rounds while building their result plan) finish in seconds
        # there instead of minutes at sf0.1.
        sf = args.sf if args.sf != "/root/testdata/sf0.1" else "/root/testdata/sf0.01"
        bad = full_sweep(spark, registry, sf, "PLANS_FULL.md")
        raise SystemExit(1 if bad else 0)

    from bench import HEADLINE  # noqa: E402

    registry.load_all()
    spark = get_spark("plan_audit")

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/plan_audit.py` at `{args.sf}`. Properties checked:",
        "pushed filters reach the scan, scans are column-pruned (ReadSchema),",
        "broadcast vs shuffled joins, number of exchanges (shuffles).",
        "",
    ]
    import re

    for name in HEADLINE:
        df = registry.QUERIES[name](spark, args.sf)
        # One explainString round-trip per query; derive all properties
        # from the same plan text.
        plan = explain.formatted_plan(df)
        n_shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        has_pushed = bool(pushed) and all(p.strip() for p in pushed)
        has_bcast = "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        props = [
            f"shuffles={n_shuffles}",
            f"pushed_filters={'yes' if has_pushed else 'no'}",
            f"broadcast_join={'yes' if has_bcast else 'n/a'}",
        ]
        tree = plan.split("\n\n")[0]  # the operator tree section
        scans = explain.scan_read_schema(df)
        lines += [
            f"## {name}",
            "",
            f"`{'  '.join(props)}`",
            "",
            "```",
            tree.strip(),
            "```",
            "",
        ]
        if scans:
            lines.append("ReadSchema: " + " | ".join(f"`{s}`" for s in scans))
            lines.append("")

    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out} ({len(HEADLINE)} queries)")


if __name__ == "__main__":
    main()
