"""Physical-plan audit: one-line plan profile per catalog query.

Usage: python tools/plan_audit.py [sf_dir] > PLANS.md

For every ``queries()`` entry, prints the join strategies, exchange count,
partial-aggregation presence, scan pushdown evidence, and nested-loop-join
red flags from the (pre-AQE-execution) physical plan. The companion
assertions for the load-bearing properties live in tests/test_plans.py;
this sweep is the human-readable census over the whole catalog.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from devcontainers_etl_node_spark.plans import plan_profile  # noqa: E402
from devcontainers_etl_node_spark.queries.catalog import QUERIES  # noqa: E402
from devcontainers_etl_node_spark.session import get_spark  # noqa: E402


def profile(plan: str) -> dict:
    p = plan_profile(plan)
    return {
        "joins": ", ".join(f"{k}×{v}" if v > 1 else k for k, v in p["joins"].items()) or "—",
        "exchanges": p["exchanges"],
        "partial_agg": "✓" if p["partial_agg"] else ("1" if "HashAggregate" in plan else "—"),
        "pushed": "✓" if p["pushed_filters"] else "—",
        "flags": "⚠ NLJ" if p["nested_loop"] else "",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()
    print("# PLANS — physical-plan census (pre-execution, AQE re-plans at runtime)")
    print()
    print(f"Generated by `python tools/plan_audit.py {sf_dir}`.")
    print("NLJ/Cartesian flags are expected only where semantics require them:")
    print("`knn_cosine` / `ann_pq` (brute-force probes score every query×corpus")
    print("pair by definition — the 5-row query set is broadcast) and `ann_ivf`")
    print("(query×centroid probe, centroids are driver-tiny). Every other flag")
    print("is a ONE-ROW broadcast scalar: `above_avg_orders` / `domain_mix` /")
    print("`inactive_customers` (scalar AVG or weight total), gapfill/histogram/")
    print("quantile/rfm/time_to_convert/benford (a bounds-or-total aggregate —")
    print("the rankselect trio broadcasts its one-row histogram bounds), corpus_drift /")
    print("partition_skew_audit (a one-row totals join), ivf_incremental (the")
    print("definitional vector×centroid probe plus a median scalar), pmi (a")
    print("one-row N), bm25_retrieval (the one-row N/avgdl corpus-stats scalar),")
    print("temperature_domain_sample (one-row share total + one-row leftover),")
    print("and the synthetic-partsupp TPC-H tier (the one-row")
    print("supplier COUNT derivation seed; Q11's grand total). Anywhere else")
    print("an NLJ is a bug — `rolling_active_users` lost its flag in round 4")
    print("(explode over covered grid days replaced the day-grid theta join),")
    print("and `copurchase_triangles` now stages its oriented edge list once")
    print("(123 printed exchanges → 6: e1/e2/e3 re-referenced the whole")
    print("basket→edges→degree chain).")
    print("Broadcast joins at this sf may become SMJ at scale — that switch is")
    print("AQE's call; tests/test_plans.py pins the invariants that must not flip.")
    print()
    print("`WindowExec: No Partition Defined` warnings in sweep logs: every")
    print("unpartitioned window in the catalog sits over a PROVABLY BOUNDED")
    print("input and carries a `# bounded: ...` comment at the call site —")
    print("calendar-month/day rollups (mom_growth, rolling-7d, user_growth),")
    print("limit-capped inputs (weighted_priority_sample's TakeOrderedAndProject")
    print("limit=100, the 256-token vocab id assignment), DIV-50 gram buckets")
    print("(vocab_growth), and the <=5-source largest-remainder quota")
    print("(temperature_domain_sample). tests/test_plans.py's")
    print("unpartitioned_windows() walker pins that no UNBOUNDED empty-")
    print("PARTITION-BY window exists; the warning on these bounded ones is")
    print("expected and safe.")
    print("Eagerly-materialized entries (minhash_neardup, ngram_jaccard,")
    print("dup_clusters, pretrain_prep) print 0 exchanges: their work ran at")
    print("construction and the remaining plan is a localCheckpoint scan or a")
    print("driver-built report — timings live in BENCH_r*.json, not here.")
    print()
    print("| query | joins | exchanges | partial agg | pushed filters | flags |")
    print("|---|---|---|---|---|---|")
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            p = df._jdf.queryExecution().executedPlan().toString()
            r = profile(p)
            print(
                f"| {name} | {r['joins']} | {r['exchanges']} | {r['partial_agg']} "
                f"| {r['pushed']} | {r['flags']} |"
            )
        except Exception as e:  # pragma: no cover - audit tool resilience
            print(f"| {name} | ERROR: {type(e).__name__} | | | | |")


if __name__ == "__main__":
    main()
