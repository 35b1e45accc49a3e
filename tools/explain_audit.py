"""Physical-plan audit: assert the plan shapes SCALE.md promises.

Checks, per audited query:
  - parquet scans carry PushedFilters / pruned ReadSchema where expected
  - dimension joins are BroadcastHashJoin (not SMJ/BNLJ)
  - no BroadcastNestedLoopJoin anywhere except the intended cross
    joins (knn broadcast product, 1-row stats broadcasts)
  - as-of join contains NO join operator at all (union-merge form)

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from japanstockdatapipeline_spark.plans import all_members, all_queries
from japanstockdatapipeline_spark.session import get_spark


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


CHECKS = {
    "pricing_summary": [
        ("PushedFilters: \\[IsNotNull\\(l_shipdate\\)", True, "shipdate filter pushed to scan"),
        ("HashAggregate", True, "two-phase hash aggregate"),
        ("hashpartitioning\\(l_returnflag", True, "single shuffle on group keys"),
    ],
    "revenue_by_nation": [
        ("BroadcastHashJoin", True, "dims broadcast"),
        ("SortMergeJoin", False, "no SMJ for dim joins"),
    ],
    "purchase_asof_click": [
        ("Join", False, "as-of is union-merge: no join operator"),
        ("Union", True, "union of tagged sides"),
        ("RunningWindowFunction|Window", True, "last(ignorenulls) window"),
    ],
    "rolling_event_stats": [
        ("hashpartitioning\\(user_id", True, "one shuffle on entity key"),
    ],
    "embedding_knn_topk": [
        (r"\A(?!.*\(\d+\) MapInArrow.*\(\d+\) MapInArrow).*\(\d+\) MapInArrow", True,
         "BLAS matmul path: corpus streamed through one MapInArrow pass"),
        ("SortMergeJoin|ShuffledHashJoin", False, "no join: candidates re-ranked by window"),
    ],
    "doc_ngram_jaccard_dups": [
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", False, "join-free pair generation"),
    ],
    "customers_without_orders": [
        ("BroadcastHashJoin.*LeftAnti|LeftAnti.*BroadcastHashJoin", True, "anti-join broadcast"),
    ],
    "winsorized_price_z": [
        ("BroadcastNestedLoopJoin|BroadcastExchange", True, "1-row stats broadcast"),
    ],
    "shipping_priority_topk": [
        ("PushedFilters: \\[IsNotNull\\(l_shipdate\\)", True, "shipdate filter pushed to fact scan"),
        ("TakeOrderedAndProject", True, "top-k is TakeOrdered, not global sort"),
    ],
    "local_supplier_volume": [
        ("PushedFilters: \\[IsNotNull\\(o_orderdate\\)", True, "order-date range pushed to scan"),
        ("BroadcastHashJoin", True, "supplier/nation/region broadcast"),
    ],
    "small_quantity_part_revenue": [
        ("BroadcastHashJoin", True, "part dim broadcast"),
        ("SortMergeJoin|ShuffledHashJoin", False, "no self-join: threshold via window"),
        ("Window", True, "per-part average as window"),
    ],
    "dormant_rich_customers": [
        ("BroadcastNestedLoopJoin|BroadcastExchange", True, "1-row scalar aggregate broadcast"),
        ("LeftAnti", True, "existence check as anti-join"),
    ],
    "regional_rollup_totals": [
        ("Expand", True, "single expand-then-aggregate, no per-level rescans"),
    ],
    "embedding_near_dup_pairs": [
        ("BroadcastNestedLoopJoin|CartesianProduct", False, "LSH-blocked: no all-pairs product"),
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True, "equi-join on bucket signature"),
    ],
    "embedding_lsh_topk": [
        ("BroadcastNestedLoopJoin|CartesianProduct", False, "bucketed: no cross join"),
    ],
    "doc_decontamination": [
        ("BroadcastHashJoin", True, "benchmark gram set is the broadcast side"),
        ("SortMergeJoin|ShuffledHashJoin", False, "corpus side never shuffles for the probe"),
    ],
    "doc_sequence_packing": [
        ("hashpartitioning\\(lang", True, "running token sum partitions by shard, not global"),
    ],
    "event_indicator_fused_jvm": [
        ("MapInPandas", True, "recursive family appended pandas-side"),
        ("Join", False, "fused: no join operator anywhere"),
    ],
    "multi_basket_valuation": [
        ("BroadcastHashJoin|BroadcastExchange", True, "day-index broadcast per basket"),
        ("CartesianProduct", False, "membership fan-out is an equi-join, not a product"),
    ],
    "manifest_replay": [
        ("HashAggregate", True, "per-day manifest resolution is one aggregate"),
    ],
    "doc_mixture_plan": [
        ("hashpartitioning\\(source", True, "token capacities aggregate on source"),
        ("SortMergeJoin|ShuffledHashJoin", False, "budget joins back as a broadcast 1-row agg"),
    ],
    "doc_incremental_dedup": [
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True, "snapshot probe is an equi-join on the fingerprint"),
        ("BroadcastNestedLoopJoin.*Inner|CartesianProduct", False, "never an all-pairs product"),
    ],
    "embedding_kmeans_cells": [
        (r"\A(?!.*\(\d+\) MapInArrow.*\(\d+\) MapInArrow).*\(\d+\) MapInArrow", True, "assignment is one MapInArrow pass"),
        ("CartesianProduct", False, "assignment is vectors x 1 broadcast centroid-array row, never corpus x corpus"),
        ("Window", False, "no corpus-wide window: seed is orderBy+limit (partial top-k), argmax is an array expression"),
        ("hashpartitioning\\(vec_id", False, "no per-round corpus x k shuffle on the vector id"),
    ],
    "doc_lsh_verified_dups": [
        ("BroadcastNestedLoopJoin|CartesianProduct", False, "two-stage: candidates via band equi-join, verify via id equi-joins — never a product"),
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True, "band-bucket candidate join + candidate-to-shingle verify joins"),
    ],
    "doc_simhash_dups": [
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True, "candidates via band equi-join"),
        ("BroadcastNestedLoopJoin|CartesianProduct", False, "never an all-pairs product"),
    ],
    "doc_features_fused": [
        ("Join", False, "one-pass: no join operator anywhere"),
        ("hashpartitioning\\(lang", True, "single shuffle: the packing window on the shard"),
    ],
    "doc_pii_redaction": [
        ("Join|Exchange", False, "scan-speed expressions: no join, no shuffle"),
    ],
    "doc_url_normalize": [
        ("Join|Exchange", False, "scan-speed expressions: no join, no shuffle"),
    ],
    "doc_width_normalize": [
        ("Join|Exchange", False, "scan-speed expressions: no join, no shuffle"),
    ],
    "doc_html_strip": [
        ("Join|Exchange", False, "scan-speed expressions: no join, no shuffle"),
    ],
    "doc_gopher_quality_flags": [
        ("Join|Exchange", False, "scan-speed expressions: no join, no shuffle"),
    ],
    "embedding_int8_quant": [
        ("Join|Exchange", False, "pure array expressions in the scan"),
    ],
    "doc_leakage_safe_split": [
        ("BroadcastNestedLoopJoin|CartesianProduct", False, "cluster map joins by key, never a product"),
    ],
    "embedding_semdedup": [
        ("CartesianProduct", False, "pairwise pass is within-cell only, never corpus x corpus"),
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True, "cell self-join is an equi-join on the cell id"),
        ("Window", False, "quantizer subtree carries no corpus-wide window either"),
    ],
    "overheat_stage_history": [
        ("FlatMapGroupsInPandas", True, "stage machine is the sanctioned grouped-map path (per-key state walk)"),
        ("BroadcastNestedLoopJoin|CartesianProduct|SortMergeJoin", False, "no join anywhere: heat score windows + one grouped map"),
    ],
    "overheat_ranking": [
        ("hashpartitioning\\(user_id", True, "per-user median/latest aggregate shuffles on the entity key"),
        ("BroadcastNestedLoopJoin|CartesianProduct", False, "ranking is aggregate + one window, never a product"),
    ],
    "doc_mixture_alpha": [
        ("Join", False, "one groupBy + source-axis windows: no join"),
        ("hashpartitioning\\(source", True, "token mass aggregates on source"),
    ],
    "doc_unigram_logprob": [
        ("CartesianProduct", False, "no product: frequency table joins on the term"),
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True, "score pass equi-joins tokens to the vocab table"),
        ("BroadcastNestedLoopJoin|BroadcastExchange", True, "1-row tercile cuts broadcast (winsorize shape)"),
        ("Window", False, "no vocab-axis single-partition window: corpus total is a 1-row agg off the persisted vocab table"),
        ("InMemoryTableScan|InMemoryRelation", True, "vocab table persisted: total + scoring join share one tokenize"),
    ],
    "corpus_prep_fused": [
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|CartesianProduct", False,
         "zero equi-joins: decon probe is a broadcast array intersect, exact-dup a fingerprint window"),
        ("BroadcastNestedLoopJoin|BroadcastExchange", True, "1-row eval-gram-set broadcast"),
        ("hashpartitioning\\(lang", True, "packing window shuffles on the shard"),
        ("hashpartitioning\\(fp", True, "exact-dup signal shuffles on the fingerprint"),
    ],
    "doc_quality_classifier": [
        ("Join|Exchange", False,
         "scan-speed expressions: the hashed-feature model is a literal array riding the scan"),
    ],
    "doc_dsir_weight": [
        ("CartesianProduct", False, "never a product: scoring equi-joins tokens to the bucket table"),
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True,
         "score pass equi-joins tokens to the 512-row bucket LM table"),
        ("BroadcastNestedLoopJoin|BroadcastExchange", True,
         "1-row totals + percentile cut broadcast (winsorize shape)"),
        ("Window", False, "no corpus-wide window on any axis"),
        ("InMemoryTableScan|InMemoryRelation", True,
         "bucket table persisted: totals + scoring join share one tokenize"),
    ],
    "embedding_pq_codes": [
        (r"\A(?!.*\(\d+\) MapInArrow.*\(\d+\) MapInArrow).*\(\d+\) MapInArrow", True, "assignment is one MapInArrow pass"),
        ("CartesianProduct", False, "assignment is vectors x 1 broadcast codebook row, never corpus x codebook rows"),
        ("Window", False, "no corpus-wide window: seed is orderBy+limit, argmin is an array expression"),
        ("hashpartitioning\\(vec_id", False, "no per-round corpus shuffle on the vector id"),
    ],
    "embedding_pq_adc_topk": [
        ("CartesianProduct", False, "query side is bounded and broadcast, never a shuffled product"),
        ("BroadcastExchange|BroadcastNestedLoopJoin", True,
         "query vectors + ADC shortlist broadcast into the true-cosine join-back"),
        ("hashpartitioning\\(vec_id", False, "no corpus shuffle on the vector id"),
    ],
    "embedding_pq_rerank_topk": [
        ("CartesianProduct", False, "shortlist from the broadcast ADC scan, re-rank is a window over candidates only"),
        ("Window", True, "true-cosine re-rank window over the bounded shortlist"),
    ],
    "doc_winnowed_spans": [
        ("CartesianProduct|BroadcastNestedLoopJoin", False,
         "posting-list shape: fingerprint df joins back by key, never a product"),
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True,
         "df table equi-joins back on the fingerprint"),
        ("Window", False, "no corpus-wide window: winnow selection is per-row array expressions"),
    ],
    "doc_vocab_stats": [
        ("Window", False, "no vocab-axis single-partition window: corpus total is a 1-row agg off the persisted vocab table"),
        ("InMemoryTableScan|InMemoryRelation", True, "vocab table persisted: total + share consume one tokenize scan"),
        ("TakeOrderedAndProject", True, "top-20 is TakeOrdered, not a global sort"),
        ("CartesianProduct|BroadcastNestedLoopJoin|BroadcastExchange", True, "1-row corpus-total broadcast (winsorize shape)"),
    ],
    "doc_bpe_pair_counts": [
        ("Join", False, "adjacent pairs come from zipping a doc's own shifted slice: no self-join"),
        ("TakeOrderedAndProject", True, "top-100 is TakeOrdered, not a global sort"),
        ("Window", False, "no single-partition window over the pair vocabulary"),
    ],
    "doc_selection_curve": [
        ("BroadcastNestedLoopJoin|BroadcastExchange", True,
         "11-row threshold grid broadcast against the staged scan"),
        ("SortMergeJoin|ShuffledHashJoin|CartesianProduct", False,
         "never a shuffled join/product: the grid is bounded by construction"),
        ("Window", False, "pure conditional aggregation, no window"),
    ],
    "embedding_hard_negatives": [
        ("CartesianProduct|SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", False,
         "masked matmul scan: queries ride inside the Arrow batch fn, never a join"),
        ("Window", True, "per-query re-rank window over the bounded per-batch candidates"),
    ],
}


# ---------------------------------------------------------------------------
# Global single-partition-window audit (round-7 verdict #8): EVERY
# registered query/member whose physical plan contains an
# UNPARTITIONED Window (all rows through one task — the classic scale
# cliff) must carry an explicit bounded-axis justification here. The
# WindowExec warning in the verify logs is then provably benign: each
# occurrence is annotated with WHY its input axis is bounded, and a
# new unbounded one fails the gate instead of hiding in the noise.
# ---------------------------------------------------------------------------
BOUNDED_AXIS_GLOBAL_WINDOWS: dict[str, str] = {
    # source axis: inputs are per-source token-mass aggregates
    # (distinct sources — <= thousands of rows at any corpus size,
    # the mixture/shard planning grain), never corpus grain
    "doc_mixture_alpha": "source axis (per-source aggregate)",
    "doc_mixture_plan": "source axis (per-source aggregate + water-fill)",
    "doc_mixture_sample": "source axis (per-source aggregate + water-fill)",
    "doc_feature_panel": "source axis via the doc_mixture_sample member's "
    "ungrouped water-fill (operators/waterfill.py:132 — constituent axis) "
    "+ the doc_priority_sample member's K+1-row rank (constant axis)",
    # constant axis: the rank window runs over the <= K+1 rows that
    # survived the distributed TakeOrdered cut, never the corpus
    "doc_priority_sample": "K+1-row sample axis (rank over the "
    "TakeOrdered output, K=64 compile-time constant)",
    # calendar/day axis: inputs are per-day aggregates or distinct-date
    # grids — O(trading days), thousands of rows per decade
    "order_calendar_math": "distinct-order-date axis (lead/lag calendar walk)",
    "calendar_panel": "distinct-order-date axis via order_calendar_math",
    "daily_adv_dec_ratio": "trading-day axis (25-day trailing breadth "
    "windows over the per-day advancers/decliners aggregate — W19's "
    "canonical market-wide axis)",
    "market_breadth_panel": "trading-day axis via daily_adv_dec_ratio / "
    "pct_above_sma_breadth members",
    "pit_basket_valuation": "trading-day grid axis (distinct-days "
    "row_number + day-index merges over per-day aggregates)",
    "event_type_panel": "trading-day / event-type aggregate axes via the "
    "breadth + correlation members (bounded grains)",
}


def _single_partition_windows(plan: str) -> int:
    """Count windowspecdefinition occurrences with NO partition column
    (order-only or frame-only specs both run single-partition)."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\((.*?)specifiedwindowframe\(", plan, re.DOTALL):
        prefix = m.group(1)
        parts = [p.strip() for p in prefix.split(",") if p.strip()]
        # a partition column is a bare expression; order columns carry
        # ASC/DESC markers — windows with ONLY order/frame args are
        # single-partition
        has_partition = any(
            " ASC" not in p and " DESC" not in p and not p.endswith("$()")
            for p in parts
        )
        if not has_partition:
            n += 1
    return n


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    qs = {**all_queries(), **all_members()}
    failures = 0
    for name, rules in CHECKS.items():
        df = qs[name].fn(spark, sf_dir)
        plan = plan_of(df)
        for pattern, expected, why in rules:
            found = re.search(pattern, plan, re.IGNORECASE | re.DOTALL) is not None
            ok = found == expected
            mark = "PASS" if ok else "FAIL"
            if not ok:
                failures += 1
            print(f"{mark}  {name}: {'has' if expected else 'no'} /{pattern}/ ({why})")
            if not ok and os.environ.get("AUDIT_VERBOSE"):
                print(plan)

    # global sweep: unpartitioned windows anywhere in the registry
    # must be allowlisted with a bounded-axis justification
    seen_allowed = set()
    for name, q in sorted(qs.items()):
        try:
            plan = plan_of(q.fn(spark, sf_dir))
        except Exception as e:  # a plan that cannot build fails loudly
            failures += 1
            print(f"FAIL  {name}: plan build error in window sweep: {str(e)[:150]}")
            continue
        n = _single_partition_windows(plan)
        if n and name in BOUNDED_AXIS_GLOBAL_WINDOWS:
            seen_allowed.add(name)
            print(
                f"PASS  {name}: {n} single-partition window(s), bounded axis: "
                f"{BOUNDED_AXIS_GLOBAL_WINDOWS[name]}"
            )
        elif n:
            failures += 1
            print(
                f"FAIL  {name}: {n} UNALLOWLISTED single-partition window(s) — "
                f"either fix the plan or justify the axis bound in "
                f"BOUNDED_AXIS_GLOBAL_WINDOWS"
            )
    for name in sorted(set(BOUNDED_AXIS_GLOBAL_WINDOWS) - seen_allowed):
        # stale allowlist rows would silently re-admit the cliff later
        failures += 1
        print(f"FAIL  {name}: allowlisted but no single-partition window found (stale entry)")

    print(f"\n{failures} plan-audit failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
