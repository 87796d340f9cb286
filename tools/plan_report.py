"""Generate PLANS.md: physical-plan evidence for the headline queries.

For each query: exchange/scan/window/codegen counts plus the salient
plan lines (PushedFilters, ReadSchema, BroadcastHashJoin,
TakeOrderedAndProject, PartitionFilters) — the concrete evidence behind
BENCH.md's scale claims. Regenerate after plan-affecting changes:

    python tools/plan_report.py            # writes PLANS.md at repo root
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"

#: query -> one-line claim the plan should evidence.
HEADLINE: dict[str, str] = {
    "q20_pricing_summary": "filter + 4-of-16 columns pushed to the scan; partial+final codegen agg",
    "q10_join_revenue_by_nation": "dims broadcast; fact table never shuffles before the agg",
    "q30_rank_top3_orders": "one hash exchange feeds both window specs",
    "q34_topk_lineitems": "TakeOrderedAndProject — no global sort",
    "q16_asof_join": "union + single window: one shuffle total",
    "q66_sample_by_fill": "one pass: a per-key map aggregate densified by explode — no grid join, no checkpoint",
    "q47_near_dup_minhash_lsh": "no self-join of the signature pipeline; banding via aggregate",
    "q69_sequence_packing": "one exchange (shard hash) for the packing window",
    "q68_stratified_sample": "sampling is a scan-level filter — zero pre-agg exchanges",
    "q75_trailing_hour_range": "RANGE frame over one keyed exchange",
    "q78_splice_join": "full as-of: ONE hash exchange feeds both directional carries (2nd Exchange is the DQ output sort)",
    "q80_decontaminate": "bench grams distinct+broadcast (small side); corpus grams hit zero exchanges before the join",
    "q82_interval_search": "interval literal is a plain range predicate in the scan stage",
    "q88_token_chunks": "chunking is one codegen span (split→sequence→posexplode→slice), zero pre-sort exchanges",
    "q91_token_budget_mix": "budget prefix = one keyed exchange for the cumulative window; scan reads 3 columns",
    # Round 8:
    "q152_dialect_sample_by_from_to": "FROM-TO range bound lands in PushedFilters; anchored bucket is integer-µs codegen",
    "q153_haversine_track": "window + per-key sum share ONE hash exchange (2nd Exchange is the DQ output sort); codegen trig, zero Python nodes",
    "q155_geohash_cells": "geohash encode is pure projection — the only exchange is the 1024-cell aggregate",
    # Round 11 wave 2:
    "q177_kmeans_clusters": "final k-means assignment is a zero-shuffle codegen projection (centroids are plan literals); the only exchange is the output sort",
    "q178_show_partitions": "partition listing reads 2 columns; per-day agg partial-combines map-side, the window runs over the day directory",
    # Round 12: the routed prune family + sub-second strides.
    "q171_topk_threshold_prune": "certified threshold in PushedFilters (GreaterThanOrEqual) when partitions certify; bounded-heap TakeOrderedAndProject on the survivors",
    "q172_topk_per_key_prune": "grouped maxima partial-agg on SPARK_PARTITION_ID before the exchange; threshold joins back BROADCAST via the size-MEASURED default (true directory count, not the fact-scan estimate)",
    "q183_dialect_topk_routed": "SQL text plans identically to the library call: pruned scan + TakeOrderedAndProject, no global sort",
    "q187_subsecond_sample_by": "250ms buckets are integer-µs floor codegen — no window-struct node, one aggregate exchange",
    # Round 13: LATEST ON deployed face + the scalar rewriter.
    "q33_latest_event_per_user": "LATEST ON = ranking window whose rn=1 filter plans a map-side WindowGroupLimit below the exchange: at most one row per (partition × key) shuffles",
    "q186_dialect_time_scalars": "QuestDB time scalars rewrite to codegen expressions (timestampadd/pmod epoch floors): zero Python nodes, one aggregate exchange",
    # Round 14 second wave: the tail-slice and scalar-wave faces.
    "q200_string_rounding_scalars": "string/rounding spellings rewrite to codegen expressions (instr / bround / sign-aware pow-floor folds): zero Python nodes, scan reads only the referenced columns",
    "q202_limit_negative_range": "negative LIMIT range = reversed TakeOrderedAndProject of |lo| rows (per-partition heap, no global sort); the drop-last and re-sort run on the tail-sized frame",
}

SALIENT = re.compile(
    r"PushedFilters: \[[^\]]*[A-Za-z][^\]]*\]|ReadSchema:.*|PartitionFilters: \[[^\]]*[A-Za-z][^\]]*\]"
)
#: Tree lines: "+- NodeName ... (id)"; details lines: "(id) NodeName".
#: Counting from the FINAL-plan tree slice avoids double counting (the
#: details section re-lists every node, and AQE appends an Initial Plan
#: tree with its own ids).
NODES = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"TakeOrderedAndProject|Exchange|Scan parquet|Scan csv|Window|"
    r"InMemoryTableScan|HashAggregate|ObjectHashAggregate|Generate)"
    r"[^\n(]*\((\d+)\)"
)


def main() -> None:
    from questdb_etl_jobs_spark.queries import spark_queries
    from questdb_etl_jobs_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = spark_queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    out = [
        "# PLANS — physical-plan evidence (auto-generated)",
        "",
        "`python tools/plan_report.py` regenerates this file. Node counts",
        "and salient scan lines from `EXPLAIN FORMATTED` at sf0.01 after",
        "execution (AQE-final plans). Claims ↔ evidence for BENCH.md.",
        "",
    ]
    for name, claim in HEADLINE.items():
        df = registry[name](spark, SF_DIR)
        df.collect()  # let AQE finalize
        plan = df._jdf.queryExecution().explainString(mode)
        # Count nodes from the final-plan TREE slice only: details re-list
        # every node, and AQE appends an Initial Plan tree with own ids.
        tree = plan.split("== Initial Plan ==")[0]
        tree = tree.split("\n\n")[0]
        node_ids: dict[str, set[str]] = {}
        for m in NODES.finditer(tree):
            node_ids.setdefault(m.group(1), set()).add(m.group(2))
        counts = {k: len(v) for k, v in node_ids.items()}
        count_str = ", ".join(f"{k}×{v}" for k, v in sorted(counts.items()))
        out += [f"## {name}", "", f"**Claim:** {claim}", "",
                f"Nodes: {count_str}", "", "```"]
        seen = set()
        for m in SALIENT.finditer(plan):
            line = " ".join(m.group(0).split())
            if len(line) > 160:
                line = line[:157] + "..."
            if line not in seen:
                seen.add(line)
                out.append(line)
        out += ["```", ""]
    with open("/root/repo/PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
