"""Plan audit: sweep every suite query's physical plan for scale smells.

For each of the ~100 declared queries this prints the operators that
would hurt at 100 TB:

  - CartesianProduct / BroadcastNestedLoopJoin where not intentional
    (the range-band join is BNLJ by design: 4 literal bands);
  - BatchEvalPython (row-at-a-time Python UDF on the hot path — the
    engine's contract is Arrow-vectorized or JVM-only);
  - a global Sort (Sort node with global=true in its Arguments) that is
    not part of TakeOrderedAndProject (unbounded total order =
    single-reducer bottleneck); partition-local sorts under Window /
    SortMergeJoin carry global=false and are never flagged;
  - an unpartitioned Window (Window node whose Arguments carry no
    partition spec — the whole input funnels through one reducer);
    bounded-input windows (daily series, post-cutoff vocab) are
    allowlisted with the bound stated;
  - scan count per query (re-scans of the same table flag a missed
    reuse);
  - duplicated Python UDF evaluation: the SAME ArrowEvalPython /
    BatchEvalPython call expression (matching expr ids) appearing in
    more than one eval node — the optimizer's filter-pushdown
    duplication of a deterministic UDF (guide §4.4); every row pays
    the UDF twice.

Exit code 1 if any NEW smell appears outside the allowlist, so it can
run in CI alongside the plan-property tests.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries where the flagged operator is the intended design, with why.
ALLOW = {
    "range_join_price_bands": {"BroadcastNestedLoopJoin"},  # 4 literal bands, build side is tiny by construction
    "q11_part_value_share": {"BroadcastNestedLoopJoin", "GlobalSortNoLimit"},  # scalar threshold broadcast into HAVING; sort over the post-HAVING part aggregate (dimension-bounded, ~1e-4 of fact)
    "q15_top_supplier": {"BroadcastNestedLoopJoin", "GlobalSortNoLimit"},      # scalar max broadcast; sort over the max-revenue tie set (a handful of rows)
    "heavy_hitter_users": {"BroadcastNestedLoopJoin"},  # scalar corpus-total (1 row) broadcast into the threshold filter
    "q17_small_quantity_revenue": {"BroadcastNestedLoopJoin"},
    "q22_idle_rich_customers": {"BroadcastNestedLoopJoin", "GlobalSortNoLimit"},  # scalar avg-balance broadcast; sort over ~7 country-code groups
    "above_nation_avg_suppliers": {"BroadcastNestedLoopJoin"},
    "ann_bruteforce_topk": {"BroadcastNestedLoopJoin"},  # probe vectors (k rows) broadcast over the corpus: brute-force ANN IS an all-pairs scan
    "ivf_recall_at_k": {"BroadcastNestedLoopJoin"},  # 8-row centroid table / 10-row probe set broadcast over the corpus: k-means assignment and the exact-recall baseline are all-pairs by definition, with a bounded build side
    "ivf_recall_curve": {"BroadcastNestedLoopJoin"},  # same bounded broadcasts as ivf_recall_at_k, shared across the four operating points
    "pq_recall_at_k": {"BroadcastNestedLoopJoin"},  # 10-row probe set broadcast over the encoded corpus: ADC search and the exact-recall baseline are all-pairs by definition, with a bounded build side
    "sample_quantile_gate": {"BroadcastNestedLoopJoin"},  # 5-row quantile-estimate table broadcast over the scan that measures each estimate's exact rank
    "ivfpq_recall_at_k": {"BroadcastNestedLoopJoin"},  # 8-row centroid / 10-row probe broadcasts: coarse ranking and the exact-recall baseline are all-pairs with a bounded build side (the ADC arm itself joins on list_id)
    "event_volume_anomalies": {"BroadcastNestedLoopJoin"},  # 1-row (median, MAD) stats table broadcast over the calendar-bounded hourly series
    "ivf_centroid_rank": {"BroadcastNestedLoopJoin"},    # centroid table (n_lists rows) broadcast; corpus never shuffles
    "negative_pair_sample": {"BroadcastNestedLoopJoin"}, # 1-row corpus-size aggregate broadcast into the index math
    "neardup_triangle_stats": {"BroadcastNestedLoopJoin"},  # final assembly cross-join of three 1-row aggregates (node/edge stats, wedge count, triangle count)
    "temperature_mix_sample": {"BroadcastNestedLoopJoin"},  # 1-row (ntot, Z) normalizer broadcast onto the |sources| rate table
    "training_corpus_funnel": {"BroadcastNestedLoopJoin"},  # same 1-row mix normalizer inside the capstone funnel
    # Presentation ORDER BY over a group-bounded aggregate output: the
    # declared query semantics include the output order (oracle twins carry
    # the same ORDER BY); Spark executes it as a range-partitioned sort of
    # the post-aggregation rows, whose cardinality is bounded by the group
    # domain stated here — not by the fact table.
    "q1_pricing_summary": {"GlobalSortNoLimit"},       # |returnflag x linestatus| = 6 rows
    "q4_late_ship_orders": {"GlobalSortNoLimit"},      # |orderpriority| = 5 rows
    "q5_nation_revenue": {"GlobalSortNoLimit"},        # |nation in region| <= 25 rows
    "q7_volume_shipping": {"GlobalSortNoLimit"},       # |nation pair x year| rows
    "q8_market_share": {"GlobalSortNoLimit"},          # |year| = 2 rows
    "q9_nation_profit": {"GlobalSortNoLimit"},         # |nation x year| <= ~175 rows
    "q12_priority_lines": {"GlobalSortNoLimit"},       # |shipmode| rows
    "q13_customer_order_histogram": {"GlobalSortNoLimit"},  # |distinct order-count| rows (max orders per customer)
    "q16_supplier_part_counts": {"GlobalSortNoLimit"}, # |brand x type x size| domain rows
    "q20_concentrated_suppliers": {"GlobalSortNoLimit"},  # |supplier| dimension rows (~1e-4 of fact)
    "metrics_rollup": {"GlobalSortNoLimit"},           # |source| groups
    "ntile_order_quartiles": {"GlobalSortNoLimit"},    # 4 quartile rows
    "lang_quartiles": {"GlobalSortNoLimit"},           # |lang x quartile| rows
    # Bounded-input unpartitioned window: one row per calendar day by
    # construction (the RANGE frame needs the full daily series in order;
    # |days| ~ 2.4k at any corpus size).
    "moving_avg_7d_revenue": {"WindowNoPartition"},
    # Legitimate multi-pass shapes: >2 scans of one table where the passes
    # are semantically independent subcomputations, not missed reuse.
    "setops_priority_customers": {"TableRescan"},  # INTERSECT/EXCEPT compare four differently-filtered slices of orders; each scan pushes its own filter
}

# training_corpus_funnel carries BOTH a 1-row mix-normalizer BNLJ and three
# independent corpus passes (doc flags, near-dup pair generation,
# eval-overlap decontam) feeding one persisted flags table
ALLOW["training_corpus_funnel"] = ALLOW["training_corpus_funnel"] | {"TableRescan"}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _detail_blocks(p: str):
    """Yield (node_name, block_text) for each per-node detail section of a
    formatted explain (the sections after the ASCII tree, each starting
    with '(<id>) <NodeName>')."""
    for block in p.split("\n\n"):
        m = re.match(r"\((\d+)\) (\w+)", block)
        if m:
            yield m.group(2), block


def _cache_build_scan_ids(p: str) -> set[str]:
    """Node ids of `Scan parquet` nodes the explain TREE places beneath an
    InMemoryRelation — the cache-build scans whose detail blocks reprint
    byte-identically once per InMemoryTableScan reference. Tracks tree
    depth by the node name's column position (formatted explain indents
    children strictly deeper), so only true IMR descendants qualify."""
    ids: set[str] = set()
    stack: list[tuple[int, bool]] = []  # (indent, is_under_or_at_IMR)
    for line in p.splitlines():
        m = re.search(r"([A-Za-z*][^()]*?)\s*\((\d+)\)\s*$", line)
        if not m:
            continue
        indent = m.start(1)
        name = m.group(1).lstrip("* ").strip()
        while stack and stack[-1][0] >= indent:
            stack.pop()
        under = any(f for _, f in stack)
        stack.append((indent, name.startswith("InMemoryRelation")))
        if name.startswith("Scan parquet") and under:
            ids.add(m.group(2))
    return ids


def audit(name: str, p: str) -> dict:
    tree = p.split("\n\n", 1)[0]
    smells = set()
    if "CartesianProduct" in tree:
        smells.add("CartesianProduct")
    if "BroadcastNestedLoopJoin" in tree:
        smells.add("BroadcastNestedLoopJoin")
    if "BatchEvalPython" in tree:
        smells.add("BatchEvalPython")
    if "CollectMetrics" in tree:
        # operators/counters.py instrumentation leaked into a production
        # plan: counters are OFF by default precisely so the 173
        # driver-facing plans stay byte-identical and bench timings stay
        # honest — a CollectMetrics node here means some code path calls
        # counters.enable() without disabling it again.
        smells.add("CollectMetricsLeak")
    for node, block in _detail_blocks(p):
        args = next((ln for ln in block.splitlines() if ln.startswith("Arguments: ")), "")
        if node == "Sort":
            # Sort Arguments: [<sortOrder>], <global>, <testSpillFrequency>
            # global=true means a full-range shuffle into a total order;
            # partition-local sorts (Window/SMJ children) are global=false.
            if args.rstrip().endswith(" true, 0") and "TakeOrderedAndProject" not in tree:
                smells.add("GlobalSortNoLimit")
        elif node == "Window":
            # Window Arguments print as up to three bracket groups:
            #   [exprs], [partitionSpec], [orderSpec]
            # part-only  -> [exprs], [cols]              (fine)
            # order-only -> [exprs], [col ASC NULLS ...] (single reducer)
            # neither    -> [exprs]                      (single reducer)
            groups = args.count("], [") + 1
            last = args.rsplit("], [", 1)[-1]
            if groups == 1 or (
                groups == 2 and (" ASC NULLS " in last or " DESC NULLS " in last)
            ):
                smells.add("WindowNoPartition")
    # §4.4 insurance (guide): the optimizer may DUPLICATE a deterministic
    # Python UDF's evaluation when a filter on its output column is pushed
    # below the projection that computes it — the plan then carries the
    # SAME call expression (identical `udf(args#ids)#callId`, including the
    # call's expr id) in two separate ArrowEvalPython / BatchEvalPython
    # nodes, and every row pays the UDF twice. Distinct applications of one
    # UDF to different inputs carry different expr ids, so they never
    # collide. Byte-identical blocks (same node id) are cache reprints of
    # one physical node — an InMemoryRelation subplan prints its eval node
    # once per InMemoryTableScan reference — and are deduped first.
    calls_by_node: dict[str, list[str]] = {}
    seen_eval_blocks: set[str] = set()
    for node, block in _detail_blocks(p):
        if node not in ("ArrowEvalPython", "BatchEvalPython"):
            continue
        if block in seen_eval_blocks:
            continue
        seen_eval_blocks.add(block)
        node_id = re.match(r"\((\d+)\)", block).group(1)
        args = next((ln for ln in block.splitlines() if ln.startswith("Arguments: ")), "")
        # a PythonUDF call prints `name(children)#<exprId>`; inner child
        # expressions (casts, attrs) never print `)#<id>`, so the trailing
        # ids enumerate exactly the UDF call expressions of this node
        calls_by_node.setdefault(node_id, []).extend(re.findall(r"\)#(\d+)", args))
    call_nodes: dict[str, int] = {}
    for node_id, calls in calls_by_node.items():
        for c in calls:
            call_nodes[c] = call_nodes.get(c, 0) + 1
    if any(n > 1 for n in call_nodes.values()):
        smells.add("DuplicatedPythonUDF")
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", tree, re.M))
    # per-table scan counts: the same parquet table scanned >2x in one plan
    # is a missed reuse (the q15-style double-scan guard, with one rescan
    # of headroom for legitimate two-pass shapes like build+probe)
    # Dedupe byte-identical scan blocks, but ONLY for scans the tree
    # shows under an InMemoryRelation: a persisted subplan re-prints its
    # cache-build scan's detail block (same node id, same attribute ids)
    # once per InMemoryTableScan reference, yet those are all the SAME
    # physical scan — it ran once, at cache materialization — and
    # counting the reprints would flag a cached-reuse plan as a rescan,
    # the exact opposite of what it is. Scans NOT under an
    # InMemoryRelation never dedupe, so a future plan shape that
    # reprints byte-identical blocks for genuinely distinct scans (e.g.
    # separately numbered subquery sections) still counts every one.
    cached_ids = _cache_build_scan_ids(p)
    seen: set[str] = set()
    per_table: dict[str, int] = {}
    for block in p.split("\n\n"):
        m_id = re.match(r"\((\d+)\) Scan parquet", block)
        if not m_id:
            continue
        if block in seen and m_id.group(1) in cached_ids:
            continue
        seen.add(block)
        loc = next((ln for ln in block.splitlines() if "Location:" in ln), "")
        m = re.search(r"(\w+\.parquet)", loc)
        tbl = m.group(1) if m else "unknown"
        per_table[tbl] = per_table.get(tbl, 0) + 1
    rescanned = {t: c for t, c in per_table.items() if c > 2}
    if rescanned:
        smells.add("TableRescan")
    out = {
        "smells": sorted(smells - ALLOW.get(name, set())),
        "allowed": sorted(smells & ALLOW.get(name, set())),
        "n_scans": n_scans,
    }
    if rescanned:
        out["rescans"] = rescanned
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from op_etl_spark.session import get_spark
    from op_etl_spark import suite

    spark = get_spark("plan-audit")
    bad = {}
    report = {}
    for name, fn in suite.all_queries().items():
        try:
            res = audit(name, plan_of(fn(spark, sf_dir)))
        except Exception as e:  # noqa: BLE001
            res = {"error": f"{type(e).__name__}: {str(e)[:120]}"}
        report[name] = res
        if res.get("smells") or res.get("error"):
            bad[name] = res
    print(json.dumps({"n_queries": len(report), "flagged": bad}, indent=2))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
