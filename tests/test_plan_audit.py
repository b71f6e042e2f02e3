"""Unit tests for tools/plan_audit.py's structural smell classification.

The audit sweeps every declared query's formatted physical plan; these
tests pin the classifier itself on canned plan fragments so the rules
can't silently regress (the full 115-query sweep runs via
`python tools/plan_audit.py` / the slow CI gate).
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from plan_audit import audit  # noqa: E402


def _plan(*detail_blocks: str, tree: str = "AdaptiveSparkPlan (9)") -> str:
    return tree + "\n\n" + "\n\n".join(detail_blocks)


WIN_PART_ONLY = (
    "(5) Window\n"
    "Arguments: [max(id#0L) windowspecdefinition(k#1L, specifiedwindowframe(RowFrame, "
    "unboundedpreceding$(), unboundedfollowing$())) AS m#2L], [k#1L]"
)
WIN_EMPTY = (
    "(5) Window\n"
    "Arguments: [max(id#0L) windowspecdefinition(specifiedwindowframe(RowFrame, "
    "unboundedpreceding$(), unboundedfollowing$())) AS m#4L]"
)
WIN_ORDER_ONLY = (
    "(5) Window\n"
    "Arguments: [row_number() windowspecdefinition(id#0L ASC NULLS FIRST, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS m#6], "
    "[id#0L ASC NULLS FIRST]"
)
WIN_PART_AND_ORDER = (
    "(5) Window\n"
    "Arguments: [row_number() windowspecdefinition(k#1L, id#0L ASC NULLS FIRST, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS m#8], "
    "[k#1L], [id#0L ASC NULLS FIRST]"
)
SORT_LOCAL = "(4) Sort\nArguments: [k#1L ASC NULLS FIRST], false, 0"
SORT_GLOBAL = "(4) Sort\nArguments: [k#1L ASC NULLS FIRST], true, 0"


class TestWindowClassification:
    def test_partition_only_window_is_fine(self):
        assert audit("x", _plan(WIN_PART_ONLY))["smells"] == []

    def test_partition_and_order_window_is_fine(self):
        assert audit("x", _plan(WIN_PART_AND_ORDER))["smells"] == []

    def test_empty_partition_window_flagged(self):
        assert audit("x", _plan(WIN_EMPTY))["smells"] == ["WindowNoPartition"]

    def test_order_only_window_flagged(self):
        assert audit("x", _plan(WIN_ORDER_ONLY))["smells"] == ["WindowNoPartition"]


class TestSortClassification:
    def test_partition_local_sort_is_fine(self):
        assert audit("x", _plan(SORT_LOCAL))["smells"] == []

    def test_global_sort_flagged(self):
        assert audit("x", _plan(SORT_GLOBAL))["smells"] == ["GlobalSortNoLimit"]

    def test_global_sort_feeding_topk_is_fine(self):
        p = _plan(SORT_GLOBAL, tree="TakeOrderedAndProject (9)")
        assert audit("x", p)["smells"] == []

    def test_global_sort_not_suppressed_by_unrelated_window(self):
        # the old heuristic suppressed GlobalSortNoLimit whenever ANY
        # window/SMJ appeared in the plan text — structural matching must
        # still flag the unrelated global sort
        p = _plan(WIN_PART_AND_ORDER, SORT_GLOBAL)
        assert audit("x", p)["smells"] == ["GlobalSortNoLimit"]


class TestAllowlist:
    def test_allowed_smell_moves_to_allowed(self):
        res = audit("moving_avg_7d_revenue", _plan(WIN_ORDER_ONLY))
        assert res["smells"] == []
        assert res["allowed"] == ["WindowNoPartition"]


SCAN_BLOCK = (
    "({n}) Scan parquet\n"
    "Output [2]: [a#1L, b#2L]\n"
    "Location: InMemoryFileIndex [file:/root/testdata/sf0.001/{tbl}.parquet]"
)


class TestTableRescan:
    def _scans(self, *tbls):
        return _plan(*[SCAN_BLOCK.format(n=i + 1, tbl=t) for i, t in enumerate(tbls)])

    def test_two_scans_of_one_table_is_fine(self):
        res = audit("x", self._scans("documents", "documents"))
        assert res["smells"] == []
        assert "rescans" not in res

    def test_three_scans_of_one_table_flagged_with_counts(self):
        res = audit("x", self._scans("documents", "documents", "documents", "orders"))
        assert res["smells"] == ["TableRescan"]
        assert res["rescans"] == {"documents.parquet": 3}

    def test_many_tables_scanned_once_is_fine(self):
        res = audit("x", self._scans("orders", "lineitem", "customer", "nation"))
        assert res["smells"] == []

    def test_allowlisted_rescan_moves_to_allowed(self):
        res = audit(
            "setops_priority_customers", self._scans("orders", "orders", "orders")
        )
        assert res["smells"] == []
        assert res["allowed"] == ["TableRescan"]

    def test_cached_scan_reprints_dedupe_under_imr_only(self):
        """Byte-identical scan blocks dedupe ONLY when the tree shows the
        scan under an InMemoryRelation (a persisted subplan reprinting
        its cache-build scan per InMemoryTableScan reference). The same
        identical blocks WITHOUT an IMR ancestor must each count — e.g.
        separately numbered subquery sections reprinting node (3)."""
        block = SCAN_BLOCK.format(n=3, tbl="documents")
        imr_tree = (
            "BroadcastHashJoin (9)\n"
            ":- InMemoryTableScan (1)\n"
            ":     +- InMemoryRelation (2)\n"
            ":           +- * ColumnarToRow (4)\n"
            ":              +- Scan parquet  (3)\n"
            "+- InMemoryTableScan (6)\n"
            "      +- InMemoryRelation (7)\n"
            "            +- * ColumnarToRow (4)\n"
            "               +- Scan parquet  (3)"
        )
        res = audit("x", _plan(block, block, block, tree=imr_tree))
        assert res["smells"] == [] and "rescans" not in res
        bare_tree = (
            "BroadcastHashJoin (9)\n"
            ":- Scan parquet  (3)\n"
            "+- Scan parquet  (3)\n"
            "+- Scan parquet  (3)"
        )
        res = audit("x", _plan(block, block, block, tree=bare_tree))
        assert res["smells"] == ["TableRescan"]
        assert res["rescans"] == {"documents.parquet": 3}


class TestCollectMetricsLeak:
    def test_instrumentation_in_production_plan_flagged(self):
        res = audit("x", _plan(tree="CollectMetrics (3)\n+- Scan parquet (1)"))
        assert "CollectMetricsLeak" in res["smells"]

    def test_clean_plan_not_flagged(self):
        res = audit("x", _plan(tree="HashAggregate (3)\n+- Scan parquet (1)"))
        assert "CollectMetricsLeak" not in res["smells"]


ARROW_DUP_A = (
    "(3) ArrowEvalPython\n"
    "Arguments: [_amin(q#12)#44], [pythonUDF0#90], 200"
)
ARROW_DUP_B = (
    "(6) ArrowEvalPython\n"
    "Arguments: [_amin(q#12)#44], [pythonUDF0#91], 200"
)
ARROW_OTHER_APPLICATION = (
    "(6) ArrowEvalPython\n"
    "Arguments: [_amin(q#77)#45], [pythonUDF0#92], 200"
)
ARROW_CACHE_REPRINT = ARROW_DUP_A  # byte-identical block, same node id


class TestDuplicatedPythonUDF:
    def test_same_call_in_two_nodes_flagged(self):
        # the guide-§4.4 shape: one UDF call expression (same call expr id
        # #44) evaluated by two separate eval nodes — every row pays twice
        p = _plan(ARROW_DUP_A, ARROW_DUP_B)
        assert audit("x", p)["smells"] == ["DuplicatedPythonUDF"]

    def test_distinct_applications_not_flagged(self):
        # the same UDF applied to different inputs carries different expr
        # ids — two genuine applications, not optimizer duplication
        p = _plan(ARROW_DUP_A, ARROW_OTHER_APPLICATION)
        assert audit("x", p)["smells"] == []

    def test_cache_reprint_not_flagged(self):
        # an InMemoryRelation subplan reprints its eval node byte-identically
        # (same node id) once per cache reference — one physical evaluation
        p = _plan(ARROW_DUP_A, ARROW_CACHE_REPRINT)
        assert audit("x", p)["smells"] == []

    def test_batch_eval_duplicate_also_flagged(self):
        a = "(3) BatchEvalPython\nArguments: [f(body#2)#4], [pythonUDF0#9]"
        b = "(5) BatchEvalPython\nArguments: [f(body#2)#4], [pythonUDF0#8]"
        smells = audit("x", _plan(a, b, tree="AdaptiveSparkPlan (9)\nBatchEvalPython (3)\nBatchEvalPython (5)"))["smells"]
        assert "DuplicatedPythonUDF" in smells
