"""`session.local_frame`: driver rows as an Arrow-built DataFrame.

Each schema below is one the engine builds from driver rows (pipeline
metrics, connector task lists, graph and rank side tables, centroid
tables). The frame must hold exactly what `createDataFrame(<list>)`
holds, without a PythonRDD under it, and the engine must build every
such frame through `local_frame`.
"""

from __future__ import annotations

import ast
import os

import pytest

from op_etl_spark.operators.metrics import METRICS_SCHEMA
from op_etl_spark.session import local_frame
from op_etl_spark.sources.schema import FEATURE_DDL
from op_etl_spark.geometry.wkb import wkb_dumps

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "op_etl_spark")

CASES = {
    "metrics": (
        METRICS_SCHEMA,
        [("a", "LST", "file", 1.5, 2.5, True, None, None, 10, 1, None, 0),
         ("b", "MSB", "rest", 3.0, 4.0, False, "ConnectionError", "refused", 0, 0, None, 0)],
    ),
    "file_listing": (
        "path string, stem string, ext string, mtime double",
        [("/d/a.geojson", "a", ".geojson", 1.7e9), ("/d/b.shp", "b", ".shp", 0.0)],
    ),
    "file_tasks": (
        "path string, source_name string, authority string",
        [("/d/a.geojson", "a", None)],
    ),
    "rest_tasks": ("params_json string, start_id long", [('{"resultOffset": 0}', 2**40)]),
    "features": (
        FEATURE_DDL,
        [(7, "s", "A", "Point", wkb_dumps("Point", [1.0, 2.0]),
          (1.0, 2.0, 1.0, 2.0), 3006, {"namn": "x", "tom": None}),
         (8, "s", "A", None, None, None, None, None)],
    ),
    "features_empty": (FEATURE_DDL, []),
    "typenames_empty": ("typename string", []),
    "graph_edges": ("src long, dst long", [(1, 2), (2, 1), (-(2**62), 5)]),
    "kcore_profile": ("k int, n_nodes long, n_edges long", [(2, 10, 14), (3, 0, 0)]),
    "rank_offsets": ("__pid int, g string, __off long", [(0, "x", 0), (1, None, 17)]),
    "centroids": ("list_id int, c array<double>", [(0, [0.5, -1.0]), (1, []), (2, None)]),
    "coarse_cells": (
        "coarse_id int, cell array<struct<label:int, c:array<double>, cn:double>>",
        [(0, [(3, [1.0, 0.0], 1.0), (4, [0.0, 2.0], 2.0)]), (1, [])],
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_round_trip_equals_create_dataframe(spark, name):
    schema, rows = CASES[name]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_no_python_rdd(spark):
    schema, rows = CASES["features"]
    lineage = local_frame(spark, rows, schema)._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage
    # the list path it replaces does ship its rows through one
    listed = spark.createDataFrame(rows, schema)._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" in listed


def _create_dataframe_calls(tree: ast.AST):
    """(line, enclosing function) of every `<x>.createDataFrame(...)` call."""
    out = []

    def walk(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            out.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            walk(child, func)

    walk(tree, None)
    return out


def test_engine_builds_driver_rows_only_through_local_frame():
    stray = []
    for root, _dirs, names in os.walk(PKG):
        for n in names:
            if not n.endswith(".py"):
                continue
            path = os.path.join(root, n)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            rel = os.path.relpath(path, PKG)
            for line, func in _create_dataframe_calls(tree):
                if not (rel == "session.py" and func == "local_frame"):
                    stray.append(f"{rel}:{line} (in {func})")
    assert not stray, "createDataFrame outside session.local_frame: " + ", ".join(stray)


def test_guard_sees_a_stray_call():
    src = "def f(spark):\n    return spark.createDataFrame([], 'a int')\n"
    assert _create_dataframe_calls(ast.parse(src)) == [(2, "f")]
