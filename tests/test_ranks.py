"""Distributed order statistics (operators/ranks.py): exact equivalence
to the single-partition window they replace, and the plan contract (no
unpartitioned Window node)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from op_etl_spark.operators.ranks import global_row_index, rows_at_ranks


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_global_row_index_matches_row_number(spark):
    vals = [(v,) for v in [42, 7, 19, 3, 88, 55, 21, 64, 1, 30, 99, 11]]
    df = spark.createDataFrame(vals, "k long").repartition(4)
    got = {
        r["k"]: r["__idx"] for r in global_row_index(df, "k").collect()
    }
    want = {
        r["k"]: r["i"]
        for r in df.select(
            "k", (F.row_number().over(Window.orderBy("k")) - 1).alias("i")
        ).collect()
    }
    assert got == want


def test_global_row_index_composite_order(spark):
    rows = [(2, "b"), (1, "z"), (2, "a"), (1, "a"), (3, "m")]
    df = spark.createDataFrame(rows, "x int, y string")
    got = sorted(
        (r["x"], r["y"], r["__idx"])
        for r in global_row_index(df, ["x", "y"], out="__idx").collect()
    )
    assert got == [
        (1, "a", 0), (1, "z", 1), (2, "a", 2), (2, "b", 3), (3, "m", 4),
    ]


def test_global_row_index_plan_has_no_unpartitioned_window(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    plan = _plan(global_row_index(df, "k"))
    # every Window node must declare a partition spec
    for line in plan.splitlines():
        if "Partition Specification" in line:
            assert "__pid" in line


def test_rows_at_ranks_exact(spark):
    vals = list(range(1, 101))
    df = spark.createDataFrame([(v,) for v in vals], "k int").repartition(5)
    rows, n = rows_at_ranks(df, ["k"], [1, 25, 50, 75, 100])
    assert n == 100
    assert [r["k"] for r in rows] == [1, 25, 50, 75, 100]


def test_rows_at_ranks_rejects_out_of_range(spark):
    df = spark.createDataFrame([(1,), (2,)], "k int")
    with pytest.raises(ValueError):
        rows_at_ranks(df, ["k"], [3])


def test_grouped_row_index_matches_partitioned_row_number(spark):
    from op_etl_spark.operators.ranks import grouped_row_index

    rows = [
        (g, v, i)
        for i, (g, v) in enumerate(
            [("a", 5), ("b", 1), ("a", 3), ("c", 9), ("b", 7), ("a", 3),
             ("c", 2), ("b", 4), ("a", 8), ("c", 9), ("b", 0), ("a", 1)]
        )
    ]
    df = spark.createDataFrame(rows, "g string, v int, k int").repartition(5)
    got = {
        (r["g"], r["k"]): r["__idx"]
        for r in grouped_row_index(df, "g", ["v", "k"]).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "k")
    want = {
        (r["g"], r["k"]): r["i"]
        for r in df.select(
            "g", "k", (F.row_number().over(w) - 1).alias("i")
        ).collect()
    }
    assert got == want


def test_grouped_row_index_group_spanning_partitions(spark):
    """One group larger than any single range partition: offsets must
    chain across partitions without gaps or overlaps."""
    from op_etl_spark.operators.ranks import grouped_row_index

    rows = [("hot", v) for v in range(200)] + [("cold", v) for v in range(7)]
    df = spark.createDataFrame(rows, "g string, v int").repartition(8)
    out = grouped_row_index(df, "g", ["v"], out="i").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append((r["i"], r["v"]))
    for g, pairs in by_g.items():
        pairs.sort()
        assert [i for i, _ in pairs] == list(range(len(pairs)))
        assert [v for _, v in pairs] == sorted(v for _, v in pairs)


def test_grouped_row_index_empty(spark):
    from op_etl_spark.operators.ranks import grouped_row_index

    df = spark.createDataFrame([], "g string, v int")
    assert grouped_row_index(df, "g", ["v"]).count() == 0


def test_grouped_row_index_plan_windows_partitioned(spark):
    from op_etl_spark.operators.ranks import grouped_row_index

    df = spark.range(100).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("v")
    )
    plan = _plan(grouped_row_index(df, "g", ["v"]))
    for line in plan.splitlines():
        if "Partition Specification" in line:
            assert "__pid" in line


def test_grouped_rows_at_rank_refuses_too_many_groups(spark):
    from op_etl_spark.operators.ranks import MAX_RANK_GROUPS, grouped_rows_at_rank

    n = MAX_RANK_GROUPS + 1
    df = spark.range(2 * n).select((F.col("id") % n).alias("g"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match=f"{n} groups.*grouped_row_index"):
        grouped_rows_at_rank(df, "g", ["v"], lambda k: 0)
