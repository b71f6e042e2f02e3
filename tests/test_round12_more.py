"""Round-12 pins, second batch: the fused IVFPQ assign + residual kernel."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


# --- fused IVFPQ assign + residual (ann_recall._assign_residual) ---


def test_fused_assign_residual_matches_retired_formulation(spark):
    """The one-pass assign+residual kernel must reproduce the retired
    `_assign_literal` + broadcast-centroid join + zip_with subtraction
    bit-for-bit on the quantized corpus."""
    from pyspark.sql import functions as F

    from op_etl_spark.suite.ann_recall import (
        _assign_literal,
        _assign_residual,
        _cents_df,
        _index_tables_core,
    )

    qv, cent_list, _ = _index_tables_core(spark, SF)
    cents = _cents_df(spark, cent_list)
    retired = (
        _assign_literal(qv, cent_list)
        .join(F.broadcast(cents), "list_id")
        .select(
            "vec_id",
            "list_id",
            F.zip_with("q", "c", lambda x, y: x - y).alias("q"),
        )
    )
    got = {
        r.vec_id: (r.list_id, tuple(r.q)) for r in _assign_residual(qv, cent_list).collect()
    }
    want = {r.vec_id: (r.list_id, tuple(r.q)) for r in retired.collect()}
    assert got == want and len(got) == qv.count()
    spark.catalog.clearCache()
