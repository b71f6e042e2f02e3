"""Staging plan: raw parsed features -> validated, SR-normalized staged
tables (the reference's stage step, etl/stage_files.py:218-260 +
480-600, re-expressed as one declarative DataFrame pipeline).

Steps (all JVM-side except the reproject UDF, the one Python node these
steps add):
 1. geometry-type election per source: majority vote, drop minority rows
    (P5, etl/stage_files.py:32-55, 515-534);
 2. coordinate-magnitude validation against the declared SR window
    (P9, etl/sr_utils.py:15-60, applied etl/stage_files.py:494-500);
 3. DefineProjection for unknown CRS (T2, etl/stage_files.py:627-643);
 4. reproject everything to the staging SR 3006 (T1,
    etl/stage_files.py:556-565);
 5. overwrite-write per source table (K1, etl/stage_files.py:316-345 —
    the delete/rename dance becomes an atomic dynamic-partition
    overwrite).

Scale notes: election is one groupBy on (source_name, geom_type) — tiny
result, broadcast back; validation is a scan-level filter; the fused
reproject UDF sees every surviving row once but decodes only rows not
already in 3006 — the others send a null and keep their bytes and bbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from op_etl_spark.functions.crs import magnitude_valid_expr
from op_etl_spark.geometry.ops import reproject
from op_etl_spark.sources.schema import FEATURE_SCHEMA

STAGING_EPSG = 3006

# stage_features' output schema (tests/test_staging_pipeline.py pins it):
# the canonical feature columns, with source_name first because the
# election joins on it. Staged and processed tables read back with it.
STAGED_SCHEMA = T.StructType(
    [FEATURE_SCHEMA["source_name"]]
    + [f for f in FEATURE_SCHEMA.fields if f.name != "source_name"]
)


def elect_geometry_type(df: DataFrame, key: str = "source_name") -> DataFrame:
    """Keep only each source's dominant geometry type (majority vote;
    Multi-variants count toward their base type as in
    etl/stage_files.py:46-55)."""
    base = F.regexp_replace(F.col("geom_type"), "^Multi", "")
    with_base = df.withColumn("_base_type", base)
    counts = with_base.groupBy(key, "_base_type").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy(key).orderBy(F.desc("n"), "_base_type")
    dominant = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(key, F.col("_base_type").alias("_dominant"))
    )
    return (
        with_base.join(F.broadcast(dominant), key)
        .filter(F.col("_base_type") == F.col("_dominant"))
        .drop("_base_type", "_dominant")
    )


def validate_magnitude(df: DataFrame, drop_invalid: bool = True) -> DataFrame:
    """Flag (or drop) rows whose envelope lies outside the declared SR's
    plausible window."""
    valid = magnitude_valid_expr(
        F.col("bbox.xmin"), F.col("bbox.ymin"), F.col("crs")
    ) & magnitude_valid_expr(F.col("bbox.xmax"), F.col("bbox.ymax"), F.col("crs"))
    flagged = df.withColumn("_coords_valid", valid)
    if drop_invalid:
        return flagged.filter(F.col("_coords_valid")).drop("_coords_valid")
    return flagged


def stage_features(df: DataFrame, default_epsg: int = STAGING_EPSG) -> DataFrame:
    """Full staging pipeline on a canonical feature DataFrame."""
    from op_etl_spark.geometry.ops import define_projection

    out = elect_geometry_type(df)
    out = define_projection(out, default_epsg)  # unknown-SR rows assume default
    out = validate_magnitude(out)
    out = reproject(out, STAGING_EPSG)
    return out


def write_staged(df: DataFrame, path: str, partition_by: str = "source_name") -> None:
    """K1 staging write: atomic overwrite, partitioned by source so later
    single-source reads prune at planning time."""
    (
        df.write.mode("overwrite")
        .partitionBy(partition_by)
        .parquet(path)
    )
