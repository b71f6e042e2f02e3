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

Plan shape: the vote is two small aggregates, broadcast back and joined
on the source; the election, the DefineProjection and the validation are
then one filter, and the reproject two projections around the fused
UDF. Every predicate is a SQL expression parsed once, so building a
source's plan costs a handful of DataFrame operations, not one py4j
round trip per Column method. The UDF sees every surviving row once but
decodes only rows not already in 3006 — the others send a null and keep
their bytes and bbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from op_etl_spark.functions.crs import magnitude_valid_sql
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


# a geometry type's base type: Multi variants count toward it
# (etl/stage_files.py:46-55)
_BASE_TYPE = "regexp_replace(geom_type, '^Multi', '')"


def _votes(df: DataFrame, key: str) -> DataFrame:
    """(key, _dominant): each source's base type with the highest count;
    a tie goes to the lowest base type, a null one first (where an
    ascending sort puts it)."""
    return (
        df.groupBy(key, F.expr(f"{_BASE_TYPE} AS t"))
        .agg(F.expr("count(1) AS n"))
        .groupBy(key)
        .agg(F.expr("min(named_struct('n', -n, 't', t)).t AS _dominant"))
    )


def _coords_valid(epsg: str) -> str:
    """SQL: both envelope corners inside the window of SR `epsg`."""
    return " AND ".join(
        magnitude_valid_sql(f"bbox.{x}", f"bbox.{y}", epsg)
        for x, y in (("xmin", "ymin"), ("xmax", "ymax"))
    )


def _elect(df: DataFrame, key: str, also: str = "true") -> DataFrame:
    """The rows of each source's dominant type that also satisfy the SQL
    predicate `also`, with `key` first. Rows with a null key or a null
    type never match a vote and drop."""
    return (
        df.join(F.broadcast(_votes(df, key)), key)
        .filter(f"{_BASE_TYPE} = _dominant AND ({also})")
        .drop("_dominant")
    )


def elect_geometry_type(df: DataFrame, key: str = "source_name") -> DataFrame:
    """Keep only each source's dominant geometry type (majority vote;
    Multi-variants count toward their base type as in
    etl/stage_files.py:46-55)."""
    return _elect(df, key)


def validate_magnitude(df: DataFrame, drop_invalid: bool = True) -> DataFrame:
    """Flag (or drop) rows whose envelope lies outside the declared SR's
    plausible window."""
    valid = _coords_valid("crs")
    if drop_invalid:
        return df.filter(valid)
    return df.selectExpr("*", f"{valid} AS _coords_valid")


def stage_features(df: DataFrame, default_epsg: int = STAGING_EPSG) -> DataFrame:
    """Full staging pipeline on a canonical feature DataFrame: election
    and validation in one filter, unknown-SR rows validated and projected
    as `default_epsg` (DefineProjection), then the reproject."""
    valid = _coords_valid(f"coalesce(crs, {default_epsg})")
    return reproject(_elect(df, "source_name", valid), STAGING_EPSG, assume_epsg=default_epsg)
