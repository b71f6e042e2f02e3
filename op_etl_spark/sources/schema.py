"""Canonical feature schema — the engine's core row type (SURVEY.md §1,
FIXTURES.md F1).

A feature is one row: WKB geometry + typed envelope + CRS column + a
string->string property map (schema-on-read; typed attribute columns are
derived later with from_json/cast, mirroring the reference's inferred
attribute model, etl/stage_files.py:190).

CRS is an ordinary INT column, not column metadata — SR-consistency checks
(reference etl/sr_utils.py:176-242) become plain filters and the value
survives shuffles, joins and writes.

Every connector hands the engine this one row format through one
interface (the shape of Presto's connector SPI): it plans its tasks and
says how one task yields features, `feature_row` builds each row, and
`fan_out` / `map_features` run the tasks on executors.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from op_etl_spark.geometry.wkb import envelope, wkb_dumps

BBOX_STRUCT = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType()),
        T.StructField("source_name", T.StringType()),
        T.StructField("authority", T.StringType()),
        T.StructField("geom_type", T.StringType()),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("bbox", BBOX_STRUCT),
        T.StructField("crs", T.IntegerType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_DDL = (
    "feature_id bigint, source_name string, authority string, "
    "geom_type string, geometry binary, "
    "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>, "
    "crs int, props map<string,string>"
)


def feature_row(fid, source_name, authority, geom_type, coords, crs, props) -> dict | None:
    """One canonical feature row, keyed by FEATURE_SCHEMA's names, or None
    when the geometry cannot be encoded (no or an unknown type, empty or
    malformed coordinates): that feature is skipped and the rest of its
    source still loads.

    Properties become strings: NULLs are dropped, booleans read
    true/false, nested values are compact JSON."""
    try:
        wkb = wkb_dumps(geom_type, coords)
        xmin, ymin, xmax, ymax = envelope(geom_type, coords)
    except (ValueError, KeyError, TypeError, IndexError):
        return None
    str_props = {}
    for k, v in (props or {}).items():
        if v is None:
            continue
        if isinstance(v, bool):
            str_props[str(k)] = "true" if v else "false"
        elif isinstance(v, (dict, list)):
            str_props[str(k)] = json.dumps(v, separators=(",", ":"))
        else:
            str_props[str(k)] = str(v)
    return {
        "feature_id": fid,
        "source_name": source_name,
        "authority": authority,
        "geom_type": geom_type,
        "geometry": wkb,
        "bbox": {"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax},
        "crs": int(crs),
        "props": str_props,
    }


Features = Callable[..., Iterable[dict | None]]


def map_features(tasks: DataFrame, features: Features) -> DataFrame:
    """`tasks` (one row per task, batch or streaming) -> canonical feature
    DataFrame: on the executors each task row `t` runs `features(*t)`, a
    generator of `feature_row` results; the Nones it yields are dropped.
    One pandas frame per Arrow batch."""
    from op_etl_spark.session import ensure_shipped

    ensure_shipped(tasks.sparkSession)
    names = FEATURE_SCHEMA.names

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row
                for task in zip(*(pdf[c] for c in pdf.columns))
                for row in features(*task)
                if row is not None
            ]
            yield pd.DataFrame(rows, columns=names)

    return tasks.mapInPandas(build, FEATURE_DDL)


def fan_out(spark: SparkSession, tasks: list[tuple], task_ddl: str,
            partitions: int, features: Features) -> DataFrame:
    """Driver-side task rows (tuples in `task_ddl`) spread over
    `partitions` Spark tasks, then `map_features`. No tasks, no job."""
    from op_etl_spark.session import local_frame

    if not tasks:
        return local_frame(spark, [], FEATURE_DDL)
    return map_features(
        local_frame(spark, tasks, task_ddl).repartition(partitions), features
    )
