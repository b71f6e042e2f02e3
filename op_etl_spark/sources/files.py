"""Staging file discovery (reference S14: etl/stage_files.py:262-295).

Recursive walk, priority by extension (.gpkg > .geojson > .json > .shp >
.zip), skip legacy `part_*` page files, dedup by stem keeping newest
mtime. Expressed as DataFrame ops (the dedup is the classic
row_number-over-window), so the same logic scales to listings with
millions of files — only the os.walk happens driver-side, as in any
Spark file-source planner.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from op_etl_spark.session import local_frame

EXT_PRIORITY = {".gpkg": 0, ".geojson": 1, ".json": 2, ".shp": 3, ".zip": 4}


def list_files(spark: SparkSession, directory: str) -> DataFrame:
    rows = []
    for root, _dirs, names in os.walk(directory):
        for name in names:
            ext = os.path.splitext(name)[1].lower()
            if ext not in EXT_PRIORITY:
                continue
            p = os.path.join(root, name)
            stem = os.path.splitext(name)[0]
            rows.append((p, stem, ext, float(os.path.getmtime(p))))
    return local_frame(spark, rows, "path string, stem string, ext string, mtime double")


def discover_files(spark: SparkSession, directory: str) -> DataFrame:
    """Priority + stem-dedup-keep-newest discovery."""
    df = list_files(spark, directory)
    prio = F.when(F.col("ext") == ".gpkg", 0)
    for ext, p in list(EXT_PRIORITY.items())[1:]:
        prio = prio.when(F.col("ext") == ext, p)
    df = (
        df.filter(~F.col("stem").rlike("^part_\\d+"))
        .withColumn("priority", prio.cast("int"))
    )
    w = W.partitionBy("stem").orderBy("priority", F.desc("mtime"), "path")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
