"""Streaming ingest: downloads directory -> canonical feature stream ->
staging sink.

Batch reference semantics being extended (SURVEY.md §1, §2.2):
 - staging import of GeoJSON / Esri JSON files (etl/stage_files.py:480-625)
   becomes a continuous file-source stream — new files landing in the
   downloads dir are parsed incrementally, exactly-once via checkpointing;
 - truncate-and-load full refresh (etl/load_sde.py:92-121) becomes a
   `foreachBatch` overwrite — each micro-batch's aggregate state replaces
   the target table, the streaming twin of the reference's idempotent
   refresh.

Scale shape: the file stream lists only NEW files per trigger (no full
re-listing cost per batch at steady state); parsing fans out one file per
task via mapInPandas; maxFilesPerTrigger bounds micro-batch size so a
backlog of a million files drains in controlled increments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from op_etl_spark.sources.geojson import parse_json_content
from op_etl_spark.sources.schema import map_features


def stream_feature_files(
    spark: SparkSession,
    downloads_dir: str,
    authority: str = "stream",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of canonical features from a watched directory.

    Uses the `text` source with `wholetext` (one row per file, content in
    `value`); the file path rides along via the `_metadata` column, and
    `source_name` is derived from the file stem — matching the batch
    connector's naming (etl/stage_files.py:297-314).
    """
    reader = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.*json")  # .json / .geojson
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(downloads_dir).select(
        F.col("value"), F.col("_metadata.file_path").alias("path")
    )

    def parse(content: str, path: str):
        stem = path.rsplit("/", 1)[-1].rsplit(".", 1)[0]
        return parse_json_content(content, stem, authority)

    return map_features(raw, parse)


def start_staging_stream(
    features: DataFrame,
    staging_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Append canonical feature rows to a parquet staging table.

    Exactly-once per file via the checkpoint's file-source log; the batch
    staging pipeline's overwrite-per-run becomes incremental append.
    """
    writer = (
        features.writeStream.format("parquet")
        .option("path", staging_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_truncate_and_load_stream(
    aggregated: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Streaming twin of the reference's truncate-and-load refresh
    (etl/load_sde.py:99-112): each micro-batch OVERWRITES the target with
    the current complete aggregate state.

    `aggregated` must be a complete-mode-capable streaming aggregate (no
    watermark-dropped state). foreachBatch + overwrite is idempotent on
    retry — same guarantee as TruncateTable + Append.
    """

    def _overwrite(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(target_dir)

    writer = (
        aggregated.writeStream.foreachBatch(_overwrite)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
