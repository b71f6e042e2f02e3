"""Pipeline metrics (reference etl/monitoring.py re-expressed as a
metrics DataFrame + grouped rollup).

 - per-source run rows use the reference's metric fields
   (monitoring.py:17-48, FIXTURES.md F8);
 - the per-source-type rollup (monitoring.py:101-159) is one groupBy
   with an error-type sub-histogram via map_from_entries(collect_list);
 - error-pattern classification (monitoring.py:196-232) is a `when`
   ladder over the error message, plus slow-source (>30 s) and
   large-response (>10 MB) flags (monitoring.py:220-230).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SLOW_SOURCE_SECONDS = 30.0
LARGE_RESPONSE_BYTES = 10 * 1024 * 1024

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("authority", T.StringType()),
        T.StructField("source_type", T.StringType()),
        T.StructField("start_time", T.DoubleType()),
        T.StructField("end_time", T.DoubleType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("features_downloaded", T.LongType()),
        T.StructField("files_downloaded", T.IntegerType()),
        T.StructField("response_size_bytes", T.LongType()),
        T.StructField("retry_count", T.IntegerType()),
    ]
)


def classify_error(col) -> F.Column:
    """Error-pattern classification ladder (monitoring.py:207-218)."""
    msg = F.lower(F.coalesce(col, F.lit("")))
    return (
        F.when(msg == "", F.lit(None).cast("string"))
        .when(msg.rlike("recursion|maximum recursion depth"), "recursion")
        .when(msg.rlike("timed? ?out|timeout"), "timeout")
        .when(msg.rlike("connection|network|dns|unreachable"), "network")
        .when(msg.rlike("json|parse|decode|expecting"), "parse")
        .otherwise("other")
    )


def enrich(metrics: DataFrame) -> DataFrame:
    return (
        metrics.withColumn("duration_sec", F.col("end_time") - F.col("start_time"))
        .withColumn("error_class", classify_error(F.col("error_message")))
        .withColumn("is_slow", F.col("end_time") - F.col("start_time") > SLOW_SOURCE_SECONDS)
        .withColumn("is_large", F.col("response_size_bytes") > LARGE_RESPONSE_BYTES)
    )


def rollup_by_source_type(metrics: DataFrame) -> DataFrame:
    """Per-source-type summary (monitoring.py:101-159)."""
    e = enrich(metrics)
    base = e.groupBy("source_type").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("success").cast("int")).alias("n_success"),
        F.sum((~F.col("success")).cast("int")).alias("n_failed"),
        (F.sum(F.col("success").cast("int")) / F.count(F.lit(1))).alias("success_rate"),
        F.avg("duration_sec").alias("avg_duration_sec"),
        F.sum("features_downloaded").alias("total_features"),
        F.sum("files_downloaded").alias("total_files"),
        F.sum("response_size_bytes").alias("total_bytes"),
        F.sum(F.col("is_slow").cast("int")).alias("n_slow"),
        F.sum(F.col("is_large").cast("int")).alias("n_large"),
    )
    errs = (
        e.filter(F.col("error_class").isNotNull())
        .groupBy("source_type", "error_class")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("source_type")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("error_class", "n")))
            ).alias("error_histogram")
        )
    )
    return base.join(errs, "source_type", "left")
