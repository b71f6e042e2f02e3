"""Load stage (reference etl/load_sde.py re-expressed on Spark tables).

 - K2 truncate-and-load: `INSERT OVERWRITE` semantics via
   write.mode("overwrite") — idempotent full refresh, the reference's
   TruncateTable+Append(NO_TEST) (etl/load_sde.py:92-121). NO_TEST
   (positional, no schema check) maps to aligning by the target's column
   order with missing columns nulled.
 - K3 create-like is sinks/catalog.create_table_like.
 - K4 dataset routing: authority -> `underlag_{authority}` namespace with
   a special-case mapping table (etl/load_sde.py:145-173,
   config/config.yaml:191-192).
 - K6/P10 manifest gating lives in plans/pipeline.Pipeline.run: the
   manifest is a short list of source names, intersected with the run's
   selection on the driver (etl/load_sde.py:51-59).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# LSTD routes into GNG.Underlag_LstD (config/config.yaml:191-192)
SPECIAL_DATASET_MAP = {"LSTD": "gng.underlag_lstd"}


def dataset_for_authority(authority: str) -> str:
    special = SPECIAL_DATASET_MAP.get(authority.upper())
    if special:
        return special
    return f"underlag_{authority.lower()}"


def align_to_template(df: DataFrame, template: DataFrame) -> DataFrame:
    """NO_TEST-style schema alignment: project onto the template's columns
    (missing -> null, extras dropped, cast to template types)."""
    cols = []
    for f in template.schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def truncate_and_load(df: DataFrame, target_path: str,
                      template: DataFrame | None = None) -> None:
    """Idempotent full refresh of a target table directory."""
    out = align_to_template(df, template) if template is not None else df
    out.write.mode("overwrite").parquet(target_path)
