"""Pipeline compiler: normalized source specs -> executed DataFrame DAG.

The reference's run.py stage graph (SURVEY.md §3: download -> stage ->
process -> load, fixed protocol order http/atom/ogc/wfs/rest at
run.py:197-203) compiled into Spark jobs. Stage boundaries materialize as
parquet tables (the reference's FileGDB handoffs); per-source failures
are caught and recorded in the metrics frame instead of failing the run
(continue-on-failure, config.yaml:130). The process step's write observes
which sources it wrote, and that list is the processed manifest; the load
step reads it once on the driver and loads each selected source in it
from its own partition (etl/process.py:73-88 + etl/load_sde.py:51-59).
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from op_etl_spark.operators.metrics import METRICS_SCHEMA
from op_etl_spark.session import local_frame
from op_etl_spark.sinks.load import dataset_for_authority, truncate_and_load

from .staging import STAGED_SCHEMA, stage_features

PROTOCOL_ORDER = ["http", "file", "atom", "ogc", "wfs", "rest"]


class Pipeline:
    """Config-driven pipeline; connectors are injected per protocol so the
    same compiler runs against live services or test fixtures.

    connector signature: (spark, source_spec) -> feature DataFrame.
    """

    def __init__(self, spark: SparkSession, cfg: dict,
                 connectors: dict[str, Callable] | None = None):
        self.spark = spark
        self.cfg = cfg
        self.connectors = connectors or {}
        self.metrics_rows: list[tuple] = []

    # --- download/extract + stage (one execution per source) ---

    def extract_and_stage(self, sources: list[dict], staging_path: str) -> DataFrame:
        """Run every source through its protocol connector (reference
        protocol order), stage it, and MATERIALIZE it to its own staging
        subdirectory inside the per-source try block.

        The write is the single execution of the source's fetch DAG —
        remote services are hit exactly once. The connector frame stays
        persisted while its geometry-type vote and the write run, so the
        vote's broadcast side does not parse the source a second time; it
        is unpersisted in a `finally`, whatever happened. The feature count
        comes from an Observation on the write (no read-back job), and an
        executor failure during the fetch surfaces HERE, attributed to its
        source, instead of exploding later under the unioned write. A
        source that now stages no rows writes no partition, so its
        partition from an earlier run is removed instead of read back."""
        ordered = sorted(
            sources,
            key=lambda s: PROTOCOL_ORDER.index(s["type"])
            if s["type"] in PROTOCOL_ORDER
            else 99,
        )
        for src in ordered:
            conn = self.connectors.get(src["type"])
            start = time.time()
            raw = None
            try:
                if conn is None:
                    raise ValueError(f"no connector for type {src['type']}")
                raw = conn(self.spark, src).persist()
                written = Observation()
                staged = stage_features(raw).observe(
                    written, F.count(F.lit(1)).alias("n")
                )
                # dynamic partition overwrite: this source's partitions are
                # replaced, other sources' partitions untouched — the whole
                # staging path stays ONE normally-readable partitioned table
                (
                    staged.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("source_name")
                    .parquet(staging_path)
                )
                if written.get["n"] == 0:
                    self._drop_partition(staging_path, src["name"])
                self.metrics_rows.append(
                    (src["name"], src["authority"], src["type"], start,
                     time.time(), True, None, None, written.get["n"], 1, None, 0)
                )
            except Exception as e:  # continue-on-failure (config.yaml:130)
                self.metrics_rows.append(
                    (src["name"], src["authority"], src["type"], start,
                     time.time(), False, type(e).__name__, str(e)[:500],
                     0, 0, None, 0)
                )
            finally:
                if raw is not None:
                    raw.unpersist()
        os.makedirs(staging_path, exist_ok=True)  # empty run: readable dir
        # restrict to THIS run's selection: dynamic overwrite preserves
        # other sources' partitions (good for incremental refresh), but a
        # filtered/repeat run must not re-process stale partitions from
        # sources outside its --authority/--type selection
        names = [s["name"] for s in sources]
        return (
            self.spark.read.schema(STAGED_SCHEMA)
            .parquet(staging_path)
            .filter(F.col("source_name").isin(names) if names else F.lit(False))
        )

    def _drop_partition(self, table_path: str, name: str) -> None:
        """Remove `name`'s source_name partition of a partitioned table;
        the directory name is escaped as Spark's writer escapes it."""
        utils = self.spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        shutil.rmtree(
            os.path.join(table_path, f"source_name={utils.escapePathName(name)}"),
            ignore_errors=True,
        )

    # --- stages ---

    ALL_STEPS = ("download", "process", "load")

    def _read_stage(self, path: str, names: list[str]) -> DataFrame:
        """Re-open a previously materialized stage table, restricted to the
        current run's source selection (standalone steps honor
        --authority/--type exactly like a full run). The explicit staged
        schema makes an empty stage directory readable — same contract as
        extract_and_stage's read-back."""
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"stage table {path} does not exist — run the producing step first"
            )
        df = self.spark.read.schema(STAGED_SCHEMA).parquet(path)
        return df.filter(F.col("source_name").isin(names) if names else F.lit(False))

    def run(self, workspace: str, authority: str | None = None,
            stype: str | None = None,
            steps: tuple[str, ...] | None = None) -> dict:
        """Execute the selected pipeline steps (all when `steps` is None,
        mirroring the reference's independently selectable --download /
        --process / --load_sde flags, reference run.py:240-248, 289).
        Stage boundaries are materialized parquet tables, so any step can
        run standalone against a workspace a previous invocation staged —
        e.g. re-running just the load after an SDE outage.

        The process step writes the processed table and, from an
        Observation on that write, the manifest of the sources it holds
        rows for. The load step loads each source of the run's selection
        that is in the manifest into the dataset of its spec's authority."""
        from op_etl_spark.config.loader import enabled_sources

        steps = tuple(steps) if steps else self.ALL_STEPS
        bad = set(steps) - set(self.ALL_STEPS)
        if bad:
            raise ValueError(f"unknown steps: {sorted(bad)}")
        self.metrics_rows = []  # a fresh run reports its own sources only
        sources = enabled_sources(self.cfg, authority, stype)
        names = [s["name"] for s in sources]
        staging_path = f"{workspace}/staging"
        processed_path = f"{workspace}/processed"
        manifest_path = f"{workspace}/processed_manifest"
        result: dict = {"steps": list(steps)}

        if "download" in steps:
            staged_back = self.extract_and_stage(sources, staging_path)
            result["staging"] = staging_path

        if "process" in steps:
            if "download" not in steps:
                staged_back = self._read_stage(staging_path, names)
            # geoprocess: clip to AOI when configured (process.py:107-123);
            # zero-result sources drop out of the manifest
            # (process.py:113-123)
            aoi = (self.cfg.get("geoprocessing") or {}).get("aoi_bbox")
            if aoi:
                from op_etl_spark.geometry.ops import clip_to_aoi

                processed = clip_to_aoi(staged_back, tuple(aoi))
            else:
                processed = staged_back
            wrote = Observation()
            processed.observe(
                wrote, F.expr("collect_set(source_name) AS names")
            ).write.mode("overwrite").partitionBy("source_name").parquet(processed_path)
            # one file and one task: a local frame spreads its rows over
            # up to one partition per core
            local_frame(
                self.spark, [(n,) for n in sorted(wrote.get["names"])], "source_name string"
            ).coalesce(1).write.mode("overwrite").parquet(manifest_path)
            result["processed"] = processed_path
            result["manifest"] = manifest_path

        if "load" in steps:
            # load: manifest-gated truncate-and-load per source into its
            # authority dataset namespace; always reads the materialized
            # stage tables, so load-only == load-after-process bit for bit.
            # The gate runs on the driver, and each source's filter prunes
            # the read to its own partition. The partition column reads
            # back last; the targets keep the staged column order.
            processed_back = self._read_stage(processed_path, names).select(
                *STAGED_SCHEMA.names
            )
            in_manifest = {
                r.source_name
                for r in self.spark.read.schema("source_name string")
                .parquet(manifest_path)
                .collect()
            }
            loaded = {}
            for src in sources:
                if src["name"] not in in_manifest:
                    continue
                target = (
                    f"{workspace}/sde/{dataset_for_authority(src['authority'])}/"
                    f"{src['name']}"
                )
                truncate_and_load(
                    processed_back.filter(F.col("source_name") == src["name"]), target
                )
                loaded[src["name"]] = target
            result["loaded"] = loaded

        # metrics rows are produced by the download step only; a partial
        # --process/--load run must not clobber the download run's metrics
        # table with an empty one (round-4 advice)
        metrics_path = f"{workspace}/metrics"
        if "download" in steps:
            metrics = local_frame(self.spark, self.metrics_rows, METRICS_SCHEMA)
            metrics.write.mode("overwrite").json(metrics_path)
            result["metrics"] = metrics_path
        elif os.path.isdir(metrics_path):
            result["metrics"] = metrics_path
        return result
