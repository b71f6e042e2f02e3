"""SparkSession factory.

Local-mode testing defaults chosen for correctness + small-SF speed; every
setting is also the right call on a real cluster (AQE, Arrow, UTC).  At
100 TB the same code runs with cluster-provided master/memory settings —
nothing here hard-codes local assumptions except the fallbacks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# the checkout root: the directory that holds the op_etl_spark package
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_DAEMON = "op_etl_spark.pyworker"


def get_spark(
    app_name: str = "op_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    AQE is on so runtime statistics re-plan skewed joins and coalesce
    small shuffle partitions — the knob that matters most when the same
    query graph must survive a 100x scale-up.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # a read of more than 32 paths (e.g. the upsert merge's touched
        # bucket directories) lists them in a Spark job; Spark's default
        # runs one task per path, up to 10000. Cap it at the task slots.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # Python workers fork from the engine's daemon (op_etl_spark/pyworker.py),
        # which must import from any cwd. Spark puts this path in front of
        # the PYTHONPATH the driver was started with.
        .config("spark.python.daemon.module", ENGINE_DAEMON)
        .config("spark.executorEnv.PYTHONPATH", CHECKOUT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _ship_zip_path(pkg_dir: str) -> str:
    """The cached zip of the package at `pkg_dir`: one per checkout, so
    two checkouts on one host never ship each other's code."""
    import hashlib
    import tempfile

    key = hashlib.sha1(os.path.abspath(pkg_dir).encode("utf-8")).hexdigest()[:16]
    return os.path.join(
        tempfile.gettempdir(), "op_etl_spark_ship", f"op_etl_spark_pkg_{key}.zip"
    )


def ensure_shipped(spark: SparkSession) -> None:
    """Make op_etl_spark importable on executor Python workers.

    Library code that runs inside pandas UDFs / mapInPandas is
    deserialized BY REFERENCE on workers, so the package must be on the
    worker's sys.path. When get_spark created the session, its workers
    fork from the engine daemon, which has already imported the package
    from this checkout: nothing is shipped. For any other session (e.g. a
    bare driver session) we zip the package once and addPyFile it — Spark
    distributes the zip and prepends it to every worker's path.
    """
    if getattr(spark, "_op_etl_shipped", False):
        return
    conf = spark.sparkContext.getConf()
    if (conf.get("spark.python.daemon.module") == ENGINE_DAEMON
            and CHECKOUT in conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)):
        spark._op_etl_shipped = True
        return
    import shutil

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = _ship_zip_path(pkg_dir)
    os.makedirs(os.path.dirname(zip_path), exist_ok=True)

    def _newest_source_mtime() -> float:
        newest = 0.0
        for root, _dirs, names in os.walk(pkg_dir):
            for n in names:
                if n.endswith(".py"):
                    newest = max(newest, os.path.getmtime(os.path.join(root, n)))
        return newest

    # the zip is cached across processes — REBUILD when any package source
    # is newer, or a stale zip (missing newly added modules) ships forever.
    # Built under a per-process name and renamed into place, so a reader
    # never sees a half-written zip.
    if (not os.path.exists(zip_path)
            or os.path.getmtime(zip_path) < _newest_source_mtime()):
        tmp = shutil.make_archive(f"{zip_path}.{os.getpid()}", "zip",
                                  root_dir=os.path.dirname(pkg_dir),
                                  base_dir=os.path.basename(pkg_dir))
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    spark._op_etl_shipped = True


def local_frame(spark: SparkSession, rows, schema):
    """Driver-side `rows` (tuples in `schema`'s field order; struct values
    as tuples or dicts, map values as dicts) as a DataFrame.

    The rows are built into a pyarrow.Table on the driver and the JVM
    reads its record batches directly, so no Python worker task ever runs
    for them. `createDataFrame(<list>)` ships the rows through a
    PythonRDD instead: one Python task per slice, each paying Python
    worker start-up even for one row. Every engine frame built from
    driver rows goes through here (tests/test_local_frame.py guards it)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def session_cache(spark: SparkSession, attr: str) -> dict:
    """A dict cached on the session object (dies with the session)."""
    cache = getattr(spark, attr, None)
    if cache is None:
        cache = {}
        setattr(spark, attr, cache)
    return cache


def read_events(spark: SparkSession, sf_dir: str):
    """Read the events table, tolerating TIMESTAMP(NANOS) parquet files.

    Spark has no nanosecond timestamp type; `nanosAsLong` reads the raw
    int64, which we truncate to microseconds with exact integer division
    (`div`, not `/` — 1e18-scale nanos lose ulps in double division) and
    rebuild a proper TimestampType column. Stays a distributed parquet
    scan — no driver-side materialization.
    """
    from pyspark.sql import functions as F

    cache = session_cache(spark, "_op_etl_events_cache")
    df = cache.get(sf_dir)
    if df is not None:
        return df

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    cache[sf_dir] = df
    return df
