"""Keyed streaming upsert (CDC latest-wins merge) into a parquet target.

The reference's load stage only knows full refresh (truncate-and-load,
etl/load_sde.py:92-121); a change stream needs MERGE: new keys insert,
existing keys take the highest-sequence version, late/replayed updates
lose. Without a table format, the naive foreachBatch merge rewrites the
WHOLE target every batch — a non-starter at 100 TB.

Bounded-rewrite design: the target is Hive-partitioned by a stable hash
bucket of the key (`__bucket = pmod(xxhash64(key), n_buckets)`). Each
micro-batch then
  1. collects the distinct buckets the batch touches (one tiny agg),
  2. reads back ONLY those buckets — a partition filter, so untouched
     buckets are never listed or read,
  3. merges latest-wins over (current buckets ∪ raw batch) behind ONE
     shuffle: the union is hash-partitioned on the bucket column, and
     grouping on (bucket, key) is already satisfied by that
     partitioning, so the aggregate plans no Exchange of its own and
     the write needs none either, and
  4. rewrites exactly those bucket directories (per-write dynamic
     partition overwrite — a writer option, so concurrent writes in the
     same session can't race a session-wide conf flip). Each bucket
     lands in exactly one of at most `defaultParallelism` write tasks,
     so each bucket directory still gets one file.
Work per batch scales with |touched buckets| ~ |batch keys| and the task
slots, not with target size or the bucket count. Retries are idempotent:
merging the same batch twice is a no-op (max-by-sequence is
associative/commutative/idempotent), which is exactly the foreachBatch
redelivery contract.

The bucket count is part of the target's physical identity: it's pinned
in a `_n_buckets` marker on first write and later merges must match —
silently re-bucketing would strand stale rows in buckets the new formula
never touches (duplicate keys with no error). A target is NOT stuck at
its birth count forever: `rebucket_target` is the offline migration
(read-all -> rewrite under the new formula -> swap), run under the same
single-writer contract as layout compaction — stop the merge stream,
rebucket, resume. The marker also records the key columns, so the
migration can't silently re-bucket under a different key than the
merges used.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "__bucket"
DEFAULT_BUCKETS = 64
_MARKER = "_n_buckets"


def _bucket(key_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


def _orderable(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def latest_per_key(df: DataFrame, key_cols: list[str], seq_col: str) -> DataFrame:
    """One row per key: the highest-sequence version. Ties broken by the
    remaining ORDERABLE columns' descending order so the reduction is
    deterministic on replayed duplicates (maps can't be sort keys; rows
    differing only in an unorderable column tie-break arbitrarily but
    stably within a run).

    Implemented as `max_by(whole_row, struct(seq, orderable_others))`
    rather than a row_number window: the aggregate partially combines
    map-side (duplicate keys collapse before the shuffle) and needs no
    per-partition sort, where the window forces shuffle + full sort +
    filter. Struct ordering puts null fields first (smallest), matching
    the window's `F.desc` nulls-last — and the order struct itself is
    never null, so no key can be dropped the way a bare null `max_by`
    ordinal would drop it."""
    types = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))
    tiebreak = [
        c
        for c in df.columns
        if c not in key_cols and c != seq_col and _orderable(types[c])
    ]
    order = F.struct(F.col(seq_col), *[F.col(c) for c in tiebreak])
    row = F.max_by(F.struct(*[F.col(c) for c in df.columns]), order)
    return (
        df.groupBy(*[F.col(c) for c in key_cols])
        .agg(row.alias("__row"))
        .select("__row.*")
    )


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _read_marker_lines(spark: SparkSession, target_dir: str) -> list[str] | None:
    fs, jpath = _fs(spark, f"{target_dir}/{_MARKER}")
    if not fs.exists(jpath):
        return None
    jvm = spark._jvm
    reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(fs.open(jpath)))
    try:
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line.strip())
            line = reader.readLine()
        return lines
    finally:
        reader.close()


def _read_marker(spark: SparkSession, target_dir: str) -> int | None:
    lines = _read_marker_lines(spark, target_dir)
    return int(lines[0]) if lines else None


def _parse_marker(lines: list[str] | None):
    """(n_buckets, key_cols, schema) from one marker read, so each
    micro-batch pays ONE filesystem open for the marker. `key_cols` is
    None for one-line markers and `schema` None for markers without a
    schema line; both older forms stay readable and mergeable."""
    if not lines:
        return None, None, None
    n = int(lines[0])
    keys = lines[1].split(",") if len(lines) > 1 and lines[1] else None
    schema = None
    if len(lines) > 2 and lines[2]:
        import json as _json

        schema = T.StructType.fromJson(_json.loads(lines[2]))
    return n, keys, schema


def _write_marker(
    spark: SparkSession,
    target_dir: str,
    n_buckets: int,
    key_cols: list[str] | None = None,
    schema_json: str | None = None,
) -> None:
    fs, jpath = _fs(spark, f"{target_dir}/{_MARKER}")
    stream = fs.create(jpath, True)
    body = f"{n_buckets}\n" + (",".join(key_cols) if key_cols else "")
    if schema_json:
        body += "\n" + schema_json
    body += "\n"
    try:
        stream.write(body.encode())
    finally:
        stream.close()


def merge_upsert_batch(
    batch_df: DataFrame,
    target_dir: str,
    key_cols: list[str],
    seq_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Merge one batch of updates into the bucketed parquet target."""
    spark = batch_df.sparkSession
    cols = batch_df.columns
    existing, marker_keys, marker_schema = _parse_marker(
        _read_marker_lines(spark, target_dir)
    )
    if existing is None and adopt_pending_rebucket(spark, target_dir):
        # a rebucket swap crashed between its renames: the complete tmp
        # was just adopted — without this, the merge would treat the
        # vanished target as a FIRST write and silently drop all prior
        # state
        existing, marker_keys, marker_schema = _parse_marker(
            _read_marker_lines(spark, target_dir)
        )
    if existing is not None and existing != n_buckets:
        raise ValueError(
            f"target {target_dir} was bucketed with n_buckets={existing}; "
            f"merging with {n_buckets} would strand stale rows — rebuild the "
            "target to re-bucket"
        )
    if marker_keys is not None and marker_keys != list(key_cols):
        raise ValueError(
            f"target {target_dir} was bucketed on key {marker_keys}; merging "
            f"on {list(key_cols)} would route existing keys to the wrong "
            "buckets — rebucket_target under the new key first"
        )
    # persist the RAW bucketed batch, not a pre-reduced one: reducing it
    # first would cost its own shuffle. The persist keeps the
    # touched-bucket probe and the merge from scanning the micro-batch
    # source twice.
    batch = batch_df.withColumn(BUCKET_COL, _bucket(key_cols, n_buckets)).persist()
    # no more write tasks than task slots: each task writes the files of
    # every bucket hashed to it. A task per bucket would pay a task's
    # start-up for each small bucket file.
    n_write = min(n_buckets, spark.sparkContext.defaultParallelism)
    try:
        if existing is None:
            side = batch
        else:
            touched = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
            if not touched:  # empty micro-batch: nothing to rewrite
                return
            n_write = min(n_write, len(touched))
            # the target's schema was recorded in the marker at first
            # write — passing it to the read skips the per-batch footer
            # read + driver schema merge (~0.15s/batch at 64 buckets,
            # growing with the target's file count). A recorded schema
            # must still catch drift the inferred read caught via the
            # select/union analysis error: compare column names AND
            # per-field types — a same-named column of a coercible
            # different type (int vs long) would otherwise pass, be
            # silently widened by unionByName, and leave the touched
            # buckets unreadable under the marker's stale narrower type.
            if marker_schema is not None:
                if sorted(marker_schema.fieldNames()) != sorted(batch.columns):
                    raise ValueError(
                        f"batch columns {sorted(batch.columns)} do not match "
                        f"target {target_dir} columns "
                        f"{sorted(marker_schema.fieldNames())} — schema drift "
                        "is not mergeable; rewrite the target first"
                    )
                batch_types = {f.name: f.dataType for f in batch.schema.fields}
                drift = [
                    f"{f.name}: target {f.dataType.simpleString()} vs "
                    f"batch {batch_types[f.name].simpleString()}"
                    for f in marker_schema.fields
                    if batch_types[f.name] != f.dataType
                ]
                if drift:
                    raise ValueError(
                        f"batch column types drifted from target {target_dir} "
                        f"({'; '.join(drift)}) — schema drift is not "
                        "mergeable; rewrite the target first"
                    )
                # bucket filter pushed into the PATH LISTING: read only the
                # touched `__bucket=<id>` subdirectories instead of listing
                # the whole target (the listing cost scales with the
                # target's total bucket count, the touched set with the
                # batch's keys). basePath keeps the partition column; a
                # glob that matches nothing (every touched bucket is new)
                # falls back to a batch-only merge, which is exactly the
                # union-with-empty-current semantics.
                pat = "{" + ",".join(str(b) for b in sorted(touched)) + "}"
                try:
                    current = (
                        spark.read.schema(marker_schema)
                        .option("basePath", target_dir)
                        .parquet(f"{target_dir}/{BUCKET_COL}={pat}")
                    )
                except AnalysisException:
                    current = None
            else:
                current = spark.read.parquet(target_dir).filter(
                    F.col(BUCKET_COL).isin(touched)
                )
            side = batch.select(*cols, BUCKET_COL)
            if current is not None:
                side = current.select(*cols, BUCKET_COL).unionByName(side)
        # the merge's only shuffle: hash the union on the bucket column.
        # Grouping on (bucket, key) is satisfied by that partitioning, so
        # the aggregate adds no Exchange, and the write runs in the same
        # n_write tasks with every bucket in exactly one of them — one
        # file per bucket directory, the layout the next merge reads.
        # Duplicate batch keys cross the shuffle uncombined; the current
        # buckets, which at scale far outnumber the batch, cross it once.
        merged = latest_per_key(
            side.repartition(n_write, F.col(BUCKET_COL)),
            [BUCKET_COL, *key_cols],
            seq_col,
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(target_dir)
        )
        if existing is None:
            _write_marker(
                spark, target_dir, n_buckets, list(key_cols),
                schema_json=merged.schema.json(),
            )
    finally:
        batch.unpersist()


_TMP_SUFFIX = "__rebucket_tmp"
_OLD_SUFFIX = "__rebucket_old"


def _swap_dirs(target_dir: str) -> tuple[str, str]:
    base = target_dir.rstrip("/")
    return base + _TMP_SUFFIX, base + _OLD_SUFFIX


def adopt_pending_rebucket(spark: SparkSession, target_dir: str) -> bool:
    """Finish (or clean up after) a rebucket_target swap that crashed
    between steps. Safe to call any time under the single-writer rule;
    merge_upsert_batch and read_upsert_target call it automatically when
    the target's marker is missing, so no crash window requires manual
    intervention. Returns True when a pending swap was adopted.

    Decision table (the marker is written LAST into the tmp dir, so its
    presence certifies a COMPLETE rewrite):
    - target has a marker: the swap completed or never started — any
      `__rebucket_old` left aside is debris from a finished swap, delete
      it; a leftover `__rebucket_tmp` belongs to an ABORTED (pre-swap)
      run and is left for the next rebucket_target to reclaim.
    - target missing/markerless and tmp complete: adopt tmp (rename it
      into place), then drop the old copy.
    - target missing and only `__rebucket_old` complete (a rename that
      lied on an object store): restore the old copy — the migration
      re-runs, nothing is lost."""
    tmp, old = _swap_dirs(target_dir)
    fs, target_path = _fs(spark, target_dir)
    _, tmp_path = _fs(spark, tmp)
    _, old_path = _fs(spark, old)
    if _read_marker(spark, target_dir) is not None:
        if fs.exists(old_path):
            fs.delete(old_path, True)
        return False
    if fs.exists(tmp_path) and _read_marker(spark, tmp) is not None:
        if fs.exists(target_path):  # markerless partial leftover
            fs.delete(target_path, True)
        if not fs.rename(tmp_path, target_path):
            raise IOError(f"adopt rename {tmp} -> {target_dir} failed")
        if fs.exists(old_path):
            fs.delete(old_path, True)
        return True
    if fs.exists(old_path) and _read_marker(spark, old) is not None:
        if fs.exists(target_path):
            fs.delete(target_path, True)
        if not fs.rename(old_path, target_path):
            raise IOError(f"adopt rename {old} -> {target_dir} failed")
        return True
    return False


def rebucket_target(
    spark: SparkSession,
    target_dir: str,
    new_n_buckets: int,
    key_cols: list[str] | None = None,
) -> None:
    """Offline bucket-count migration: read the WHOLE target, rewrite
    every row under the new `pmod(xxhash64(key), new_n)` formula into a
    sibling directory, then swap it into place. This is the lifecycle
    step the first-write pin deliberately lacks — a target born at 64
    buckets does not stay 64-bucket at 100 TB; it gets rebucketed when
    per-bucket size crosses the rewrite-cost budget.

    Contract (same single-writer rule as index/layout compaction):
    - stop the merge stream first; a merge racing the swap could write
      into the directory being deleted. Resume after.
    - cost is one full read + one full write of the target — O(target),
      by design; it is the MIGRATION, not the per-batch path.
    - the swap is crash-safe: the tmp rewrite completes first (data,
      then marker — the marker certifies completeness), then the live
      target is renamed ASIDE, the tmp renamed IN, and the aside copy
      deleted. The target path therefore always points at a complete
      dataset except between the two renames — and a crash in that
      window is self-healing: the next merge_upsert_batch or
      read_upsert_target (or an explicit adopt_pending_rebucket) sees
      the missing marker and adopts the complete tmp automatically.

    `key_cols` defaults to the key recorded in the target's marker at
    first write; passing a different key re-buckets AND re-keys (only
    sensible when the caller knows the stored rows are already one per
    new key)."""
    adopt_pending_rebucket(spark, target_dir)
    existing, marker_keys, _ = _parse_marker(_read_marker_lines(spark, target_dir))
    if existing is None:
        raise ValueError(f"{target_dir} is not an upsert target (no marker)")
    keys = list(key_cols) if key_cols else marker_keys
    if not keys:
        raise ValueError(
            f"target {target_dir} predates key recording — pass key_cols"
        )
    if existing == new_n_buckets and key_cols is None:
        return
    tmp, old = _swap_dirs(target_dir)
    fs, tmp_path = _fs(spark, tmp)
    _, old_path = _fs(spark, old)
    if fs.exists(tmp_path):  # aborted pre-swap run: reclaim
        fs.delete(tmp_path, True)
    if fs.exists(old_path):
        fs.delete(old_path, True)
    rewritten = (
        spark.read.parquet(target_dir)
        .drop(BUCKET_COL)
        .withColumn(BUCKET_COL, _bucket(keys, new_n_buckets))
    )
    (
        rewritten.write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(tmp)
    )
    _write_marker(
        spark, tmp, new_n_buckets, keys, schema_json=rewritten.schema.json()
    )
    fs, target_path = _fs(spark, target_dir)
    if not fs.rename(target_path, old_path):
        raise IOError(f"rename {target_dir} -> {old} failed; target untouched")
    if not fs.rename(tmp_path, target_path):
        raise IOError(
            f"rename {tmp} -> {target_dir} failed; the next read/merge "
            "adopts the complete tmp automatically (adopt_pending_rebucket)"
        )
    fs.delete(old_path, True)


def read_upsert_target(spark: SparkSession, target_dir: str) -> DataFrame:
    """The merged state, without the internal bucket column. A missing
    marker triggers crash recovery for an interrupted rebucket swap
    (one marker-existence probe on the happy path — no data listed)."""
    if _read_marker(spark, target_dir) is None:
        adopt_pending_rebucket(spark, target_dir)
    return spark.read.parquet(target_dir).drop(BUCKET_COL)


def start_upsert_stream(
    updates: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    seq_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    available_now: bool = False,
):
    """foreachBatch MERGE of a change stream into `target_dir`."""

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        merge_upsert_batch(batch_df, target_dir, key_cols, seq_col, n_buckets)

    writer = (
        updates.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
