"""Distributed order statistics — the scale-safe replacement for
unpartitioned windows.

`row_number() OVER (ORDER BY k)` funnels the whole input through ONE
reducer; at 100 TB that is the single worst plan shape Spark can emit.
Both ops here compute the same total-order semantics with bounded
per-partition work:

  1. `repartitionByRange` on the ordering columns — contiguous sorted
     key ranges per partition (one balanced shuffle, the same cost a
     global sort would pay for its range exchange);
  2. per-partition row counts — a partition-count-sized collect (tens
     of rows, pure metadata);
  3. prefix-sum the counts into global offsets, then a window
     PARTITIONED by `spark_partition_id()` adds `offset + local_rank`.

The only windows used are partitioned — no single-reducer sort node
anywhere in the plan (`tools/plan_audit.py` enforces this).

The ranged intermediate is `localCheckpoint`'ed (lazy) so the count job
and the rank job see the SAME range boundaries: RangePartitioner samples
its bounds from the input, and two independent recomputations of the
lineage are not guaranteed to draw identical samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame

# grouped_rows_at_rank collects (partition x group) counts and filters on
# one predicate per group; above this many groups, grouped_row_index is
# the operator to use
MAX_RANK_GROUPS = 1000


def _ranged_with_offsets(
    df: DataFrame, cols: list[str], num_parts: int | None = None
) -> tuple[DataFrame, dict[int, int], int]:
    """Range-partition `df` by `cols`; return (keyed_df_with__pid,
    {pid: global offset of its first row}, total_rows)."""
    sp = df.sparkSession
    n = num_parts or int(sp.conf.get("spark.sql.shuffle.partitions", "200"))
    keyed = (
        df.repartitionByRange(n, *[F.col(c) for c in cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = {
        r["__pid"]: r["n"]
        for r in keyed.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return keyed, offsets, acc


def global_row_index(
    df: DataFrame, cols: str | list[str], out: str = "__idx"
) -> DataFrame:
    """0-based dense global index by the total order on `cols` — the
    distributed twin of `row_number() OVER (ORDER BY cols) - 1`.

    `cols` must form a total order (include a unique key) or the index
    assignment within ties is partition-dependent."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    keyed, offsets, total = _ranged_with_offsets(df, cols)
    if total == 0:
        return keyed.drop("__pid").withColumn(out, F.lit(0).cast("long"))
    mapping = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        keyed.withColumn(
            out, (mapping[F.col("__pid")] + F.row_number().over(w) - 1).cast("long")
        )
        .drop("__pid")
    )


def grouped_row_index(
    df: DataFrame,
    group_cols: str | list[str],
    order_cols: str | list[str],
    out: str = "__idx",
) -> DataFrame:
    """0-based dense index WITHIN each group by the total order on
    `order_cols` — the distributed twin of
    `row_number() OVER (PARTITION BY g ORDER BY o) - 1` for groups too
    large to fit one reducer.

    Same three-step shape as `global_row_index`, generalized: range
    partition on (group_cols + order_cols) keeps each partition's rows in
    contiguous (group, order) runs; the collected count table is one row
    per (partition, group-present-in-it) — a contiguous group touches
    ~|group|/|partition| partitions, so the collect is
    O(n_partitions + n_groups) rows of pure metadata, NOT data. Contract:
    meant for low-cardinality groups (event types, languages, status
    codes) whose individual populations are corpus-scale; for
    high-cardinality groups a plain partitioned window is already
    scale-safe and this machinery buys nothing.

    `order_cols` must total-order rows within a group (include a unique
    key) or index assignment within ties is partition-dependent."""
    from pyspark.sql.types import LongType, StructField, StructType

    sp = df.sparkSession
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    ocols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    n = int(sp.conf.get("spark.sql.shuffle.partitions", "200"))
    keyed = (
        df.repartitionByRange(n, *[F.col(c) for c in gcols + ocols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    rows = keyed.groupBy("__pid", *gcols).agg(F.count(F.lit(1)).alias("__n")).collect()
    if not rows:
        return keyed.drop("__pid").withColumn(out, F.lit(0).cast("long"))
    by_group: dict[tuple, list] = {}
    for r in rows:
        by_group.setdefault(tuple(r[g] for g in gcols), []).append(r)
    off_rows = []
    for key, rs in by_group.items():
        acc = 0
        for r in sorted(rs, key=lambda r: r["__pid"]):
            off_rows.append((r["__pid"], *key, acc))
            acc += r["__n"]
    schema = StructType(
        [StructField("__pid", keyed.schema["__pid"].dataType)]
        + [keyed.schema[g] for g in gcols]
        + [StructField("__off", LongType())]
    )
    offs = local_frame(sp, off_rows, schema)
    w = Window.partitionBy("__pid", *gcols).orderBy(*ocols)
    return (
        keyed.join(F.broadcast(offs), ["__pid", *gcols])
        .withColumn(out, (F.col("__off") + F.row_number().over(w) - 1).cast("long"))
        .drop("__pid", "__off")
    )


def grouped_rows_at_rank(
    df: DataFrame,
    group_cols: str | list[str],
    order_cols: str | list[str],
    rank_fn,
) -> tuple[list[Row], dict[tuple, int]]:
    """Exact order-statistic row at ONE rank per group, plus group
    counts: ([row_at_rank_{rank_fn(n_g)} for each group g], {g: n_g}).
    `rank_fn(n)` maps a group's population to the 0-based rank wanted
    (e.g. `lambda n: (n - 1) // 2` for the lower median).

    The targeted sibling of `grouped_row_index`: same range partition +
    per-(partition, group) metadata collect, but instead of ranking and
    materializing EVERY row only the partitions that contain a requested
    rank are window-sorted, and only the hit rows are collected —
    `rows_at_ranks` generalized to per-group ranks. At bench scale that
    is 1 sorted partition per group instead of all of them; at 100 TB it
    is the difference between sorting the corpus twice and sorting
    ~n_groups partitions. `order_cols` must total-order rows within a
    group (include a unique key) or the selected row is
    partition-dependent."""
    sp = df.sparkSession
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    ocols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    n = int(sp.conf.get("spark.sql.shuffle.partitions", "200"))
    keyed = (
        df.repartitionByRange(n, *[F.col(c) for c in gcols + ocols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    rows = keyed.groupBy("__pid", *gcols).agg(F.count(F.lit(1)).alias("__n")).collect()
    if not rows:
        return [], {}
    by_group: dict[tuple, list] = {}
    for r in rows:
        by_group.setdefault(tuple(r[g] for g in gcols), []).append(r)
    if len(by_group) > MAX_RANK_GROUPS:
        raise ValueError(
            f"grouped_rows_at_rank: {len(by_group)} groups, more than "
            f"{MAX_RANK_GROUPS}; use grouped_row_index for many groups"
        )
    counts = {k: sum(r["__n"] for r in rs) for k, rs in by_group.items()}
    # Locate each group's global rank inside the contiguous run of
    # (partition, group) blocks — identical offset algebra to
    # grouped_row_index's prefix sums, consumed on the driver instead of
    # broadcast back.
    want: dict[tuple[int, tuple], int] = {}
    for key, rs in by_group.items():
        target = rank_fn(counts[key]) + 1  # 1-based within the group
        if not 1 <= target <= counts[key]:
            raise ValueError(f"rank {target - 1} out of range for group {key}")
        acc = 0
        for r in sorted(rs, key=lambda r: r["__pid"]):
            if acc < target <= acc + r["__n"]:
                want[(r["__pid"], key)] = target - acc
                break
            acc += r["__n"]
    hit_pids = sorted({p for p, _ in want})
    cond = F.lit(False)
    for (p, key), lr in sorted(want.items(), key=lambda kv: kv[0][0]):
        gc = (F.col("__pid") == p) & (F.col("__lrn") == lr)
        for g, v in zip(gcols, key):
            gc = gc & F.col(g).eqNullSafe(F.lit(v))
        cond = cond | gc
    w = Window.partitionBy("__pid", *gcols).orderBy(*ocols)
    hits = (
        keyed.filter(F.col("__pid").isin(hit_pids))
        .withColumn("__lrn", F.row_number().over(w))
        .filter(cond)
        .drop("__pid", "__lrn")
        .collect()
    )
    by_key = {tuple(row[g] for g in gcols): row for row in hits}
    return [by_key[k] for k in sorted(by_key)], counts


def rows_at_ranks(
    df: DataFrame, cols: list[str], ranks: list[int]
) -> tuple[list[Row], int]:
    """Exact order-statistic rows at the given 1-based global ranks, plus
    the total row count: ([row_at_rank_r for r in ranks], n).

    Only the partitions that actually contain a requested rank are
    sorted (a partitioned window over <= len(ranks) range partitions) —
    the distributed version of `ORDER BY ... OFFSET r LIMIT 1` without a
    global sort or a driver-side table scan."""
    cols = list(cols)
    keyed, offsets, total = _ranged_with_offsets(df, cols)
    for r in ranks:
        if not 1 <= r <= total:
            raise ValueError(f"rank {r} out of range 1..{total}")
    pids = sorted(offsets)
    sizes = {}
    for i, pid in enumerate(pids):
        nxt = offsets[pids[i + 1]] if i + 1 < len(pids) else total
        sizes[pid] = nxt - offsets[pid]
    want: set[tuple[int, int]] = set()
    for r in ranks:
        for pid in pids:
            if offsets[pid] < r <= offsets[pid] + sizes[pid]:
                want.add((pid, r - offsets[pid]))
                break
    hit_pids = sorted({p for p, _ in want})
    cond = F.lit(False)
    for p, lr in sorted(want):
        cond = cond | ((F.col("__pid") == p) & (F.col("__lrn") == lr))
    w = Window.partitionBy("__pid").orderBy(*cols)
    hits = (
        keyed.filter(F.col("__pid").isin(hit_pids))
        .withColumn("__lrn", F.row_number().over(w))
        .filter(cond)
        .collect()
    )
    by_rank = {}
    for row in hits:
        pid, lrn = row["__pid"], row["__lrn"]
        by_rank[offsets[pid] + lrn] = row
    return [by_rank[r] for r in ranks], total
