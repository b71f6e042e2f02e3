"""Persisted IVF index for approximate nearest-neighbor search.

The scale path for ANN over an embedding column: cluster once, store the
corpus partitioned by cluster id, and answer each query by reading ONLY
the `nprobe` most promising partitions — at 100 TB a probe touches
nprobe/n_lists of the data and the partition filter never even lists the
other directories (Spark's FileIndex prunes on the `list_id` partition
column before any file IO).

The clustering is the shared k-means kernel (operators/kmeans.py):
 - each Lloyd round is ONE `partial_sums` job: every task assigns its
   rows to the nearest centroid and emits per-list int64 tick sums and
   counts; the driver adds them and forms the tick means (exact, so the
   centroids do not depend on partitioning);
 - the stored assignment is a pandas-UDF column around `kmeans.nearest`
   (the left-fold squared L2, first argmin: ties go to the lowest id);
 - the index layout is plain partitioned parquet + a centroids table, so
   every other operator (compaction, sampling, dedup) composes with it.

A null vector, or one whose length is not the centroids', raises a
ValueError naming the operator and the column instead of landing in a
partition no search probes.

Seeding is deterministic (first n_lists vectors in id-hash order), so
builds are reproducible — the same property the sampling module
guarantees, for the same operational reasons.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_shipped, local_frame
from ..suite._util import dot_fold
from . import kmeans
from .sampling import hash_unit

VECTORS_DIR = "vectors"
CENTROIDS_DIR = "centroids"


def _seeds(vecs: DataFrame, id_col: str, n: int, caller: str, vec_col: str) -> list[list[float]]:
    """The first `n` vectors in id-hash order, checked: a non-empty
    corpus, and seeds that are non-null and all one length."""
    seeds = [
        r[vec_col]
        for r in vecs.orderBy(hash_unit(F.col(id_col), "ivf-seed"), F.col(id_col))
        .limit(n)
        .collect()
    ]
    if not seeds:
        raise ValueError("cannot build an IVF index over an empty corpus")
    if any(v is None or len(v) != len(seeds[0] or ()) for v in seeds):
        raise kmeans.invalid_vectors(caller, vec_col, None)
    return [list(v) for v in seeds]


def _two_level_ids(X: np.ndarray, coarse: np.ndarray, fine: dict[int, np.ndarray]):
    """(coarse id, fine id) of each row: the nearest coarse centroid, then
    the nearest centroid of that cell's own sub-codebook."""
    c = kmeans.nearest(X, coarse)
    f = np.zeros(len(X), dtype=np.int64)
    for cell in np.unique(c):
        m = c == cell
        f[m] = kmeans.nearest(X[m], fine[int(cell)])
    return c, f


def _list_id(centroids: list[list[float]]):
    """Pandas UDF over an array<double> column: the nearest centroid's
    id, null for a null or misshapen vector."""
    C = np.asarray(centroids, dtype="float64")
    ensure_shipped(SparkSession.active())  # the UDF calls kmeans by reference

    @F.pandas_udf("int")
    def _ids(v: pd.Series) -> pd.Series:
        X, ok = kmeans.matrix(v, C.shape[1])
        ids = np.zeros(len(v), dtype="int32")
        ids[ok] = kmeans.nearest(X, C)
        return pd.Series(ids, dtype="Int32").where(ok)

    return _ids


def _with_cells(df: DataFrame, coarse, fine, vec_col: str) -> DataFrame:
    """`df` plus the (coarse_id, fine_id) of `_two_level_ids`, both null
    for a null or misshapen vector; one pandas-UDF pass."""
    C = np.asarray(coarse, dtype="float64")
    Fc = {c: np.asarray(cl, dtype="float64") for c, cl in fine.items()}
    ensure_shipped(df.sparkSession)  # the UDF calls kmeans by reference

    @F.pandas_udf("struct<coarse_id:int, fine_id:int>")
    def _ids(v: pd.Series) -> pd.DataFrame:
        X, ok = kmeans.matrix(v, C.shape[1])
        c = np.zeros(len(v), dtype="int32")
        f = np.zeros(len(v), dtype="int32")
        c[ok], f[ok] = _two_level_ids(X, C, Fc)
        return pd.DataFrame(
            {
                "coarse_id": pd.Series(c, dtype="Int32").where(ok),
                "fine_id": pd.Series(f, dtype="Int32").where(ok),
            }
        )

    return df.withColumn("__ids", _ids(F.col(vec_col).cast("array<double>"))).select(
        *df.columns, "__ids.coarse_id", "__ids.fine_id"
    )


def _write_table(spark: SparkSession, rows, schema: str, path: str) -> None:
    local_frame(spark, rows, schema).coalesce(1).write.mode("overwrite").parquet(path)


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_lists: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Cluster `df` and persist the index at `path`.

    Layout: {path}/vectors/list_id=K/*.parquet (the corpus, partitioned by
    assigned list) and {path}/centroids/*.parquet (list_id, centroid).
    `iters` >= 1: the Lloyd rounds are also what checks every vector.
    Returns the final centroids."""
    if iters < 1:
        raise ValueError(f"build_ivf_index: iters must be >= 1, got {iters}")
    vecs = df.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col)).persist()
    try:
        centroids = _seeds(vecs, id_col, n_lists, "build_ivf_index", vec_col)
        for _ in range(iters):
            centroids = kmeans.lloyd_round(
                vecs, vec_col, centroids, caller="build_ivf_index", scale=kmeans.TICK
            )
        (
            df.withColumn("list_id", _list_id(centroids)(F.col(vec_col).cast("array<double>")))
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(f"{path}/{VECTORS_DIR}")
        )
    finally:
        vecs.unpersist()
    _write_table(
        df.sparkSession,
        list(enumerate(centroids)),
        "list_id int, centroid array<double>",
        f"{path}/{CENTROIDS_DIR}",
    )
    return centroids


def _cosine_to_query(query: list[float], qn: float, vec_col: str):
    """Cosine to a literal query vector, zero-norm-safe: a zero corpus
    vector (padding/defective row) or zero query scores -1.0 instead of
    raising DIVIDE_BY_ZERO under ANSI mode."""
    qcol = F.array(*[F.lit(float(v)) for v in query])
    emb = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(dot_fold(emb, emb))
    if qn <= 0:
        return F.lit(-1.0)
    return F.when(nrm > 0, dot_fold(emb, qcol) / (nrm * F.lit(qn))).otherwise(F.lit(-1.0))


def load_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    rows = spark.read.parquet(f"{path}/{CENTROIDS_DIR}").orderBy("list_id").collect()
    return [list(r.centroid) for r in rows]


def ivf_search(
    spark: SparkSession,
    path: str,
    query: list[float],
    nprobe: int = 4,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine among the `nprobe` lists whose centroids are
    closest to the query. Centroid ranking is driver-side (n_lists is
    tiny); the corpus scan carries `list_id IN (...)` — a partition
    filter, so unprobed lists are never listed or read. The final top-k
    is an ordered limit (TakeOrderedAndProject, no global sort)."""
    centroids = load_centroids(spark, path)
    qn = math.sqrt(sum(v * v for v in query))

    def cos_to_query(c: list[float]) -> float:
        cn = math.sqrt(sum(v * v for v in c))
        d = sum(x * y for x, y in zip(query, c))
        return d / (qn * cn) if qn and cn else -1.0

    probe_ids = sorted(
        range(len(centroids)), key=lambda i: (-cos_to_query(centroids[i]), i)
    )[:nprobe]

    vecs = spark.read.parquet(f"{path}/{VECTORS_DIR}").filter(
        F.col("list_id").isin(probe_ids)
    )
    return (
        vecs.withColumn("cosine", _cosine_to_query(query, qn, vec_col))
        .select(id_col, "list_id", "cosine")
        .orderBy(F.desc("cosine"), id_col)
        .limit(topk)
    )


def ivf_append_batch(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    vec_col: str = "embedding",
) -> list[int]:
    """Incrementally add a batch of vectors to a persisted index WITHOUT
    rebuilding: assign each vector to its nearest existing centroid (the
    codebook is frozen — standard IVF maintenance; re-train only when
    drift warrants a rebuild) and append parquet files into exactly the
    touched list partitions. Work is proportional to the batch, never
    the index: assignment is a narrow projection (`kmeans.nearest` in a
    pandas UDF), and `partitionBy(list_id)` append writes only
    directories the batch touches — untouched lists keep their files
    byte-identical, so searches probing them see no churn. Returns the
    touched list ids (a bounded |n_lists| collect, for cache
    invalidation / compaction scheduling downstream)."""
    centroids = load_centroids(spark, path)
    # persist: the assignment plan feeds BOTH the touched-list collect and
    # the write; without it a non-deterministic batch source could be
    # re-executed differently for each, making the returned touched list
    # disagree with the partitions actually written
    assigned = batch.withColumn(
        "list_id", _list_id(centroids)(F.col(vec_col).cast("array<double>"))
    ).persist()
    try:
        touched = [
            r.list_id
            for r in assigned.select("list_id").distinct().orderBy("list_id").collect()
        ]
        if None in touched:
            raise kmeans.invalid_vectors("ivf_append_batch", vec_col, len(centroids[0]))
        assigned.write.mode("append").partitionBy("list_id").parquet(f"{path}/{VECTORS_DIR}")
    finally:
        assigned.unpersist()
    return touched


# --- two-level IVF (coarse -> fine), the very-large-codebook scale path ---
#
# The flat index's assignment cost is O(n x n_lists) distance evaluations.
# That is fine while the codebook is small, but at 100 TB the list count
# must scale with the corpus (to keep list sizes bounded, n_lists ~ n /
# target_list_size), which turns flat assignment quadratic in corpus
# size. The standard fix (FAISS's IVF with a two-level / multi-index
# quantizer) is a hierarchical codebook: n_coarse cells, each with its own
# n_fine sub-codebook. Assignment is O(n x (n_coarse + n_fine)) — for the
# same total list count L = n_coarse * n_fine, that is O(n * 2 * sqrt(L))
# instead of O(n * L). Search prunes on BOTH partition columns
# (coarse_id, fine_id), so a probe reads p_coarse*p_fine/L of the data.

CENTROIDS_COARSE_DIR = "centroids_coarse"
CENTROIDS_FINE_DIR = "centroids_fine"


def build_ivf2_index(
    df: DataFrame,
    path: str,
    n_coarse: int = 8,
    n_fine: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict[int, list[list[float]]]:
    """Two-level IVF build. Layout:
    {path}/vectors/coarse_id=C/fine_id=F/*.parquet plus two centroid
    tables. Coarse codebook = the same deterministic Lloyd as the flat
    build; fine codebooks are trained for ALL cells at once (seeds via a
    per-cell row_number window; each round is one `kmeans.partial_sums`
    job keyed by (coarse, fine) — never one job per cell). `iters` >= 1.
    Returns {coarse_id: fine_centroids}."""
    from pyspark.sql import Window as W

    caller = "build_ivf2_index"
    if iters < 1:
        raise ValueError(f"{caller}: iters must be >= 1, got {iters}")
    vecs = df.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col)).persist()
    try:
        coarse = _seeds(vecs, id_col, n_coarse, caller, vec_col)
        for _ in range(iters):
            coarse = kmeans.lloyd_round(vecs, vec_col, coarse, caller=caller, scale=kmeans.TICK)

        cvecs = vecs.withColumn("coarse_id", _list_id(coarse)(F.col(vec_col)))
        w = W.partitionBy("coarse_id").orderBy(
            hash_unit(F.col(id_col), "ivf2-fine-seed"), F.col(id_col)
        )
        seed_rows = (
            cvecs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n_fine)
            .select("coarse_id", (F.col("rn") - 1).alias("fine_id"), vec_col)
            .collect()
        )
        fine: dict[int, list[list[float]]] = {}
        for r in sorted(seed_rows, key=lambda r: (r.coarse_id, r.fine_id)):
            fine.setdefault(r.coarse_id, []).append(list(r[vec_col]))
        # a coarse cell empty at build time still needs a sub-codebook:
        # a later frozen-codebook APPEND can assign vectors to it (its
        # centroid survives Lloyd unchanged), and without one those rows
        # would have no fine_id. Seed empty cells with their coarse centroid.
        for c in range(len(coarse)):
            fine.setdefault(c, [list(coarse[c])])

        C = np.asarray(coarse, dtype="float64")
        for _ in range(iters):
            Fc = {c: np.asarray(cl, dtype="float64") for c, cl in fine.items()}

            def _key(pdf, X, Fc=Fc):
                c, f = _two_level_ids(X, C, Fc)
                return c * n_fine + f, X

            tot = kmeans.partial_sums(
                vecs.select(vec_col), vec_col, _key, caller=caller, scale=kmeans.TICK,
                dim=C.shape[1],
            )
            flat = kmeans.combine(
                tot,
                scale=kmeans.TICK,
                prev={c * n_fine + f: v for c, cl in fine.items() for f, v in enumerate(cl)},
            )
            fine = {
                c: [flat[c * n_fine + f] for f in range(len(cl))] for c, cl in fine.items()
            }

        (
            _with_cells(df, coarse, fine, vec_col)
            .write.mode("overwrite")
            .partitionBy("coarse_id", "fine_id")
            .parquet(f"{path}/{VECTORS_DIR}")
        )
    finally:
        vecs.unpersist()
    spark = df.sparkSession
    _write_table(
        spark,
        list(enumerate(coarse)),
        "coarse_id int, centroid array<double>",
        f"{path}/{CENTROIDS_COARSE_DIR}",
    )
    _write_table(
        spark,
        [(c, f, v) for c, cl in sorted(fine.items()) for f, v in enumerate(cl)],
        "coarse_id int, fine_id int, centroid array<double>",
        f"{path}/{CENTROIDS_FINE_DIR}",
    )
    return fine


def _load_ivf2_codebooks(spark: SparkSession, path: str):
    coarse = [
        list(r.centroid)
        for r in spark.read.parquet(f"{path}/{CENTROIDS_COARSE_DIR}")
        .orderBy("coarse_id")
        .collect()
    ]
    fine: dict[int, list[list[float]]] = {}
    for r in (
        spark.read.parquet(f"{path}/{CENTROIDS_FINE_DIR}")
        .orderBy("coarse_id", "fine_id")
        .collect()
    ):
        fine.setdefault(r.coarse_id, []).append(list(r.centroid))
    return coarse, fine


def ivf2_search(
    spark: SparkSession,
    path: str,
    query: list[float],
    p_coarse: int = 2,
    p_fine: int = 4,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine among the p_coarse nearest coarse cells' p_fine
    nearest sub-lists. Both codebook rankings are driver-side (bounded);
    the corpus scan carries literal coarse_id/fine_id predicates — both
    partition columns, so unprobed directories are never listed."""
    coarse, fine = _load_ivf2_codebooks(spark, path)
    qn = math.sqrt(sum(v * v for v in query))

    def cos_to(c: list[float]) -> float:
        cn = math.sqrt(sum(v * v for v in c))
        d = sum(x * y for x, y in zip(query, c))
        return d / (qn * cn) if qn and cn else -1.0

    cids = sorted(range(len(coarse)), key=lambda i: (-cos_to(coarse[i]), i))[:p_coarse]
    pred = None
    for c in cids:
        fl = fine.get(c, [])
        fids = sorted(range(len(fl)), key=lambda f: (-cos_to(fl[f]), f))[:p_fine]
        leg = (F.col("coarse_id") == c) & F.col("fine_id").isin(fids)
        pred = leg if pred is None else pred | leg

    vecs = spark.read.parquet(f"{path}/{VECTORS_DIR}").filter(pred)
    return (
        vecs.withColumn("cosine", _cosine_to_query(query, qn, vec_col))
        .select(id_col, "coarse_id", "fine_id", "cosine")
        .orderBy(F.desc("cosine"), id_col)
        .limit(topk)
    )


def ivf2_append_batch(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    vec_col: str = "embedding",
) -> list[tuple[int, int]]:
    """Frozen-codebook append for the two-level index: assign coarse then
    fine, append parquet into exactly the touched (coarse, fine)
    partitions. Same contract as ivf_append_batch."""
    coarse, fine = _load_ivf2_codebooks(spark, path)
    assigned = _with_cells(batch, coarse, fine, vec_col).persist()
    try:
        touched = [
            (r.coarse_id, r.fine_id)
            for r in assigned.select("coarse_id", "fine_id")
            .distinct()
            .orderBy("coarse_id", "fine_id")
            .collect()
        ]
        if (None, None) in touched:
            raise kmeans.invalid_vectors("ivf2_append_batch", vec_col, len(coarse[0]))
        (
            assigned.write.mode("append")
            .partitionBy("coarse_id", "fine_id")
            .parquet(f"{path}/{VECTORS_DIR}")
        )
    finally:
        assigned.unpersist()
    return touched
