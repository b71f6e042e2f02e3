"""IVF recall gate: recall@k of partition-pruned IVF search against the
brute-force exact top-k, as an ORACLE-CHECKED query.

The persisted IVF index (operators/ann_index.py:64,144) had build/search/
append tests but no declared recall measurement — this module closes that:
`ivf_recall_at_k` runs the same pipeline shape END TO END (deterministic
seeding -> Lloyd iterations -> nearest-centroid assignment -> rank lists
per probe -> search only the nprobe nearest lists -> top-k -> recall vs
exact top-k) declaratively, with a DuckDB twin, so the recall fraction
itself is hash-gated every round. tests/test_ann_index.py separately pins
the persisted-index operator's recall on the same corpus.

Cross-engine determinism: every distance/dot is computed on 1e-6-quantized
integer-valued doubles (micro-units). Products are < 1e13 and 64-dim sums
< 1e15 — all integers below 2^53, so double arithmetic is EXACT and
argmin/top-k orderings are bit-identical on both engines; the only
non-integer outputs are sqrt/divide applied to identical inputs.
Centroid updates round the per-position mean back onto the micro grid.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import phases
from ..operators.sampling import hash_unit, hash_unit_sql
from ..session import local_frame
from ._util import read_table

RECALL_N_LISTS = 8
RECALL_ITERS = 2
RECALL_NPROBE = 2
RECALL_K = 10
RECALL_N_PROBES = 10  # probe set: vec_id < 10
_QSCALE = 1_000_000


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings", fan=True)
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * _QSCALE + F.lit(0.5)).cast("double"),
    )
    return e.select("vec_id", q.alias("q"))


def _sqdist(a, b):
    # |a|^2 + |b|^2 - 2 a.b — every term exact on integer-valued doubles
    return _dot(a, a) + _dot(b, b) - 2 * _dot(a, b)


def _cos_np():
    """Cosine between two integer-valued-double array columns as one
    vectorized pandas-UDF pass (the interpreted fold version cost ~570
    CodegenFallback ops per candidate row across its three dots). Dots
    are exact integers < 2^53 in any summation order; sqrt is
    correctly-rounded IEEE on both engines, and the multiply-then-divide
    sequence matches the column formulation, so the doubles are
    bit-identical."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        A = np.vstack(a.to_numpy())
        B = np.vstack(b.to_numpy())
        num = (A * B).sum(axis=1)
        return pd.Series(
            num / (np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1)))
        )

    return _cos


def _assign_literal(qv: DataFrame, cent_list: list[list[float]]) -> DataFrame:
    """argmin_list sqdist(q, c) — NARROW, zero shuffles (the earlier
    join+window form paid two shuffles per Lloyd round for the identical
    result). Vectorized since round 11 as one pandas-UDF NumPy pass with
    the n_lists x 64 centroid matrix held executor-local in the task
    closure: the literal-array formulation evaluated ~8 x 190 interpreted
    CodegenFallback ops per row per Lloyd pass. Bit-exact because every
    operand is an exact-integer-valued double (products and partial sums
    stay integers < 2^53 — summation order cannot round, and the direct
    (a-b)^2 form equals the expanded |a|^2+|b|^2-2ab literal form
    exactly), and NumPy's first-argmin reproduces the
    array_position-of-min / SQL (d, list_id) tie-break."""
    C = np.asarray(cent_list, dtype="float64")  # (n_lists, 64)

    @F.pandas_udf("int")
    def _amin(q: pd.Series) -> pd.Series:
        if not len(q):
            return pd.Series([], dtype="int32")
        Q = np.vstack(q.to_numpy())  # (n, 64)
        diff = Q[:, None, :] - C[None, :, :]
        return pd.Series(
            (diff * diff).sum(axis=2).argmin(axis=1).astype("int32")
        )

    return qv.withColumn("list_id", _amin(F.col("q")))


def _lloyd_update(qv: DataFrame, cent_list: list[list[float]]) -> list[list[float]]:
    """One Lloyd round fused into a SINGLE pass over the vectors: each
    task assigns its rows with the same NumPy argmin as `_assign_literal`
    and accumulates per-list partial sums + counts, yielding at most
    n_lists metadata rows per task (one mapInPandas job — no posexplode
    of N x 64 value rows, no two-level shuffled aggregation, no second
    ArrowEvalPython pass shipping assignments back to the JVM). The
    driver combines the task partials and floors the means back onto the
    micro grid.

    Bit-exact vs the previous posexplode + groupBy((list_id, pos)) form:
    assignments reuse the identical argmin expression; every vector
    component and partial sum is an exact-integer-valued double (< 2^53,
    the module's quantization discipline — the same envelope F.sum ran
    under), so summation order cannot round, and
    floor(sum / count + 0.5) sees the identical operands. Empty lists
    keep their previous centroid, exactly like the old
    `updated.get(i, cent_list[i])` fallback."""
    C = np.asarray(cent_list, dtype="float64")
    n_lists, dim = C.shape

    def _partials(batches):
        sums = np.zeros((n_lists, dim))
        cnts = np.zeros(n_lists, dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.vstack(pdf["q"].to_numpy())
            diff = Q[:, None, :] - C[None, :, :]
            a = (diff * diff).sum(axis=2).argmin(axis=1)
            np.add.at(sums, a, Q)
            cnts += np.bincount(a, minlength=n_lists)
        live = np.flatnonzero(cnts)
        yield pd.DataFrame(
            {
                "list_id": pd.Series(live, dtype="int32"),
                "s": [sums[i] for i in live],
                "n": pd.Series(cnts[live], dtype="int64"),
            }
        )

    rows = (
        qv.select("q")
        .mapInPandas(_partials, "list_id int, s array<double>, n bigint")
        .collect()
    )
    tot = np.zeros((n_lists, dim))
    cnt = np.zeros(n_lists, dtype="int64")
    for r in rows:
        tot[r["list_id"]] += np.asarray(r["s"], dtype="float64")
        cnt[r["list_id"]] += r["n"]
    return [
        [float(v) for v in np.floor(tot[i] / cnt[i] + 0.5)]
        if cnt[i]
        else cent_list[i]
        for i in range(n_lists)
    ]


def _assign_residual(qv: DataFrame, cent_list: list[list[float]]) -> DataFrame:
    """(vec_id, list_id, q = vector - centroid[list_id]) in ONE kernel
    pass — the fused form of `_assign_literal(...).localCheckpoint()`
    followed by the broadcast-centroid join + zip_with subtraction
    (guide §2.3/§2.4/§4.2): one pass over the vectors instead of two,
    one materialization instead of two, no join. Bit-exact: the argmin
    is the identical NumPy expression `_assign_literal` uses, and the
    residual subtraction operates on exact-integer-valued doubles
    (< 2^53, the module's quantization contract), where NumPy and
    zip_with(x - y) agree bit-for-bit elementwise. Pinned by
    tests/test_round12_more.py::
    test_fused_assign_residual_matches_retired_formulation."""
    C = np.asarray(cent_list, dtype="float64")  # (n_lists, 64)

    def _ar(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.vstack(pdf["q"].to_numpy())
            diff = Q[:, None, :] - C[None, :, :]
            a = (diff * diff).sum(axis=2).argmin(axis=1)
            R = Q - C[a]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "list_id": a.astype("int32"),
                    "q": list(R),
                }
            )

    return qv.select("vec_id", "q").mapInPandas(
        _ar, "vec_id bigint, list_id int, q array<double>"
    )


def _index_tables_core(spark: SparkSession, sf_dir: str):
    """Shared coarse-quantizer build for the recall gates: quantized
    corpus (checkpointed — ONE embeddings scan feeds seeding, every Lloyd
    round, probing, and both search arms), trained centroid list
    (driver-side), and the probe set."""
    with phases.phase("ivf_build", "quantize"):
        qv = _quantized(spark, sf_dir).localCheckpoint()
    with phases.phase("ivf_build", "seeds"):
        seeds = (
            qv.orderBy(hash_unit(F.col("vec_id"), "ivf-seed"), F.col("vec_id"))
            .limit(RECALL_N_LISTS)
            .collect()
        )
    cent_list = [list(r.q) for r in seeds]
    for _ in range(RECALL_ITERS):
        with phases.phase("ivf_build", "lloyd"):
            cent_list = _lloyd_update(qv, cent_list)
    probes = qv.filter(F.col("vec_id") < RECALL_N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("q").alias("pq")
    )
    return qv, cent_list, probes


def _cents_df(spark: SparkSession, cent_list: list[list[float]]) -> DataFrame:
    return local_frame(
        spark, [(i, c) for i, c in enumerate(cent_list)], "list_id int, c array<double>"
    )


def _index_tables(spark: SparkSession, sf_dir: str):
    """`_index_tables_core` + the final original-vector assignment the
    IVF recall gates search over (the IVFPQ gate skips this and fuses
    assignment into its residual pass — `_assign_residual`)."""
    qv, cent_list, probes = _index_tables_core(spark, sf_dir)
    with phases.phase("ivf_build", "assign"):
        alist = _assign_literal(qv, cent_list).localCheckpoint()
    return qv, _cents_df(spark, cent_list), alist, probes


def ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall@10 of nprobe=2 IVF search over an 8-list index
    (deterministic seeds, 2 Lloyd rounds) vs the exact cosine top-10 —
    the measured answer to 'what does partition pruning cost in recall?'
    for the persisted index operator (operators/ann_index.py:144).

    Plan shape: see `_index_tables`; centroids live in an 8-row broadcast
    table; the search arms are a broadcast join of the 10-probe set onto
    (pruned or full) candidates + a per-probe top-k window. At 100 TB the
    IVF arm reads nprobe/n_lists of the corpus — exactly the production
    ivf_search partition-pruning contract."""
    qv, cents, alist, probes = _index_tables(spark, sf_dir)
    pscore = probes.join(F.broadcast(cents)).withColumn(
        "d", _sqdist(F.col("pq"), F.col("c"))
    )
    wpl = W.partitionBy("probe_id").orderBy("d", "list_id")
    plists = (
        pscore.withColumn("rn", F.row_number().over(wpl))
        .filter(F.col("rn") <= RECALL_NPROBE)
        .select("probe_id", "pq", "list_id")
    )

    # one fresh Column per search arm: reusing a single UDF Column object
    # across the two arms stamps BOTH applications with the same call
    # expr id, which the plan audit's DuplicatedPythonUDF axis (rightly)
    # refuses to distinguish from a filter-pushdown duplication
    wk = W.partitionBy("probe_id").orderBy(F.desc("cos"), "cand_id")

    ivf_cand = (
        plists.join(alist, "list_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            _cos_np()(F.col("pq"), F.col("q")).alias("cos"),
        )
    )
    ivfk = (
        ivf_cand.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= RECALL_K)
        .select("probe_id", "cand_id")
    )

    bf_cand = (
        qv.join(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            _cos_np()(F.col("pq"), F.col("q")).alias("cos"),
        )
    )
    bfk = (
        bf_cand.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= RECALL_K)
        .select("probe_id", "cand_id")
    )

    hit = ivfk.withColumn("hit", F.lit(1))
    return (
        bfk.join(hit, ["probe_id", "cand_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_overlap"),
            (F.sum(F.coalesce("hit", F.lit(0))) / F.lit(float(RECALL_K))).alias(
                "recall"
            ),
        )
    )


_SQD = (
    "(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
    " - 2 * list_dot_product({a}, {b}))"
)


def _duck_lloyd() -> str:
    """Unrolled CTE chain: qv, seeds/c0, then per-round assignment aN +
    update cN, mirroring the Spark loop step for step."""
    parts = [
        f"""qv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * {_QSCALE} + 0.5)) AS q
  FROM embeddings),
c0 AS (
  SELECT list_id, q AS c FROM (
    SELECT q, row_number() OVER (
      ORDER BY {hash_unit_sql("vec_id", "ivf-seed")}, vec_id) - 1 AS list_id
    FROM qv)
  WHERE list_id < {RECALL_N_LISTS})"""
    ]
    for i in range(RECALL_ITERS):
        d = _SQD.format(a="v.q", b="l.c")
        parts.append(f"""a{i} AS (
  SELECT vec_id, q, list_id FROM (
    SELECT v.vec_id, v.q, l.list_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d}, l.list_id) AS rn
    FROM qv v CROSS JOIN c{i} l)
  WHERE rn = 1),
u{i} AS (
  SELECT list_id, list(m ORDER BY pos) AS cu FROM (
    SELECT list_id, pos, floor(sum(val) / count(*) + 0.5) AS m
    FROM (SELECT list_id, generate_subscripts(q, 1) AS pos, unnest(q) AS val
          FROM a{i})
    GROUP BY 1, 2)
  GROUP BY 1),
c{i + 1} AS (
  SELECT s.list_id, CASE WHEN u.cu IS NULL THEN s.c ELSE u.cu END AS c
  FROM c{i} s LEFT JOIN u{i} u USING (list_id))""")
    return ",\n".join(parts)


_CF = RECALL_ITERS  # final centroid table index

ORACLE_IVF_RECALL = f"""
WITH {_duck_lloyd()},
alist AS (
  SELECT vec_id, q, list_id FROM (
    SELECT v.vec_id, v.q, l.list_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_SQD.format(a="v.q", b="l.c")}, l.list_id) AS rn
    FROM qv v CROSS JOIN c{_CF} l)
  WHERE rn = 1),
probes AS (SELECT vec_id AS probe_id, q AS pq FROM qv WHERE vec_id < {RECALL_N_PROBES}),
plists AS (
  SELECT probe_id, pq, list_id FROM (
    SELECT p.probe_id, p.pq, l.list_id,
           row_number() OVER (PARTITION BY p.probe_id
                              ORDER BY {_SQD.format(a="p.pq", b="l.c")}, l.list_id) AS rn
    FROM probes p CROSS JOIN c{_CF} l)
  WHERE rn <= {RECALL_NPROBE}),
ivfk AS (
  SELECT probe_id, cand_id FROM (
    SELECT pl.probe_id, v.vec_id AS cand_id,
           row_number() OVER (PARTITION BY pl.probe_id ORDER BY
             list_dot_product(pl.pq, v.q)
               / (sqrt(list_dot_product(pl.pq, pl.pq))
                  * sqrt(list_dot_product(v.q, v.q))) DESC, v.vec_id) AS rn
    FROM plists pl JOIN alist v USING (list_id)
    WHERE v.vec_id != pl.probe_id)
  WHERE rn <= {RECALL_K}),
bfk AS (
  SELECT probe_id, cand_id FROM (
    SELECT p.probe_id, v.vec_id AS cand_id,
           row_number() OVER (PARTITION BY p.probe_id ORDER BY
             list_dot_product(p.pq, v.q)
               / (sqrt(list_dot_product(p.pq, p.pq))
                  * sqrt(list_dot_product(v.q, v.q))) DESC, v.vec_id) AS rn
    FROM probes p CROSS JOIN qv v
    WHERE v.vec_id != p.probe_id)
  WHERE rn <= {RECALL_K})
SELECT b.probe_id,
       CAST(sum(CASE WHEN i.cand_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_overlap,
       sum(CASE WHEN i.cand_id IS NULL THEN 0 ELSE 1 END) / {float(RECALL_K)} AS recall
FROM bfk b LEFT JOIN ivfk i USING (probe_id, cand_id)
GROUP BY 1
"""


RECALL_CURVE = (1, 2, 4, 8)


def ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pruning-vs-recall trade as data: mean recall@10 over the
    probe set at nprobe = 1/2/4/8 of 8 lists (i.e. reading 12.5% ... 100%
    of the corpus), one row per operating point — nprobe=8 must read
    1.0 exactly (full probe == brute force), which pins the instrument
    itself. Lists are ranked ONCE per probe; each candidate carries its
    list's rank, so the four operating points are a filter + window over
    the same candidate table (no rebuild per point)."""
    qv, cents, alist, probes = _index_tables(spark, sf_dir)
    pscore = probes.join(F.broadcast(cents)).withColumn(
        "d", _sqdist(F.col("pq"), F.col("c"))
    )
    wpl = W.partitionBy("probe_id").orderBy("d", "list_id")
    plr = (
        pscore.withColumn("rl", F.row_number().over(wpl))
        .select("probe_id", "pq", "list_id", "rl")
    )
    # fresh Column per arm — same call-expr-id discipline as
    # ivf_recall_at_k above
    cand = (
        plr.join(alist, "list_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            "rl",
            _cos_np()(F.col("pq"), F.col("q")).alias("cos"),
        )
    )
    npv = F.explode(F.array(*[F.lit(p) for p in RECALL_CURVE])).alias("np")
    wk = W.partitionBy("np", "probe_id").orderBy(F.desc("cos"), "cand_id")
    ivfk = (
        cand.select("*", npv)
        .filter(F.col("rl") <= F.col("np"))
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= RECALL_K)
        .select("np", "probe_id", "cand_id")
    )

    bf_cand = (
        qv.join(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            _cos_np()(F.col("pq"), F.col("q")).alias("cos"),
        )
    )
    wbf = W.partitionBy("probe_id").orderBy(F.desc("cos"), "cand_id")
    bfk = (
        bf_cand.withColumn("rn", F.row_number().over(wbf))
        .filter(F.col("rn") <= RECALL_K)
        .select("probe_id", "cand_id")
    )
    hit = ivfk.withColumn("hit", F.lit(1))
    denom = float(RECALL_N_PROBES * RECALL_K)
    return (
        bfk.select("*", npv)
        .join(hit, ["np", "probe_id", "cand_id"], "left")
        .groupBy(F.col("np").alias("nprobe"))
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
            (F.sum(F.coalesce("hit", F.lit(0))) / F.lit(denom)).alias("mean_recall"),
        )
    )


_CURVE_SQL = ", ".join(str(p) for p in RECALL_CURVE)

ORACLE_IVF_CURVE = f"""
WITH {_duck_lloyd()},
alist AS (
  SELECT vec_id, q, list_id FROM (
    SELECT v.vec_id, v.q, l.list_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_SQD.format(a="v.q", b="l.c")}, l.list_id) AS rn
    FROM qv v CROSS JOIN c{_CF} l)
  WHERE rn = 1),
probes AS (SELECT vec_id AS probe_id, q AS pq FROM qv WHERE vec_id < {RECALL_N_PROBES}),
plr AS (
  SELECT p.probe_id, p.pq, l.list_id,
         row_number() OVER (PARTITION BY p.probe_id
                            ORDER BY {_SQD.format(a="p.pq", b="l.c")}, l.list_id) AS rl
  FROM probes p CROSS JOIN c{_CF} l),
cand AS (
  SELECT pl.probe_id, v.vec_id AS cand_id, pl.rl,
         list_dot_product(pl.pq, v.q)
           / (sqrt(list_dot_product(pl.pq, pl.pq))
              * sqrt(list_dot_product(v.q, v.q))) AS cos
  FROM plr pl JOIN alist v USING (list_id)
  WHERE v.vec_id != pl.probe_id),
npts AS (SELECT unnest([{_CURVE_SQL}]) AS np),
ivfk AS (
  SELECT np, probe_id, cand_id FROM (
    SELECT n.np, c.probe_id, c.cand_id,
           row_number() OVER (PARTITION BY n.np, c.probe_id
                              ORDER BY c.cos DESC, c.cand_id) AS rn
    FROM cand c CROSS JOIN npts n WHERE c.rl <= n.np)
  WHERE rn <= {RECALL_K}),
bfk AS (
  SELECT probe_id, cand_id FROM (
    SELECT p.probe_id, v.vec_id AS cand_id,
           row_number() OVER (PARTITION BY p.probe_id ORDER BY
             list_dot_product(p.pq, v.q)
               / (sqrt(list_dot_product(p.pq, p.pq))
                  * sqrt(list_dot_product(v.q, v.q))) DESC, v.vec_id) AS rn
    FROM probes p CROSS JOIN qv v
    WHERE v.vec_id != p.probe_id)
  WHERE rn <= {RECALL_K})
SELECT n.np AS nprobe,
       CAST(sum(CASE WHEN i.cand_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
       sum(CASE WHEN i.cand_id IS NULL THEN 0 ELSE 1 END)
         / {float(RECALL_N_PROBES * RECALL_K)} AS mean_recall
FROM bfk b
CROSS JOIN npts n
LEFT JOIN ivfk i ON i.np = n.np AND i.probe_id = b.probe_id AND i.cand_id = b.cand_id
GROUP BY 1
"""


QUERIES = {
    "ivf_recall_at_k": ivf_recall_at_k,
    "ivf_recall_curve": ivf_recall_curve,
}
ORACLE = {
    "ivf_recall_at_k": ORACLE_IVF_RECALL,
    "ivf_recall_curve": ORACLE_IVF_CURVE,
}
