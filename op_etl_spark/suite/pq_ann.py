"""Product quantization (PQ) ANN: compressed-domain similarity search as
an ORACLE-CHECKED recall gate (Jégou, Douze & Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).

IVF (suite/ann_recall.py) answers "read less of the corpus"; PQ answers
the complementary 100 TB question — "hold the corpus in less memory":
each 64-dim double vector (512 bytes) is encoded as M=16 4-bit codes
(one k-means codeword id per 4-dim subspace) — 8 bytes, a 64x compression
of the search structure — and approximate distances are computed entirely
in the compressed domain: sqdist(probe, v) ~= sum_m sqdist(probe_m,
codebook_m[code_m(v)]) — the asymmetric distance computation (ADC) of the
paper. The declared queries measure exactly what that compression costs:

  pq_recall_at_k      recall@10 of ADC top-k vs the exact top-k, per probe
                      (the config sweep measured 0.14 at 12-bit codes,
                      0.43 at this 64-bit config on the synthetic
                      embeddings — near-random vectors, PQ's worst case)
  pq_distortion_stats per-subspace quantization error (the codebook-quality
                      diagnostic that predicts recall before any search)

Plan shape at scale: codebooks are 16 x 16 x 4 doubles — literal arrays in
the plan (the executor-local lookup tables a production ADC scan uses);
training is the shared k-means kernel (operators/kmeans.py) under the
grid rule of ann_recall.py (micro-quantized integer-valued doubles,
first-min tie-breaks, means floored back onto the grid), all subspaces
in one job per round; encoding is one
narrow map over the corpus (zero shuffles); search is a broadcast of the
10-probe set + per-probe top-k. Nothing corpus-scale is ever collected.

Cross-engine determinism: identical to ann_recall.py — all dots/sqdists
are exact integer arithmetic in doubles (< 2^53), so ADC scores, argmins,
and rank orders are bit-identical on Spark and DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import kmeans, phases
from ..operators.sampling import hash_unit, hash_unit_sql
from ._util import fround, read_table

PQ_M = 16  # subspaces
PQ_SUBDIM = 4  # dims per subspace (16 x 4 = the 64-dim embedding)
PQ_KCODES = 16  # codewords per subspace (4-bit codes)
PQ_ITERS = 2  # Lloyd rounds per subspace
PQ_K = 10  # top-k
PQ_N_PROBES = 10  # probe set: vec_id < 10
_QSCALE = 1_000_000


def _sqdist(a, b):
    """sum((a_i - b_i)^2) — the direct form (one zip_with, not three
    dots) to keep the literal-codebook expression trees small. Exact on
    integer-valued doubles, so it equals the SQL twin's expanded
    a.a + b.b - 2a.b form bit for bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _sub(col, m: int):
    """1-based slice of subspace m (0-based) out of a 64-dim array."""
    return F.slice(col, m * PQ_SUBDIM + 1, PQ_SUBDIM)


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings", fan=True)
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * _QSCALE + F.lit(0.5)).cast("double"),
    )
    return e.select("vec_id", q.alias("q"))


def _pq_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    """(encoded corpus, codebooks), built fresh PER CALL: train the
    per-subspace codebooks, encode, and checkpoint the coded table so
    downstream search arms read codes instead of re-running the 16
    literal-codebook argmin columns. Deliberately NOT cached across
    calls — a session cache here would make the bench/probe time only
    the search join and silently stop measuring whether the build
    (seeds, Lloyd rounds, encode) scales; each declared query owns its
    full pipeline cost, same as the IVF recall gates."""
    with phases.phase("pq_build", "quantize"):
        qv = _quantized(spark, sf_dir).localCheckpoint()
    books = _train_codebooks(qv)
    enc = _encode(qv, books).localCheckpoint(eager=False)
    return enc, books


def _train_codebooks(
    qv: DataFrame, pipeline: str = "pq_build"
) -> list[list[list[float]]]:
    """codebooks[m][c] = codeword c of subspace m. One seed scan
    (PQ_KCODES rows by salted-hash order — same discipline as the IVF
    gate), then PQ_ITERS Lloyd rounds for ALL subspaces at once, each one
    `_lloyd_update_books` job.

    `pipeline` labels the driver-blocking phase timings
    (operators/phases.py) so bench decomposes build vs search."""
    with phases.phase(pipeline, "seeds"):
        seeds = (
            qv.orderBy(hash_unit(F.col("vec_id"), "pq-seed"), F.col("vec_id"))
            .limit(PQ_KCODES)
            .collect()
        )
    books = [
        [list(r.q)[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] for r in seeds]
        for m in range(PQ_M)
    ]
    for _ in range(PQ_ITERS):
        with phases.phase(pipeline, "lloyd"):
            books = _lloyd_update_books(qv, books)
    return books


def _codes(X: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, M) codes: per subspace, the `kmeans.nearest` codeword of
    B (M, KCODES, SUBDIM), first minimum — the SQL twin's (d, code) order."""
    Q = X.reshape(len(X), PQ_M, PQ_SUBDIM)
    return np.stack([kmeans.nearest(Q[:, m], B[m]) for m in range(PQ_M)], axis=1)


def _lloyd_update_books(qv: DataFrame, books) -> list[list[list[float]]]:
    """One Lloyd round over ALL subspaces in one kernel job: each
    subvector is keyed by (subspace m, its code) as m * KCODES + code,
    and each codeword moves to its members' mean floored back onto the
    micro grid. A codeword with no members keeps its previous value."""
    B = np.asarray(books, dtype="float64")  # (M, KCODES, SUBDIM)
    base = np.arange(PQ_M) * PQ_KCODES

    def _key(pdf, X):
        return (base + _codes(X, B)).ravel(), X.reshape(-1, PQ_SUBDIM)

    tot = kmeans.partial_sums(
        qv.select("q"), "q", _key, caller="pq _lloyd_update_books", dim=PQ_M * PQ_SUBDIM
    )
    flat = kmeans.combine(
        tot, prev={m * PQ_KCODES + c: w for m, b in enumerate(books) for c, w in enumerate(b)}
    )
    return [[flat[m * PQ_KCODES + c] for c in range(PQ_KCODES)] for m in range(PQ_M)]


def _encode(qv: DataFrame, books) -> DataFrame:
    """Add code columns c0..c{M-1} (`_codes`) in ONE pandas-UDF pass
    holding the (M, K, SUBDIM) codebook tensor executor-local (shipped
    once with the task closure)."""
    B = np.asarray(books, dtype="float64")  # (M, KCODES, SUBDIM)

    @F.pandas_udf(
        T.StructType(
            [T.StructField(f"c{m}", T.IntegerType()) for m in range(PQ_M)]
        )
    )
    def _codes_udf(q: pd.Series) -> pd.DataFrame:
        if not len(q):
            return pd.DataFrame({f"c{m}": pd.Series([], dtype="int32") for m in range(PQ_M)})
        codes = _codes(np.vstack(q.to_numpy()), B).astype("int32")
        return pd.DataFrame({f"c{m}": codes[:, m] for m in range(PQ_M)})

    out = qv.withColumn("__codes", _codes_udf(F.col("q")))
    return out.select(
        *qv.columns, *[F.col(f"__codes.c{m}").alias(f"c{m}") for m in range(PQ_M)]
    )


def _adc_score(books, probe_col: str = "pq"):
    """ADC approximate sqdist between the probe vector in `probe_col`
    and an encoded corpus row (c0..c{M-1}): sum over subspaces of the
    exact sqdist between the probe subvector and the assigned codeword.
    Vectorized pandas-UDF twin of the old literal-codebook expression —
    same exact-integer bit-exactness argument as _encode."""
    B = np.asarray(books, dtype="float64")  # (M, KCODES, SUBDIM)
    m_idx = np.arange(PQ_M)

    @F.pandas_udf("double")
    def _adc(probe: pd.Series, codes: pd.Series) -> pd.Series:
        if not len(probe):
            return pd.Series([], dtype="float64")
        P = np.vstack(probe.to_numpy()).reshape(len(probe), PQ_M, PQ_SUBDIM)
        C = np.vstack(codes.to_numpy()).astype("int64")  # (n, M)
        diff = P - B[m_idx[None, :], C]  # (n, M, S)
        return pd.Series((diff * diff).sum(axis=(1, 2)))

    return _adc(
        F.col(probe_col), F.array(*[F.col(f"c{m}") for m in range(PQ_M)])
    )


def _sqdist_np():
    """Exact full-dimension sqdist between two integer-valued-double
    array columns as a vectorized pandas UDF — the hot-path twin of
    `_sqdist` for 64-dim operands (the interpreted zip_with/aggregate
    fold costs ~190 interpreted ops per row; the matmul form is one
    NumPy pass per Arrow batch). Exact-integer doubles make any
    summation order bit-identical."""

    @F.pandas_udf("double")
    def _sqd(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        D = np.vstack(a.to_numpy()) - np.vstack(b.to_numpy())
        return pd.Series((D * D).sum(axis=1))

    return _sqd


def pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall@10 of compressed-domain (ADC) top-10 vs the exact
    sqdist top-10 — the measured answer to 'what does 64x compression
    cost in recall?'."""
    enc, books = _pq_index(spark, sf_dir)
    probes = enc.filter(F.col("vec_id") < PQ_N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("q").alias("pq")
    )

    cand = enc.join(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    wk_adc = W.partitionBy("probe_id").orderBy("adc", "cand_id")
    pqk = (
        cand.select(
            "probe_id", F.col("vec_id").alias("cand_id"), _adc_score(books).alias("adc")
        )
        .withColumn("rn", F.row_number().over(wk_adc))
        .filter(F.col("rn") <= PQ_K)
        .select("probe_id", "cand_id")
    )

    wk_ex = W.partitionBy("probe_id").orderBy("d", "cand_id")
    exk = (
        cand.select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            _sqdist_np()(F.col("pq"), F.col("q")).alias("d"),
        )
        .withColumn("rn", F.row_number().over(wk_ex))
        .filter(F.col("rn") <= PQ_K)
        .select("probe_id", "cand_id")
    )

    hit = pqk.withColumn("hit", F.lit(1))
    return (
        exk.join(hit, ["probe_id", "cand_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_overlap"),
            (F.sum(F.coalesce("hit", F.lit(0))) / F.lit(float(PQ_K))).alias("recall"),
        )
    )


def pq_distortion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace quantization error of the trained codebooks: mean and
    max sqdist between each corpus subvector and its assigned codeword
    (in micro-unit² space), plus codewords actually used. The standard
    codebook-quality diagnostic — rising distortion at constant K is the
    signal to re-train or split before recall degrades."""
    enc, books = _pq_index(spark, sf_dir)
    per_sub = enc.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("subspace"),
                        F.col(f"c{m}").alias("code"),
                        _adc_sub_dist(books, m).alias("d"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s")
    ).select("s.subspace", "s.code", "s.d")
    # d is an exact integer in a double (< 2^53) but the corpus SUM is
    # not: accumulate as LONG (exact, order-independent) and divide once
    return (
        per_sub.groupBy("subspace")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("code").alias("codes_used"),
            fround(
                F.sum(F.col("d").cast("long")) / F.count(F.lit(1)) / F.lit(1e12), 6
            ).alias("mean_distortion"),
            fround(F.max("d") / F.lit(1e12), 6).alias("max_distortion"),
        )
    )


def _adc_sub_dist(books, m: int):
    """Exact sqdist between the row's own subvector and its assigned
    codeword in subspace m (distortion, not search — both operands from
    the same row)."""
    cents = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in books[m]])
    cw = F.element_at(cents, F.col(f"c{m}") + 1)
    return _sqdist(_sub(F.col("q"), m), cw)


_SQD = (
    "(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
    " - 2 * list_dot_product({a}, {b}))"
)


_DUCK_QV = f"""qv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * {_QSCALE} + 0.5)) AS q
  FROM embeddings)"""


def _duck_pq_chain(src: str = "qv", p: str = "") -> str:
    """Unrolled CTE chain mirroring _train_codebooks over the (vec_id, q)
    rows of CTE `src`: subspace explosion, hash-ordered seeds, then
    per-round (assignment over all subspaces, update) — codebooks are
    (m, code, c) rows; subvector m of q is q[m*SUBDIM+1 : (m+1)*SUBDIM].
    Every generated CTE name carries prefix `p` so the chain composes
    with the coarse-quantizer chain (which owns a{{i}}/u{{i}})."""
    subs = ", ".join(
        f"q[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS s{m}" for m in range(PQ_M)
    )
    msel = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, s{m} AS sub FROM {p}subs" for m in range(PQ_M)
    )
    parts = [
        f"""{p}subs AS MATERIALIZED (SELECT vec_id, q, {subs} FROM {src}),
{p}sv AS MATERIALIZED ({msel}),
{p}seeds AS MATERIALIZED (
  SELECT q, code FROM (
    SELECT q, row_number() OVER (
      ORDER BY {hash_unit_sql("vec_id", "pq-seed")}, vec_id) - 1 AS code
    FROM {src})
  WHERE code < {PQ_KCODES}),
{p}b0 AS MATERIALIZED (
  SELECT m.m, s.code, s.q[m.m * {PQ_SUBDIM} + 1 : (m.m + 1) * {PQ_SUBDIM}] AS c
  FROM {p}seeds s CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) m)"""
    ]
    d = _SQD.format(a="v.sub", b="b.c")
    for i in range(PQ_ITERS):
        parts.append(f"""{p}a{i} AS MATERIALIZED (
  SELECT vec_id, m, sub, code FROM (
    SELECT v.vec_id, v.m, v.sub, b.code,
           row_number() OVER (PARTITION BY v.vec_id, v.m
                              ORDER BY {d}, b.code) AS rn
    FROM {p}sv v JOIN {p}b{i} b ON b.m = v.m)
  WHERE rn = 1),
{p}u{i} AS MATERIALIZED (
  SELECT m, code, list(mu ORDER BY pos) AS cu FROM (
    SELECT m, code, pos, floor(sum(val) / count(*) + 0.5) AS mu
    FROM (SELECT m, code, generate_subscripts(sub, 1) AS pos,
                 unnest(sub) AS val
          FROM {p}a{i})
    GROUP BY 1, 2, 3)
  GROUP BY 1, 2),
{p}b{i + 1} AS MATERIALIZED (
  SELECT s.m, s.code, CASE WHEN u.cu IS NULL THEN s.c ELSE u.cu END AS c
  FROM {p}b{i} s LEFT JOIN {p}u{i} u ON u.m = s.m AND u.code = s.code)""")
    return ",\n".join(parts)


def _duck_pq_train() -> str:
    return f"{_DUCK_QV},\n{_duck_pq_chain('qv')}"


_BF = PQ_ITERS  # final codebook CTE index


def _duck_encoded(p: str = "") -> str:
    """{p}enc: (vec_id, m, code, sub) — final assignment of every source
    subvector to its codeword under the trained codebooks."""
    d = _SQD.format(a="v.sub", b="b.c")
    return f"""{p}enc AS MATERIALIZED (
  SELECT vec_id, m, code, sub FROM (
    SELECT v.vec_id, v.m, v.sub, b.code,
           row_number() OVER (PARTITION BY v.vec_id, v.m
                              ORDER BY {d}, b.code) AS rn
    FROM {p}sv v JOIN {p}b{_BF} b ON b.m = v.m)
  WHERE rn = 1)"""


ORACLE_PQ_RECALL = f"""
WITH {_duck_pq_train()},
{_duck_encoded()},
probes AS (SELECT vec_id AS probe_id, q AS pq FROM qv WHERE vec_id < {PQ_N_PROBES}),
psubs AS (
  SELECT probe_id, m, pq[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS psub
  FROM probes CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) mm),
adc AS (
  SELECT p.probe_id, e.vec_id AS cand_id,
         sum({_SQD.format(a="p.psub", b="b.c")}) AS adc
  FROM psubs p
  JOIN enc e ON e.m = p.m
  JOIN b{_BF} b ON b.m = e.m AND b.code = e.code
  WHERE e.vec_id != p.probe_id
  GROUP BY 1, 2),
pqk AS (
  SELECT probe_id, cand_id FROM (
    SELECT probe_id, cand_id,
           row_number() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS rn
    FROM adc)
  WHERE rn <= {PQ_K}),
exk AS (
  SELECT probe_id, cand_id FROM (
    SELECT p.probe_id, v.vec_id AS cand_id,
           row_number() OVER (PARTITION BY p.probe_id
                              ORDER BY {_SQD.format(a="p.pq", b="v.q")}, v.vec_id) AS rn
    FROM probes p CROSS JOIN qv v
    WHERE v.vec_id != p.probe_id)
  WHERE rn <= {PQ_K})
SELECT e.probe_id,
       CAST(sum(CASE WHEN i.cand_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_overlap,
       sum(CASE WHEN i.cand_id IS NULL THEN 0 ELSE 1 END) / {float(PQ_K)} AS recall
FROM exk e LEFT JOIN pqk i USING (probe_id, cand_id)
GROUP BY 1
"""


ORACLE_PQ_DISTORTION = f"""
WITH {_duck_pq_train()},
{_duck_encoded()},
dist AS (
  SELECT e.m AS subspace, e.code,
         {_SQD.format(a="e.sub", b="b.c")} AS d
  FROM enc e JOIN b{_BF} b ON b.m = e.m AND b.code = e.code)
SELECT subspace,
       count(*) AS n_vectors,
       count(DISTINCT code) AS codes_used,
       floor(sum(CAST(d AS BIGINT)) / count(*) / 1000000000000.0 * 1000000 + 0.5)
         / 1000000.0 AS mean_distortion,
       floor(max(d) / 1000000000000.0 * 1000000 + 0.5)
         / 1000000.0 AS max_distortion
FROM dist
GROUP BY 1
"""


# --- IVF-PQ (IVFADC): coarse pruning + residual compression composed ---

IVFPQ_NPROBE = 2


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """(qv, coarse centroids, residual-encoded corpus with list_id,
    residual codebooks, probes) — the FAISS-style IVFADC index, built
    fresh PER CALL (same no-cross-call-cache discipline as _pq_index).
    The coarse quantizer is SHARED construction-wise with the IVF recall
    gates (ann_recall._index_tables — same seeds, same Lloyd rounds), so
    this measures exactly what adding residual PQ to the existing IVF
    index buys; the PQ codebooks are trained on residuals q - centroid
    (still exact integers on the micro grid)."""
    from .ann_recall import _assign_residual, _cents_df, _index_tables_core

    qv, cent_list, probes = _index_tables_core(spark, sf_dir)
    cents = _cents_df(spark, cent_list)
    # fused assign + residual (guide §2.3/§2.4): the retired chain
    # materialized the original-vector assignment (`_assign_literal` +
    # localCheckpoint) only to join it back to the broadcast centroids
    # and subtract — two passes over the vectors and two checkpoint
    # materializations for one table this gate never reads otherwise
    with phases.phase("ivfpq_build", "residuals"):
        rv = _assign_residual(qv, cent_list).localCheckpoint()
    books = _train_codebooks(rv.select("vec_id", "q"), pipeline="ivfpq_build")
    enc = _encode(rv, books).localCheckpoint(eager=False)
    return qv, cents, enc, books, probes


def ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the composed production ANN architecture — IVF
    pruning (read nprobe/n_lists of the corpus) OVER residual-PQ codes
    (hold 64x less per vector) — vs the exact top-10. Search per probe:
    rank coarse lists by centroid distance, take nprobe=2, form the
    probe residual against each probed centroid, then ADC against the
    candidates' residual codes; every arithmetic step is exact integer
    doubles so DuckDB replays the whole pipeline bit-for-bit.

    The three gates (ivf_recall_at_k, pq_recall_at_k, this) decompose
    the recall cost of the two production levers separately and
    together."""
    qv, cents, enc, books, probes = _ivfpq_index(spark, sf_dir)

    pscore = probes.join(F.broadcast(cents)).withColumn(
        "d", _sqdist_np()(F.col("pq"), F.col("c"))
    )
    wpl = W.partitionBy("probe_id").orderBy("d", "list_id")
    pres = (
        pscore.withColumn("rn", F.row_number().over(wpl))
        .filter(F.col("rn") <= IVFPQ_NPROBE)
        .select(
            "probe_id",
            "pq",
            "list_id",
            F.zip_with("pq", "c", lambda x, y: x - y).alias("pr"),
        )
    )

    cand = enc.join(F.broadcast(pres), "list_id").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    wk = W.partitionBy("probe_id").orderBy("adc", "cand_id")
    pqk = (
        cand.select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            _adc_score(books, "pr").alias("adc"),
        )
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= PQ_K)
        .select("probe_id", "cand_id")
    )

    wk_ex = W.partitionBy("probe_id").orderBy("d", "cand_id")
    exk = (
        qv.join(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            _sqdist_np()(F.col("pq"), F.col("q")).alias("d"),
        )
        .withColumn("rn", F.row_number().over(wk_ex))
        .filter(F.col("rn") <= PQ_K)
        .select("probe_id", "cand_id")
    )

    hit = pqk.withColumn("hit", F.lit(1))
    return (
        exk.join(hit, ["probe_id", "cand_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_overlap"),
            (F.sum(F.coalesce("hit", F.lit(0))) / F.lit(float(PQ_K))).alias("recall"),
        )
    )


def _duck_ivfpq() -> str:
    from .ann_recall import RECALL_ITERS, _duck_lloyd

    cf = RECALL_ITERS
    alist = f"""alist AS MATERIALIZED (
  SELECT vec_id, q, list_id FROM (
    SELECT v.vec_id, v.q, l.list_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_SQD.format(a="v.q", b="l.c")}, l.list_id) AS rn
    FROM qv v CROSS JOIN c{cf} l)
  WHERE rn = 1),
rv AS MATERIALIZED (
  SELECT a.vec_id, a.list_id,
         [a.q[i] - l.c[i] for i in range(1, len(a.q) + 1)] AS q
  FROM alist a JOIN c{cf} l USING (list_id))"""
    return f"{_duck_lloyd()},\n{alist},\n{_duck_pq_chain('rv', p='p')},\n{_duck_encoded(p='p')}"


def _ivfpq_oracle() -> str:
    from .ann_recall import RECALL_ITERS

    cf = RECALL_ITERS
    return f"""
WITH {_duck_ivfpq()},
probes AS (SELECT vec_id AS probe_id, q AS pq FROM qv WHERE vec_id < {PQ_N_PROBES}),
pres AS MATERIALIZED (
  SELECT probe_id, list_id,
         [pq[i] - c[i] for i in range(1, len(pq) + 1)] AS pr
  FROM (
    SELECT p.probe_id, p.pq, l.list_id, l.c,
           row_number() OVER (PARTITION BY p.probe_id
                              ORDER BY {_SQD.format(a="p.pq", b="l.c")}, l.list_id) AS rn
    FROM probes p CROSS JOIN c{cf} l)
  WHERE rn <= {IVFPQ_NPROBE}),
prsub AS MATERIALIZED (
  SELECT probe_id, list_id, m.m,
         pr[m.m * {PQ_SUBDIM} + 1 : (m.m + 1) * {PQ_SUBDIM}] AS psub
  FROM pres CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) m),
el AS MATERIALIZED (
  SELECT e.vec_id, e.m, e.code, r.list_id
  FROM penc e JOIN rv r USING (vec_id)),
adc AS (
  SELECT p.probe_id, e.vec_id AS cand_id,
         sum({_SQD.format(a="p.psub", b="b.c")}) AS adc
  FROM prsub p
  JOIN el e ON e.m = p.m AND e.list_id = p.list_id
  JOIN pb{_BF} b ON b.m = e.m AND b.code = e.code
  WHERE e.vec_id != p.probe_id
  GROUP BY 1, 2),
pqk AS (
  SELECT probe_id, cand_id FROM (
    SELECT probe_id, cand_id,
           row_number() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS rn
    FROM adc)
  WHERE rn <= {PQ_K}),
exk AS (
  SELECT probe_id, cand_id FROM (
    SELECT p.probe_id, v.vec_id AS cand_id,
           row_number() OVER (PARTITION BY p.probe_id
                              ORDER BY {_SQD.format(a="p.pq", b="v.q")}, v.vec_id) AS rn
    FROM probes p CROSS JOIN qv v
    WHERE v.vec_id != p.probe_id)
  WHERE rn <= {PQ_K})
SELECT e.probe_id,
       CAST(sum(CASE WHEN i.cand_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_overlap,
       sum(CASE WHEN i.cand_id IS NULL THEN 0 ELSE 1 END) / {float(PQ_K)} AS recall
FROM exk e LEFT JOIN pqk i USING (probe_id, cand_id)
GROUP BY 1
"""


ORACLE_IVFPQ = _ivfpq_oracle()


QUERIES = {
    "pq_recall_at_k": pq_recall_at_k,
    "pq_distortion_stats": pq_distortion_stats,
    "ivfpq_recall_at_k": ivfpq_recall_at_k,
}
ORACLE = {
    "pq_recall_at_k": ORACLE_PQ_RECALL,
    "pq_distortion_stats": ORACLE_PQ_DISTORTION,
    "ivfpq_recall_at_k": ORACLE_IVFPQ,
}
