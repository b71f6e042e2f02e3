"""Similarity search over the `embeddings` table (array<float> vectors).

Brute-force cosine top-k is the exact baseline; the IVF-style variant
(cluster centroids -> probe only nearest clusters) is the 100 TB scale path:
centroid assignment is a broadcast join (centroid set is tiny), so the
all-pairs cross join never materializes at scale.

All vector math stays JVM-side: `aggregate(zip_with(...))` sequential-folds
the dot product in deterministic order (matching DuckDB's list functions
bit-for-bit in double precision) — no Python/Pandas UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

import math

import numpy as np
import pandas as pd

from ..session import local_frame
from ._util import dot_fold as _dot, fround, norm_fold, read_table

N_PROBES = 10
TOP_K = 5


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_table(spark, sf_dir, "embeddings", fan=True)
    return df.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("emb"))


_norm = norm_fold


# --- vector stats sanity (norms, means) ---

def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return e.select(
        "vec_id",
        "label",
        fround(_norm(F.col("emb")), 4).alias("l2_norm"),
        fround(
            F.aggregate(F.col("emb"), F.lit(0.0), lambda acc, v: acc + v)
            / F.size("emb"), 4).alias("mean_val"),
    )


ORACLE_STATS = """
SELECT vec_id, label,
       floor((sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) * 10000 + 0.5) / 10000.0 AS l2_norm,
       floor((list_sum(embedding::DOUBLE[]) / len(embedding)) * 10000 + 0.5) / 10000.0 AS mean_val
FROM embeddings
"""


# --- brute-force cosine top-k for a probe set ---

def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("p_emb")
    )
    cand = e.select(F.col("vec_id").alias("cand_id"), F.col("emb").alias("c_emb"))
    cos = _dot(F.col("p_emb"), F.col("c_emb")) / (
        _norm(F.col("p_emb")) * _norm(F.col("c_emb"))
    )
    scored = (
        cand.join(F.broadcast(probes))
        .filter(F.col("probe_id") != F.col("cand_id"))
        .withColumn("cosine", cos)
    )
    w = F.row_number().over(
        W.partitionBy("probe_id").orderBy(F.desc("cosine"), "cand_id")
    )
    return (
        scored.withColumn("rk", w)
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "cand_id", fround("cosine", 4).alias("cosine"), "rk")
    )


ORACLE_BRUTEFORCE = f"""
WITH probes AS (
  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS p_emb
  FROM embeddings WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT probe_id, e.vec_id AS cand_id,
         list_dot_product(p_emb, e.embedding::DOUBLE[])
           / (sqrt(list_dot_product(p_emb, p_emb))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cosine
  FROM probes, embeddings e WHERE e.vec_id != probe_id),
ranked AS (
  SELECT probe_id, cand_id, cosine,
         row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rk
  FROM scored)
SELECT probe_id, cand_id, floor((cosine) * 10000 + 0.5) / 10000.0 AS cosine, rk
FROM ranked WHERE rk <= {TOP_K}
"""


# --- IVF-style: per-label centroids, rank centroids per probe ---

def ivf_centroid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    pos = e.select("label", F.posexplode("emb").alias("pos", "val"))
    cent = (
        pos.groupBy("label", "pos")
        .agg((F.sum(F.floor(F.col("val") * 1000000 + F.lit(0.5)).cast("long"))
              / F.lit(1000000.0) / F.count(F.lit(1))).alias("cval"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select(
            F.col("label").alias("c_label"),
            F.transform(F.col("pairs"), lambda s: s["cval"]).alias("centroid"),
        )
    )
    probes = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("p_emb")
    )
    cos = _dot(F.col("p_emb"), F.col("centroid")) / (
        _norm(F.col("p_emb")) * _norm(F.col("centroid"))
    )
    scored = probes.join(F.broadcast(cent)).withColumn("cosine", cos)
    w = F.row_number().over(W.partitionBy("probe_id").orderBy(F.desc("cosine"), "c_label"))
    return (
        scored.withColumn("rk", w)
        .filter(F.col("rk") <= 2)
        .select("probe_id", F.col("c_label").alias("label"), fround("cosine", 4).alias("cosine"), "rk")
    )


ORACLE_IVF = f"""
WITH pos AS (
  SELECT label, unnest(embedding::DOUBLE[]) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings),
cent AS (
  SELECT label AS c_label,
         list(cval ORDER BY pos) AS centroid
  FROM (SELECT label, pos,
               sum(CAST(floor(val * 1000000 + 0.5) AS BIGINT)) / 1000000.0 / count(*) AS cval
        FROM pos GROUP BY 1, 2)
  GROUP BY 1),
probes AS (
  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS p_emb
  FROM embeddings WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT probe_id, c_label,
         list_dot_product(p_emb, centroid)
           / (sqrt(list_dot_product(p_emb, p_emb))
              * sqrt(list_dot_product(centroid, centroid))) AS cosine
  FROM probes, cent),
ranked AS (
  SELECT probe_id, c_label, cosine,
         row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, c_label) AS rk
  FROM scored)
SELECT probe_id, c_label AS label, floor((cosine) * 10000 + 0.5) / 10000.0 AS cosine, rk
FROM ranked WHERE rk <= 2
"""


# --- embedding-cosine near-dup (the dedup-by-embedding training-data op) ---

NEARDUP_THRESHOLD = 0.3
SIGNLSH_THRESHOLD = 0.2
SIGNLSH_BITS = 8
SIGNLSH_BUCKET_CAP = 64

def _pair_cosine(a_emb, b_emb):
    return _dot(a_emb, b_emb) / (_norm(a_emb) * _norm(b_emb))


NEARDUP_LEVELS = (4, 8, 12, 16, 20, 24)  # sign-bit prefix lengths, coarse -> fine
NEARDUP_MAX_BITS = NEARDUP_LEVELS[-1]
EMB_BLOCK_CAP = 1024  # max block size before pair expansion (terminal backstop)


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs within hierarchical (label, sign-prefix) blocks
    (cosine >= 0.3) — over-cap blocks are SPLIT on more sign bits, not
    dropped.

    History of the blocking key, each step probe-measured:
      v1 blocked on `label` alone — 1925x at 32x data (block size grows
      with the corpus; quadratic self-join).
      v2 added 4 fixed sign-LSH sub-bits and DROPPED blocks above
      EMB_BLOCK_CAP — bounded cost, but a silent recall cliff: every
      near-dup pair inside a popular (label, sbits) block vanished.
      v3 (this one): hierarchical split. Each vector carries its sign-bit
      prefix at levels 4/8/12/16/20/24 (NEARDUP_LEVELS); its block is the
      SHORTEST prefix level
      whose (label, prefix) population is <= EMB_BLOCK_CAP. Because a
      level-m prefix determines every coarser prefix, two vectors sharing
      a terminal block agree on the whole path, so this closed-form
      "min qualifying level" assignment equals the recursive
      split-until-it-fits and needs no iteration. Only blocks still over
      cap at the deepest level (sign-identical mega-clusters, i.e.
      exact/near-exact duplicates already caught by exact_dedup_groups)
      hit the terminal backstop and are excluded.

    Plan shape: one narrow count shuffle (label, 16-bit prefix), per-level
    roll-ups on that tiny block table (sums of the finest counts — the
    corpus is never re-counted), a key join to attach each vector's
    terminal (lvl, bkey), then a key-equi self-join on (label, lvl, bkey).
    Pairs stream out of the join (embedding structs are too wide for
    posting-list in-array expansion). At 100 TB the block-size table is
    |distinct (label, prefix)| rows — small relative to the corpus but not
    broadcast-safe in general, so the attach join is a plain shuffle join
    co-partitioned with the self-join key."""
    e = _emb(spark, sf_dir)
    pfull = F.lit(0).cast("long")
    for i in range(NEARDUP_MAX_BITS):
        # F.get is NULL-safe past the array end (dim < 16 fixtures): the
        # missing bit contributes 0 on both engines.
        pfull = pfull + F.when(F.get(F.col("emb"), i) > 0, F.lit(2 ** i)).otherwise(0)
    e2 = e.withColumn("pfull", pfull)
    # localCheckpoint: the block table feeds four per-level roll-ups and
    # the keymap — without it each reference re-derives the count from a
    # fresh embeddings scan (plan_audit's TableRescan axis measured 11
    # scans); with it the corpus is scanned once here + twice in the
    # self-join below
    blocks = (
        e2.groupBy("label", "pfull")
        .agg(F.count(F.lit(1)).alias("bn"))
        .localCheckpoint()
    )
    # one (block x level) explode + one count aggregate + one argmin —
    # NOT a join per level (6 sequential shuffle joins cost ~1s of pure
    # per-stage overhead at local scale for identical semantics). A block
    # keeps the SHALLOWEST level whose prefix population fits the cap;
    # min-over-struct ignores the nulls from over-cap levels, and a block
    # with NO qualifying level (sign-identical past the deepest split) is
    # the terminal backstop drop.
    lv = F.explode(F.array(*[F.lit(m) for m in NEARDUP_LEVELS])).alias("lvl")
    exploded = blocks.select("label", "pfull", "bn", lv).withColumn(
        "pref", F.col("pfull") % F.pow(F.lit(2.0), F.col("lvl")).cast("long")
    )
    counts = exploded.groupBy("label", "lvl", "pref").agg(F.sum("bn").alias("c"))
    keymap = (
        exploded.join(counts, ["label", "lvl", "pref"])
        .groupBy("label", "pfull")
        .agg(
            F.min(
                F.when(F.col("c") <= EMB_BLOCK_CAP, F.struct("lvl", "pref"))
            ).alias("t")
        )
        .filter(F.col("t").isNotNull())
        .select("label", "pfull", F.col("t.lvl").alias("lvl"), F.col("t.pref").alias("bkey"))
        .localCheckpoint()
    )
    e3 = e2.join(keymap, ["label", "pfull"]).select("label", "lvl", "bkey", "vec_id", "emb")
    a = e3.select(
        "label", "lvl", "bkey", F.col("vec_id").alias("id1"), F.col("emb").alias("emb1")
    )
    c = e3.select(
        "label", "lvl", "bkey", F.col("vec_id").alias("id2"), F.col("emb").alias("emb2")
    )
    from ..operators import counters

    cand = counters.observe_stage(
        a.join(c, ["label", "lvl", "bkey"]).filter(F.col("id1") < F.col("id2")),
        "embedding_neardup_pairs",
        "candidates",
    )
    out = (
        cand.withColumn("cosine", _pair_cosine(F.col("emb1"), F.col("emb2")))
        .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
        .select("label", "id1", "id2", fround("cosine", 4).alias("cosine"))
    )
    return counters.observe_stage(out, "embedding_neardup_pairs", "output")


_NEARDUP_PFULL_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END)"
    for i in range(NEARDUP_MAX_BITS)
)

_NEARDUP_LVL_SQL = (
    "CASE "
    + " ".join(
        f"WHEN c{m} <= {EMB_BLOCK_CAP} THEN {m}" for m in NEARDUP_LEVELS[:-1]
    )
    + f" ELSE {NEARDUP_MAX_BITS} END"
)

_NEARDUP_BKEY_SQL = (
    "CASE "
    + " ".join(f"WHEN lvl = {m} THEN pfull % {2 ** m}" for m in NEARDUP_LEVELS)
    + " END"
)

ORACLE_NEARDUP = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb,
                  {_NEARDUP_PFULL_SQL} AS pfull
           FROM embeddings),
c AS (SELECT vec_id, label, emb, pfull,
             {", ".join(f"count(*) OVER (PARTITION BY label, pfull % {2 ** m}) AS c{m}" for m in NEARDUP_LEVELS)}
      FROM e),
k0 AS (SELECT vec_id, label, emb, pfull, c{NEARDUP_MAX_BITS},
              {_NEARDUP_LVL_SQL} AS lvl
       FROM c),
k AS (SELECT vec_id, label, emb, lvl, {_NEARDUP_BKEY_SQL} AS bkey
      FROM k0
      WHERE lvl < {NEARDUP_MAX_BITS} OR c{NEARDUP_MAX_BITS} <= {EMB_BLOCK_CAP}),
pairs AS (
  SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
         list_dot_product(a.emb, b.emb)
           / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
  FROM k a
  JOIN k b ON a.label = b.label AND a.lvl = b.lvl AND a.bkey = b.bkey
          AND a.vec_id < b.vec_id)
SELECT label, id1, id2, floor((cosine) * 10000 + 0.5) / 10000.0 AS cosine
FROM pairs WHERE cosine >= {NEARDUP_THRESHOLD}
"""


def embedding_signlsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH near-dup: bucket = sign bits of the first 8 dimensions
    (deterministic random-hyperplane LSH with axis-aligned planes);
    candidate pairs generated in-bucket, then exact-cosine filtered.
    Never does all-pairs — the scale path when no block key exists.
    Buckets above SIGNLSH_BUCKET_CAP are dropped before pair expansion
    (same bounded-pair contract as the text-LSH family; the 32x probe
    measured the uncapped version at 26x on 32x data — 256 fixed buckets
    mean occupancy, and so pair count, grows with the corpus). At real
    scale you also widen the bit count with the corpus, exactly as the
    16-bit SimHash grew to 64-bit band tables."""
    e = _emb(spark, sf_dir)
    bucket = None
    for i in range(SIGNLSH_BITS):
        bit = F.when(F.element_at("emb", i + 1) > 0, 2 ** i).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    posts = (
        e.select(bucket.alias("bucket"), F.struct("vec_id", "emb").alias("m"))
        .groupBy("bucket")
        .agg(F.collect_list("m").alias("m"))
        .filter(F.size("m") <= SIGNLSH_BUCKET_CAP)
    )
    xs = F.col("m")
    pairs = F.filter(
        F.flatten(
            F.transform(xs, lambda x: F.transform(xs, lambda y: F.struct(x.alias("a"), y.alias("b"))))
        ),
        lambda p: p["a"]["vec_id"] < p["b"]["vec_id"],
    )
    exploded = posts.select(F.explode(pairs).alias("p")).select("p.a", "p.b")
    return (
        exploded.withColumn("cosine", _pair_cosine(F.col("a.emb"), F.col("b.emb")))
        .filter(F.col("cosine") >= SIGNLSH_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            fround("cosine", 4).alias("cosine"),
        )
    )


_SIGN_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END)"
    for i in range(SIGNLSH_BITS)
)

ORACLE_SIGNLSH = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb, {_SIGN_BUCKET_SQL} AS bucket
  FROM embeddings),
ok AS (SELECT bucket FROM e GROUP BY 1 HAVING count(*) <= {SIGNLSH_BUCKET_CAP}),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         list_dot_product(a.emb, b.emb)
           / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN ok ON ok.bucket = a.bucket)
SELECT id1, id2, floor((cosine) * 10000 + 0.5) / 10000.0 AS cosine
FROM pairs WHERE cosine >= {SIGNLSH_THRESHOLD}
"""


# --- Johnson-Lindenstrauss sign projection with distortion accounting ---

JL_IN_DIM = 64
JL_OUT_DIM = 16
JL_TICK = 1_000_000


def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random sign projection (Achlioptas 2001, the database-friendly
    Johnson-Lindenstrauss transform) from 64 to 16 dims, with the
    distortion it induces measured pair by pair: for every consecutive
    vector pair, the exact squared distance in the original space and in
    the projected space (scaled by 1/k), and their ratio — the quantity
    the JL lemma bounds. This is the corpus-scale dimensionality-reduction
    primitive: a 4x cheaper embedding column for downstream LSH/ANN, with
    the quality loss REPORTED rather than assumed.

    Determinism (the reason this gate can hash-match): vectors are
    quantized to exact micro-tick integers FIRST, the +/-1 sign matrix
    comes from md5 parity, and every inner product / squared distance is
    then exact int64 arithmetic — no float accumulation order anywhere;
    the single final ratio is two correctly-rounded divides.

    Plan shape (fused, guide §2.3/§4.2): ONE mapInPandas pass quantizes
    each row and multiplies it against the 64x16 sign matrix riding the
    task closure — an int64 NumPy matmul in place of the retired
    posexplode to N x 64 tick rows joined against a broadcast sign table
    (an N x 1024 intermediate through a shuffled groupBy). The
    consecutive-pair distances are then ONE narrow self-join on vec_id
    (t and p vectors as 80 int64s per row) + a second batch kernel for
    the exact squared-distance sums — the retired shape paid that join
    twice, once per space, on exploded rows. Everything is corpus-linear
    — at 100 TB this is exactly a distributed dense matmul against a
    closure matrix. Bit-exactness: ticks are the same
    floor(x * TICK + 0.5) doubles, and every sum is int64 with the same
    wrap envelope as Spark's long arithmetic, so order cannot matter."""
    import hashlib

    # the 64x16 Achlioptas sign matrix from md5 parity — 1024 Python
    # hashes of the same "jl|i|j" strings the retired Spark/oracle
    # expressions hash; first 15 hex chars parsed base-16, even -> +1
    S = np.array(
        [
            [
                1
                if int(hashlib.md5(f"jl|{i}|{j}".encode()).hexdigest()[:15], 16) % 2
                == 0
                else -1
                for j in range(JL_OUT_DIM)
            ]
            for i in range(JL_IN_DIM)
        ],
        dtype="int64",
    )

    def _feat(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            T = np.floor(E * JL_TICK + 0.5).astype("int64")
            P = T @ S
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "t": list(T), "p": list(P)}
            )

    def _d2(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            t1 = np.vstack(pdf["t"].to_numpy())
            t2 = np.vstack(pdf["t2"].to_numpy())
            p1 = np.vstack(pdf["p"].to_numpy())
            p2 = np.vstack(pdf["p2"].to_numpy())
            do = t1 - t2
            dp = p1 - p2
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "d2_orig": (do * do).sum(axis=1),
                    "d2_proj": (dp * dp).sum(axis=1),
                }
            )

    from pyspark import StorageLevel

    e = read_table(spark, sf_dir, "embeddings", fan=True)
    # persisted: feeds BOTH sides of the consecutive-pair self-join — one
    # corpus scan + one kernel pass, not two (plan-audit rescan axis)
    feat = (
        e.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        .mapInPandas(_feat, "vec_id long, t array<bigint>, p array<bigint>")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nxt = feat.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("t").alias("t2"),
        F.col("p").alias("p2"),
    )
    d2 = feat.join(nxt, "vec_id").mapInPandas(
        _d2, "vec_id long, d2_orig bigint, d2_proj bigint"
    )
    return (
        d2.filter(F.col("d2_orig") > 0)
        .select(
            F.col("vec_id").alias("id1"),
            (F.col("vec_id") + 1).alias("id2"),
            "d2_orig",
            "d2_proj",
            fround(
                F.col("d2_proj") / F.lit(float(JL_OUT_DIM)) / F.col("d2_orig"), 4
            ).alias("jl_ratio"),
        )
    )


ORACLE_JL = f"""
WITH signs AS (
  SELECT i, j,
         CASE WHEN ('0x' || substr(md5('jl|' || CAST(i AS VARCHAR) || '|'
                    || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range(0, {JL_IN_DIM})) AS i),
       (SELECT unnest(range(0, {JL_OUT_DIM})) AS j)),
ticks AS (
  SELECT vec_id, i,
         CAST(floor(embedding[i + 1]::DOUBLE * {JL_TICK} + 0.5) AS BIGINT) AS t
  FROM embeddings, (SELECT unnest(range(0, {JL_IN_DIM})) AS i)),
proj AS (
  SELECT t.vec_id, s.j, sum(s.s * t.t) AS p
  FROM ticks t JOIN signs s ON s.i = t.i
  GROUP BY 1, 2),
d2p AS (
  SELECT a.vec_id, sum((a.p - b.p) * (a.p - b.p)) AS d2_proj
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1 AND b.j = a.j
  GROUP BY 1),
d2o AS (
  SELECT a.vec_id, sum((a.t - b.t) * (a.t - b.t)) AS d2_orig
  FROM ticks a JOIN ticks b ON b.vec_id = a.vec_id + 1 AND b.i = a.i
  GROUP BY 1)
SELECT o.vec_id AS id1, o.vec_id + 1 AS id2,
       CAST(o.d2_orig AS BIGINT) AS d2_orig,
       CAST(p.d2_proj AS BIGINT) AS d2_proj,
       floor((p.d2_proj / {float(JL_OUT_DIM)!r} / o.d2_orig) * 10000 + 0.5)
         / 10000.0 AS jl_ratio
FROM d2o o JOIN d2p p ON p.vec_id = o.vec_id
WHERE o.d2_orig > 0
"""


# --- SemDeDup: cluster-then-prune semantic deduplication ---

SEMDEDUP_TAU = 0.35  # within-cluster cosine above this marks a semantic dup

# Above this many centroids the flat literal-baked argmax stops being the
# right shape: SemDeDup's own operating regime scales k with the corpus
# (50k lists for LAION-440M in the paper), and flat assignment is then
# O(N*k*d) flops AND O(k*d) serialized-plan bytes. Past the threshold the
# assignment routes through a two-level coarse/fine argmax (the
# operators/ann_index.py build_ivf2_index cost model): ~3*sqrt(k)
# distance evaluations per row, coarse reps as plan literals (O(sqrt(k))
# plan bytes), fine cells as a BROADCAST table (data, not plan). Every
# oracle-swept scale (sf0.001/0.01/0.1 at k=10; the sf1 rehearsal's
# label fan at k=100) stays under the threshold, so declared results are
# bit-exact flat argmax; the two-level path is exercised by the x32
# scale probe (k=320) and by tests that force the threshold down.
SEMDEDUP_FLAT_K_MAX = 128


def _semdedup_centroids(e: DataFrame) -> list:
    """Exact per-label tick-mean centroids, collected as k rows of driver
    metadata (sorted by label). The suite's reproducible stand-in for
    trained k-means centroids — identical arithmetic on both engines, so
    the oracle replicates it bit-for-bit.

    Fused into ONE mapInPandas pass (the §2.3 discipline every other
    centroid/Lloyd build in the suite now uses): each task quantizes its
    rows to the integer tick grid and accumulates per-label partial tick
    sums + counts as int64 — at most k metadata rows per task, no
    posexplode of N x d value rows, no two-level shuffled aggregation.
    The driver combines partials and divides exactly like the retired
    groupBy chain: tick sums are exact int64 on both formulations (same
    wrap envelope as Spark's long sum), and
    float(total) / 1000000.0 / count reproduces Spark's
    `sum(ticks) / lit(1000000.0) / count(1)` operand-for-operand (the
    long -> double cast rounds identically), so every cval is the same
    double the retired chain produced."""

    def _partials(batches):
        sums: dict = {}
        cnts: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.vstack(pdf["emb"].to_numpy())
            T = np.floor(E * 1000000 + 0.5).astype("int64")
            lab = pdf["label"].to_numpy()
            for lb in np.unique(lab):
                m = lab == lb
                lb = int(lb)
                if lb in sums:
                    sums[lb] += T[m].sum(axis=0)
                    cnts[lb] += int(m.sum())
                else:
                    sums[lb] = T[m].sum(axis=0)
                    cnts[lb] = int(m.sum())
        labs = sorted(sums)
        yield pd.DataFrame(
            {
                "label": pd.Series(labs, dtype="int64"),
                "s": [sums[lb] for lb in labs],
                "n": pd.Series([cnts[lb] for lb in labs], dtype="int64"),
            }
        )

    rows = (
        e.select("label", "emb")
        .mapInPandas(_partials, "label bigint, s array<bigint>, n bigint")
        .collect()
    )
    tot: dict[int, list] = {}
    cnt: dict[int, int] = {}
    for r in rows:
        lb = r["label"]
        s = [int(v) for v in r["s"]]
        tot[lb] = [a + b for a, b in zip(tot[lb], s)] if lb in tot else s
        cnt[lb] = cnt.get(lb, 0) + r["n"]
    return [
        {
            "label": lb,
            "centroid": [float(v) / 1000000.0 / cnt[lb] for v in tot[lb]],
        }
        for lb in sorted(tot)
    ]


def _pydot(a, b):
    acc = 0.0
    for x, y in zip(a, b):  # left fold = F.aggregate's order, bit-identical
        acc += x * y
    return acc


def _best_struct(cands):
    """One-fold argmax: array_max over (cosine, -label) structs — the
    cosine is computed ONCE per (row, centroid). Higher-order functions
    are CodegenFallback, so Spark's subexpression elimination does NOT
    collapse repeated transform()s: the earlier array_position(coss,
    array_max(coss)) formulation paid the dominant O(N*k*d) fold ~3x per
    row. Struct max compares cosine first, then -label: on exact double
    ties the max of -label is the LOWEST label, matching both the old
    first-position semantics and the oracle's ORDER BY cosc DESC, label."""
    return F.array_max(
        F.transform(
            cands,
            lambda s: F.struct(
                (_dot(F.col("emb"), s["c"]) / (F.col("nrm") * s["cn"])).alias("c"),
                s["neglabel"].alias("neglabel"),
            ),
        )
    )


def _cent_literal(rows) -> F.Column:
    """[(label, centroid, cn)] -> literal array of (c, cn, neglabel)."""
    return F.array(
        *[
            F.struct(
                F.array(*[F.lit(float(v)) for v in c]).alias("c"),
                F.lit(cn).alias("cn"),
                F.lit(-int(label)).alias("neglabel"),
            )
            for label, c, cn in rows
        ]
    )


def _assign_flat(en: DataFrame, cent_rows) -> DataFrame:
    cents = _cent_literal(
        [
            (r["label"], r["centroid"], math.sqrt(_pydot(r["centroid"], r["centroid"])))
            for r in cent_rows
        ]
    )
    return en.withColumn("best", _best_struct(cents)).select(
        "vec_id",
        "emb",
        "nrm",
        (-F.col("best.neglabel")).alias("cluster"),
        F.col("best.c").alias("cosc"),
    )


def _assign_two_level(en: DataFrame, cent_rows) -> DataFrame:
    """Coarse -> fine nearest-centroid assignment for corpus-scaled k
    (the ann_index two-level cost model, composed here per the SemDeDup
    k~N regime): group the k centroids into ~sqrt(k) coarse cells with a
    deterministic driver-side Lloyd over the CENTROIDS (k rows of driver
    metadata — the corpus never participates), route each row to its
    max-cosine coarse rep (literal argmax, O(sqrt(k)) plan bytes), then
    argmax over ONLY that cell's member centroids, shipped as a broadcast
    fine table keyed by coarse_id (data bytes, not plan bytes). Per-row
    flops: n_coarse + 2*|cell| ~ 3*sqrt(k) instead of k (nprobe=2).
    Assignment is approximate in the standard IVF sense — the true
    nearest centroid of a borderline row can live outside the probed
    coarse cells — exactly like ivf_search with nprobe < n_lists, and
    SemDeDup's own clustering is approximate k-means, so the partition
    remains a valid SemDeDup clustering. Tests gate assignment recall
    (fraction of rows agreeing with the exact flat argmax) and pin
    determinism; every ORACLE-swept scale stays on the flat path (see
    SEMDEDUP_FLAT_K_MAX), so declared results are never approximate."""
    spark = en.sparkSession
    cents = [
        (
            int(r["label"]),
            list(r["centroid"]),
            math.sqrt(_pydot(r["centroid"], r["centroid"])),
        )
        for r in cent_rows
    ]
    k = len(cents)
    n_coarse = max(2, math.isqrt(k - 1) + 1)

    def _cos(a, an, b, bn):
        return _pydot(a, b) / (an * bn) if an and bn else -1.0

    # deterministic seeds: evenly spaced over the label-sorted centroids
    reps = [list(cents[(i * k) // n_coarse][1]) for i in range(n_coarse)]
    assign = [0] * k

    def _reassign() -> None:
        rep_norms = [math.sqrt(_pydot(r, r)) for r in reps]
        for j, (_, c, cn) in enumerate(cents):
            assign[j] = max(
                range(n_coarse),
                key=lambda i: (_cos(c, cn, reps[i], rep_norms[i]), -i),
            )

    for _ in range(2):  # 2 Lloyd rounds over k driver rows — O(k*sqrt(k)*d)
        _reassign()
        for i in range(n_coarse):
            members = [cents[j][1] for j in range(k) if assign[j] == i]
            if members:
                reps[i] = [
                    sum(m[d] for m in members) / len(members)
                    for d in range(len(members[0]))
                ]
    # one final reassignment against the post-update reps: the cells rows
    # are ROUTED to (the _route closure below is built from the final
    # reps) must be the cells those same reps DEFINE — without it, membership came
    # from the start-of-last-iteration reps and routing from the end,
    # silently costing recall on every centroid the last update moved
    # across a cell boundary
    _reassign()
    cells: dict[int, list] = {}
    for j, (label, c, cn) in enumerate(cents):
        cells.setdefault(assign[j], []).append((label, c, cn))
    # drop empty cells and reindex so the literal argmax never routes a
    # row to a coarse id with no fine members
    live = sorted(cells)
    coarse_rows = [
        (i, reps[old], math.sqrt(_pydot(reps[old], reps[old])))
        for i, old in enumerate(live)
    ]
    fine = local_frame(
        spark,
        [
            (i, [(int(lb), list(c), float(cn)) for lb, c, cn in cells[old]])
            for i, old in enumerate(live)
        ],
        "coarse_id int, cell array<struct<label:int, c:array<double>, cn:double>>",
    )
    # nprobe=2 routing (standard IVF): the true nearest centroid of a
    # borderline row often lives in the runner-up coarse cell; probing
    # the top-2 cells costs one extra broadcast join + ~sqrt(k) flops
    # and removes most routing misses. Vectorized since round 12 as one
    # pandas-UDF NumPy matmul per Arrow batch against the ~sqrt(k) coarse
    # reps riding the task closure (sqrt(k) x d doubles — scale-safe;
    # the fine cells stay a broadcast TABLE below, data bytes not
    # closure bytes): the literal array_sort formulation evaluated
    # n_coarse x d interpreted CodegenFallback multiply-adds per row.
    # Bit-exact ONLY on the integer-grid discipline (every dot is an
    # exact integer < 2^53 in any summation order; the divide sees the
    # identical (nrm * cn) product) — the same precondition as
    # _flat_best_np, satisfied by the SEM2 gate fixture; a non-integer
    # caller (none declared) could see last-ulp routing flips vs the
    # retired fold, never an invalid assignment. Tie-breaks match the
    # retired desc-sort of (cos, -i) structs: NumPy first-argmax picks
    # the LOWEST coarse index, and the runner-up repeats that rule with
    # the winner masked out.
    R = np.array([c for _, c, _ in coarse_rows], dtype="float64")
    Rn = np.array([cn for _, _, cn in coarse_rows], dtype="float64")
    n_live = len(coarse_rows)

    @F.pandas_udf("struct<cid1: int, cid2: int>")
    def _route(emb: pd.Series, nrm: pd.Series) -> pd.DataFrame:
        if not len(emb):
            return pd.DataFrame(
                {
                    "cid1": pd.Series([], dtype="int32"),
                    "cid2": pd.array([], dtype="Int32"),
                }
            )
        E = np.vstack(emb.to_numpy())
        cs = (E @ R.T) / (nrm.to_numpy()[:, None] * Rn[None, :])
        j1 = cs.argmax(axis=1)  # first max = lowest coarse index on ties
        if n_live > 1:
            cs[np.arange(len(j1)), j1] = -np.inf
            cid2 = pd.array(cs.argmax(axis=1).astype("int32"), dtype="Int32")
        else:
            cid2 = pd.array([None] * len(j1), dtype="Int32")
        return pd.DataFrame(
            {"cid1": pd.Series(j1.astype("int32")), "cid2": cid2}
        )

    # asNondeterministic (guide §4.4): the fine join's isnotnull(cid1)
    # filter otherwise gets pushed below this projection and the
    # optimizer DUPLICATES the routing UDF — every row would pay the
    # matmul twice (plan_audit's DuplicatedPythonUDF axis catches this).
    # The kernel IS deterministic; the marker only pins evaluation count.
    _route_once = _route.asNondeterministic()
    routed = (
        en.withColumn("__r", _route_once(F.col("emb"), F.col("nrm")))
        .withColumn("cid1", F.col("__r.cid1"))
        .withColumn("cid2", F.col("__r.cid2"))
        .drop("__r")
    )

    def _cell_best(cell_col):
        return F.array_max(
            F.transform(
                cell_col,
                lambda s: F.struct(
                    (_dot(F.col("emb"), s["c"]) / (F.col("nrm") * s["cn"])).alias("c"),
                    (-s["label"]).alias("neglabel"),
                ),
            )
        )

    f1 = fine.select(
        F.col("coarse_id").alias("cid1"), F.col("cell").alias("__cell1")
    )
    f2 = fine.select(
        F.col("coarse_id").alias("cid2"), F.col("cell").alias("__cell2")
    )
    return (
        routed.join(F.broadcast(f1), "cid1")
        .join(F.broadcast(f2), "cid2", "left")  # cid2 null when n_coarse == 1
        .withColumn(
            "best",
            # greatest ignores the null second-cell argmax; on an exact
            # (cosine, neglabel) tie across cells both structs are equal,
            # so the pick is still the lowest label
            F.greatest(_cell_best(F.col("__cell1")), _cell_best(F.col("__cell2"))),
        )
        .select(
            "vec_id",
            "emb",
            "nrm",
            (-F.col("best.neglabel")).alias("cluster"),
            F.col("best.c").alias("cosc"),
        )
    )


def _flat_best_np(cent_rows):
    """Vectorized twin of `_assign_flat`'s argmax as a pandas-UDF column
    over (emb, nrm): one NumPy matmul per Arrow batch instead of an
    interpreted Catalyst higher-order fold (CodegenFallback evaluates
    each multiply-add through the expression interpreter — at k=160,
    d=64 that is ~10k interpreted ops per ROW, the dominant cost of the
    literal argmax past k~100).

    ONLY bit-exact when embeddings AND centroids are exact-integer-valued
    doubles (the SEM2_QSCALE quantization discipline): every product and
    partial sum is then an integer below 2^53, exactly representable, so
    any summation order — BLAS pairwise, FMA, or the sequential fold —
    produces the identical double. Tie-break matches `_best_struct`:
    NumPy argmax returns the FIRST maximum, and `cent_rows` arrives
    label-sorted, so an exact cosine tie picks the lowest label. Norms
    reuse `_pydot` per centroid so the divisor is computed by the same
    fold as the literal path. Do NOT use for non-integer centroids
    (e.g. `semantic_dedup`'s tick-means) — their sums round, and
    summation order would leak into the last ulp."""

    C = np.array([list(r["centroid"]) for r in cent_rows], dtype="float64")
    cn = np.array(
        [math.sqrt(_pydot(r["centroid"], r["centroid"])) for r in cent_rows]
    )
    labels = np.array([int(r["label"]) for r in cent_rows], dtype="int64")

    @F.pandas_udf("struct<cluster: long, cosc: double>")
    def _best(emb: pd.Series, nrm: pd.Series) -> pd.DataFrame:
        if not len(emb):  # np.vstack raises on an empty Arrow batch
            return pd.DataFrame(
                {
                    "cluster": pd.Series([], dtype="int64"),
                    "cosc": pd.Series([], dtype="float64"),
                }
            )
        E = np.vstack(emb.to_numpy())  # (n, d) exact-integer doubles
        cos = (E @ C.T) / (nrm.to_numpy()[:, None] * cn[None, :])
        j = cos.argmax(axis=1)  # first max = lowest label (label-sorted C)
        return pd.DataFrame(
            {"cluster": labels[j], "cosc": cos[np.arange(len(j)), j]}
        )

    return _best


def semdedup_assign(en: DataFrame, cent_rows, flat_k_max: int | None = None) -> DataFrame:
    """Nearest-centroid assignment for a corpus with a projected `nrm`
    norm column: flat literal argmax while the codebook is driver-scale,
    two-level coarse/fine past SEMDEDUP_FLAT_K_MAX."""
    cap = SEMDEDUP_FLAT_K_MAX if flat_k_max is None else flat_k_max
    if len(cent_rows) <= cap:
        return _assign_flat(en, cent_rows)
    return _assign_two_level(en, cent_rows)


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): assign every
    embedding to its nearest centroid, then within each cluster mark as
    REMOVED every vector that has a cosine >= SEMDEDUP_TAU neighbor with
    higher keep-priority. Keep-priority follows the paper: the vector
    with the LOWEST similarity-to-centroid survives (cluster-edge points
    are kept, near-centroid redundancy is pruned); vec_id breaks exact
    ties. Output: one row per vector with its cluster, centroid cosine,
    and the 0/1 removal decision.

    Clustering is one deterministic nearest-centroid assignment against
    the exact per-label tick-mean centroids (the suite's reproducible
    stand-in for trained k-means centroids — identical arithmetic on
    both engines, so the oracle replicates it bit-for-bit).

    100 TB shape: the centroid table is k rows of driver-side metadata
    (collected once — the ann_index `_assign` pattern), so assignment is
    a NARROW projection: the corpus never shuffles to pick its cluster.
    While k is driver-scale the centroids bake into the plan as literals;
    past SEMDEDUP_FLAT_K_MAX (SemDeDup's own regime scales k with corpus
    size — 50k lists for LAION-440M in the paper) assignment routes
    through the two-level coarse/fine argmax so per-row flops stay
    ~2*sqrt(k) and plan bytes ~sqrt(k) (see semdedup_assign). The only
    corpus shuffle is the cluster-keyed self-join, and with k~N the
    per-cluster population — and with it per-cluster pair cost — stays
    constant: total cost is linear in the corpus. The reference has no
    embedding operators; this extends the dedup family (SURVEY §2
    extensions) alongside embedding_neardup_pairs, which finds PAIRS —
    this one makes the per-document KEEP/REMOVE decision a curation
    funnel consumes."""
    from pyspark import StorageLevel

    from ..operators import phases

    e = _emb(spark, sf_dir)
    with phases.phase("semantic_dedup", "centroids"):
        cent_rows = _semdedup_centroids(e)
    # zero-norm guard (mirrored in the oracle): Spark's Divide NULLs on
    # x/0.0 while DuckDB follows IEEE (inf/NaN) — degenerate vectors and
    # degenerate centroids are excluded on BOTH engines so the declared
    # semantics are engine-independent (no-op on the suite corpora)
    cent_rows = [r for r in cent_rows if _pydot(r["centroid"], r["centroid"]) > 0]
    # centroid norms are driver-computed and the row norm is projected
    # ONCE — the naive transform re-folds norm(emb) and norm(c) per
    # (row, centroid), tripling the O(N·k·d) assignment flops (measured
    # 18.3 s -> the dominant term at the 32x probe)
    en = e.withColumn("nrm", _norm(F.col("emb"))).filter(F.col("nrm") > 0)
    a1 = semdedup_assign(en, cent_rows)
    # The assignment table feeds BOTH self-join sides and the final
    # survivor join (and downstream compositions like
    # embedding_curation_funnel) — without materialization each reference
    # re-pays the O(N·k) centroid argmax and its own corpus scan (the
    # plan-audit rescan axis counts them). persist(MEMORY_AND_DISK) +
    # eager count, NOT localCheckpoint: persisted blocks are recomputable
    # from lineage on executor loss (a checkpointed assignment of a
    # 100 TB corpus on executor-local storage makes the job
    # unrecoverable), and spark.catalog.clearCache() between bench passes
    # actually releases them, where checkpoint blocks wait for
    # ContextCleaner driver GC (the orphan-block hazard bench.py
    # documents). The eager count doubles as the "assign" phase timing —
    # the build/pair-join decomposition bench.py publishes.
    a1 = a1.persist(StorageLevel.MEMORY_AND_DISK)
    with phases.phase("semantic_dedup", "assign"):
        a1.count()
    a = a1.alias("a")
    b = a1.alias("b")
    from ..operators import counters

    cand = a.join(
        b, (F.col("a.cluster") == F.col("b.cluster")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    cand = counters.observe_stage(cand, "semantic_dedup", "candidates")
    pairs = (
        cand.filter(
            _dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))
            >= SEMDEDUP_TAU
        )
        .select(
            F.when(
                (F.col("a.cosc") < F.col("b.cosc"))
                | ((F.col("a.cosc") == F.col("b.cosc")) & (F.col("a.vec_id") < F.col("b.vec_id"))),
                F.col("b.vec_id"),
            ).otherwise(F.col("a.vec_id")).alias("loser")
        )
    )
    pairs = counters.observe_stage(pairs, "semantic_dedup", "output")
    losers = pairs.distinct()
    return (
        a1.join(losers, a1["vec_id"] == losers["loser"], "left")
        .select(
            "cluster",
            "vec_id",
            fround("cosc", 4).alias("cosc"),
            F.when(F.col("loser").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("removed"),
        )
    )


ORACLE_SEMDEDUP = f"""
WITH pos AS (
  SELECT label, unnest(embedding::DOUBLE[]) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings),
cent AS (
  SELECT label AS c_label, list(cval ORDER BY pos) AS centroid
  FROM (SELECT label, pos,
               sum(CAST(floor(val * 1000000 + 0.5) AS BIGINT)) / 1000000.0 / count(*) AS cval
        FROM pos GROUP BY 1, 2)
  GROUP BY 1),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
scored AS (
  SELECT vec_id, emb, c_label,
         list_dot_product(emb, centroid)
           / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(centroid, centroid))) AS cosc
  FROM e, cent
  WHERE list_dot_product(centroid, centroid) > 0),
a1 AS (
  SELECT vec_id, emb, c_label AS cluster, cosc
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, c_label) AS rn
        FROM scored)
  WHERE rn = 1),
losers AS (
  SELECT DISTINCT CASE WHEN a.cosc < b.cosc OR (a.cosc = b.cosc AND a.vec_id < b.vec_id)
                       THEN b.vec_id ELSE a.vec_id END AS loser
  FROM a1 a JOIN a1 b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.emb, b.emb)
        / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
        >= {SEMDEDUP_TAU})
SELECT a1.cluster, a1.vec_id,
       floor(cosc * 10000 + 0.5) / 10000.0 AS cosc,
       CASE WHEN l.loser IS NULL THEN 0 ELSE 1 END AS removed
FROM a1 LEFT JOIN losers l ON a1.vec_id = l.loser
"""


# --- two-level assignment gate: the k ~ N scale path, oracle-checked ---

# Label fan forcing k past SEMDEDUP_FLAT_K_MAX at every declared scale
# (embeddings has >= 500 rows everywhere, so labels 0..159 are all
# populated): the dispatch in semdedup_assign MUST route two-level.
SEM2_K = 160
SEM2_QSCALE = 1_000_000


def _label_centroids_np(en: DataFrame, k: int) -> list[dict]:
    """Per-label floored-mean centroids over the SEM2 integer grid, fused
    into a SINGLE pass: each task accumulates per-label partial sums +
    counts with NumPy and yields at most k metadata rows (no posexplode
    of N x d value rows, no two-level shuffled aggregation). The driver
    combines partials and floors the means back onto the grid —
    identical operands to the retired
    groupBy((label, pos)).floor(sum/count + 0.5) chain: every component
    and partial sum is an exact-integer-valued double < 2^53 (the
    SEM2_QSCALE discipline), so summation order cannot round. Labels
    with no rows are simply absent, exactly like the retired groupBy.
    Returns label-sorted [{'label', 'centroid'}] rows."""

    def _partials(batches):
        sums = None
        cnts = np.zeros(k, dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.vstack(pdf["emb"].to_numpy())
            if sums is None:
                sums = np.zeros((k, E.shape[1]))
            lab = pdf["label"].to_numpy()
            np.add.at(sums, lab, E)
            cnts += np.bincount(lab, minlength=k)
        live = np.flatnonzero(cnts)
        if sums is None:
            sums = np.zeros((k, 0))
        yield pd.DataFrame(
            {
                "label": pd.Series(live, dtype="int32"),
                "s": [sums[i] for i in live],
                "n": pd.Series(cnts[live], dtype="int64"),
            }
        )

    rows = (
        en.select("label", "emb")
        .mapInPandas(_partials, "label int, s array<double>, n bigint")
        .collect()
    )
    tot: dict[int, np.ndarray] = {}
    cnt: dict[int, int] = {}
    for r in rows:
        lb = r["label"]
        s = np.asarray(r["s"], dtype="float64")
        tot[lb] = tot[lb] + s if lb in tot else s
        cnt[lb] = cnt.get(lb, 0) + r["n"]
    return [
        {
            "label": lb,
            "centroid": [float(v) for v in np.floor(tot[lb] / cnt[lb] + 0.5)],
        }
        for lb in sorted(tot)
    ]


def semantic_assign_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked gate for the coarse->fine two-level assignment
    (_assign_two_level) — the path SemDeDup's k~N regime runs at scale,
    previously exercised only by unit tests and the x32 probe because
    every declared fixture kept k <= SEMDEDUP_FLAT_K_MAX (round-10
    verdict, 'What's missing' #1). The fixture fans labels to
    SEM2_K = 160 > 128, so `semdedup_assign` dispatches the REAL
    two-level pipeline: driver-side Lloyd over the k centroid rows
    (seeded evenly over label order, 2 rounds, final reassignment
    against the post-update reps), nprobe=2 literal coarse routing, and
    the broadcast fine-cell argmax. The DuckDB twin replays every step
    in SQL — exactly as ivf_recall_at_k replays IVF — and the output
    carries agreement-with-flat as a measured column. Agreement here is
    a MEASUREMENT, not a gate: vec_id%160 labels give essentially random
    centroids over 10 latent clusters — the worst case for coarse
    routing (cells overlap maximally), chosen deliberately so the gate
    checks the two-level ALGEBRA, not a flattering recall number; the
    suite's real-regime recall gate (k=10 label centroids, >= 0.80)
    lives in tests/test_round10_fixes.py.

    Cross-engine determinism follows the ann_recall discipline:
    embeddings are quantized to 1e-6-grid INTEGER-valued doubles, so
    per-label centroids (floor(mean + 0.5)) are integers, Lloyd rep
    means are exact-integer sums divided once (order-independent on
    both engines), and every dot product is a sequential fold over
    identical inputs (dot_fold <-> list_dot_product)."""
    e = read_table(spark, sf_dir, "embeddings", fan=True)
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * SEM2_QSCALE + F.lit(0.5)).cast("double"),
    )
    en = (
        e.select("vec_id", q.alias("emb"))
        .withColumn("label", (F.col("vec_id") % SEM2_K).cast("int"))
        .withColumn("nrm", _norm(F.col("emb")))
        .filter(F.col("nrm") > 0)
    )
    cent_rows = _label_centroids_np(en, SEM2_K)
    cent_rows = [r for r in cent_rows if _pydot(r["centroid"], r["centroid"]) > 0]
    if len(cent_rows) != SEM2_K:
        # the oracle bakes k (seed positions, n_coarse) as constants; a
        # fixture drift must fail loudly, not silently diverge
        raise RuntimeError(
            f"semantic_assign_two_level fixture produced {len(cent_rows)} "
            f"centroids, expected {SEM2_K}"
        )
    # the two-level output carries emb/nrm for exactly en's rows, so the
    # flat agreement column rides the SAME pass as a vectorized pandas-UDF
    # argmax (see _flat_best_np: bit-exact here because this fixture's
    # embeddings and centroids are integer-valued doubles) — no second
    # full-table literal argmax, no vec_id re-join. Before: scan + k=160
    # interpreted fold + join (~6s of the query at sf0.1); after: one
    # ArrowEvalPython matmul on rows already in flight.
    two = semdedup_assign(en, cent_rows)
    flat_best = _flat_best_np(cent_rows)
    return (
        two.withColumn("__flat", flat_best(F.col("emb"), F.col("nrm")))
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.col("__flat.cluster").cast("int").alias("flat_cluster"),
            F.when(F.col("cluster") == F.col("__flat.cluster"), 1)
            .otherwise(0)
            .cast("int")
            .alias("agree"),
            "cosc",
        )
    )


def _sem2_oracle() -> str:
    """SQL replay of the two-level pipeline at k = SEM2_K: quantize,
    integer centroids, seeded Lloyd (2 unrolled rounds + the final
    reassignment that defines the cells), empty-cell reindex, nprobe=2
    routing, fine argmax, flat argmax for the agreement column."""
    k = SEM2_K
    n_coarse = max(2, math.isqrt(k - 1) + 1)
    seeds = ", ".join(f"({i}, {(i * k) // n_coarse})" for i in range(n_coarse))

    def cos(c, cn, r):
        return (
            f"list_dot_product({c}, {r}) / ({cn} * sqrt(list_dot_product({r}, {r})))"
        )

    parts = [
        f"""qn AS (
  SELECT vec_id, CAST(vec_id % {k} AS INT) AS label, q,
         sqrt(list_dot_product(q, q)) AS nrm
  FROM (SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> floor(x * {SEM2_QSCALE} + 0.5)) AS q
        FROM embeddings)
  WHERE list_dot_product(q, q) > 0),
centn AS (
  SELECT label, c, sqrt(list_dot_product(c, c)) AS cn FROM (
    SELECT label, list(m ORDER BY pos) AS c FROM (
      SELECT label, pos, floor(sum(val) / count(*) + 0.5) AS m
      FROM (SELECT label, generate_subscripts(q, 1) AS pos, unnest(q) AS val
            FROM qn)
      GROUP BY 1, 2)
    GROUP BY 1)
  WHERE list_dot_product(c, c) > 0),
r0 AS (
  SELECT s.i, c.c AS rep
  FROM (VALUES {seeds}) AS s(i, lab)
  JOIN centn c ON c.label = s.lab)"""
    ]
    for t in range(2):
        parts.append(f"""a{t} AS (
  SELECT label, i FROM (
    SELECT t.label, r.i,
           row_number() OVER (PARTITION BY t.label
                              ORDER BY {cos("t.c", "t.cn", "r.rep")} DESC, r.i) AS rn
    FROM centn t CROSS JOIN r{t} r)
  WHERE rn = 1),
u{t} AS (
  SELECT i, list(m ORDER BY pos) AS rep FROM (
    SELECT i, pos, sum(val) / count(*) AS m FROM (
      SELECT a.i, generate_subscripts(c.c, 1) AS pos, unnest(c.c) AS val
      FROM centn c JOIN a{t} a ON a.label = c.label)
    GROUP BY 1, 2)
  GROUP BY 1),
r{t + 1} AS (
  SELECT r.i, CASE WHEN u.rep IS NULL THEN r.rep ELSE u.rep END AS rep
  FROM r{t} r LEFT JOIN u{t} u USING (i))""")
    parts.append(f"""af AS (
  SELECT label, i FROM (
    SELECT t.label, r.i,
           row_number() OVER (PARTITION BY t.label
                              ORDER BY {cos("t.c", "t.cn", "r.rep")} DESC, r.i) AS rn
    FROM centn t CROSS JOIN r2 r)
  WHERE rn = 1),
live AS (
  SELECT i AS old_i, CAST(row_number() OVER (ORDER BY i) - 1 AS INT) AS cid
  FROM (SELECT DISTINCT i FROM af)),
creps AS (
  SELECT l.cid, r.rep, sqrt(list_dot_product(r.rep, r.rep)) AS rn
  FROM live l JOIN r2 r ON r.i = l.old_i),
cells AS (
  SELECT l.cid, c.label, c.c, c.cn
  FROM af a JOIN live l ON l.old_i = a.i JOIN centn c ON c.label = a.label),
routed AS (
  SELECT vec_id, q, nrm, cid FROM (
    SELECT v.vec_id, v.q, v.nrm, cr.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.q, cr.rep)
                                         / (v.nrm * cr.rn) DESC, cr.cid) AS rnk
    FROM qn v CROSS JOIN creps cr)
  WHERE rnk <= 2),
twolevel AS (
  SELECT vec_id, label AS cluster, cosc FROM (
    SELECT r.vec_id, ce.label,
           list_dot_product(r.q, ce.c) / (r.nrm * ce.cn) AS cosc,
           row_number() OVER (PARTITION BY r.vec_id
                              ORDER BY list_dot_product(r.q, ce.c)
                                         / (r.nrm * ce.cn) DESC, ce.label) AS rn
    FROM routed r JOIN cells ce ON ce.cid = r.cid)
  WHERE rn = 1),
flat AS (
  SELECT vec_id, label AS flat_cluster FROM (
    SELECT v.vec_id, c.label,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.q, c.c)
                                         / (v.nrm * c.cn) DESC, c.label) AS rn
    FROM qn v CROSS JOIN centn c)
  WHERE rn = 1)
SELECT t.vec_id,
       CAST(t.cluster AS INT) AS cluster,
       CAST(f.flat_cluster AS INT) AS flat_cluster,
       CAST(CASE WHEN t.cluster = f.flat_cluster THEN 1 ELSE 0 END AS INT) AS agree,
       t.cosc
FROM twolevel t JOIN flat f USING (vec_id)""")
    return "WITH " + ",\n".join(parts)


ORACLE_SEM2 = _sem2_oracle()


QUERIES = {
    "embedding_stats": embedding_stats,
    "jl_projection_distortion": jl_projection_distortion,
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "ivf_centroid_rank": ivf_centroid_rank,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "embedding_signlsh_neardup": embedding_signlsh_neardup,
    "semantic_dedup": semantic_dedup,
    "semantic_assign_two_level": semantic_assign_two_level,
}

ORACLE = {
    "embedding_stats": ORACLE_STATS,
    "jl_projection_distortion": ORACLE_JL,
    "ann_bruteforce_topk": ORACLE_BRUTEFORCE,
    "ivf_centroid_rank": ORACLE_IVF,
    "embedding_neardup_pairs": ORACLE_NEARDUP,
    "embedding_signlsh_neardup": ORACLE_SIGNLSH,
    "semantic_dedup": ORACLE_SEMDEDUP,
    "semantic_assign_two_level": ORACLE_SEM2,
}
