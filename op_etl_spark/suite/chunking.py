"""Document chunking + embedding centroids — the two remaining
training-pipeline primitives between raw docs and a trained model:
fixed-size overlapping context windows (what an embedding/pretraining
batcher consumes) and per-class mean vectors (the seed step of k-means /
nearest-centroid classification, and the merge-safe form of "average the
embeddings").

Scale shapes:
 - chunking is a single narrow scan — `sequence()` generates chunk
   starts per row and `slice()` cuts token windows, all inside codegen;
   output rows ≈ corpus_tokens / stride, partition-local, no shuffle.
 - centroids are the shared k-means kernel's label means
   (operators/kmeans.py) with EXACT integer arithmetic (floats scaled to
   1e6 ticks), so the per-task partial sums merge to the same bits
   regardless of row order / partitioning — the same determinism
   contract as `money_sum`, applied to vectors. Each task sends
   (#labels) partial rows to the driver, not raw vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kmeans import TICK, label_means
from ..session import local_frame
from ._util import fround, read_table

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents", fan=True)


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows: chunk i covers tokens
    [1 + i*stride, 1 + i*stride + size). Every document yields
    1 + ceil(max(0, n - size) / stride) chunks — the last chunk may be
    short but always starts within the text, and a document shorter than
    one window yields exactly one chunk (the whole doc)."""
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(F.lit(0), n - F.lit(CHUNK_TOKENS)) / F.lit(CHUNK_STRIDE))
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.array_join(
                F.slice(words, i * CHUNK_STRIDE + 1, CHUNK_TOKENS), " "
            ).alias("chunk_text"),
        ),
    )
    ex = d.select("doc_id", F.explode(chunks).alias("c"))
    return ex.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size(F.split("c.chunk_text", " ")).alias("n_tokens"),
        F.md5(F.col("c.chunk_text").cast("binary")).alias("chunk_md5"),
    )


ORACLE_CHUNKS = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n
  FROM documents),
c AS (
  SELECT doc_id,
         unnest(range(0, 1 + CAST(ceil(greatest(0, n - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INT))) AS chunk_id,
         words
  FROM t)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       len(words[chunk_id * {CHUNK_STRIDE} + 1 : chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS n_tokens,
       md5(array_to_string(words[chunk_id * {CHUNK_STRIDE} + 1 : chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')) AS chunk_md5
FROM c
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, positionally exact: one
    `kmeans.label_means` job sums each label's integer tick vectors per
    task, and the driver forms the tick means. Exact integer sums make
    the result bit-identical under any partitioning. Emitted as
    (label, pos, mean) scalars so the oracle compares cleanly."""
    emb = read_table(spark, sf_dir, "embeddings", fan=True)
    rows = [
        (r["label"], r["n"], pos, m)
        for r in label_means(emb, "label", "embedding", caller="label_centroids", scale=TICK)
        for pos, m in enumerate(r["centroid"])
    ]
    return local_frame(spark, rows, "label int, n_vecs bigint, pos int, mean double").select(
        "label", "n_vecs", "pos", fround("mean", 6).alias("mean")
    )


ORACLE_CENTROIDS = f"""
WITH ex AS (
  SELECT label, vec_id,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS pos
  FROM embeddings)
SELECT label,
       count(*) AS n_vecs,
       CAST(pos AS INT) AS pos,
       floor((sum(CAST(floor(CAST(x AS DOUBLE) * {TICK} + 0.5) AS BIGINT)) / {TICK}.0
              / count(*)) * 1000000 + 0.5) / 1000000.0 AS mean
FROM ex
GROUP BY label, pos
"""


QUERIES = {
    "doc_chunks": doc_chunks,
    "label_centroids": label_centroids,
}

ORACLE = {
    "doc_chunks": ORACLE_CHUNKS,
    "label_centroids": ORACLE_CENTROIDS,
}
