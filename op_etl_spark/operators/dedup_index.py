"""Persisted MinHash-LSH dedup index: build / dedup-delta / append.

The suite's `incremental_lsh_dedup` (suite/dedup.py) proves the
delta-vs-corpus PLAN — broadcast the batch's band keys against the
corpus band table, never re-pair the corpus with itself — but rebuilds
both sides from the documents table on every call (correct for the
oracle gate, wasteful for a production caller who ingests a batch a
day). This module is the build/query/append split for that operator,
mirroring operators/ann_index.py (IVF) and operators/graph.py (k-core):
persist the two index tables once, then dedup any number of deltas
against them and fold each accepted delta in.

On disk (both plain parquet):

- ``{path}/bands``    — (doc_id, band_id, x0..x{BAND_ROWS-1}), the LSH
  posting table, repartitioned by band key so a read starts
  hash-clustered for the bucket groupBy;
- ``{path}/shingles`` — (doc_id, shingles: array<bigint>), the
  xxhash64'd shingle sets the exact-verify stage intersects.

100 TB shape: the index is written once and only APPENDED to; a delta
dedup broadcasts the batch's bands (MBs of signatures for a nightly
batch) against the corpus band table, over-cap buckets are dropped
exactly as in the self-join path (LSH_BUCKET_CAP), and the exact verify
joins only candidate doc ids against the shingle table. The corpus cost
per delta is ONE scan + one hash aggregate of the band table (the
posting groupBy): plain parquet reports no output partitioning to
Spark, so `n_buckets` clusters FILES for scan locality but does not
elide that aggregate's exchange — a deployment that must make the
delta exchange-free on the corpus side should register the band table
as a catalog table bucketed by the band key (`bucketBy(...,
*band_key()).saveAsTable(...)`, the sinks/catalog machinery), which
this module's read path works with unchanged. Minhash signatures are
pure functions of the text (md5-derived 60/56-bit integers,
suite/dedup._minhash_sigs_np), so index rows written today and rows
computed tomorrow always agree.

Every step is suite/dedup.py's: the shingle ids, the signatures, the
banding and the delta-vs-corpus match (`_delta_matches`, which
`incremental_lsh_dedup` runs too). A NULL-text document gets no band
rows and matches nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _banded(docs: DataFrame):
    """(bands, shingle ids) for a documents(doc_id, text) frame. The
    suite.dedup import is deferred: suite.dedup imports
    operators.counters, so the import points down-module to avoid a
    cycle."""
    from ..suite.dedup import _bands, _minhash_sigs_np, _shingle_arrays, _shingle_ids

    arrs = _shingle_arrays(docs)
    return _bands(_minhash_sigs_np(arrs)), _shingle_ids(arrs)


def band_key() -> list[str]:
    from ..suite.dedup import BAND_KEY

    return list(BAND_KEY)


def build_dedup_index(docs: DataFrame, path: str, n_buckets: int = 0) -> None:
    """Persist the LSH band table + hashed shingle table for a corpus.
    `n_buckets` > 0 clusters the band table's FILES by band key on write
    (scan locality; see the module note on what it does NOT buy)."""
    bands, hashed = _banded(docs)
    if n_buckets > 0:
        bands = bands.repartition(n_buckets, *band_key())
    bands.write.mode("overwrite").parquet(f"{path}/bands")
    hashed.write.mode("overwrite").parquet(f"{path}/shingles")


def dedup_delta(spark: SparkSession, path: str, new_docs: DataFrame) -> DataFrame:
    """Every (new_id, old_id, n_common, jaccard) match of the delta
    against the persisted corpus at JACCARD_THRESHOLD — the delta is
    broadcast; the corpus pays one scan + one band-key aggregate, and
    never re-pairs with itself."""
    from ..suite.dedup import _delta_matches

    new_bands, new_ids = _banded(new_docs)
    return _delta_matches(
        spark.read.parquet(f"{path}/bands"),
        spark.read.parquet(f"{path}/shingles"),
        new_bands,
        F.broadcast(new_ids),
    )


def append_to_index(spark: SparkSession, path: str, new_docs: DataFrame) -> None:
    """Fold an accepted delta into the index: append its band and
    shingle rows. Only the delta is computed and written — the corpus
    tables are never read, rewritten, or reshuffled."""
    bands, hashed = _banded(new_docs)
    bands.write.mode("append").parquet(f"{path}/bands")
    hashed.write.mode("append").parquet(f"{path}/shingles")
